package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Fingerprint64

/** CCNet-style perplexity quality filtering (Wenzek et al. 2019): a
  * word 5-gram language model trained on a high-quality seed corpus
  * scores every document; documents bucket into head/middle/tail by
  * score percentile, the standard public curation signal an LLM-data
  * pipeline runs after dedup.
  *
  * The LM is a STUPID-BACKOFF model (Brants et al. 2007 — the
  * published distributed-scale choice: no discounting pass, scores
  * recompose from raw integer counts):
  *
  *   S(w | ctx_k)  =  cnt(gram_k) / cnt(ctx_k)   if cnt(gram_k) > 0
  *                    0.4 · S(w | ctx_{k-1})     otherwise
  *   S(w)          =  cnt(w) / N                 (unigram base)
  *
  * where `gram_k` is the k-gram ending at the scored token and
  * `ctx_k` its first k−1 tokens. A token with no observed unigram
  * (OOV) scores 1/N after the full backoff chain — documented, the
  * common open-vocabulary convention. Positions near the document
  * start use the longest available order (no synthetic padding), so
  * K_p = min(5, p) and the backoff penalty counts only orders that
  * were actually attempted.
  *
  * Everything is integer counts until one documented double
  * recomposition per position — `log10(num/den) + backoffs·log10 0.4`
  * — folded per document in POSITION ORDER by [[foldLog10]], shared
  * verbatim by both execution arms, so results are bit-stable and
  * arm-independent (spec-asserted).
  *
  * Scale shape: training is ONE flatMap over seed docs emitting all
  * orders 1..5 and one groupBy, materialized once behind a
  * `localCheckpoint` barrier (the row-count/unigram-total aggregate
  * and the scoring arm both read the checkpoint — round 7 re-executed
  * the training pass three times). Gram STRINGS never enter a scoring
  * exchange or a broadcast: every LM row is keyed by
  * `fingerprint64(gram)` ([[lmKey]] — 8 bytes, q73's witness-key
  * discipline; sound because a k-gram's string determines k, tokens
  * being whitespace-free, and 64-bit collisions at G distinct grams
  * are ~G²/2⁶⁵ — the randomized-LM trade Talbot & Brants publish,
  * taken identically by BOTH arms so they cannot diverge). Scoring
  * dispatches on LM size:
  *
  *  - LM ≤ [[BroadcastLmLimit]] rows → the counts compact into a
  *    [[LongLongMap]] (open-addressing long→long, ~34 B/entry) that
  *    broadcasts, and scoring is a single map-side pass (CCNet ships
  *    its pruned KenLM to workers the same way);
  *  - larger → the Brants '07 join shape: positional rows
  *    `(doc_id, pos, k, gk)` — all 8-byte columns — LEFT JOIN the
  *    fingerprint-keyed count relation, then one per-doc fold. The
  *    context denominator needs NO second join: the (k−1)-context of
  *    the gram at position p is exactly the (k−1)-gram at p−1, whose
  *    count the same join already delivered.
  *
  * Lifecycle: [[persistLm]] writes the count table as the nightly
  * artifact (q97's merge-table pattern one level up); [[loadLm]]
  * compacts it (optionally count-pruned, CCNet-style) for
  * [[scoreOn]], the map-only scorer the batch broadcast arm also
  * runs, so ingest-time scores are the batch scores.
  */
object Perplexity {

  /** Maximum n-gram order. */
  val Order = 5

  /** log10 of the stupid-backoff multiplier (Brants et al. 2007). */
  val BackoffLog10: Double = math.log10(0.4)

  /** LM row count at or under which scoring broadcasts the count map
    * instead of joining. Sized against the compact [[LongLongMap]]
    * broadcast form (~34 B/entry with 2× open-addressing headroom):
    * 1M rows ≈ 34 MB of driver and per-executor heap — honestly "a
    * few tens of MB" with JVM overhead counted, where the boxed
    * `Map[(Int,String),Long]` this replaced would have been
    * 150–300 MB at the same row count.
    */
  val BroadcastLmLimit: Long = 1L << 20

  /** Open-addressing long→long hash map (linear probing, power-of-two
    * capacity ≥ 2× entries): the compact broadcast form of the LM.
    * Two primitive long arrays plus one occupancy byte per slot — no
    * boxing, no per-entry objects, serialization-friendly.
    */
  private[graft] final class LongLongMap(expected: Int)
      extends Serializable {
    private[this] val cap = {
      var c = 16
      while (c < (expected max 1) * 2) c <<= 1
      c
    }
    private[this] val mask = cap - 1
    private[this] val ks = new Array[Long](cap)
    private[this] val vs = new Array[Long](cap)
    private[this] val occ = new Array[Boolean](cap)
    private[this] var n = 0
    private def slot(k: Long): Int = {
      var h = k * 0x9E3779B97F4A7C15L
      h ^= (h >>> 32)
      var i = h.toInt & mask
      while (occ(i) && ks(i) != k) i = (i + 1) & mask
      i
    }
    def put(k: Long, v: Long): Unit = {
      val i = slot(k)
      if (!occ(i)) {
        n += 1
        require(n * 2 <= cap, s"LongLongMap over capacity: $n > ${cap / 2}")
      }
      ks(i) = k; vs(i) = v; occ(i) = true
    }
    def getOrElse(k: Long, dflt: Long): Long = {
      val i = slot(k)
      if (occ(i)) vs(i) else dflt
    }
    def size: Int = n
  }

  /** The broadcastable LM: fingerprint-keyed counts + the unigram
    * total N (always the UNPRUNED total, so pruning thins the
    * numerator table without rescaling the base distribution).
    */
  final case class Lm(counts: LongLongMap, nTrain: Long)
      extends Serializable

  /** 8-byte key of an LM row: `fingerprint64(gram)`. The gram string
    * determines its order k (k tokens joined by single spaces, tokens
    * whitespace-free), so (k, gram) needs no k in the key. Closures
    * use this; column-side the registered `fingerprint64` expression
    * computes the identical value (FingerprintSpec asserts the twin).
    */
  private[graft] def lmKey(gram: String): Long = Fingerprint64.of(gram)

  private def toksOf(text: String): Array[String] =
    text.trim.split("\\s+").filter(_.nonEmpty)

  /** n-gram counts of orders 1..[[Order]] over the training docs:
    * one row per distinct (k, gram). One flatMap + one groupBy.
    */
  def ngramCounts(train: DataFrame): DataFrame = {
    val spark = train.sparkSession
    import spark.implicits._
    Tables.spread(train.select(col("doc_id"), col("text")))
      .as[(Long, String)]
      .flatMap { case (_, text) =>
        val toks = toksOf(text)
        (1 to math.min(Order, toks.length)).iterator.flatMap { k =>
          toks.sliding(k).filter(_.length == k)
            .map(g => (k, g.mkString(" ")))
        }
      }.toDF("k", "gram")
      .groupBy(col("k"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** The per-document fold both arms share: components arrive in
    * POSITION order as (num, den, backoffs); the log10 recomposition
    * and running sum happen here and only here, so the two arms
    * cannot drift by even an ulp.
    */
  private[graft] def foldLog10(
      comps: Iterator[(Long, Long, Int)]): (Long, Double) = {
    var n = 0L
    var s = 0.0
    comps.foreach { case (num, den, nb) =>
      s += math.log10(num.toDouble / den.toDouble) + nb * BackoffLog10
      n += 1
    }
    (n, s)
  }

  /** Per-position integer components for one document given a count
    * lookup (−1 = absent): the highest order whose gram was observed
    * wins; its denominator is the (k−1)-gram at the previous
    * position (present by the training sub-gram invariant). Shared
    * selection semantics for both arms; the join arm reproduces it
    * from joined counts ([[componentsFromCounts]]).
    */
  private[graft] def componentsOf(toks: Array[String],
      lookup: (Int, String) => Long,
      nTrain: Long): Array[(Long, Long, Int)] = {
    val out = new Array[(Long, Long, Int)](toks.length)
    var p = 1
    while (p <= toks.length) {
      val kp = math.min(Order, p)
      var sel = kp
      var num = -1L
      while (sel >= 1 && num < 0) {
        val g = toks.slice(p - sel, p).mkString(" ")
        num = lookup(sel, g)
        if (num < 0) sel -= 1
      }
      out(p - 1) =
        if (num < 0) (1L, nTrain, kp - 1)
        else if (sel == 1) (num, nTrain, kp - 1)
        else {
          val ctx = toks.slice(p - sel, p - 1).mkString(" ")
          (num, lookup(sel - 1, ctx), kp - sel)
        }
      p += 1
    }
    out
  }

  /** The join arm's twin of [[componentsOf]]: rebuilds the same
    * selection from (pos, k) → cnt pairs the gram join delivered.
    * den(p, k) = cnt(p−1, k−1) — the context IS the previous
    * position's (k−1)-gram, so no second join against the counts.
    */
  private[graft] def componentsFromCounts(nToks: Int,
      cnt: scala.collection.Map[(Long, Int), Long],
      nTrain: Long): Array[(Long, Long, Int)] = {
    val out = new Array[(Long, Long, Int)](nToks)
    var p = 1L
    while (p <= nToks) {
      val kp = math.min(Order, p.toInt)
      var sel = kp
      var num = -1L
      while (sel >= 1 && num < 0) {
        num = cnt.getOrElse((p, sel), -1L)
        if (num < 0) sel -= 1
      }
      out(p.toInt - 1) =
        if (num < 0) (1L, nTrain, kp - 1)
        else if (sel == 1) (num, nTrain, kp - 1)
        else (num, cnt((p - 1, sel - 1)), kp - sel)
      p += 1
    }
    out
  }

  private def pplOf(n: Long, s: Double): java.lang.Double =
    if (n == 0) null else math.pow(10.0, -s / n)

  /** Score one document against a compact LM — the per-document
    * kernel of [[scoreOn]]. */
  private[graft] def scoreDoc(lm: Lm,
      text: String): (Long, Option[Double]) = {
    val toks = toksOf(text)
    val (n, s) = foldLog10(componentsOf(toks,
      (_: Int, g: String) => lm.counts.getOrElse(lmKey(g), -1L),
      lm.nTrain).iterator)
    (n, Option(pplOf(n, s)).map(_.doubleValue))
  }

  /** Compact a count relation (k, gram, cnt) into the broadcastable
    * [[Lm]]: one aggregate for (row count, unpruned unigram total),
    * one fingerprint-projected collect. `minCount` > 1 prunes rare
    * grams CCNet-style; the guard refuses LMs past `limit` rows
    * post-prune rather than OOM-ing the driver.
    */
  private[graft] def compactLm(counts: DataFrame, minCount: Long = 1L,
      limit: Long = BroadcastLmLimit): Lm = {
    val spark = counts.sparkSession
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val kept = counts.filter(col("cnt") >= minCount)
    val head = counts.agg(
      coalesce(sum(when(col("cnt") >= minCount, 1L)), lit(0L)).as("rows"),
      coalesce(sum(when(col("k") === 1, col("cnt"))), lit(0L)).as("n"))
      .collect().head
    val rows = head.getLong(0)
    val nTrain = head.getLong(1)
    require(rows <= limit,
      s"LM has $rows rows after minCount=$minCount prune, past the " +
        s"broadcast limit $limit — raise minCount or score via the join arm")
    val lm = new LongLongMap(rows.toInt)
    kept.select(expr("fingerprint64(gram)"), col("cnt"))
      .as[(Long, Long)].collect()
      .foreach { case (gk, c) => lm.put(gk, c) }
    Lm(lm, nTrain)
  }

  /** Persist the LM count table (k, gram, cnt) as the nightly
    * artifact — q97's merge-table lifecycle one level up. Gram text
    * stays IN the artifact (debuggable, keys re-derivable); loaders
    * compact to fingerprints. */
  def persistLm(train: DataFrame, path: String): Unit =
    ngramCounts(train).write.mode("overwrite").parquet(path)

  /** Load a [[persistLm]] artifact into its compact broadcastable
    * form, optionally count-pruned (CCNet ships a pruned KenLM the
    * same way; nTrain stays the unpruned unigram total). */
  def loadLm(spark: SparkSession, path: String, minCount: Long = 1L,
      limit: Long = BroadcastLmLimit): Lm =
    compactLm(spark.read.parquet(path), minCount, limit)

  /** Score `(doc_id, text)` documents against a compact LM —
    * `(doc_id, n_scored, ppl)`, map-only with the LM broadcast, no
    * join, no shuffle, no state. The broadcast arm of
    * [[perplexityOn]] and the ingest-time scorer over a [[loadLm]]
    * artifact are this one function.
    */
  def scoreOn(docs: DataFrame, lm: Lm): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(lm)
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val (n, p) = scoreDoc(bc.value, text)
        (id, n, p)
      }.toDF("doc_id", "n_scored", "ppl")
  }

  /** Score every document against an LM trained on `train`:
    * one row per doc, `(doc_id, n_scored, ppl)` (ppl null for empty
    * docs). Dispatches broadcast-map vs join on LM size — both arms
    * bit-equal by construction (shared [[foldLog10]] and identical
    * fingerprint keys), spec-asserted.
    */
  def perplexityOn(docs: DataFrame, train: DataFrame,
      broadcastLimit: Long = BroadcastLmLimit): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // ONE training pass: the counts relation materializes behind a
    // localCheckpoint barrier; the aggregate below and the
    // collect/join both read the checkpoint (round 7 re-ran the
    // flatMap+groupBy three times per invocation)
    val counts = ngramCounts(train).localCheckpoint()
    val head = counts.agg(count(lit(1)).as("rows"),
      coalesce(sum(when(col("k") === 1, col("cnt"))), lit(0L)).as("n"))
      .collect().head
    val lmRows = head.getLong(0)
    val nTrain = head.getLong(1)
    val scored: DataFrame =
      if (lmRows <= broadcastLimit) {
        val lm = {
          val m = new LongLongMap(lmRows.toInt)
          counts.select(expr("fingerprint64(gram)"), col("cnt"))
            .as[(Long, Long)].collect()
            .foreach { case (gk, c) => m.put(gk, c) }
          Lm(m, nTrain)
        }
        scoreOn(Tables.spread(docs.select(col("doc_id"), col("text"))), lm)
      } else {
        // positional rows are ALL 8-byte columns — the gram text is
        // fingerprinted in the flatMap and never enters the exchange
        val grams = Tables.spread(docs.select(col("doc_id"), col("text")))
          .as[(Long, String)]
          .flatMap { case (id, text) =>
            val toks = toksOf(text)
            (1 to toks.length).iterator.flatMap { p =>
              (1 to math.min(Order, p)).iterator
                .map(k => (id, p.toLong, k,
                  lmKey(toks.slice(p - k, p).mkString(" "))))
            }
          }.toDF("doc_id", "pos", "k", "gk")
        val lmk = counts
          .select(expr("fingerprint64(gram)").as("gk"), col("cnt"))
        val perDoc = grams.join(lmk, Seq("gk"), "left")
          .select(col("doc_id"), col("pos"), col("k"), col("cnt"))
          .as[(Long, Long, Int, Option[Long])]
          .groupByKey(_._1)
          .mapGroups { (id: Long,
              rows: Iterator[(Long, Long, Int, Option[Long])]) =>
            val cnt = scala.collection.mutable.Map.empty[(Long, Int), Long]
            var nToks = 0L
            rows.foreach { case (_, p, k, c) =>
              if (p > nToks) nToks = p
              c.foreach(v => cnt((p, k)) = v)
            }
            val (n, s) = foldLog10(
              componentsFromCounts(nToks.toInt, cnt, nTrain).iterator)
            (id, n, Option(pplOf(n, s)).map(_.doubleValue))
          }.toDF("doc_id", "n_scored", "ppl")
        perDoc
      }
    // empty docs emit no gram rows on the join arm — restore them
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_scored"), lit(0L)).as("n_scored"),
        col("ppl"))
  }

  /** ntile(b) bucket for global `rank` of `total` rows, as a closed
    * form over [[Distributed.orderedPrefix]]'s outputs — the first
    * `total mod b` buckets hold one extra row, SQL ntile's exact
    * contract, with no single-partition window anywhere.
    */
  private[graft] def ntileOf(rank: Long, total: Long, b: Long): Long = {
    val q = total / b
    val rem = total % b
    if (rank <= rem * (q + 1)) (rank - 1) / (q + 1) + 1
    else rem + (rank - rem * (q + 1) - 1) / q + 1
  }

  /** q102: the CCNet quality gate threaded onto q75's verdict chain.
    * The LM trains on q75's KEPT corpus (the pipeline's own
    * high-quality seed), every document is scored, and kept docs
    * refine into `kept_head` / `kept_middle` / `kept_tail` by
    * perplexity tercile (head = lowest perplexity, CCNet's keep-side)
    * — non-kept docs keep their q75 verdict untouched, so q75's
    * oracle is unaffected. UNSCOREABLE kept docs (empty text ⇒
    * n_scored = 0 ⇒ ppl null) are EXCLUDED from the ranking and stay
    * plain `kept`: an empty doc carries no quality evidence, and
    * ranking nulls last would silently brand it worst-quality
    * (round-7 advice). Terciles come from a global rank via
    * [[Distributed.orderedPrefix]] (q49's shape) — ntile WITHOUT the
    * single-task global window, spec-asserted equal to SQL ntile(3).
    * One row per document: `(doc_id, verdict, n_scored, ppl)`.
    */
  def q102(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val verdicts = Curation.q75(spark, dir)
      .select(col("doc_id"), col("verdict")).localCheckpoint()
    val train = docs.join(
      verdicts.filter(col("verdict") === "kept").select(col("doc_id")),
      Seq("doc_id"), "left_semi")
    val scored = perplexityOn(docs, train).localCheckpoint()
    val kept = verdicts.filter(col("verdict") === "kept")
      .join(scored, Seq("doc_id"))
    // ntileOf as codegen'd integer expressions (the scala twin backs
    // the spec's cross-check against SQL ntile)
    val bucketed = Distributed.orderedPrefix(
        kept.filter(col("ppl").isNotNull)
          .select(col("doc_id"), col("ppl")),
        Seq(col("ppl").asc, col("doc_id")), lit(1L))
      .withColumn("q", expr("total_w DIV 3"))
      .withColumn("rem", col("total_w") % 3)
      .select(col("doc_id"),
        when(col("rank") <= col("rem") * (col("q") + 1),
          expr("(rank - 1) DIV (q + 1) + 1"))
          .otherwise(expr("rem + (rank - rem * (q + 1) - 1) DIV q + 1"))
          .as("tercile"))
    verdicts.join(bucketed, Seq("doc_id"), "left")
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("tercile") === 1, lit("kept_head"))
          .when(col("tercile") === 2, lit("kept_middle"))
          .when(col("tercile") === 3, lit("kept_tail"))
          .otherwise(col("verdict")).as("verdict"),
        col("n_scored"), col("ppl"))
      .orderBy(col("doc_id"))
  }
}
