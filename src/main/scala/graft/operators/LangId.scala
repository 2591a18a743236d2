package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** TRAINED language identification — the production member of the
  * lang-id family (round 14; the r13 verdict's growth item #7). q22
  * is a fixed stopword/CASE guesser; this is a per-language
  * char-n-gram Naive Bayes with the full nightly-train /
  * apply-at-ingest lifecycle the perplexity and quality filters
  * already have (train at corpus scale, persist a KB artifact, load
  * and score map-only at ingest with the batch apply, [[langIdOn]]).
  *
  * Determinism discipline: the ONLY floats live inside model
  * construction (`StrictMath.log` over exact int64 counts, floored
  * onto a 1e6 fixed-point scale); scoring is pure int64 sums in
  * per-document gram order — partition- and engine-independent, the
  * q102/q111 convention. Ties break toward the lexicographically
  * first language.
  *
  * Scale shape: training is one `flatMap → groupBy(lang, gram) →
  * count` (8-byte-ish keys, map-side combine), a per-lang top-K
  * window, and a constant-bounded collect (`TopGrams × |langs|`
  * rows — structural, not contractual); apply is map-only with the
  * model broadcast. Nothing is corpus-sized on the driver.
  */
object LangId {

  /** Char-gram width. 3 is the classic langid.py/ngram-profile
    * choice: wide enough to capture orthographic signature, narrow
    * enough that a capped model covers most token mass.
    */
  val GramN = 3

  /** Per-language model cap: the top [[TopGrams]] grams by count
    * (ties broken by gram text) — grams outside the model score the
    * per-lang unseen floor. 4096 × |langs| rows keep the artifact in
    * the hundreds of KB at any corpus size.
    */
  val TopGrams = 4096

  /** Fixed-point scale for log-probability weights: 1e-6 grain is
    * far below any argmax-visible margin while a doc of 10⁶ grams
    * sums to ~10¹³ — int64 headroom to spare.
    */
  val LogScale = 1e6

  /** A trained model: `langs` sorted ascending; `prior(l)` the scaled
    * log class prior; `unseen(l)` the scaled log of the Laplace floor
    * `1/(tot_l + V)`; `grams(g)(l)` the scaled log of
    * `(c(g,l)+1)/(tot_l + V)`.
    */
  final case class LangIdModel(langs: Array[String], prior: Array[Long],
      unseen: Array[Long], grams: Map[String, Array[Long]])
      extends Serializable {

    /** Score one document — the per-document kernel of
      * [[langIdOn]]: per-lang int64 sums over the doc's
      * gram multiset, argmax with first-lang tie-break. Returns
      * `(predLang, margin)` where margin = best − runner-up (0 when
      * |langs| = 1).
      */
    def score(text: String): (String, Long) = {
      val counts = new java.util.HashMap[String, Int]()
      val it = charGrams(text)
      while (it.hasNext) counts.merge(it.next(), 1, _ + _)
      val totals = prior.clone()
      val cit = counts.entrySet().iterator()
      while (cit.hasNext) {
        val e = cit.next()
        val w = grams.getOrElse(e.getKey, unseen)
        val n = e.getValue.toLong
        var l = 0
        while (l < totals.length) { totals(l) += n * w(l); l += 1 }
      }
      var best = 0; var second = Long.MinValue
      var l = 1
      while (l < totals.length) {
        if (totals(l) > totals(best)) { second = totals(best); best = l }
        else if (totals(l) > second) second = totals(l)
        l += 1
      }
      (langs(best), if (second == Long.MinValue) 0L
        else totals(best) - second)
    }
  }

  /** The shared gram pass: lowercase, collapse whitespace runs to one
    * space, trim, slide a [[GramN]]-char window (a shorter text emits
    * itself once). Both train and apply call exactly this.
    */
  def charGrams(text: String): Iterator[String] = {
    val norm = text.toLowerCase.trim.replaceAll("\\s+", " ")
    if (norm.isEmpty) Iterator.empty
    else if (norm.length < GramN) Iterator.single(norm)
    else norm.sliding(GramN)
  }

  /** TRAIN: Naive Bayes gram counts over a labelled corpus
    * (`doc_id, lang, text`). One shuffle on (lang, gram); the
    * vocabulary size V and per-lang totals are counted over ALL grams
    * (the cap applies only to which weights the model STORES — capped-
    * out grams fall to the unseen floor, which the totals make
    * consistent).
    */
  def trainLangId(docs: DataFrame): LangIdModel = {
    val spark = docs.sparkSession
    import spark.implicits._
    val grams = docs.select(col("lang"), col("text"))
      .as[(String, String)]
      .flatMap { case (l, t) => charGrams(t).map(g => (l, g)) }
      .toDF("lang", "g")
    val counts = grams.groupBy(col("lang"), col("g"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint() // feeds totals, V, and the top-K window
    val v = counts.select(col("g")).distinct().count()
    val langTotals = counts.groupBy(col("lang"))
      .agg(sum(col("c")).as("tot"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nd = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val langs = langTotals.keys.toArray.sorted
    val n = nd.values.sum
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("c").desc, col("g"))
    val top = counts
      .withColumn("r", row_number().over(w))
      .filter(col("r") <= TopGrams)
      .select(col("lang"), col("g"), col("c"))
      .collect() // ≤ TopGrams × |langs| rows, structural bound
    def scaled(x: Double): Long = math.floor(LogScale * x).toLong
    val unseen = langs.map(l =>
      scaled(-StrictMath.log((langTotals(l) + v).toDouble)))
    val prior = langs.map(l =>
      scaled(StrictMath.log(nd(l).toDouble / n.toDouble)))
    val idx = langs.zipWithIndex.toMap
    val gmap = top.groupBy(_.getString(1)).map { case (g, rows) =>
      val ws = unseen.clone()
      rows.foreach { r =>
        val l = idx(r.getString(0))
        ws(l) = scaled(StrictMath.log((r.getLong(2) + 1).toDouble) -
          StrictMath.log((langTotals(r.getString(0)) + v).toDouble))
      }
      g -> ws
    }
    LangIdModel(langs, prior, unseen, gmap)
  }

  /** Persist the model as a small parquet artifact: one row per
    * (lang, gram) weight plus per-lang prior/unseen rows (gram NULL,
    * kind-tagged). Same overwrite discipline as [[QualityFilter]].
    */
  def persistLangId(spark: SparkSession, model: LangIdModel,
      path: String): Unit = {
    import spark.implicits._
    val li = model.langs.zipWithIndex.toMap
    val rows =
      model.langs.map(l => ("prior", l, null: String,
          model.prior(li(l)))) ++
      model.langs.map(l => ("unseen", l, null: String,
          model.unseen(li(l)))) ++
      model.grams.toSeq.flatMap { case (g, ws) =>
        model.langs.map(l => ("gram", l, g, ws(li(l)))) }
    rows.toSeq.toDF("kind", "lang", "g", "w")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a persisted model (exact inverse of [[persistLangId]]). */
  def loadLangId(spark: SparkSession, path: String): LangIdModel = {
    val rows = spark.read.parquet(path).collect()
    val langs = rows.filter(_.getString(0) == "prior")
      .map(_.getString(1)).sorted
    val li = langs.zipWithIndex.toMap
    def vec(kind: String): Array[Long] = {
      val m = rows.filter(_.getString(0) == kind)
        .map(r => r.getString(1) -> r.getLong(3)).toMap
      langs.map(m)
    }
    val grams = rows.filter(_.getString(0) == "gram")
      .groupBy(_.getString(2)).map { case (g, rs) =>
        val ws = new Array[Long](langs.length)
        rs.foreach(r => ws(li(r.getString(1))) = r.getLong(3))
        g -> ws
      }
    LangIdModel(langs, vec("prior"), vec("unseen"), grams)
  }

  /** APPLY: score every document map-only, the model broadcast (a few
    * hundred KB — too big to ride every task closure, far too small
    * for a join), for the batch corpus and an ingest stream alike.
    * `(doc_id, lang, pred_lang, correct, margin)`; docs with no `lang`
    * column (unlabelled arrivals) still score, with `lang` and
    * `correct` null.
    */
  def langIdOn(docs: DataFrame, model: LangIdModel): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    val lang =
      if (docs.columns.contains("lang")) col("lang")
      else lit(null).cast("string").as("lang")
    docs.select(col("doc_id"), lang, col("text"))
      .as[(Long, String, String)]
      .mapPartitions { it =>
        val m = bc.value
        it.map { case (id, lang, t) =>
          val (pred, margin) = m.score(t)
          (id, lang, pred, Option(lang).map(l => if (pred == l) 1 else 0),
            margin)
        }
      }
      .toDF("doc_id", "lang", "pred_lang", "correct", "margin")
  }

  /** q134: the self-contained train + apply pipeline per the query
    * contract — NB trained on this corpus's labels, every document
    * scored. Training is a non-SQL artifact ⇒ rows-only; LangIdSpec
    * pins planted exactness, bit-identical retrain and persist/load,
    * stream==batch, and that the trained model beats the q22 fixed
    * heuristic on the corpus it trained on.
    */
  def q134(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    // the nightly-train artifact memo rides SessionCaches (not the
    // q111 TrieMap): the one-time training scan lands on the bench's
    // honest-accounting ledger instead of hiding in runs[0], and the
    // model is dropped when its context stops
    val model = graft.SessionCaches.getOrBuild(spark, "langid", dir) {
      trainLangId(docs)
    }
    langIdOn(docs, model).orderBy(col("doc_id"))
  }
}
