package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Full-text search over the corpus: an inverted-index build plus
  * BM25-ranked top-k retrieval — the retrieval half of a RAG/dedup
  * stack, and the classic IR workload a training-data platform runs
  * for corpus exploration ("show me the docs about X") and
  * contamination forensics ("which documents score high against this
  * benchmark question").
  *
  * Spark-first shape: the term-frequency relation (the inverted
  * index) is ONE explode + groupBy pass over the corpus; corpus
  * statistics (N, total length) are one 1-row aggregate, document
  * frequencies one term-keyed aggregate whose exchange is REUSED by
  * the scoring join (same key). Queries are a KB-sized literal
  * relation — broadcast onto the postings, so the corpus-sized side
  * never shuffles for the join; per-query top-k is a rank window
  * that compiles to `WindowGroupLimit` (each map partition forwards
  * ≤ k rows per query into the final shuffle, q48's pattern). At
  * 100 TB the tf relation is the persisted index artifact
  * (term-bucketed parquet); everything downstream of it touches only
  * postings for the query's terms.
  *
  * Determinism contract (the §4 strategy, q24/q47 precedents): BM25's
  * `ln`-based idf is NOT cross-engine bit-stable (libm vs JVM differ
  * in the last ulp), so the idf factor is the RATIONAL `N/df` —
  * q24's documented substitution, monotone in the same direction on
  * every corpus (both decrease in df), so ranking quality is
  * preserved while every factor stays an IEEE-exact operation on
  * exact integers. k1 = 1.25 and b = 0.75 are chosen exactly
  * representable in binary (k1+1 = 2.25 exact) so the literal
  * arithmetic folds identically in both engines. Per-term
  * contributions are floor-scaled to int64 at 1e9 and summed in the
  * EXACT integer domain (double sums are shuffle-order-dependent;
  * int sums are not), the final score recomposed by one division.
  */
object Search {

  /** Fixed retrieval queries (literals, the q40 fixed-query-vector
    * pattern) over the synthetic corpus vocabulary.
    */
  val SearchQueries: Seq[(Long, String)] = Seq(
    (1L, "fast table scan"),
    (2L, "window agg join"),
    (3L, "customer order query"),
    (4L, "hash merge sort batch"),
    (5L, "stream data column"))

  /** BM25 k1, exactly representable (k1+1 = 2.25 exact). */
  val BmK1 = 1.25

  /** BM25 b, exactly representable. */
  val BmB = 0.75

  /** Results per query. */
  val SearchTopK = 10

  /** Score scale: contributions are floor(score × 1e9) int64s. */
  private val ScoreScale = 1e9

  /** The inverted index + per-doc length over a `(doc_id, text)`
    * relation: one row per (term, doc_id) with the term frequency,
    * plus `dl` (doc token count) on every row. This is the relation a
    * production deployment persists term-bucketed; [[q105]] builds it
    * in-flight per the query contract.
    */
  private[graft] def tfIndex(docs: DataFrame): DataFrame =
    Tables.spread(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        expr("regexp_extract_all(text, '\\\\S+', 0)").as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** q105: BM25-lite top-[[SearchTopK]] retrieval for each of
    * [[SearchQueries]] — `(query_id, rank, doc_id, score)`.
    */
  def q105(spark: SparkSession, dir: String): DataFrame =
    bm25On(Tables(spark, dir, "documents"), SearchQueries)

  /** [[q105]]'s retrieval over an arbitrary `(doc_id, text)` relation
    * and query set — the form the spec feeds planted corpora.
    */
  def bm25On(relation: DataFrame,
      queries: Seq[(Long, String)],
      topK: Int = SearchTopK): DataFrame = {
    val spark = relation.sparkSession
    import spark.implicits._
    val docs = relation.select(col("doc_id"), col("text"))
    // barrier: tf feeds the df aggregate AND the scoring join — the
    // tokenize+explode pass must run once, not once per consumer
    // (round 14; the q75 multi-consumer discipline)
    val tf = tfIndex(docs).localCheckpoint()
    // 1-row corpus statistics: N docs, total token count (exact ints)
    val stats = docs
      .select(col("doc_id"), size(expr(
        "regexp_extract_all(text, '\\\\S+', 0)")).cast("long").as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_len"))
    // document frequency per term; its exchange is reused by the
    // scoring join below (same key)
    val df_ = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // query terms: a literal KB relation, broadcast onto the postings
    val qterms = queries
      .flatMap { case (qid, q) =>
        q.split("\\s+").filter(_.nonEmpty).distinct.map(t => (qid, t)) }
      .toDF("query_id", "term")
    rankContributions(tf, df_, stats, qterms, topK)
  }

  /** MORE-LIKE-THIS retrieval: the query is a DOCUMENT — its distinct
    * term set becomes the BM25 query against the rest of the corpus
    * (self excluded before ranking). This is the lexical arm of the
    * hybrid fusion ([[Hybrid.q110]]): a related-document query both
    * retrieval stacks can answer over the same query doc ids, so the
    * fused ranking is fully oracle-checkable. Corpus statistics
    * (N, avgdl, df) are over the FULL corpus including the query doc —
    * the query doc is corpus membership, not a foreign probe.
    *
    * Scale shape is [[bm25On]]'s: the query-term relation is ≤
    * queries × doc-length rows (KBs — broadcast), the tf relation
    * never shuffles for it, and top-k is a WindowGroupLimit.
    */
  private[graft] def bm25MoreLikeThis(relation: DataFrame,
      queryDocIds: Seq[Long], topK: Int = SearchTopK): DataFrame = {
    val docs = relation.select(col("doc_id"), col("text"))
    // barrier: tf feeds df_, qterms AND the scoring join (see bm25On)
    val tf = tfIndex(docs).localCheckpoint()
    val stats = docs
      .select(col("doc_id"), size(expr(
        "regexp_extract_all(text, '\\\\S+', 0)")).cast("long").as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_len"))
    val df_ = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // tf is already one row per (doc, term), so this IS the distinct
    // term set of each query doc
    val qterms = tf.filter(col("doc_id").isInCollection(queryDocIds))
      .select(col("doc_id").as("query_id"), col("term"))
    rankContributions(tf, df_, stats, qterms, topK, excludeSelf = true)
  }

  /** The scoring + ranking tail shared by [[bm25On]] (in-flight index)
    * and [[searchBmIndex]] (on-disk index) — ONE expression tree, so
    * the two paths are bit-equal by construction. `tf` carries
    * `(doc_id, dl, term, tf)`, `dfRel` `(term, df)`, `stats` one row
    * of `(n_docs, total_len)`, `qterms` `(query_id, term)`.
    * `excludeSelf` drops postings of the query's own document BEFORE
    * ranking — the more-like-this form, where query_id IS a doc_id
    * and "the most relevant document" would trivially be itself.
    */
  private def rankContributions(tf: DataFrame, dfRel: DataFrame,
      stats: DataFrame, qterms: DataFrame, topK: Int,
      excludeSelf: Boolean = false): DataFrame = {
    val qJoined = tf.join(broadcast(qterms), Seq("term"))
    val contrib = (if (excludeSelf)
        qJoined.filter(col("doc_id") =!= col("query_id"))
      else qJoined)
      .join(dfRel, Seq("term"))
      .crossJoin(broadcast(stats))
      // dl/avgdl = dl*N/total_len — avgdl never materializes as a
      // rounded intermediate; every operand is an exact int64 cast
      .withColumn("dl_norm",
        col("dl").cast("double") * col("n_docs").cast("double") /
          col("total_len").cast("double"))
      .withColumn("contrib_scaled", floor(
        (col("n_docs").cast("double") / col("df").cast("double")) *
          (col("tf").cast("double") * lit(BmK1 + 1.0)) /
          (col("tf").cast("double") +
            lit(BmK1) * (lit(1.0) - lit(BmB) + lit(BmB) * col("dl_norm"))) *
          lit(ScoreScale)).cast("long"))
    val scored = contrib
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("contrib_scaled")).as("score_scaled"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_scaled").desc, col("doc_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("doc_id"),
        (col("score_scaled").cast("double") / lit(ScoreScale)).as("score"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Term-hash partition count for the on-disk index. 64 buckets keep
    * directories coarse (a 100 TB tf relation still writes GB-sized
    * partitions) while a typical query's ≤ ~20 distinct terms prune
    * ≥ 2/3 of the index.
    */
  val IndexBuckets = 64

  /** Bucket column for a term: xxhash64 mod [[IndexBuckets]] — every
    * posting for a term lives in exactly one partition, so per-term
    * df recomputed from a pruned scan is EXACT.
    */
  private def bucketOf(term: org.apache.spark.sql.Column) =
    pmod(xxhash64(term), lit(IndexBuckets.toLong))

  /** Build the on-disk inverted index: the tf relation partitioned by
    * term-hash bucket (the q105 analogue of [[Similarity.buildIvfIndex]]
    * — probes become partition predicates), with the 1-row corpus
    * statistics persisted as the `_stats` artifact and a KB-sized
    * vocabulary Bloom as `_termbloom` (round 9: a query term ABSENT
    * from the corpus would otherwise still scan its hash bucket — the
    * Bloom short-circuits it driver-side before any predicate is
    * built; errs only toward probing, never toward missing a present
    * term). df is NOT stored: a term's postings live wholly in its
    * bucket, so probes recount it exactly from the pruned scan — one
    * less table to keep consistent across appends.
    */
  def buildBmIndex(spark: SparkSession, dir: String,
      indexPath: String): Unit = {
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    tfIndex(docs)
      .withColumn("bucket", bucketOf(col("term")))
      .write.partitionBy("bucket").mode("overwrite").parquet(indexPath)
    val r = docs
      .select(size(expr("regexp_extract_all(text, '\\\\S+', 0)"))
        .cast("long").as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_len"))
      .collect().head
    writeStatsAtomic(spark, indexPath, r.getLong(0), r.getLong(1))
    val distinctTerms = spark.read.parquet(indexPath)
      .select(col("term")).distinct()
    val bloom = distinctTerms.stat.bloomFilter("term",
      math.max(1024L, distinctTerms.count() * 2), TermBloomFpp)
    writeTermBloomAtomic(spark, indexPath, bloom)
  }

  /** `_termbloom` false-positive rate. 1% costs ~10 bits/term —
    * ~1.2 MB at a 10⁶-term vocabulary — and a false positive merely
    * probes one unnecessary bucket.
    */
  val TermBloomFpp = 0.01

  /** Atomically (re)write the `_termbloom` artifact — same
    * temp+rename discipline as [[writeStatsAtomic]]. Sized at 2×
    * current vocabulary so incremental appends have headroom; growth
    * past that only degrades the fpp (more spurious probes), never
    * correctness, and the next [[buildBmIndex]] right-sizes it.
    */
  private def writeTermBloomAtomic(spark: SparkSession, indexPath: String,
      bloom: org.apache.spark.util.sketch.BloomFilter): Unit = {
    val (fs, _) = indexFs(spark, indexPath)
    val tmp = new org.apache.hadoop.fs.Path(s"$indexPath/_termbloom.tmp")
    val dst = new org.apache.hadoop.fs.Path(s"$indexPath/_termbloom")
    val out = fs.create(tmp, true)
    try bloom.writeTo(out) finally out.close()
    if (fs.exists(dst)) fs.delete(dst, false)
    renameOrThrow(fs, tmp, dst)
  }

  /** Right-size `_termbloom` from the standing postings — the
    * unlearning step a Bloom can't do in place (round-10 verdict:
    * [[deleteFromBmIndex]] leaves the bloom permanently over-probing
    * for deleted-only terms). One full-index scan of the `term`
    * column (maintenance-pass cost, same as [[recomputeBmStats]]);
    * the rewrite is atomic, results never change — only spurious
    * probes for vocabulary that no longer exists stop. Run it after
    * a deletion wave or fold it into the nightly compaction.
    */
  def rebuildTermBloom(spark: SparkSession, indexPath: String): Unit = {
    val distinctTerms = spark.read.parquet(indexPath)
      .select(col("term")).distinct()
    val bloom = distinctTerms.stat.bloomFilter("term",
      math.max(1024L, distinctTerms.count() * 2), TermBloomFpp)
    writeTermBloomAtomic(spark, indexPath, bloom)
  }

  /** Load `_termbloom` if present. A pre-round-9 index (or one whose
    * bloom write was interrupted) simply has none — every query term
    * probes, exactly the old behavior; no repair needed.
    */
  private[graft] def readTermBloom(spark: SparkSession, indexPath: String)
      : Option[org.apache.spark.util.sketch.BloomFilter] = {
    val (fs, _) = indexFs(spark, indexPath)
    val p = new org.apache.hadoop.fs.Path(s"$indexPath/_termbloom")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(org.apache.spark.util.sketch.BloomFilter.readFrom(in))
      finally in.close()
    }
  }

  /** Query terms that survive the `_termbloom` screen (all of them
    * when the index has no bloom). Never drops a present term.
    */
  private def screenTerms(spark: SparkSession, indexPath: String,
      terms: Seq[String]): Seq[String] =
    readTermBloom(spark, indexPath) match {
      case Some(b) => terms.filter(b.mightContainString)
      case None => terms
    }

  private def indexFs(spark: SparkSession, indexPath: String) = {
    val p = new org.apache.hadoop.fs.Path(indexPath)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  /** Single-writer maintenance renames must never swallow a false
    * return (round 12 — the stats-swap lesson generalized): a failed
    * `rename(std, old)` followed by a rename-into-existing-dir NEST
    * would leave the standing bucket untouched while the caller
    * proceeds to update stats — silent corruption. Throwing leaves a
    * crash state the existing recovery paths already heal.
    */
  private[graft] def renameOrThrow(fs: org.apache.hadoop.fs.FileSystem,
      src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"rename failed: $src -> $dst")

  /** Atomically replace the `_stats` artifact: the new row is written
    * to a hidden temp directory and RENAMED into place (rename of a
    * directory is the closest-to-atomic primitive a generic Hadoop FS
    * offers), so a reader never observes a partially-written `_stats`.
    * The previous row is renamed ASIDE to `_stats_old`, never deleted,
    * before the new one lands (round 11 — the r10 §7f window: the old
    * delete→rename form had a two-metadata-op gap with NO stats at
    * all, and an epoch RETRY crashing exactly there lost the applied
    * epoch — [[readBmStatsRow]]'s recompute then included the already
    * published batch and the resumed retry folded it AGAIN, stats off
    * by one batch). Now every crash point leaves a readable row that
    * carries the correct last-applied epoch: the old row (swap not
    * yet effective — the retry folds the batch exactly once) or the
    * new row (swap effective — the retry no-ops). `_stats_old` is
    * garbage the moment `_stats` exists and is swept here, by the
    * epoch no-op replay, and promoted by readers only when `_stats`
    * is absent. Writers remain SINGLE-WRITER by contract
    * (round-8 advice; see [[appendBmIndex]]).
    */
  private[graft] def writeStatsAtomic(spark: SparkSession, indexPath: String,
      nDocs: Long, totalLen: Long, epoch: Long = -1L): Unit = {
    import spark.implicits._
    val tmp = s"$indexPath/_stats_tmp"
    Seq((nDocs, totalLen, epoch)).toDF("n_docs", "total_len", "epoch")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val (fs, _) = indexFs(spark, indexPath)
    val statsP = new org.apache.hadoop.fs.Path(s"$indexPath/_stats")
    val oldP = new org.apache.hadoop.fs.Path(s"$indexPath/_stats_old")
    val tmpP = new org.apache.hadoop.fs.Path(tmp)
    // The swap can race a concurrent READER: [[resolveStats]] promotes
    // `_stats_old` back to `_stats` when it reads in the window between
    // our rename-aside and rename-in, so the rename-in can land on an
    // occupied name and return false. Single-writer covers writers
    // only — readers are allowed concurrently — so both renames are
    // RETURN-CHECKED (a swallowed false is silent stats loss: the
    // trailing batch-dir delete would still run and a later replay of
    // the epoch would re-stage the batch — the round-10 double-apply,
    // reachable without any crash) and the rename-in retries after
    // re-asiding a reader-recreated `_stats`.
    var attempts = 0
    var swapped = false
    while (!swapped) {
      if (fs.exists(statsP)) {
        // aside-garbage from a completed prior swap (or a reader's
        // promotion of it); the live row is _stats, so the aside is
        // droppable before taking its name
        if (fs.exists(oldP)) fs.delete(oldP, true)
        if (!fs.rename(statsP, oldP) && fs.exists(statsP))
          throw new java.io.IOException(
            s"stats swap: rename aside failed: $statsP -> $oldP")
      }
      swapped = fs.rename(tmpP, statsP)
      if (swapped) {
        // Hadoop rename-into-an-existing-dir NESTS the source (HDFS
        // semantics): if a reader promotion recreated _stats between
        // our exists check and the rename, the tmp landed UNDER it as
        // _stats/_stats_tmp and the rename still returned true. Undo
        // (pull the tmp back out) and retry the swap properly.
        val nested = new org.apache.hadoop.fs.Path(statsP, tmpP.getName)
        if (fs.exists(nested)) {
          swapped = false
          if (!fs.rename(nested, tmpP))
            throw new java.io.IOException(
              s"stats swap: un-nesting failed: $nested -> $tmpP")
        }
      }
      attempts += 1
      if (!swapped && attempts >= 5)
        throw new java.io.IOException(
          s"stats swap: rename-in failed after $attempts attempts: " +
            s"$tmpP -> $statsP")
    }
    if (fs.exists(oldP)) fs.delete(oldP, true)
  }

  /** Resolve the live stats directory: `_stats` when present, else
    * the `_stats_old` aside a crash mid-[[writeStatsAtomic]] left
    * behind — PROMOTED back to `_stats` by one atomic rename so the
    * heal is persistent, not per-read. None only when neither exists
    * (interrupted first build, or manual deletion).
    */
  private[graft] def resolveStats(fs: org.apache.hadoop.fs.FileSystem,
      indexPath: String): Option[org.apache.hadoop.fs.Path] = {
    val statsP = new org.apache.hadoop.fs.Path(s"$indexPath/_stats")
    val oldP = new org.apache.hadoop.fs.Path(s"$indexPath/_stats_old")
    // the promotion races concurrent WRITER swaps two ways (round 12):
    // the writer's trailing aside-sweep can delete _stats_old mid-
    // rename (Hadoop's local rename falls back to copy and THROWS
    // FileNotFound instead of returning false), and the writer's
    // rename-in can land _stats between our exists check and the
    // rename. Both mean a fresher writer is mid-swap — re-examine:
    // within a bounded number of looks either _stats exists (the
    // writer won, which is the freshest answer anyway) or neither
    // name exists stably (genuinely no stats).
    //
    // Round 13 (the r12 verdict's writer-storm item): a swap's
    // stats-less window is two metadata ops, so losing the race once
    // is rare and losing it 64 times in a row with 1 ms backoffs is
    // not a practical event even under continuous back-to-back swaps
    // (hammer-spec'd) — where the old 5 fast looks could exhaust and
    // silently degrade the reader to an O(index) postings recompute.
    // The bound still exists because one stats-less state is
    // PERSISTENT and must fall through to None, not spin: an
    // interrupted first build (tmp written, swap never ran — nothing
    // to promote, nothing imminent).
    var attempts = 0
    while (attempts < 64) {
      if (fs.exists(statsP)) return Some(statsP)
      val promoted =
        try fs.exists(oldP) && fs.rename(oldP, statsP)
        catch { case _: java.io.IOException => false }
      if (promoted && fs.exists(statsP)) return Some(statsP)
      attempts += 1
      if (attempts >= 2) Thread.sleep(1L) // contested: let the swap land
    }
    if (fs.exists(statsP)) Some(statsP) else None
  }

  /** The epoch recorded with the last `_stats` swap (-1 when none —
    * pre-epoch index, recomputed stats, or non-streaming writers).
    * Because `_stats` is swapped LAST in [[appendBmIndex]], this is
    * exactly "the last FULLY-applied streaming batch": the replay
    * guard the foreachBatch contract needs (Structured Streaming only
    * ever replays the final epoch whose sink call did not return).
    */
  private[graft] def readStatsEpoch(spark: SparkSession,
      indexPath: String): Long = {
    val (fs, _) = indexFs(spark, indexPath)
    resolveStats(fs, indexPath) match {
      case None => -1L
      case Some(p) =>
        val df = spark.read.parquet(p.toString)
        if (!df.columns.contains("epoch")) -1L
        else df.select(col("epoch")).head().getLong(0)
    }
  }

  /** The `(n_docs, total_len)` stats row of an on-disk index. `_stats`
    * is a CACHE of a value fully derivable from the postings (each
    * posting row carries its doc's `dl`, so distinct `(doc_id, dl)`
    * pairs recount the corpus exactly) — a crash mid-swap is healed
    * by [[resolveStats]] (the `_stats_old` aside is promoted, epoch
    * intact); only when NEITHER row exists (interrupted first build,
    * manual deletion) is the value recomputed from the index and
    * re-persisted. [[recomputeBmStats]] is the explicit repair for
    * the one case this can't see: a NON-epoch append crashing between
    * its postings append and its stats swap leaves a readable but
    * STALE `_stats` (df stays exact — it is always recounted from
    * the pruned scan — only the N/total_len normalization lags by one
    * batch) — run it after any suspect append. Epoch appends have no
    * such window: the retry resumes from the staged batch.
    */
  private[graft] def readBmStatsRow(spark: SparkSession,
      indexPath: String): (Long, Long) = {
    val (fs, _) = indexFs(spark, indexPath)
    resolveStats(fs, indexPath) match {
      case Some(p) =>
        val r = spark.read.parquet(p.toString).collect().head
        (r.getLong(0), r.getLong(1))
      case None => recomputeBmStats(spark, indexPath)
    }
  }

  /** Recompute `(n_docs, total_len)` from the postings themselves and
    * atomically re-persist `_stats` — the repair path that makes the
    * stats artifact crash-derivable rather than merely crash-tolerant.
    * One full-index scan of two narrow columns; only ever run on
    * recovery, never on the query path.
    */
  def recomputeBmStats(spark: SparkSession, indexPath: String): (Long, Long) = {
    val r = spark.read.parquet(indexPath)
      .select(col("doc_id"), col("dl")).distinct()
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_len"))
      .collect().head
    val out = (r.getLong(0), r.getLong(1))
    writeStatsAtomic(spark, indexPath, out._1, out._2)
    out
  }

  /** Incremental maintenance — the q37/ivf_append/ccincr family
    * member for text: a new batch's postings append into the existing
    * bucket partitions (no rewrite of standing data — daily cost
    * scales with the batch) and the 1-row `_stats` artifact is
    * atomically swapped with the batch folded in
    * ([[writeStatsAtomic]]). Returns the per-bucket append report
    * `(bucket, n_postings, n_docs)`.
    *
    * Contract (round-8 advice, now explicit): SINGLE WRITER — appends
    * and [[compactBmIndex]] runs must not overlap (two concurrent
    * appends would each fold the batch into the same base stats and
    * lose one batch's counts; a nightly maintenance job is naturally
    * serial). NEW DOCS ONLY — re-appending an already-indexed doc_id
    * double-counts its df and the corpus size; pass
    * `guardDuplicates = true` to pay one pruned anti-join scan and
    * reject such batches up front (off by default: the check scans
    * the batch's buckets, and the nightly pipeline already feeds
    * only the day's new docs). A crash between the postings append
    * and the stats swap leaves a READABLE index with stats stale by
    * one batch — [[recomputeBmStats]] repairs it exactly.
    *
    * EXACTLY-ONCE under foreachBatch (round 10; hardened round 11):
    * pass the sink's batch id as `epochId`. The batch's postings are
    * STAGED under a hidden `_batch_<epoch>` dir (written to
    * `_batch_tmp` and renamed, so the staged batch exists wholly or
    * not at all), then its files are MOVED into the standing bucket
    * dirs, then the epoch rides the `_stats` swap — the LAST step.
    * A retry of an epoch already in `_stats` is a no-op; a retry
    * after a crash ANYWHERE earlier resumes mechanically: staging
    * absent → re-stage (the crashed write left only invisible
    * `_batch_tmp` garbage); staging present → finish moving the
    * REMAINING staged files (a moved file is gone from staging, so
    * nothing ever lands twice), re-fold the (idempotent) Bloom, swap
    * stats. The round-10 double-apply window — a replay re-appending
    * postings that already landed — is closed: replays move files,
    * never rewrite them. Readers concurrent with the move see the
    * batch partially, same visibility as any in-flight append;
    * `_stats` still marks the fully-applied boundary.
    *
    * Without `epochId` the append is direct (no retry exists to
    * resume a staging dir that nothing names): a crash between the
    * postings append and the stats swap leaves a READABLE index with
    * stats stale by one batch — [[recomputeBmStats]] repairs it.
    */
  def appendBmIndex(spark: SparkSession, indexPath: String,
      newDocs: DataFrame, guardDuplicates: Boolean = false,
      epochId: Option[Long] = None): DataFrame = {
    val tf = tfIndex(newDocs.select(col("doc_id"), col("text")))
      .withColumn("bucket", bucketOf(col("term")))
      .localCheckpoint()
    def report = tf.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_postings"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("bucket"))
    val (fs, _) = indexFs(spark, indexPath)
    if (epochId.isDefined &&
        readStatsEpoch(spark, indexPath) == epochId.get) {
      // replay of an already-applied batch: no-op (and sweep a staging
      // dir or _stats_old aside orphaned by a crash between the stats
      // swap and the trailing deletes)
      fs.delete(new org.apache.hadoop.fs.Path(
        batchDir(indexPath, epochId.get)), true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$indexPath/_stats_old"),
        true)
      return report
    }
    val resuming = epochId.exists(e =>
      fs.exists(new org.apache.hadoop.fs.Path(batchDir(indexPath, e))))
    // the guard anti-joins the STANDING index; on a resume the crashed
    // attempt may have already moved some of this batch's own files in,
    // so it would falsely self-reject — the first attempt validated it
    if (guardDuplicates && !resuming) {
      val batchBuckets = tf.select(col("bucket")).distinct()
        .collect().map(_.getLong(0))
      val dup = spark.read.parquet(indexPath)
        .filter(col("bucket").isin(batchBuckets: _*))
        .select(col("doc_id")).distinct()
        .join(tf.select(col("doc_id")).distinct(), Seq("doc_id"), "left_semi")
        .limit(1).collect()
      if (dup.nonEmpty) throw new IllegalArgumentException(
        s"appendBmIndex: batch contains already-indexed doc_id " +
          s"${dup.head.getLong(0)} — appends are new-docs-only " +
          "(re-appending double-counts df and corpus stats)")
    }
    val (oldN, oldLen) = readBmStatsRow(spark, indexPath)
    val batch = newDocs
      .select(size(expr("regexp_extract_all(text, '\\\\S+', 0)"))
        .cast("long").as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_len"))
      .collect().head
    epochId match {
      case Some(e) =>
        if (!resuming) stageBatchPostings(spark, indexPath, tf, e)
        publishStagedPostings(spark, indexPath, e)
      case None =>
        tf.write.partitionBy("bucket").mode("append").parquet(indexPath)
    }
    // fold the batch vocabulary into the term Bloom BEFORE the stats
    // swap, so an epoch recorded in _stats implies every artifact of
    // its batch landed (bloom puts are idempotent, so a resume
    // re-folding is harmless); an index without a bloom stays
    // bloom-less, the documented legacy mode. Round 14: the fold is
    // DISTRIBUTED — the old collect of the batch's distinct terms was
    // bounded only by contract, and a backfill-sized "batch" (10⁷+
    // distinct terms) would have materialized hundreds of MB of
    // strings on the driver. `stat.bloomFilter` builds the batch
    // bloom executor-side with numBits matching the standing artifact
    // and expectedNumItems solved so the optimal hash count rounds to
    // the standing bloom's (every graft-built bloom uses
    // [[TermBloomFpp]] = 1%, whose optimal k is 7 at ANY size); the
    // merge is then a bit-OR. A foreign bloom with a different hash
    // count (never graft-written) surfaces as an incompatible merge
    // and falls back to a STREAMED per-partition fold — still no full
    // driver materialization.
    readTermBloom(spark, indexPath).foreach { b =>
      val bits = b.bitSize()
      val nItems = math.max(1L, math.ceil(bits * math.log(2) / 7.0).toLong)
      val batchBloom = tf.stat.bloomFilter("term", nItems, bits)
      try b.mergeInPlace(batchBloom)
      catch {
        case _: org.apache.spark.util.sketch.IncompatibleMergeException =>
          import scala.jdk.CollectionConverters._
          tf.select(col("term")).distinct().toLocalIterator().asScala
            .foreach(r => b.putString(r.getString(0)))
      }
      writeTermBloomAtomic(spark, indexPath, b)
    }
    writeStatsAtomic(spark, indexPath,
      oldN + batch.getLong(0), oldLen + batch.getLong(1),
      epochId.getOrElse(-1L))
    epochId.foreach(e => fs.delete(
      new org.apache.hadoop.fs.Path(batchDir(indexPath, e)), true))
    report
  }

  private[graft] def batchDir(indexPath: String, epochId: Long): String =
    s"$indexPath/_batch_$epochId"

  /** Stage one epoch's postings under the hidden `_batch_<epoch>` dir:
    * written to `_batch_tmp` first and RENAMED, so the staged batch
    * either exists wholly or not at all (a crash mid-write leaves only
    * invisible tmp garbage the next attempt overwrites). One file per
    * bucket (the repartition co-locates each bucket), so publishing is
    * at most [[IndexBuckets]] renames. Package-private so the crash
    * specs can reproduce each intermediate state exactly.
    */
  private[graft] def stageBatchPostings(spark: SparkSession,
      indexPath: String, tf: DataFrame, epochId: Long): Unit = {
    val (fs, _) = indexFs(spark, indexPath)
    val tmp = new org.apache.hadoop.fs.Path(s"$indexPath/_batch_tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    tf.repartition(col("bucket"))
      .write.partitionBy("bucket").parquet(tmp.toString)
    if (!fs.rename(tmp,
        new org.apache.hadoop.fs.Path(batchDir(indexPath, epochId))))
      throw new IllegalStateException(
        s"staging rename failed for epoch $epochId")
  }

  /** Move every staged file of `_batch_<epoch>` into its standing
    * bucket dir. Idempotent and resumable from any crash point: a
    * file already moved is gone from staging (part names are unique
    * per write, so nothing collides with standing files), and a
    * missing staging dir means nothing is left to publish.
    */
  private[graft] def publishStagedPostings(spark: SparkSession,
      indexPath: String, epochId: Long): Unit = {
    val (fs, _) = indexFs(spark, indexPath)
    val stageP = new org.apache.hadoop.fs.Path(batchDir(indexPath, epochId))
    if (!fs.exists(stageP)) return
    fs.listStatus(stageP)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
      .foreach { bdir =>
        val dst = new org.apache.hadoop.fs.Path(
          s"$indexPath/${bdir.getPath.getName}")
        if (!fs.exists(dst)) fs.mkdirs(dst)
        fs.listStatus(bdir.getPath)
          .filterNot(f => f.getPath.getName.startsWith("_") ||
            f.getPath.getName.startsWith("."))
          .foreach { f =>
            if (!fs.rename(f.getPath,
                new org.apache.hadoop.fs.Path(dst, f.getPath.getName)))
              throw new IllegalStateException(
                s"publish rename failed: ${f.getPath}")
          }
      }
  }

  /** Per-bucket small-file compaction — the [[graft.sources.FileOps
    * .compactParquet]] maintenance pass wired to the index layout
    * (round-8 verdict: 365 nightly appends accrete 365 files per
    * bucket; scans then pay a footer read per file). Each `bucket=N`
    * directory with more data files than ceil(bytes/targetBytes) is
    * rewritten right-sized into a HIDDEN temp dir, then swapped in by
    * two renames (standing dir → hidden `_old`, temp → standing);
    * buckets already right-sized are left untouched, so the pass
    * costs only the fragmented fraction. Underscore-prefixed dirs are
    * invisible to partition discovery, so a reader concurrent with
    * the swap sees the bucket either whole-old or whole-new — never
    * half; the crash window between the two renames leaves the bucket
    * absent but its `_old_bucket_N` payload intact (single-maintainer
    * contract, same as appends), and [[recoverBmIndexCompaction]]
    * heals every crash state mechanically — run it before a
    * maintenance pass, or after any suspect one. Search results are
    * byte-identical before and after
    * (spec-asserted): compaction moves rows between files, never
    * changes them. Returns `(bucket, files_before, files_after)` for
    * the buckets it rewrote.
    */
  def compactBmIndex(spark: SparkSession, indexPath: String,
      targetBytes: Long = 128L << 20): DataFrame = {
    import spark.implicits._
    val (fs, root) = indexFs(spark, indexPath)
    val report = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Int)]
    fs.listStatus(root).filter(s => s.isDirectory &&
        s.getPath.getName.startsWith("bucket=")).foreach { st =>
      val bucket = st.getPath.getName.stripPrefix("bucket=").toLong
      val files = fs.listStatus(st.getPath)
        .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
      val bytes = files.map(_.getLen).sum
      val want = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
      if (files.length > want) {
        val tmp = new org.apache.hadoop.fs.Path(root, s"_tmp_bucket_$bucket")
        val old = new org.apache.hadoop.fs.Path(root, s"_old_bucket_$bucket")
        graft.sources.FileOps.compactParquet(spark,
          st.getPath.toString, tmp.toString, targetBytes)
        renameOrThrow(fs, st.getPath, old)
        renameOrThrow(fs, tmp, st.getPath)
        fs.delete(old, true)
        report += ((bucket, files.length, want))
      }
    }
    report.toSeq.toDF("bucket", "files_before", "files_after")
      .orderBy(col("bucket"))
  }

  /** Heal an interrupted [[compactBmIndex]] run. The compaction's
    * crash states are fully distinguishable from the hidden dirs left
    * behind, so recovery is mechanical, per bucket `N`:
    *
    *  - `bucket=N` present + `_tmp_bucket_N` present: died before the
    *    first rename — the standing bucket is intact; drop the temp.
    *  - `bucket=N` present + `_old_bucket_N` present: died between
    *    the second rename and the old-dir delete — the compacted
    *    bucket is live; drop the old payload.
    *  - `bucket=N` ABSENT + `_old_bucket_N` present: died between the
    *    two renames — restore the old payload as the bucket (and drop
    *    any `_tmp` twin rather than promote it: the temp's write may
    *    itself be incomplete without its `_SUCCESS`, and the old
    *    payload is always whole).
    *
    * Returns the healed bucket ids. Idempotent; a clean index returns
    * empty. Run under the same single-maintainer contract.
    */
  def recoverBmIndexCompaction(spark: SparkSession,
      indexPath: String): Seq[Long] = {
    val (fs, root) = indexFs(spark, indexPath)
    val names = fs.listStatus(root).map(_.getPath.getName).toSet
    def p(n: String) = new org.apache.hadoop.fs.Path(root, n)
    // deletion staging (round 13): _tmp_del_stage exists only BEFORE
    // any swap of its wave begins — every standing bucket is intact,
    // so the stage is droppable garbage, exactly like a _tmp twin
    if (names.contains("_tmp_del_stage"))
      fs.delete(p("_tmp_del_stage"), true)
    val touched = names.collect {
      case n if n.startsWith("_tmp_bucket_") =>
        n.stripPrefix("_tmp_bucket_").toLong
      case n if n.startsWith("_old_bucket_") =>
        n.stripPrefix("_old_bucket_").toLong
    }.toSeq.sorted
    touched.foreach { b =>
      val (bucket, old, tmp) =
        (p(s"bucket=$b"), p(s"_old_bucket_$b"), p(s"_tmp_bucket_$b"))
      if (!fs.exists(bucket) && fs.exists(old)) fs.rename(old, bucket)
      if (fs.exists(bucket)) {
        if (fs.exists(old)) fs.delete(old, true)
        if (fs.exists(tmp)) fs.delete(tmp, true)
      }
    }
    touched
  }

  /** DELETE documents from the index — the lifecycle piece the
    * append-only family lacks (right-to-be-forgotten is a production
    * requirement, not an optimization). The deletion request carries
    * the docs' CONTENT `(doc_id, text)` — in practice the record
    * being erased is exactly what the pipeline holds — and that makes
    * deletion bucket-pruned: [[tfIndex]] recomputes exactly the
    * postings the append wrote (tfIndex is deterministic and appends
    * are new-docs-only), so only the buckets the docs' terms hash to
    * are rewritten; every other bucket is untouched. Per affected
    * bucket the rewrite validates BEFORE swapping: the standing
    * (term, tf, dl) postings for the deleted ids must equal exactly
    * what the provided text predicts (counts alone can coincide for
    * a short doc) — a mismatched request (wrong text, unknown id)
    * aborts with every bucket intact, because silently proceeding
    * would skew df and the stats decrement.
    * Rewrites land in hidden `_tmp_bucket_N` dirs and swap by the
    * same two renames as [[compactBmIndex]] — readers see whole-old
    * or whole-new, and [[recoverBmIndexCompaction]] heals every crash
    * state of THIS operation too (identical dir states). `_stats`
    * decrements atomically last; a crash between bucket swaps and the
    * stats write leaves stats stale-by-one-batch, repaired exactly by
    * [[recomputeBmStats]] (the append crash window's contract). The
    * `_termbloom` is NOT rewritten in place: a Bloom cannot unlearn —
    * stale terms merely probe a bucket that no longer holds them
    * (errs toward probing, never toward wrong results). Pass
    * `rebuildBloom = true` (or run [[rebuildTermBloom]] after a
    * deletion wave) to pay one term-column scan and stop probing
    * deleted-only vocabulary. Single maintainer, ids must be
    * currently indexed. Returns `(bucket, postings_removed)`.
    */
  def deleteFromBmIndex(spark: SparkSession, indexPath: String,
      docs: DataFrame, rebuildBloom: Boolean = false): DataFrame = {
    import spark.implicits._
    val tf = tfIndex(docs.select(col("doc_id"), col("text")))
      .withColumn("bucket", bucketOf(col("term")))
      .localCheckpoint()
    val ids = docs.select(col("doc_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    require(ids.nonEmpty, "deleteFromBmIndex: empty deletion batch")
    val expected = tf.groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (fs, root) = indexFs(spark, indexPath)
    val affected = expected.keys.toSeq.sorted
    affected.foreach { b =>
      require(fs.exists(new org.apache.hadoop.fs.Path(root, s"bucket=$b")),
        s"deleteFromBmIndex: bucket=$b missing for this batch")
    }
    // ONE union read of every affected bucket (basePath keeps the
    // bucket partition column) — round 13: validation used to launch
    // one driver job PER bucket, so a deletion wave touching all 64
    // paid 64 sequential collects; the snapshot store already probes
    // with one grouped union read, same discipline here.
    val standingAll = spark.read
      .option("basePath", root.toString)
      .parquet(affected.map(b =>
        new org.apache.hadoop.fs.Path(root, s"bucket=$b").toString): _*)
    // validate EVERY affected bucket before swapping ANY: an aborted
    // request must leave the whole index untouched, not half-deleted.
    // Validation is exact POSTING equality, not counts — counts alone
    // can coincide for a short doc (one term → one bucket, one row),
    // but a wrong text cannot reproduce the stored (term, tf, dl)
    // rows. Both sides are batch-bounded, ONE collect each.
    def byBucket(df: DataFrame) = df
      .select(col("bucket").cast("long"), col("doc_id"), col("term"),
        col("tf"), col("dl"))
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(r => (r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSet).toMap
    val pred = byBucket(tf)
    val stand =
      byBucket(standingAll.filter(col("doc_id").isInCollection(ids)))
    affected.foreach { b =>
      require(stand.getOrElse(b, Set.empty) == pred.getOrElse(b, Set.empty),
        s"deleteFromBmIndex: bucket=$b standing postings for the batch " +
          "ids do not match what the provided text predicts — the " +
          "request's content differs from what was indexed")
    }
    // survivors for ALL affected buckets in ONE write job, staged
    // under _tmp_del_stage and renamed (metadata-only) into the same
    // per-bucket _tmp_bucket_N names the swap + recovery contract
    // already covers; a bucket whose postings are all deleted gets an
    // empty-schema twin (partitionBy writes no dir for it)
    val stage = new org.apache.hadoop.fs.Path(root, "_tmp_del_stage")
    if (fs.exists(stage)) fs.delete(stage, true)
    standingAll.filter(!col("doc_id").isInCollection(ids))
      .write.partitionBy("bucket").parquet(stage.toString)
    affected.foreach { b =>
      val tmp = new org.apache.hadoop.fs.Path(root, s"_tmp_bucket_$b")
      if (fs.exists(tmp)) fs.delete(tmp, true)
      val staged = new org.apache.hadoop.fs.Path(stage, s"bucket=$b")
      if (fs.exists(staged)) renameOrThrow(fs, staged, tmp)
      else standingAll.drop("bucket").limit(0).write.parquet(tmp.toString)
    }
    fs.delete(stage, true)
    affected.foreach { b =>
      val std = new org.apache.hadoop.fs.Path(root, s"bucket=$b")
      val tmp = new org.apache.hadoop.fs.Path(root, s"_tmp_bucket_$b")
      val old = new org.apache.hadoop.fs.Path(root, s"_old_bucket_$b")
      renameOrThrow(fs, std, old)
      renameOrThrow(fs, tmp, std)
      fs.delete(old, true)
    }
    val batch = docs
      .select(size(expr("regexp_extract_all(text, '\\\\S+', 0)"))
        .cast("long").as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_len"))
      .collect().head
    val (oldN, oldLen) = readBmStatsRow(spark, indexPath)
    writeStatsAtomic(spark, indexPath,
      oldN - batch.getLong(0), oldLen - batch.getLong(1))
    if (rebuildBloom) rebuildTermBloom(spark, indexPath)
    expected.toSeq.sortBy(_._1).toDF("bucket", "postings_removed")
      .orderBy(col("bucket"))
  }

  /** Top-k retrieval against the ON-DISK index: query-term buckets
    * become literal partition predicates (the scan touches only
    * probed partitions — spec-asserted), df recounts exactly within
    * them, and the shared [[rankContributions]] tail scores — results
    * bit-equal an in-flight [[bm25On]] over the same corpus. At
    * 100 TB this is the steady-state search path: no corpus scan, no
    * explode; per query only its terms' postings move.
    */
  def searchBmIndex(spark: SparkSession, indexPath: String,
      queries: Seq[(Long, String)] = SearchQueries,
      topK: Int = SearchTopK): DataFrame = {
    import spark.implicits._
    val qtermPairs = queries.flatMap { case (qid, q) =>
      q.split("\\s+").filter(_.nonEmpty).distinct.map(t => (qid, t)) }
    val qterms = qtermPairs.toDF("query_id", "term")
    // terms the vocabulary Bloom admits — an absent term contributes
    // nothing to any score, so dropping it here (and its bucket from
    // the probe set) changes no result, only the scan (round 9)
    val present = screenTerms(spark, indexPath,
      qtermPairs.map(_._2).distinct)
    // KB-sized (term → bucket) map, computed with the ENGINE's own
    // hash so probe predicates can never drift from the writer
    val buckets = present.toDF("term")
      .select(bucketOf(col("term")).as("bucket"))
      .distinct().collect().map(_.getLong(0))
    val probed = spark.read.parquet(indexPath)
      .filter(col("bucket").isin(buckets: _*))
    // narrow the pruned scan to the query terms before anything
    // shuffles — bucket-mates of a query term never leave the scan
    // (both consumers re-read the PRUNED partitions only, so the
    // plan's FileSourceScans stay inspectable and cheap)
    val postings = probed
      .join(broadcast(present.toDF("term")), Seq("term"))
      .select(col("doc_id"), col("dl"), col("term"), col("tf"))
    val df_ = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val (n, len) = readBmStatsRow(spark, indexPath)
    val stats = Seq((n, len)).toDF("n_docs", "total_len")
    rankContributions(postings, df_, stats, qterms, topK)
  }

  /** The KB-sized index-statistics artifact the streaming scorer
    * consumes: corpus size, total token count, and document
    * frequencies for the STANDING query set's terms only (queries are
    * KBs; the full df table stays distributed). The nightly batch job
    * publishes this; [[graft.streaming.DocStreams.searchOn]] tags
    * arriving docs against it with zero scan-back.
    */
  final case class BmStats(nDocs: Long, totalLen: Long,
      df: Map[String, Long])

  /** [[BmStats]] derived from the PERSISTED index — the production
    * path, and the single source of truth for "the nightly stats"
    * (round-8 verdict: [[bmStatsOf]] re-scanned the corpus for
    * numbers `buildBmIndex` had already persisted, leaving two
    * sources that could drift; the LM lifecycle got this right with
    * persistLm → loadLm → scoreOn, and this is its search twin:
    * buildBmIndex → bmStatsFromIndex → [[graft.streaming.DocStreams
    * .searchOn]]). N and total length come from the `_stats` row
    * ([[readBmStatsRow]], crash-healing); document frequencies are
    * recounted EXACTLY from the query-term-pruned buckets — the same
    * pruned-scan discipline as [[searchBmIndex]], so no corpus (or
    * full-index) scan appears anywhere in the plan, and the result
    * equals [[bmStatsOf]] over the indexed corpus by construction
    * (spec-asserted).
    */
  def bmStatsFromIndex(spark: SparkSession, indexPath: String,
      queries: Seq[(Long, String)] = SearchQueries): BmStats = {
    import spark.implicits._
    val terms = screenTerms(spark, indexPath,
      queries.flatMap(_._2.split("\\s+").filter(_.nonEmpty)).distinct)
    val (n, len) = readBmStatsRow(spark, indexPath)
    val buckets = terms.toDF("term")
      .select(bucketOf(col("term")).as("bucket"))
      .distinct().collect().map(_.getLong(0))
    val dfMap = spark.read.parquet(indexPath)
      .filter(col("bucket").isin(buckets: _*))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    BmStats(n, len, dfMap)
  }

  /** Collect [[BmStats]] for a query set over a `(doc_id, text)`
    * relation — the BOOTSTRAP form for a corpus that has no persisted
    * index (and the spec yardstick [[bmStatsFromIndex]] is asserted
    * equal to). Deployments with a nightly index should use
    * [[bmStatsFromIndex]]: same numbers, no corpus re-scan, one
    * source of truth. Two narrow aggregates; the collects are bounded
    * by the query vocabulary (≤ terms rows) and one stats row.
    */
  def bmStatsOf(relation: DataFrame,
      queries: Seq[(Long, String)] = SearchQueries): BmStats = {
    val terms = queries.flatMap(_._2.split("\\s+").filter(_.nonEmpty))
      .distinct
    val docs = relation.select(col("doc_id"), col("text"))
    val stats = docs
      .select(size(expr("regexp_extract_all(text, '\\\\S+', 0)"))
        .cast("long").as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_len"))
      .collect().head
    val dfRows = docs
      .select(explode(array_distinct(
        expr("regexp_extract_all(text, '\\\\S+', 0)"))).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    BmStats(stats.getLong(0), stats.getLong(1), dfRows)
  }

  /** Imperative per-doc scoring kernel — the closure twin of
    * [[bm25On]]'s Catalyst expression tree (same left-associated
    * IEEE operations in the same order, so per-(doc, query) scaled
    * scores are bit-equal by construction; spec-asserted against the
    * batch relation, the `minhashBandKeysOf` precedent). Returns
    * `(query_id, score_scaled)` for every query with ≥ 1 term hit.
    */
  private[graft] def scoreDocBm25(stats: BmStats,
      queries: Seq[(Long, String)], text: String): Seq[(Long, Long)] = {
    val toks = text.trim.split("\\s+").filter(_.nonEmpty)
    val dl = toks.length.toLong
    val dlNorm = dl.toDouble * stats.nDocs.toDouble / stats.totalLen.toDouble
    val tfMap = toks.groupBy(identity).map { case (t, a) => t -> a.length }
    queries.flatMap { case (qid, q) =>
      val contribs = q.split("\\s+").filter(_.nonEmpty).distinct.flatMap {
        term =>
          val tf = tfMap.getOrElse(term, 0)
          stats.df.get(term).filter(_ => tf > 0).map { df =>
            val c = (stats.nDocs.toDouble / df.toDouble) *
              (tf.toDouble * (BmK1 + 1.0)) /
              (tf.toDouble + BmK1 * (1.0 - BmB + BmB * dlNorm)) * 1e9
            math.floor(c).toLong
          }
      }
      if (contribs.isEmpty) None else Some(qid -> contribs.sum)
    }
  }

  val q105Sql: String = {
    val qvals = SearchQueries
      .flatMap { case (qid, q) =>
        q.split("\\s+").filter(_.nonEmpty).distinct
          .map(t => s"(CAST($qid AS BIGINT), '$t')") }
      .mkString(", ")
    s"""WITH tf AS (
       |  SELECT doc_id, dl, term, COUNT(*) AS tf FROM (
       |    SELECT doc_id,
       |      CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS dl,
       |      unnest(regexp_extract_all(text, '\\S+')) AS term
       |    FROM documents) x
       |  GROUP BY doc_id, dl, term),
       |stats AS (
       |  SELECT COUNT(*) AS n_docs,
       |    CAST(SUM(len(regexp_extract_all(text, '\\S+'))) AS BIGINT)
       |      AS total_len
       |  FROM documents),
       |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
       |qt(query_id, term) AS (VALUES $qvals),
       |contrib AS (
       |  SELECT qt.query_id, tf.doc_id,
       |    CAST(floor(
       |      (CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) *
       |      (CAST(tf AS DOUBLE) * ($BmK1 + 1.0)) /
       |      (CAST(tf AS DOUBLE) +
       |        $BmK1 * (1.0 - $BmB + $BmB *
       |          (CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE) /
       |           CAST(total_len AS DOUBLE)))) *
       |      1e9) AS BIGINT) AS contrib_scaled
       |  FROM tf
       |  JOIN qt USING (term)
       |  JOIN dfreq USING (term)
       |  CROSS JOIN stats),
       |scored AS (
       |  SELECT query_id, doc_id,
       |    CAST(SUM(contrib_scaled) AS BIGINT) AS score_scaled
       |  FROM contrib GROUP BY query_id, doc_id),
       |ranked AS (
       |  SELECT query_id, doc_id, score_scaled,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY score_scaled DESC, doc_id) AS BIGINT) AS rank
       |  FROM scored)
       |SELECT query_id, rank, doc_id,
       |  CAST(score_scaled AS DOUBLE) / 1e9 AS score
       |FROM ranked
       |WHERE rank <= $SearchTopK
       |ORDER BY query_id, rank""".stripMargin
  }
}
