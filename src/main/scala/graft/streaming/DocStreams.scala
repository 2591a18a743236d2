package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

import graft.operators.{Curation, Dedup, Search}

/** Ingest-time document screens that read a nightly artifact — a
  * Bloom sketch of the standing corpus or its BM25 index statistics —
  * instead of the corpus itself: the shapes an ingest pipeline runs
  * on documents as they ARRIVE. The trained-model applies (BPE
  * tokenize, perplexity, RAG tagging, quality filter, lang-id) need
  * no stream form of their own: [[graft.operators.Bpe.tokenizeOn]],
  * [[graft.operators.Perplexity.scoreOn]],
  * [[graft.operators.Rag.scoreAllChunks]],
  * [[graft.operators.QualityFilter.qcOn]] and
  * [[graft.operators.LangId.langIdOn]] are stateless and run on a
  * [[source]] stream unchanged.
  */
object DocStreams {

  /** Streaming source over a documents-shaped parquet glob; the schema
    * is pinned from a batch peek (streaming sources cannot infer).
    */
  def source(spark: SparkSession, schemaPath: String,
      glob: String): DataFrame = {
    val schema = spark.read.parquet(schemaPath).schema
    spark.readStream.schema(schema).parquet(glob)
  }

  /** Streaming duplicate-span coverage — the ingest-time form of
    * [[Curation.q72]] (§7b): each arriving document is scored for the
    * fraction of its word 5-gram positions already present in the
    * STANDING corpus, against a broadcast Bloom sketch of the corpus
    * grams ([[Curation.corpusGramBloom]], the nightly-batch artifact).
    *
    * Scale shape: the sketch is fixed-size at any corpus size and
    * rides the closure (broadcast-by-serialization, like q98's merge
    * table) — the stream side is MAP-ONLY: no join, no shuffle, no
    * state; per-doc work is linear in its grams. Two semantic deltas
    * vs batch q72, both inherent to the live setting: coverage is
    * against the corpus (df ≥ 1 — "does this span already exist
    * anywhere"), not the corpus-internal df ≥ 2; and the Bloom errs
    * only positive (overcount ≤ fpp in expectation, never a miss).
    */
  def dupSpanOn(spark: SparkSession, src: DataFrame,
      bloom: BloomFilter, flagAt: Double = 0.5): DataFrame = {
    import spark.implicits._
    src.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val gs = Curation.spanGramsOf(text)
          var dup = 0L
          var i = 0
          while (i < gs.length) {
            if (bloom.mightContainString(gs(i))) dup += 1
            i += 1
          }
          val m = gs.length.toLong
          (id, m, dup,
            if (m == 0) 0.0 else dup.toDouble / m)
        }
      }
      .toDF("doc_id", "n_grams", "dup_grams", "dup_frac")
      .withColumn("flagged", col("dup_frac") > flagAt)
  }

  /** Streaming exact-substring CUT SPANS — the Bloom-screened
    * counterpart of [[Curation.q100]] / [[Curation.cutSpansOn]]: each
    * arriving document emits its duplicated-token intervals
    * [start_pos, end_pos] (positions, not just a coverage score) against the
    * STANDING corpus's gram Bloom ([[Curation.corpusGramBloom]], the
    * same nightly artifact [[dupSpanOn]] uses) — the ingest-time form
    * of the Lee '21 cut step: decide what to strip from a doc BEFORE
    * admitting it, without touching the corpus.
    *
    * Scale shape: map-only, no join, no shuffle, NO state — the
    * sketch rides the closure and per-doc work is linear in grams
    * (island merge is a single left-to-right sweep over window
    * starts). Same one-sided semantics as every Bloom twin: a
    * present-gram test errs only positive (spurious/overlong spans ≤
    * fpp in expectation, never a missed span), and membership is
    * corpus-presence (df ≥ 1), not the batch operator's corpus-
    * internal ≥ 2 occurrences — both deltas inherent to the live
    * setting and documented, not hidden.
    */
  def cutSpanOn(spark: SparkSession, src: DataFrame, bloom: BloomFilter,
      minLen: Int = Curation.CutMinTokens): DataFrame = {
    import spark.implicits._
    src.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        val gs = Curation.spanGramsOf(text)
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, Long, Long)]
        // islands of consecutive duplicated window starts (1-based),
        // emitted when token length >= minLen — the same merge rule
        // as the batch gaps-and-islands, computed in one sweep
        var start = -1L
        var last = -1L
        def close(): Unit = if (start > 0) {
          val end = last + Curation.SpanN - 1
          val len = end - start + 1
          if (len >= minLen) out += ((id, start, end, len))
        }
        var i = 0
        while (i < gs.length) {
          if (bloom.mightContainString(gs(i))) {
            val pos = i + 1L
            if (start < 0) { start = pos; last = pos }
            else if (pos == last + 1) last = pos
            else { close(); start = pos; last = pos }
          }
          i += 1
        }
        close()
        out.iterator
      }
      .toDF("doc_id", "start_pos", "end_pos", "span_tokens")
  }

  /** Streaming MinHash near-dup screen — the ingest-time form of
    * [[graft.operators.Dedup.q32]] (ingest-time continuation of the
    * §7b streaming set): each arriving document's LSH band keys are
    * checked against a broadcast Bloom sketch of the STANDING corpus's
    * band keys ([[graft.operators.Dedup.bandBucketBloom]], the
    * nightly-batch artifact). A doc whose signature collides with the
    * corpus in ≥ `minBands` bands is flagged as a probable near-dup of
    * SOMETHING already ingested — the cheap gate a pipeline runs
    * before admitting a doc to the expensive batch dedup.
    *
    * Scale shape: map-only — no join, no shuffle, NO state; per-doc
    * work is linear in its shingles (the 64-permutation sweep rides
    * one pass over the shingle hashes). The signature/band math is the
    * imperative twin of the batch SQL, spec-asserted bit-equal
    * ([[graft.operators.Dedup.minhashBandKeysOf]]); an exact clone of
    * a corpus doc therefore hits ALL its bands by construction. The
    * Bloom errs only positive (≤ fpp per band); `bands_hit` can
    * overcount, never undercount — tune `minBands` up to trade
    * screening recall for precision.
    */
  def nearDupOn(spark: SparkSession, src: DataFrame,
      bloom: BloomFilter, minBands: Int = 1): DataFrame = {
    import spark.implicits._
    src.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val keys = Dedup.minhashBandKeysOf(text)
          var hits = 0
          var i = 0
          while (i < keys.length) {
            if (bloom.mightContainLong(keys(i))) hits += 1
            i += 1
          }
          (id, keys.length, hits, keys.length > 0 && hits >= minBands)
        }
      }
      .toDF("doc_id", "n_bands", "bands_hit", "near_dup")
  }

  /** Streaming BM25 relevance tagging — the ingest-time form of
    * [[graft.operators.Search.q105]]'s scoring stage: arriving
    * documents are scored against the STANDING query set using the
    * KB-sized index-statistics artifact derived from the nightly
    * PERSISTED index ([[Search.bmStatsFromIndex]]: corpus N + total
    * length from the index's `_stats` row, query-term document
    * frequencies recounted from the pruned buckets — ONE source of
    * truth with [[Search.searchBmIndex]], the persistLm → loadLm →
    * scoreOn lifecycle shape; [[Search.bmStatsOf]] remains the
    * bootstrap for a corpus with no index yet). The production shape is
    * ingest-time relevance tagging / contamination screening: every
    * new doc is tagged with how strongly it matches each standing
    * probe query, with zero scan-back into the corpus.
    *
    * Scale shape: MAP-ONLY — stats and queries ride the closure (no
    * join, no shuffle, NO state); per-doc work is linear in tokens.
    * Per-(doc, query) scaled scores are bit-equal to the batch
    * Catalyst expression by construction ([[Search.scoreDocBm25]] is
    * its closure twin) — spec-asserted against an un-truncated batch
    * run. Semantic delta vs batch q105, documented: the stream emits
    * EVERY matching (doc, query) score as docs arrive — a global
    * static top-k is meaningless mid-stream; rank selection belongs
    * to whoever consumes the scores.
    */
  def searchOn(spark: SparkSession, src: DataFrame,
      stats: Search.BmStats,
      queries: Seq[(Long, String)] = Search.SearchQueries): DataFrame = {
    import spark.implicits._
    src.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        Search.scoreDocBm25(stats, queries, text)
          .map { case (qid, s) => (id, qid, s / 1e9) }
      }
      .toDF("doc_id", "query_id", "score")
  }
}
