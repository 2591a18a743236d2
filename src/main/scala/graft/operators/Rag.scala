package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** The composed RETRIEVAL pipeline — the q104 of RAG (round 9): the
  * engine already had every stage (q107 overlapping chunks, a
  * deterministic feature path, IVF build/probe with partition-pruned
  * cells), and this wires them into one artifact: chunk → embed →
  * index → probe, with chunk PROVENANCE (doc_id, chunk_id, token
  * bounds) carried through to every retrieval hit — what a RAG
  * serving layer actually needs back ("this passage of this doc").
  *
  * Stage reuse, not re-implementation: the chunker IS
  * [[Curation.chunksOn]] (q107's body), the quantizer IS
  * [[Similarity.centroidArraysOn]] (the decimal-summed deterministic
  * spherical k-means every other IVF consumer trains with), and cell
  * assignment IS [[Similarity.assignCells]] (scale-dispatched literal
  * vs broadcast argmax). The embedding stage is the one piece the
  * container can't run for real (no model runtime) — it is a
  * DETERMINISTIC feature-hash embedding (hashed bag-of-tokens with
  * signed buckets, the classic feature-hashing trick): integer-valued
  * accumulation in double space, so it is exact, order-independent,
  * and bit-reproducible on every engine — the same stub-discipline as
  * q70's decoder, with the Spark-side plumbing (schema, map-only
  * shape, provenance columns) fully real.
  *
  * Scale shape: chunking and embedding are MAP-ONLY (zero shuffle);
  * quantizer training is iters × one-scan decimal aggregates; the
  * index write is one cell-partitioned parquet write; probes rank
  * cells against the STORED quantizer and become literal partition
  * predicates, so a query touches nprobe/k of the chunk corpus
  * (spec-asserted pruning). Queries broadcast; candidates never
  * shuffle except the k-row-per-query top-k window.
  */
object Rag {

  /** Feature-hash embedding width. 64 matches the corpus `embeddings`
    * table, so IVF constants (cell targets, probe scaling) transfer.
    */
  val EmbedDims = 64

  /** Results per query. */
  val RagTopK = 10

  /** Fixed retrieval queries — [[Search.SearchQueries]]'s texts, so
    * the lexical (BM25) and dense (this) retrieval stacks are probed
    * by the same workload.
    */
  val RagQueries: Seq[(Long, String)] = Search.SearchQueries

  /** vec_id = doc_id × this + chunk_id — a reversible chunk primary
    * key (chunk counts are ≤ n_toks/stride, far below this span).
    */
  val ChunkIdSpan = 1000000L

  /** Deterministic feature-hash embedding of a token sequence: each
    * token's 64-bit avalanche hash picks a signed bucket; buckets
    * accumulate ±1 per occurrence. Every accumulated value is an
    * integer in double space, so the sum is EXACT and independent of
    * token order and partitioning — the determinism contract the
    * whole pipeline's bit-equality specs stand on. An all-zero vector
    * (possible only by exact sign cancellation in every bucket) falls
    * back to a unit basis vector so norms stay positive.
    */
  private[graft] def embedText(text: String): Array[Double] = {
    val v = new Array[Double](EmbedDims)
    val toks = text.trim.split("\\s+")
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (t.nonEmpty) {
        var h = 1125899906842597L
        var j = 0
        while (j < t.length) { h = h * 31L + t.charAt(j).toLong; j += 1 }
        h ^= (h >>> 33); h *= 0xff51afd7ed558ccdL; h ^= (h >>> 33)
        val d = (((h % EmbedDims) + EmbedDims) % EmbedDims).toInt
        v(d) += (if ((h & (1L << 62)) == 0L) 1.0 else -1.0)
      }
      i += 1
    }
    var nz = false
    var d = 0
    while (d < EmbedDims) { if (v(d) != 0.0) nz = true; d += 1 }
    if (!nz) v(0) = 1.0
    v
  }

  /** Index-order L2 norm — the same summation order as `dot_d(v, v)`,
    * so norms are bit-equal however they are computed.
    */
  private[graft] def normOf(v: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    math.sqrt(s)
  }

  /** The chunked-and-embedded corpus:
    * `(vec_id, doc_id, chunk_id, start_tok, end_tok, v, nrm)` — one
    * row per q107 chunk, provenance columns intact. Map-only.
    */
  private[graft] def chunkVectors(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    Curation.chunksOn(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("chunk_id"), col("start_tok"),
        col("end_tok"), col("text"))
      .as[(Long, Long, Long, Long, String)]
      .map { case (d, c, s, e, t) =>
        val v = embedText(t)
        (d * ChunkIdSpan + c, d, c, s, e, v, normOf(v))
      }
      .toDF("vec_id", "doc_id", "chunk_id", "start_tok", "end_tok",
        "v", "nrm")
  }

  /** Per-query probe relation `(cell, query_id, qv, qnrm)`: queries
    * embedded with the SAME feature path as the corpus, cells ranked
    * against the (unit) centroids by dot — cosine order, since the
    * query norm is constant per query — ties to the smallest cell
    * (the assignment's tie-break). Driver-side: queries × k is KBs.
    */
  private def probesFor(cs: Seq[Seq[Double]],
      queries: Seq[(Long, String)], nprobe: Int)
      : Seq[(Int, Long, Seq[Double], Double)] =
    queries.flatMap { case (qid, text) =>
      val qv = embedText(text)
      val qnrm = normOf(qv)
      cs.zipWithIndex.map { case (c, cell) =>
        var s = 0.0
        var i = 0
        while (i < qv.length) { s += qv(i) * c(i); i += 1 }
        (cell, s)
      }.sortBy { case (cell, s) => (-s, cell) }
        .take(nprobe)
        .map { case (cell, _) => (cell, qid, qv.toSeq, qnrm) }
    }

  /** Chunk-quantizer memo keyed on (dir, documents content version,
    * k) — the [[Similarity]] centroid cache's twin for the chunk
    * corpus: centroids are a deterministic function of the corpus
    * content, so reuse across q109 / buildRagIndex calls (and bench
    * re-runs) is safe and saves the 5-iteration training loop.
    * Self-invalidates when the data under `dir` changes (the stamp).
    */
  private val quantizerCache = scala.collection.concurrent.TrieMap
    .empty[(String, Long, Int), Seq[Seq[Double]]]

  private def chunkQuantizer(spark: SparkSession, dir: String,
      chunks: DataFrame, k: Int): Seq[Seq[Double]] = {
    val stamp = graft.Tables.versionStamp(spark, dir, "documents")
    // train on the narrow (vec_id, v, nrm) projection — provenance
    // columns have no business riding the per-iteration encode/agg
    quantizerCache.getOrElseUpdate((dir, stamp, k),
      Similarity.centroidArraysOn(
        chunks.select(col("vec_id"), col("v"), col("nrm")), k))
  }

  /** The scoring tail shared by [[q109]] (in-flight) and
    * [[probeRagIndex]] (on-disk) — ONE expression tree, so the two
    * paths are bit-equal by construction (the
    * [[Search]]`.rankContributions` precedent).
    */
  private def rankCandidates(spark: SparkSession, assigned: DataFrame,
      probes: Seq[(Int, Long, Seq[Double], Double)], topK: Int): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    val probeDf = probes.toDF("cell", "query_id", "qv", "qnrm")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    assigned.join(broadcast(probeDf), Seq("cell"))
      .withColumn("cosine",
        expr("dot_d(qv, v)") / (col("nrm") * col("qnrm")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("chunk_id"), col("start_tok"), col("end_tok"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** q109: the composed retrieval pipeline IN-FLIGHT — chunk → embed
    * → train quantizer → assign → probe → rank, per the
    * self-contained query contract. `nprobeOverride` exists for the
    * spec (pass k to probe every cell, which makes the result EQUAL
    * the brute-force top-k by construction); 0 derives
    * `nProbeFor(numCellsFor(n))` like every other IVF consumer.
    */
  def q109(spark: SparkSession, dir: String,
      nprobeOverride: Int = 0): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    // barrier: the chunk relation feeds k-means (iters scans), the
    // assignment, and the count — the §8a multi-consumer rule
    val chunks = chunkVectors(docs).localCheckpoint()
    val n = chunks.count()
    val k = Similarity.numCellsFor(n)
    val cs = chunkQuantizer(spark, dir, chunks, k)
    val nprobe =
      if (nprobeOverride > 0) nprobeOverride else Similarity.nProbeFor(k)
    // the CLOSURE assignment arm, explicitly: at chunk-corpus k (68 at
    // sf1) the literal-argmax expression fuses into the probe JOIN's
    // generated stage and blows past codegen limits — profiled 22 s of
    // interpreted evaluation per run vs ~0.3 s through the closure arm
    // (round 9; the arms are spec-asserted bit-equal, so results are
    // unchanged). The same fusion is why [[buildRagIndex]] writes from
    // the closure arm too.
    val assigned = Similarity.assignCellsBroadcast(spark, chunks, cs)
    rankCandidates(spark, assigned,
      probesFor(cs, RagQueries, nprobe), RagTopK)
  }

  /** Materialize the chunk-level index on disk: the embedded chunk
    * corpus written cell-partitioned with the quantizer persisted as
    * `_quantizer` (the [[Similarity.buildIvfIndex]] layout over chunk
    * rows — provenance columns ride along as data columns).
    */
  def buildRagIndex(spark: SparkSession, dir: String,
      indexPath: String): Unit = {
    import spark.implicits._
    val chunks = chunkVectors(Tables(spark, dir, "documents"))
      .localCheckpoint()
    val k = Similarity.numCellsFor(chunks.count())
    val cs = chunkQuantizer(spark, dir, chunks, k)
    Similarity.assignCellsBroadcast(spark, chunks, cs)
      .write.partitionBy("cell").mode("overwrite").parquet(indexPath)
    cs.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("cell", "cv")
      .write.mode("overwrite").parquet(s"$indexPath/_quantizer")
  }

  /** Incremental index maintenance — the ivf_append/appendBmIndex
    * family member at the chunk level: a batch of NEW documents is
    * chunked and embedded (map-only), assigned with the STORED
    * quantizer (no retrain, no rewrite of standing cells — daily cost
    * scales with the batch), and appended into the existing cell
    * partitions. Same single-writer/new-docs-only contract as
    * [[Search.appendBmIndex]]. Returns the per-cell append report
    * `(cell, n_chunks, n_docs)`.
    */
  def appendRagIndex(spark: SparkSession, indexPath: String,
      newDocs: DataFrame): DataFrame = {
    val cs = spark.read.parquet(s"$indexPath/_quantizer")
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1))
      .sortBy(_._1).map(_._2).toSeq
    val assigned = Similarity.assignCellsBroadcast(spark,
        chunkVectors(newDocs), cs)
      .localCheckpoint() // pin: written below AND reported on
    assigned.write.partitionBy("cell").mode("append").parquet(indexPath)
    assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("cell"))
  }

  /** DELETE documents' chunks from the index — the dense-side forget
    * path ([[Search.deleteFromBmIndex]]'s twin, completing
    * right-to-be-forgotten across the standing artifacts). The
    * request carries `(doc_id, text)`; chunk + embed + STORED-
    * quantizer assignment are all deterministic, so the request
    * re-derives exactly the rows build/append wrote — only the CELLS
    * those chunks live in are rewritten (cell-pruned, like probes).
    * Every affected cell validates BEFORE any swap: the standing
    * chunk VECTORS for the departing ids must equal the request's
    * re-derived vectors exactly (counts alone can coincide for a
    * one-chunk doc; an embedding cannot match unless the content is
    * what was indexed), else the whole operation aborts with the
    * index intact. Rewrites
    * land in hidden `_tmp_cell_N` dirs and swap by two renames
    * (readers see whole-old or whole-new); a crash between the
    * renames leaves `_old_cell_N` intact — [[recoverRagIndexDeletion]]
    * heals every state mechanically. The quantizer is untouched
    * (deletion no more retrains than append does; emptier cells only
    * mean cheaper probes until the next build). Single maintainer;
    * ids must be currently indexed. Returns `(cell, chunks_removed)`.
    */
  def deleteFromRagIndex(spark: SparkSession, indexPath: String,
      docs: DataFrame): DataFrame = {
    import spark.implicits._
    val cs = spark.read.parquet(s"$indexPath/_quantizer")
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1))
      .sortBy(_._1).map(_._2).toSeq
    val assigned = Similarity.assignCellsBroadcast(spark,
        chunkVectors(docs.select(col("doc_id"), col("text"))), cs)
      .localCheckpoint()
    val ids = docs.select(col("doc_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    require(ids.nonEmpty, "deleteFromRagIndex: empty deletion batch")
    val expected = assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val p = new org.apache.hadoop.fs.Path(indexPath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val standingByCell = expected.keys.toSeq.sorted.map { c =>
      val std = new org.apache.hadoop.fs.Path(p, s"cell=$c")
      require(fs.exists(std),
        s"deleteFromRagIndex: cell=$c missing for this batch")
      val standing = spark.read.parquet(std.toString)
      // validate by VECTOR equality, not counts: a wrong-text request
      // can coincide on counts (a one-chunk doc has one cell with one
      // row — counts match trivially), but its embedding cannot match
      // the stored vector unless the content is what was indexed.
      // Both sides are batch-bounded collects.
      val pred = assigned.filter(col("cell") === c)
        .select(col("vec_id"), col("v")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      val stand = standing.filter(col("doc_id").isInCollection(ids))
        .select(col("vec_id"), col("v")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      require(stand.keySet == pred.keySet && pred.forall {
          case (vid, v) => stand(vid) == v },
        s"deleteFromRagIndex: cell=$c standing chunks for the batch ids " +
          "do not match the request's chunk vectors — the request's " +
          "content differs from what was indexed")
      (c, std, standing)
    }
    standingByCell.foreach { case (c, std, standing) =>
      val tmp = new org.apache.hadoop.fs.Path(p, s"_tmp_cell_$c")
      val old = new org.apache.hadoop.fs.Path(p, s"_old_cell_$c")
      if (fs.exists(tmp)) fs.delete(tmp, true)
      standing.filter(!col("doc_id").isInCollection(ids))
        .write.parquet(tmp.toString)
      graft.operators.Search.renameOrThrow(fs, std, old)
      graft.operators.Search.renameOrThrow(fs, tmp, std)
      fs.delete(old, true)
    }
    expected.toSeq.sortBy(_._1).toDF("cell", "chunks_removed")
      .orderBy(col("cell"))
  }

  /** Heal an interrupted [[deleteFromRagIndex]] — the same three
    * mechanically-distinguishable states as
    * [[Search.recoverBmIndexCompaction]], over `cell=` dirs: temp
    * beside a live cell → drop temp; old beside a live cell → drop
    * old; old with the cell ABSENT → restore old (never promote a
    * possibly-incomplete temp). Idempotent; returns healed cell ids.
    */
  def recoverRagIndexDeletion(spark: SparkSession,
      indexPath: String): Seq[Int] = {
    val root = new org.apache.hadoop.fs.Path(indexPath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val names = fs.listStatus(root).map(_.getPath.getName).toSet
    def p(n: String) = new org.apache.hadoop.fs.Path(root, n)
    val touched = names.collect {
      case n if n.startsWith("_tmp_cell_") =>
        n.stripPrefix("_tmp_cell_").toInt
      case n if n.startsWith("_old_cell_") =>
        n.stripPrefix("_old_cell_").toInt
    }.toSeq.sorted
    touched.foreach { c =>
      val (cell, old, tmp) =
        (p(s"cell=$c"), p(s"_old_cell_$c"), p(s"_tmp_cell_$c"))
      if (!fs.exists(cell) && fs.exists(old)) fs.rename(old, cell)
      if (fs.exists(cell)) {
        if (fs.exists(old)) fs.delete(old, true)
        if (fs.exists(tmp)) fs.delete(tmp, true)
      }
    }
    touched
  }

  /** The UN-truncated chunk scorer — every (chunk, query) cosine,
    * no cell pruning, no top-k: `(doc_id, chunk_id, query_id,
    * cosine)`. Chunking, embedding and the broadcast cross join with
    * the query vectors are stateless, so the same function tags an
    * ingest stream of documents with zero state; rank selection
    * belongs to whoever consumes the scores.
    */
  def scoreAllChunks(docs: DataFrame,
      queries: Seq[(Long, String)] = RagQueries): DataFrame = {
    val spark = docs.sparkSession
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    val qRel = queries.map { case (qid, t) =>
      val qv = embedText(t)
      (qid, qv.toSeq, normOf(qv))
    }.toDF("query_id", "qv", "qnrm")
    chunkVectors(docs)
      .crossJoin(broadcast(qRel))
      .withColumn("cosine",
        expr("dot_d(qv, v)") / (col("nrm") * col("qnrm")))
      .select(col("doc_id"), col("chunk_id"), col("query_id"),
        col("cosine"))
  }

  /** Probe the on-disk chunk index: cells ranked against the STORED
    * quantizer become literal partition predicates (the scan touches
    * only probed cell directories — spec-asserted), and the shared
    * [[rankCandidates]] tail scores — bit-equal to in-flight [[q109]]
    * over the same corpus. At 100 TB this is the steady-state path:
    * no chunking, no embedding, no training per query; only the
    * probed cells' vectors move.
    */
  def probeRagIndex(spark: SparkSession, indexPath: String,
      queries: Seq[(Long, String)] = RagQueries,
      nprobeOverride: Int = 0): DataFrame = {
    val cs = spark.read.parquet(s"$indexPath/_quantizer")
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1))
      .sortBy(_._1).map(_._2).toSeq
    val nprobe = if (nprobeOverride > 0) nprobeOverride
      else Similarity.nProbeFor(cs.size)
    val probes = probesFor(cs, queries, nprobe)
    val probedCells = probes.map(_._1).distinct
    val assigned = spark.read.parquet(indexPath)
      .filter(col("cell").isInCollection(probedCells))
    rankCandidates(spark, assigned, probes, RagTopK)
  }
}
