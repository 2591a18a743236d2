package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{Bpe, Dedup}
import graft.streaming.DocStreams

/** sf1 (10× the driver's largest SF) soak for the live-ingest
  * screens: the corpus-side artifacts — the band-bucket Bloom and the
  * trained merge table — are built from the sf1 corpus, and a
  * document stream is scored against them. The claims under test are
  * the 100×-scaling ones: the artifacts stay broadcast-sized, the
  * screens stay stateless, and ingest throughput holds while the
  * corpus behind the artifact grows 10×.
  *
  * Cancels (not fails) when `local/sf1` is absent — regenerate with
  * `python3 tools/gen_sf1.py` (derived from the driver's sf0.1).
  */
class Sf1SoakSpec extends SparkSpec {

  private val sf1 = "/root/repo/local/sf1"
  private def sf1Present =
    new java.io.File(s"$sf1/documents.parquet").exists()

  test("sf1 soak: near-dup screen against the sf1 corpus Bloom — broadcast-sized, stateless, keeps up") {
    assume(sf1Present, "local/sf1 not generated (tools/gen_sf1.py)")
    val t0 = System.nanoTime()
    // fpp 1e-6 as in the planted spec: band hits must be exact enough
    // that corpus members read 16/16 and novels 0/16
    val bloom = Dedup.bandBucketBloom(spark, sf1, 1e-6)
    val buildSecs = (System.nanoTime() - t0) / 1e9
    val mb = bloom.bitSize() / 8.0 / 1e6
    info(f"sf1 band Bloom: $mb%.1f MB, built in $buildSecs%.1f s")
    // the artifact the 100 TB story broadcasts must stay broadcastable
    assert(bloom.bitSize() / 8 < 64L * 1024 * 1024,
      f"sf1 Bloom is $mb%.1f MB — no longer broadcast territory")

    // stream = 2000 standing docs (self-clones: every band present)
    // + 50 novel docs (fresh vocabulary: zero band hits w.h.p.)
    val streamDir = Files.createTempDirectory("graft_sf1_ndup").toString
    import spark.implicits._
    val novel = (1 to 50).map(i =>
      (900000000L + i, (1 to 40).map(j => s"nv${i}_$j").mkString(" "),
        "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
    spark.read.parquet(s"$sf1/documents.parquet")
      .limit(2000).unionByName(novel, allowMissingColumns = true)
      .coalesce(4)
      .write.parquet(s"$streamDir/documents.parquet")
    val src = DocStreams.source(spark,
      s"$streamDir/documents.parquet", s"$streamDir/documents*.parquet")
    val s0 = System.nanoTime()
    drainStateless(DocStreams.nearDupOn(spark, src, bloom),
      "sf1_ndup_out", "near-dup")
    val soakSecs = (System.nanoTime() - s0) / 1e9
    val rows = spark.sql(
      "SELECT doc_id, n_bands, bands_hit, near_dup FROM sf1_ndup_out")
      .collect()
    assert(rows.length === 2050)
    info(f"near-dup screen: ${rows.length} docs in $soakSecs%.1f s " +
      f"(${rows.length / soakSecs}%.0f docs/s)")
    assert(soakSecs < 300.0, f"soak took $soakSecs%.1f s for 2050 docs")
    // every standing doc with a signature is its own corpus clone —
    // all bands hit; novel docs never flag
    val standing = rows.filter(_.getLong(0) < 900000000L)
      .filter(_.getInt(1) > 0)
    assert(standing.length > 1500, s"only ${standing.length} signatures")
    standing.foreach { r =>
      assert(r.getInt(2) === r.getInt(1) && r.getBoolean(3),
        s"corpus member not self-flagged: $r")
    }
    rows.filter(_.getLong(0) >= 900000000L).foreach { r =>
      assert(!r.getBoolean(3), s"novel doc flagged near-dup: $r")
    }
  }

  test("sf1 on-disk IVF index: broadcast-arm build at 300 cells, pruned probes, append drift report") {
    assume(sf1Present, "local/sf1 not generated (tools/gen_sf1.py)")
    import graft.operators.Similarity
    // no local corpus is big enough to cross the 256-literal cap
    // naturally (sf1 = 20k vectors → 20 cells), so the index builds
    // at an explicit k above it: every assignment in the build — 5
    // Lloyd's rounds + the final write — runs the TorrentBroadcast
    // arm, and probe/append work against the stored 300-cell quantizer
    val k = 300
    assert(k > Similarity.LiteralAssignMaxCells)
    val idx = Files.createTempDirectory("graft_sf1_ivf").toString
    val t0 = System.nanoTime()
    Similarity.buildIvfIndex(spark, sf1, idx, kOverride = k)
    info(f"sf1 index ($k cells): built in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val allCells = spark.read.parquet(idx).select("cell").distinct().count()
    // k-means may leave a few cells empty; the partitioned layout
    // must still carry the large-k granularity
    assert(allCells > 200 && allCells <= k, s"$allCells populated cells")
    val probed = Similarity.probeIvfIndex(spark, sf1, idx)
    val scanned = probed.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains(idx)) =>
        f.selectedPartitions.partitionCount
    }.head
    // 5 queries × √k probes of ~489 cells — the scan must touch a
    // small fraction of the index, that's what the partitioning buys
    assert(scanned < allCells / 2,
      s"probe scanned $scanned of $allCells partitions")
    val rows = probed.collect()
    assert(rows.length === Similarity.QueryIds.size * Similarity.K)
    // append through the same stored quantizer: clones of the query
    // vectors must land healthy (their cells match the build geometry)
    val clones = Tables(spark, sf1, "embeddings")
      .filter(col("vec_id").isInCollection(Similarity.QueryIds))
      .select((col("vec_id") + 900000000L).as("vec_id"), col("embedding"))
    val report = Similarity.appendIvfIndex(spark, idx, clones).collect()
    assert(report.map(_.getAs[Long]("n_appended")).sum ===
      Similarity.QueryIds.size)
    // a clone lands in a build-populated cell on the right side of
    // the sphere; the retrain flag itself is exact-math-spec'd at
    // small sf (an INDIVIDUAL vector may sit below its cell's
    // average, so no per-cell retrain assertion here)
    report.foreach { r =>
      assert(r.getAs[Double]("avg_cos") > 0.0, s"clone far from centroid: $r")
      assert(!r.isNullAt(r.fieldIndex("build_avg_cos")),
        s"clone landed in a never-populated cell: $r")
    }
  }

  test("sf1 soak: q34 exact kernel wall-time + LSH recall telemetry at 20k vectors") {
    assume(sf1Present, "local/sf1 not generated (tools/gen_sf1.py)")
    // which arm does the library dispatch take at this scale? Under
    // the r8 wall-budget limit the 20k-vector rehearsal corpus runs
    // EXACT (recall 1.0 by construction) — LSH remains the >77k path
    val (n1, d1) = Dedup.corpusStatsOf(spark, sf1)
    assert(n1 <= Dedup.exactPairsLimitFor(d1),
      s"sf1 ($n1 vectors, dims $d1) must dispatch EXACT under the wall budget")
    info(s"q34 dispatch at sf1: EXACT arm (n=$n1 ≤ " +
      s"limit=${Dedup.exactPairsLimitFor(d1)} at dims=$d1)")
    val t0 = System.nanoTime()
    val ex = Dedup.q34Exact(spark, sf1).collect()
    val exactSecs = (System.nanoTime() - t0) / 1e9
    info(f"q34 exact blocked kernel: ${ex.length} pairs in $exactSecs%.1f s " +
      "(was 26.7 s as a broadcast-nested-loop join in r6)")
    assert(ex.length > 10000)
    // the blocked kernel must stay far under the r6 join wall even on
    // the 4-thread test session (26.7 s was measured at local[32])
    assert(exactSecs < 60.0, f"exact kernel took $exactSecs%.1f s")
    val exPairs = ex.map(r => (r.getLong(0), r.getLong(1))).toSet
    val exHigh = ex.filter(_.getDouble(2) >= 0.9)
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val t1 = System.nanoTime()
    val lsh = Dedup.q34Lsh(spark, sf1).select("ia", "ib").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lshSecs = (System.nanoTime() - t1) / 1e9
    assert(lsh.subsetOf(exPairs), "LSH can only miss, never invent")
    val overall = lsh.size.toDouble / exPairs.size
    val highRecall =
      if (exHigh.isEmpty) 1.0
      else exHigh.count(lsh.contains).toDouble / exHigh.size
    info(f"q34 LSH (derived granularity) at sf1: ${lsh.size} pairs in " +
      f"$lshSecs%.1f s — overall recall $overall%.3f, clone-regime " +
      f"(cos ≥ 0.9) recall $highRecall%.3f")
    // the honest contract, measured at the rehearsal scale: this
    // corpus's true pairs sit NEAR τ (borderline regime — overall
    // recall ~0.22, the analytic hyperplane-LSH number quantified in
    // DedupSpec's planted spec), which is exactly why the oracle
    // entry pins the exact path; the clone regime the LSH path exists
    // for must stay near-complete
    assert(highRecall >= 0.9,
      f"clone-regime recall $highRecall%.3f at sf1")
    assert(overall >= 0.1, f"overall recall $overall%.3f collapsed")
  }

  test("sf1 soak: ANN recall floors vs exact q40 at the corpus-derived granularity") {
    assume(sf1Present, "local/sf1 not generated (tools/gen_sf1.py)")
    import graft.operators.Similarity
    def topk(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "vec_id").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) =>
          q -> rs.map(_.getLong(1)).toSet
        }
    def recallVs(exact: Map[Long, Set[Long]],
        approx: Map[Long, Set[Long]]): Double = {
      val per = exact.map { case (q, ev) =>
        approx.getOrElse(q, Set.empty).count(ev.contains).toDouble / ev.size
      }
      per.sum / per.size
    }
    val exact = topk(Similarity.q40(spark, sf1))
    assert(exact.nonEmpty)
    // floors sit ~0.1 under the measured values (0.72 / 0.62 / 0.48)
    // so box noise can't flake them while a real plan/derivation
    // regression still trips. q43 ≤ q42 by construction (same probed
    // cells, PQ-LUT truncation inside them — the IO-for-recall trade
    // PQ makes; the corpus-derived re-rank depth lifted it 0.18→0.48)
    for ((name, df, floor) <- Seq(
        ("q41 hyperplane-LSH", Similarity.q41(spark, sf1), 0.60),
        ("q42 IVF √k-probe", Similarity.q42(spark, sf1), 0.55),
        ("q43 IVF-PQ rerank", Similarity.q43(spark, sf1), 0.40))) {
      val r = recallVs(exact, topk(df))
      info(f"$name recall@${Similarity.K} vs exact at sf1 (20k vectors): $r%.3f")
      assert(r >= floor, f"$name sf1 recall $r%.3f below floor $floor")
    }
  }

  test("sf1 soak: streaming tokenizer with sf1-trained merges — stateless, matches direct encode, keeps up") {
    assume(sf1Present, "local/sf1 not generated (tools/gen_sf1.py)")
    val t0 = System.nanoTime()
    val merges = Bpe.trainCached(spark, sf1, 30)
    info(f"sf1 merge table trained in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    assert(merges.size === 30)
    val streamDir = Files.createTempDirectory("graft_sf1_tok").toString
    spark.read.parquet(s"$sf1/documents.parquet")
      .select(col("doc_id"), col("text")).limit(2000).coalesce(4)
      .write.parquet(s"$streamDir/documents.parquet")
    val src = DocStreams.source(spark,
      s"$streamDir/documents.parquet", s"$streamDir/documents*.parquet")
    val s0 = System.nanoTime()
    drainStateless(Bpe.tokenizeOn(src, merges), "sf1_tok_out", "tokenize")
    val soakSecs = (System.nanoTime() - s0) / 1e9
    val live = spark.sql(
      "SELECT doc_id, n_words, n_tokens FROM sf1_tok_out").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(live.size === 2000)
    info(f"tokenizer: ${live.size} docs in $soakSecs%.1f s " +
      f"(${live.size / soakSecs}%.0f docs/s)")
    assert(soakSecs < 300.0, f"soak took $soakSecs%.1f s for 2000 docs")
    // spot-check 100 docs against a direct driver-side encode
    val sample = spark.read.parquet(s"$streamDir/documents.parquet")
      .limit(100).collect().map(r => r.getLong(0) -> r.getString(1))
    sample.foreach { case (id, text) =>
      val words = text.trim.split("\\s+").filter(_.nonEmpty)
      val nTok = words.map(w => Bpe.encodeWord(w, merges).length.toLong).sum
      assert(live(id) === ((words.length.toLong, nTok)),
        s"doc $id diverges from direct encode")
    }
  }
}
