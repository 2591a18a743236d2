package graft

import graft.operators.Similarity

class SimilaritySpec extends SparkSpec {

  private def topk(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
    df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("vec_id")))
      .groupBy(_._1)
      .map { case (q, rs) => q -> rs.sortBy(_._2).map(_._3).toSeq }

  test("dispatch caches self-invalidate when data under a dir is replaced") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_stamp").toString
    (0L until 100L).toDF("vec_id")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    assert(graft.operators.Dedup.corpusSizeOf(spark, tmp) === 100L)
    assert(Similarity.numCells(spark, tmp) === 16) // MinCells floor
    // REPLACE the corpus — no manual invalidation anywhere: the
    // (dir, versionStamp) key must re-derive both numbers by itself
    (0L until 20480L).toDF("vec_id")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    assert(graft.operators.Dedup.corpusSizeOf(spark, tmp) === 20480L)
    assert(Similarity.numCells(spark, tmp) === 20) // ceil(20480/1024)
    // unchanged data keeps hitting the cache (same stamp, same value)
    assert(graft.operators.Dedup.corpusSizeOf(spark, tmp) === 20480L)
  }

  test("q40 brute-force: k results per query, descending cosine") {
    val rows = Similarity.q40(spark, sf).collect()
    rows.groupBy(_.getAs[Long]("query_id")).foreach { case (_, g) =>
      assert(g.length === Similarity.K)
      val cos = g.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cosine"))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
      assert(cos.forall(c => c >= -1.0 && c <= 1.0))
    }
  }

  test("q41 LSH: recall@10 ≥ 0.3 vs brute force (random vectors, 8-table LSH)") {
    val exact = topk(Similarity.q40(spark, sf))
    val approx = topk(Similarity.q41(spark, sf))
    // random (unclustered) embeddings are the worst case for LSH —
    // just require substantially-better-than-zero overlap plus the
    // top-1 neighbors being mostly present
    val recalls = exact.map { case (q, ids) =>
      approx.get(q).map(a => a.toSet.intersect(ids.toSet).size.toDouble / ids.size)
        .getOrElse(0.0)
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.3, s"mean recall@10 = $mean")
  }

  test("IVF index append: assign-only batch is probe-visible at rank 1, pruning survives") {
    import org.apache.spark.sql.functions._
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_app").toString
    Similarity.buildIvfIndex(spark, sf, idx)
    // batch = exact clones of the query vectors under new ids: each
    // clone must land in its source's best cell and probe back at
    // rank 1 with cosine 1
    val clones = Tables(spark, sf, "embeddings")
      .filter(col("vec_id").isInCollection(Similarity.QueryIds))
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    val report = Similarity.appendIvfIndex(spark, idx, clones).collect()
    assert(report.map(_.getAs[Long]("n_appended")).sum ===
      Similarity.QueryIds.size)
    report.foreach(r => assert(r.getAs[Double]("avg_cos") > 0.0))
    val probed = Similarity.probeIvfIndex(spark, sf, idx)
    // pruning still holds over the appended index
    val scanned = probed.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains(idx)) =>
        f.selectedPartitions.partitionCount
    }.head
    val allCells = spark.read.parquet(idx).select("cell").distinct().count()
    assert(scanned < allCells, "append broke partition pruning")
    // every query's top hit is now its own clone at cosine ~1
    val top = probed.filter(col("rank") === 1).collect()
      .map(r => r.getAs[Long]("query_id") ->
        (r.getAs[Long]("vec_id"), r.getAs[Double]("cosine"))).toMap
    Similarity.QueryIds.foreach { q =>
      val (hit, cos) = top(q)
      assert(hit === q + 100000L, s"query $q top hit $hit is not its clone")
      assert(math.abs(cos - 1.0) < 1e-12)
    }
  }

  test("append onto a LEGACY quantizer (no build-quality columns): retrain-on-sight, no failure") {
    import org.apache.spark.sql.functions._
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_leg").toString
    Similarity.buildIvfIndex(spark, sf, idx)
    // rewrite the quantizer in the pre-r6 schema: just (cell, cv, cnrm)
    val legacy = spark.read.parquet(s"$idx/_quantizer")
      .select("cell", "cv", "cnrm").collect()
    spark.createDataFrame(
        spark.sparkContext.parallelize(legacy.toIndexedSeq),
        spark.read.parquet(s"$idx/_quantizer")
          .select("cell", "cv", "cnrm").schema)
      .write.mode("overwrite").parquet(s"$idx/_quantizer")
    val clones = Tables(spark, sf, "embeddings")
      .filter(col("vec_id").isInCollection(Similarity.QueryIds))
      .select((col("vec_id") + 200000L).as("vec_id"), col("embedding"))
    val report = Similarity.appendIvfIndex(spark, idx, clones).collect()
    assert(report.nonEmpty)
    // no yardstick anywhere ⇒ every touched cell recommends retraining
    report.foreach { r =>
      assert(r.isNullAt(r.fieldIndex("build_avg_cos")))
      assert(r.getAs[Boolean]("retrain"),
        s"legacy cell ${r.getAs[Int]("cell")} must retrain on sight")
    }
  }

  test("centroid broadcast is cached: same handle across calls, distinct matrices distinct") {
    val cs1: Seq[Seq[Double]] = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val cs2: Seq[Seq[Double]] = Seq(Seq(1.0, 0.0), Seq(0.0, -1.0))
    // two calls over the same matrix reuse ONE TorrentBroadcast (the
    // r7-advice leak was one new broadcast per call); a different
    // matrix gets its own
    val b1 = Similarity.centroidBroadcast(spark, cs1)
    val b2 = Similarity.centroidBroadcast(spark, cs1.map(_.map(identity)))
    val b3 = Similarity.centroidBroadcast(spark, cs2)
    assert(b1 eq b2, "same centroid content must reuse the broadcast")
    assert(!(b1 eq b3), "distinct centroid content must not collide")
    // and the cached handle still assigns correctly
    import spark.implicits._
    val rows = Seq((0L, Seq(0.9, 0.1), 1.0), (1L, Seq(0.1, 0.9), 1.0))
      .toDF("vec_id", "v", "nrm")
    val got = Similarity.assignCellsBroadcast(spark, rows, cs1).collect()
      .map(r => r.getLong(0) -> r.getInt(3)).toMap
    assert(got === Map(0L -> 0, 1L -> 1))
  }

  test("on-disk IVF index: pruned probe reads match in-flight q42 exactly") {
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    Similarity.buildIvfIndex(spark, sf, idx)
    val probed = Similarity.probeIvfIndex(spark, sf, idx)
    // the scan must touch only the probed cell partitions (pre-AQE
    // plan: the adaptive wrapper hides scan leaves until execution)
    val scanned = probed.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains(idx)) =>
        f.selectedPartitions.partitionCount
    }.head
    val allCells = spark.read.parquet(idx).select("cell").distinct().count()
    assert(scanned < allCells,
      s"probe read $scanned of $allCells partitions — no pruning")
    // identical ranking math ⇒ identical results to the in-flight form
    val a = probed.collect().map(_.toSeq)
    val b = Similarity.q42(spark, sf).collect().map(_.toSeq)
    assert(a.toSeq === b.toSeq)
  }

  test("q42 IVF: k results per query, recall better than random cells") {
    val exact = topk(Similarity.q40(spark, sf))
    val ivf = topk(Similarity.q42(spark, sf))
    ivf.foreach { case (_, ids) => assert(ids.size === Similarity.K) }
    val recalls = exact.map { case (q, ids) =>
      ivf.get(q).map(a => a.toSet.intersect(ids.toSet).size.toDouble / ids.size)
        .getOrElse(0.0)
    }
    val mean = recalls.sum / recalls.size
    // probing 4/16 cells of random vectors; require clearly > the 25%
    // a uniform-random cell assignment would give in expectation
    assert(mean >= 0.25, s"mean recall@10 = $mean")
  }

  test("q43 IVF+PQ: k exact-ranked results, recall comparable to full-vector q42") {
    val exact = topk(Similarity.q40(spark, sf))
    val pq = topk(Similarity.q43(spark, sf))
    pq.foreach { case (_, ids) => assert(ids.size === Similarity.K) }
    def recall(m: Map[Long, Seq[Long]]): Double = {
      val rs = exact.map { case (q, ids) =>
        m.get(q).map(a => a.toSet.intersect(ids.toSet).size.toDouble / ids.size)
          .getOrElse(0.0)
      }
      rs.sum / rs.size
    }
    val rPq = recall(pq)
    val rIvf = recall(topk(Similarity.q42(spark, sf)))
    // PQ ranks candidates from 8-byte codes (32× less IO than the
    // vectors) and re-ranks only the top-50 exactly — the price is
    // bounded recall loss vs the full-vector IVF scan
    assert(rPq >= rIvf - 0.15, s"PQ recall $rPq collapsed vs IVF $rIvf")
    assert(rPq >= 0.2, s"PQ recall $rPq")
    // every emitted cosine must be the TRUE cosine (re-rank is exact):
    // q43's scores for ids also found by q40 match q40's bit-for-bit
    val exactScores = Similarity.q40(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    Similarity.q43(spark, sf).collect().foreach { r =>
      exactScores.get((r.getLong(0), r.getLong(2))).foreach { want =>
        assert(r.getDouble(3) === want)
      }
    }
  }

  test("adaptive nprobe selects the minimal ranked cell prefix meeting the candidate budget") {
    val budget = 100L
    val probes = Similarity.ivfProbesAdaptive(spark, sf, budget).collect()
    assert(probes.nonEmpty)
    val byQuery = probes.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.keySet === Similarity.QueryIds.toSet)
    byQuery.foreach { case (q, cells) =>
      val ranked = cells.sortBy(_.getAs[Int]("prank"))
      // selected cells are a contiguous prefix of the cosine ranking
      assert(ranked.map(_.getAs[Int]("prank")).toSeq ===
        (1 to ranked.length).toSeq, s"query $q probes are not a prefix")
      val total = ranked.map(_.getAs[Long]("cell_n")).sum
      // budget met (some cell populations differ, so totals differ
      // per query — the point of adapting)
      assert(total >= budget, s"query $q total candidates $total < budget")
      // and minimally: dropping the last selected cell goes below it
      if (ranked.length > 1) {
        val withoutLast = total - ranked.last.getAs[Long]("cell_n")
        assert(withoutLast < budget,
          s"query $q selected a cell past the budget")
      }
    }
    // adaptation is real on this corpus: not every query probes the
    // same number of cells
    val counts = byQuery.values.map(_.length).toSet
    assert(counts.size > 1 || counts.head === 1,
      s"every query probed the same $counts cells — nothing adapted")
    // end-to-end: the adaptive q42 returns k ranked rows per query
    // and beats a 1-cell probe's recall at the same exact-rerank
    val exact = topk(Similarity.q40(spark, sf))
    def recall(m: Map[Long, Seq[Long]]): Double = {
      val rs = exact.map { case (q, ids) =>
        m.get(q).map(a => a.toSet.intersect(ids.toSet).size.toDouble / ids.size)
          .getOrElse(0.0)
      }
      rs.sum / rs.size
    }
    val adaptive = topk(Similarity.q42Adaptive(spark, sf, budget))
    adaptive.values.foreach(ids => assert(ids.length === Similarity.K))
    val oneCell = topk(Similarity.q42Adaptive(spark, sf, 1L))
    assert(recall(adaptive) >= recall(oneCell),
      s"budget=$budget recall ${recall(adaptive)} < 1-cell ${recall(oneCell)}")
  }

  test("numCellsFor: corpus-derived granularity — floor, linear middle, clamp") {
    assert(Similarity.numCellsFor(1L) === 16)
    assert(Similarity.numCellsFor(16L * 1024) === 16)
    assert(Similarity.numCellsFor(1L << 20) === 1024)
    assert(Similarity.numCellsFor(1_000_000_000L) === 65536) // clamp
    // monotone non-decreasing so growth never SHRINKS an index
    val pts = Seq(1L, 20000L, 1L << 17, 1L << 20, 1L << 30, 1L << 40)
      .map(Similarity.numCellsFor)
    assert(pts === pts.sorted)
  }

  test("IVF at two granularities: recall, probe scaling, repeatability at k=16 and k=32") {
    val exact = topk(Similarity.q40(spark, sf))
    for (k <- Seq(16, 32)) {
      val run1 = Similarity.q42(spark, sf, kOverride = k)
        .collect().map(_.toSeq).toSeq
      val run2 = Similarity.q42(spark, sf, kOverride = k)
        .collect().map(_.toSeq).toSeq
      assert(run1 === run2, s"k=$k not repeatable")
      val ivf = topk(Similarity.q42(spark, sf, kOverride = k))
      ivf.foreach { case (_, ids) => assert(ids.size === Similarity.K) }
      val recalls = exact.map { case (q, ids) =>
        ivf.get(q)
          .map(a => a.toSet.intersect(ids.toSet).size.toDouble / ids.size)
          .getOrElse(0.0)
      }
      val mean = recalls.sum / recalls.size
      assert(mean >= 0.2, s"k=$k mean recall@10 = $mean")
      // the quantizer actually has k distinct granularity: cells used
      // stays within (k/2, k] on this corpus — a constant-16 quantizer
      // masquerading at k=32 would fail the lower bound
      val used = Similarity.ivfAssigned(spark, sf, kOverride = k)
        .select("cell").distinct().count()
      assert(used > k / 2 && used <= k, s"k=$k uses $used cells")
      // probes track granularity: nProbe = max(4, round(√k))
      val expectProbes = math.max(4, math.round(math.sqrt(k.toDouble)).toInt)
      val probesPerQuery = Similarity.ivfProbes(spark, sf, kOverride = k)
        .groupBy("query_id").count().collect().map(_.getAs[Long]("count"))
      assert(probesPerQuery.forall(_ === expectProbes),
        s"k=$k probes ${probesPerQuery.toSeq} != $expectProbes")
    }
  }

  test("assignCells: broadcast arm bit-equal to literal-codegen arm on the stored quantizer") {
    import org.apache.spark.sql.functions._
    graft.functions.GraftFunctions.register(spark)
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_eq").toString
    Similarity.buildIvfIndex(spark, sf, idx)
    val cs = spark.read.parquet(s"$idx/_quantizer")
      .select(col("cell"), col("cv")).collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq)
      .sortBy(_._1).map(_._2).toSeq
    assert(cs.size <= Similarity.LiteralAssignMaxCells,
      "fixture no longer exercises the literal arm")
    val base = Tables(spark, sf, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("nrm", sqrt(expr("dot_d(v, v)")))
    def cells(df: org.apache.spark.sql.DataFrame): Map[Long, Int] =
      df.select("vec_id", "cell").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val litArm = cells(Similarity.assignCells(spark, base, cs))
    val bcArm = cells(Similarity.assignCellsBroadcast(spark, base, cs))
    assert(litArm === bcArm,
      "dispatch arms disagree — threshold changes would change results")
  }

  test("append drift report: clones keep cells healthy, drifted batch trips the retrain trigger") {
    import org.apache.spark.sql.functions._
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_drift").toString
    Similarity.buildIvfIndex(spark, sf, idx)
    // batch 1: exact clones of the WHOLE corpus — each lands in its
    // source's cell, so per-cell avg_cos equals build_avg_cos exactly
    // and no cell may demand a retrain
    val clones = Tables(spark, sf, "embeddings")
      .select((col("vec_id") + 500000L).as("vec_id"), col("embedding"))
    val healthy = Similarity.appendIvfIndex(spark, idx, clones).collect()
    assert(healthy.nonEmpty)
    assert(healthy.forall(!_.getAs[Boolean]("retrain")),
      s"clone append tripped retrain: ${healthy.filter(_.getAs[Boolean]("retrain")).toSeq.take(3)}")
    // batch 2: vectors orthogonalized against EVERY centroid (Gram-
    // Schmidt against the stored quantizer) — cosine ≈ 0 to whatever
    // cell the argmax lands them in, far below any build-time fit, so
    // every touched cell must flag retrain
    val cs = spark.read.parquet(s"$idx/_quantizer")
      .select(col("cell"), col("cv")).collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).map(_._2)
    val dims = cs.head.length
    val rng = new scala.util.Random(7)
    val drifted = (0 until 50).map { i =>
      var v = Array.fill(dims)(rng.nextGaussian())
      // repeated Gram-Schmidt sweeps: one pass against non-orthogonal
      // centroids leaves residuals, iteration drives them to ~0
      for (_ <- 0 until 4) cs.foreach { c =>
        val cn = c.map(x => x * x).sum
        val proj = v.zip(c).map { case (a, b) => a * b }.sum / cn
        v = v.zip(c).map { case (a, b) => a - proj * b }
      }
      val n = math.sqrt(v.map(x => x * x).sum)
      (600000L + i, v.map(_ / n).toSeq)
    }
    import spark.implicits._
    val driftedDf = drifted.toDF("vec_id", "embedding")
    val report = Similarity.appendIvfIndex(spark, idx, driftedDf).collect()
    assert(report.nonEmpty)
    report.foreach { r =>
      assert(math.abs(r.getAs[Double]("avg_cos")) < 0.2,
        s"orthogonalized batch not orthogonal: $r")
      assert(r.getAs[Boolean]("retrain"),
        s"drifted cell not flagged for retrain: $r")
    }
  }

  test("q42 quantizer: k-means refinement beats the seed at equal probes") {
    val exact = topk(Similarity.q40(spark, sf))
    def recall(iters: Int): Double = {
      val ivf = topk(Similarity.q42(spark, sf, iters = iters))
      val rs = exact.map { case (q, ids) =>
        ivf.get(q).map(a => a.toSet.intersect(ids.toSet).size.toDouble / ids.size)
          .getOrElse(0.0)
      }
      rs.sum / rs.size
    }
    def balanceCv(iters: Int): Double = {
      val sizes = Similarity.ivfAssigned(spark, sf, iters)
        .groupBy("cell").count().collect().map(_.getAs[Long]("count"))
      val m = sizes.sum.toDouble / sizes.length
      math.sqrt(sizes.map(s => (s - m) * (s - m)).sum / sizes.length) / m
    }
    // both sides fully deterministic (decimal-summed Lloyd's, fixed
    // seeds) so strict inequalities are stable: measured 0.54 vs 0.46
    // recall and 0.147 vs 0.194 cell-size CV at sf0.001
    val (seedR, refR) = (recall(0), recall(Similarity.KMeansItersDefault))
    assert(refR > seedR, s"refined recall $refR !> seed recall $seedR")
    val (seedCv, refCv) =
      (balanceCv(0), balanceCv(Similarity.KMeansItersDefault))
    assert(refCv < seedCv, s"refined cell CV $refCv !< seed CV $seedCv")
  }
}
