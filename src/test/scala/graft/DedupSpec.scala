package graft

import graft.operators.Dedup

class DedupSpec extends SparkSpec {

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("ia", "ib").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  lazy val exact: Set[(Long, Long)] = pairs(Dedup.q31(spark, sf, 0.9))

  test("q31 exact jaccard finds the planted near-dups") {
    assert(exact.nonEmpty)
  }

  test("q32 minhash LSH recall ≥ 90% vs exact jaccard ≥0.9 pairs") {
    val cand = pairs(Dedup.q32(spark, sf, minEst = 0.5))
    val found = exact.intersect(cand)
    assert(found.size.toDouble / exact.size >= 0.9,
      s"recall ${found.size}/${exact.size}, candidates=${cand.size}")
  }

  test("q33 simhash finds near-dups and no exact-identical misses") {
    val sh = pairs(Dedup.q33(spark, sf, maxHamming = 8))
    // every 0.95+ jaccard pair should be within hamming 8
    val tight = pairs(Dedup.q31(spark, sf, 0.95))
    assert(tight.subsetOf(sh), s"missed ${tight.diff(sh)}")
  }

  test("q31 df-cap: default cap is lossless here; an aggressive cap " +
      "quantifies its recall loss") {
    // default cap (1000) cannot drop anything at this sf (max df ~25):
    // the oracle path must be bit-identical to uncapped
    val uncapped = pairs(Dedup.q31(spark, sf, 0.8, dfCap = Int.MaxValue))
    val default_ = pairs(Dedup.q31(spark, sf, 0.8))
    assert(default_ === uncapped)
    // an aggressive cap drops hot shingles — computed jaccard becomes
    // a lower bound, so the capped pair set can only shrink (never
    // emit a pair uncapped lacks), and the recall loss is quantified
    for (cap <- Seq(2, 5, 10, 20)) {
      val capped = pairs(Dedup.q31(spark, sf, 0.8, dfCap = cap))
      assert(capped.subsetOf(uncapped),
        s"cap=$cap emitted non-pairs: ${capped.diff(uncapped)}")
      val recall = capped.size.toDouble / uncapped.size
      info(f"df-cap=$cap%d recall vs uncapped: ${capped.size}/${uncapped.size} = $recall%.2f")
    }
    // at a cap that keeps this corpus's real near-dup shingles
    // (df <= 20) recall must be total
    assert(pairs(Dedup.q31(spark, sf, 0.8, dfCap = 25)) === uncapped)
  }

  test("q30 exact dedup keeps one id per content hash") {
    val df = Dedup.q30(spark, sf)
    assert(df.count() === df.select("content_hash").distinct().count())
  }

  test("q35 clusters: every q31 edge lands in one cluster, labels are minima") {
    val labels = Dedup.q35(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    val edges = pairs(Dedup.q31(spark, sf))
    assert(edges.nonEmpty)
    edges.foreach { case (a, b) =>
      assert(labels(a) === labels(b), s"edge ($a,$b) split across clusters")
    }
    // the cluster id is the smallest member of the cluster
    labels.groupBy(_._2).foreach { case (cid, members) =>
      assert(cid === members.keys.min)
    }
  }

  test("clusterLabels arms agree: driver union-find bit-equals the star rounds") {
    // at or below Graph.BroadcastEdgeMaxRows the labels come from a
    // union-find over the edge relation's LocalGraph, above it from
    // the distributed star rounds — pin bit-equality (doc_id,
    // cluster_id, cluster_size) on the real near-dup graph, a planted
    // multi-component graph and a 300-node chain (299 hops: deeper
    // than any fixed propagation cap)
    val edges = Dedup.q31(spark, sf)
      .select(org.apache.spark.sql.functions.col("ia"),
        org.apache.spark.sql.functions.col("ib")).localCheckpoint()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def local(e: org.apache.spark.sql.DataFrame) =
      rows(Dedup.ccLabelsLocal(spark,
        graft.operators.Graph.sized(e, Long.MaxValue).local.get))
    assert(local(edges) === rows(Dedup.ccLabelsStar(edges)))
    import spark.implicits._
    val planted = Seq((7L, 3L), (3L, 9L), (12L, 15L), (20L, 21L),
      (21L, 22L), (22L, 20L)).toDF("ia", "ib").localCheckpoint()
    assert(local(planted) === rows(Dedup.ccLabelsStar(planted)))
    val chain = spark.range(299).selectExpr("id AS ia", "id + 1 AS ib")
      .localCheckpoint()
    val chainRows = rows(Dedup.ccLabelsStar(chain))
    assert(chainRows === local(chain))
    assert(chainRows === (0L to 299L).map(n => (n, 0L, 300L)).toSet)
  }

  test("large-star/small-star CC matches q35's labels and conquers a deep chain in log rounds") {
    // identical labels on the real near-dup graph
    val edges = Dedup.q31(spark, sf)
      .select(org.apache.spark.sql.functions.col("ia"),
        org.apache.spark.sql.functions.col("ib"))
    val star = Dedup.ccLargeSmallStar(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val prop = Dedup.q35(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(star === prop)
    // a 300-node chain has diameter 299: min-label propagation would
    // need 299 rounds; star rounds are logarithmic
    val chain = spark.range(299).selectExpr("id AS x", "id + 1 AS y")
    val (lab, rounds) = Dedup.ccStarWithRounds(chain)
    assert(rounds <= 15, s"expected O(log n) rounds, took $rounds")
    val labs = lab.collect()
    assert(labs.length === 300)
    assert(labs.forall(_.getLong(1) === 0L), "chain must collapse to component 0")
  }

  test("q34 LSH scale path: subset of exact, high recall on high-cosine pairs") {
    def cpairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("ia", "ib").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // this corpus's planted near-dups sit at cosine 0.42-0.48 (hard
    // LSH regime: p_bit ≈ 0.66) — operate at 4 bits × 8 tables, the
    // point where expected recall ≈ 1-(1-0.66⁴)⁸ ≈ 0.81. The 8×8
    // default targets the ≥0.9-cosine near-dup regime of real
    // embedding dedup.
    val exactP = cpairs(Dedup.q34Exact(spark, sf, 0.42))
    assert(exactP.nonEmpty)
    val lshP = cpairs(Dedup.q34Lsh(spark, sf, 0.42, tables = 8, bits = 4))
    // candidates go through the same exact-cosine filter, so LSH can
    // only miss, never invent
    assert(lshP.subsetOf(exactP), s"invented: ${lshP.diff(exactP)}")
    val recall = lshP.size.toDouble / exactP.size
    info(f"q34 LSH recall vs exact at cosine>=0.42: ${lshP.size}/${exactP.size} = $recall%.2f")
    assert(recall >= 0.7, f"recall $recall%.2f below 0.7")
  }

  test("q34 dispatch: wall-budget-derived limit — pairs term at thin dims, memory term at fat") {
    // n²/2 ≤ 30 s × 10⁸ pairs/s ⇒ ≈ 77k at dims where memory is slack
    assert(Dedup.exactPairsLimitFor(64) ===
      math.sqrt(2.0 * Dedup.ExactWallBudgetSec * Dedup.ExactPairsPerSec).toLong)
    assert(Dedup.exactPairsLimitFor(64) > 70000L)
    // fat embeddings hit the broadcast cap first: 256 MB / (1024·8 B)
    assert(Dedup.exactPairsLimitFor(1024) ===
      Dedup.ExactBroadcastBudgetBytes / (1024L * 8L))
    assert(Dedup.exactPairsLimitFor(1024) < Dedup.exactPairsLimitFor(64))
    // the library API dispatches this corpus (500 × dims 64) EXACT —
    // identical pairs to the oracle twin
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("ia", "ib").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(Dedup.q34(spark, sf)) === pairs(Dedup.q34Exact(spark, sf)))
  }

  test("q34 blocked exact kernel is bit-equal to the declarative SQL join twin") {
    val kernel = Dedup.q34Exact(spark, sf, 0.3).collect()
    val join = Dedup.q34ExactJoin(spark, sf, 0.3).collect()
    assert(kernel.nonEmpty)
    assert(kernel.length === join.length)
    kernel.zip(join).foreach { case (a, b) =>
      assert(a.getLong(0) === b.getLong(0))
      assert(a.getLong(1) === b.getLong(1))
      assert(java.lang.Double.doubleToRawLongBits(a.getDouble(2)) ===
        java.lang.Double.doubleToRawLongBits(b.getDouble(2)),
        s"cosine bits differ at (${a.getLong(0)},${a.getLong(1)})")
    }
  }

  test("q34 LSH granularity derives from corpus size: bucket bound holds, table count holds the recall target") {
    // oracle-scale corpora stay on the proven floor config, and the
    // derivation at 8 bits reproduces the historical 8-table setting
    assert(Dedup.lshBitsFor(500) === 8)
    assert(Dedup.lshBitsFor(20000) === 8)
    assert(Dedup.lshTablesFor(8) === 8)
    // at 10⁷ vectors buckets would hold ~40k rows at fixed 8 bits
    // (quadratic verify); derived bits keep them ≤ the target
    val bits7 = Dedup.lshBitsFor(10L * 1000 * 1000)
    assert(bits7 === 16)
    assert(1e7 / math.pow(2, bits7) <= Dedup.LshTargetBucketRows)
    val p = 1.0 - math.acos(Dedup.LshRefCos) / math.Pi
    val t7 = Dedup.lshTablesFor(bits7)
    val recall7 = 1.0 - math.pow(1.0 - math.pow(p, bits7), t7)
    assert(recall7 >= Dedup.LshTargetRecall,
      f"derived $t7 tables at $bits7 bits give clone-regime recall $recall7%.3f")
    // bucket bound holds across the derivation range (until the bits
    // cap intentionally trades bucket size for replication cost)
    for (n <- Seq(100000L, 1000000L, 100000000L)) {
      val b = Dedup.lshBitsFor(n)
      assert(b >= Dedup.LshMinBits && b <= Dedup.LshMaxBits)
      if (b < Dedup.LshMaxBits)
        assert(n.toDouble / math.pow(2, b) <= Dedup.LshTargetBucketRows,
          s"bucket bound broken at n=$n, bits=$b")
    }
  }

  /** Plant a borderline/clone-regime recall corpus: pairs at a
    * controlled cosine (b = cosθ·u + sinθ·w, w ⊥ u) — `nPairs` at
    * 0.45 (borderline, just above τ=0.42) and `nPairs` at 0.95 (the
    * clone regime the operator exists for). Deterministic seed;
    * returns (dir, borderline pairs, clone pairs).
    */
  private def plantRecallCorpus(): (String, Seq[(Long, Long)], Seq[(Long, Long)]) = {
    import spark.implicits._
    val rnd = new scala.util.Random(20260814L)
    val dims = 64
    def unit(): Array[Double] = {
      val v = Array.fill(dims)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    def partner(u: Array[Double], cos: Double): Array[Double] = {
      val r = unit()
      val d = (0 until dims).map(i => r(i) * u(i)).sum
      val w0 = (0 until dims).map(i => r(i) - d * u(i)).toArray
      val wn = math.sqrt(w0.map(x => x * x).sum)
      val sin = math.sqrt(1 - cos * cos)
      (0 until dims).map(i => cos * u(i) + sin * w0(i) / wn).toArray
    }
    val nPairs = 200
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Float], Int)]
    val borderIds = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val cloneIds = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var id = 0L
    for (i <- 0 until nPairs) {
      val u = unit(); val b = partner(u, 0.45)
      rows += ((id, u.map(_.toFloat).toSeq, 0)); rows += ((id + 1, b.map(_.toFloat).toSeq, 0))
      borderIds += ((id, id + 1)); id += 2
      val u2 = unit(); val c2 = partner(u2, 0.95)
      rows += ((id, u2.map(_.toFloat).toSeq, 1)); rows += ((id + 1, c2.map(_.toFloat).toSeq, 1))
      cloneIds += ((id, id + 1)); id += 2
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_lsh_recall").toString
    rows.toSeq.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    (dir, borderIds.toSeq, cloneIds.toSeq)
  }

  test("q34 planted borderline-cosine recall: derived granularity holds the clone regime, near-τ loss quantified at both granularities") {
    val (dir, borderIds, cloneIds) = plantRecallCorpus()
    def recallOf(found: Set[(Long, Long)], planted: Seq[(Long, Long)]): Double =
      planted.count(found.contains).toDouble / planted.size
    def run(tables: Int, bits: Int): Set[(Long, Long)] =
      Dedup.q34Lsh(spark, dir, 0.42, tables = tables, bits = bits)
        .select("ia", "ib").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the historical fixed config vs the granularity a 10⁷ corpus derives
    val fixed = run(8, 8)
    val bitsBig = Dedup.lshBitsFor(10L * 1000 * 1000)
    val derived = run(Dedup.lshTablesFor(bitsBig), bitsBig)
    val cloneFixed = recallOf(fixed, cloneIds.toSeq)
    val cloneDerived = recallOf(derived, cloneIds.toSeq)
    val borderFixed = recallOf(fixed, borderIds.toSeq)
    val borderDerived = recallOf(derived, borderIds.toSeq)
    info(f"clone-regime (cos 0.95) recall: 8×8 $cloneFixed%.3f, " +
      f"${Dedup.lshTablesFor(bitsBig)}×$bitsBig $cloneDerived%.3f")
    info(f"borderline (cos 0.45 ≈ τ) recall: 8×8 $borderFixed%.3f, " +
      f"${Dedup.lshTablesFor(bitsBig)}×$bitsBig $borderDerived%.3f " +
      "— the loss the fixed config's oracle pass silently relied on")
    // the derivation's contract: clone-regime recall holds as bits
    // grow (expected 0.989 at 8×8, 0.934 at 16×31)
    assert(cloneFixed >= 0.9, f"8×8 clone recall $cloneFixed%.3f")
    assert(cloneDerived >= 0.85, f"derived clone recall $cloneDerived%.3f")
    // the quantified borderline loss: ~0.22 expected at 8×8 (the
    // analytic 1-(1-p⁸)⁸ at p=0.649), lower still at finer buckets —
    // near-τ pairs are NOT the LSH path's contract at any granularity
    assert(borderFixed >= 0.08 && borderFixed <= 0.42,
      f"8×8 borderline recall $borderFixed%.3f outside the analytic band")
    assert(borderDerived <= borderFixed + 0.05,
      f"finer granularity cannot raise borderline recall: $borderDerived%.3f vs $borderFixed%.3f")
  }

  test("q34 multi-probe LSH: borderline recall materially above single-probe, clone regime intact, still a subset of exact") {
    val (dir, borderIds, cloneIds) = plantRecallCorpus()
    def pairsOf(multiprobe: Boolean): Set[(Long, Long)] =
      Dedup.q34Lsh(spark, dir, 0.42, tables = 8, bits = 8,
        multiprobe = multiprobe)
        .select("ia", "ib").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(found: Set[(Long, Long)], planted: Seq[(Long, Long)]): Double =
      planted.count(found.contains).toDouble / planted.size
    val single = pairsOf(multiprobe = false)
    val multi = pairsOf(multiprobe = true)
    // multi-probe only ADDS collision opportunities — candidates go
    // through the same exact-cosine verify, so the pair set can only
    // grow, and stays inside the exact truth
    assert(single.subsetOf(multi),
      s"multi-probe lost pairs: ${single.diff(multi)}")
    val exact = Dedup.q34Exact(spark, dir, 0.42)
      .select("ia", "ib").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(multi.subsetOf(exact), s"invented: ${multi.diff(exact)}")
    val borderSingle = recallOf(single, borderIds)
    val borderMulti = recallOf(multi, borderIds)
    val cloneMulti = recallOf(multi, cloneIds)
    info(f"borderline (cos 0.45 ≈ τ ± 0.05) recall: single $borderSingle%.3f" +
      f" -> multi-probe $borderMulti%.3f at ${1 + Dedup.MultiProbeBits}×" +
      " emission")
    info(f"clone-regime recall under multi-probe: $cloneMulti%.3f")
    // the round-8 residual discharged: borderline recall materially
    // above the ~0.22 single-probe analytic at a bounded (1 + 4)×
    // emission factor — margin-ranked Hamming-1 flips capture most of
    // the full Hamming-1 collision mass
    assert(borderMulti >= math.max(0.35, 1.5 * borderSingle),
      f"multi-probe borderline recall $borderMulti%.3f not material over $borderSingle%.3f")
    assert(cloneMulti >= 0.9, f"clone recall sagged: $cloneMulti%.3f")
  }

  test("q34 cosine pairs are symmetric-free and above threshold") {
    val rows = Dedup.q34(spark, sf, 0.3).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("ia") < r.getAs[Long]("ib"))
      assert(r.getAs[Double]("cosine") >= 0.3)
    }
  }

  test("q39 LCS dedup is bit-equal to all-pairs brute force (winnowing guarantee)") {
    val minLen = 40
    assert(minLen >= Dedup.LcsK,
      "spec threshold must sit inside the exactness regime")
    val got = Dedup.q39(spark, sf, minLen).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // in-driver brute force over every pair — O(n²) pairs but linear
    // suffix-automaton LCS per pair keeps sf0.001 tractable
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val want = (for {
      i <- docs.indices.iterator
      j <- (i + 1) until docs.length
      l = Dedup.lcsLen(docs(i)._2, docs(j)._2)
      if l >= minLen
    } yield (docs(i)._1, docs(j)._1, l.toLong)).toSet
    assert(want.nonEmpty, "corpus has no long-common-substring pairs")
    assert(got === want,
      s"missed: ${want.diff(got).take(3)}; spurious: ${got.diff(want).take(3)}")
  }

  test("q39 hub doc: verify group salts across ≥8 sub-groups, result still exact") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val minLen = 40
    // 40-char blocks with no cross-block common substring ≥ LcsK:
    // md5 hex (32) + zero-padded index (8)
    def hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def block(i: Int): String = hex(s"blk$i") + f"$i%08d"
    // hub doc 0 concatenates every block; partner i carries exactly
    // block(i-1) — so the hub has nPartners candidate partners and
    // each true pair has LCS exactly 40 (space/hex boundaries block
    // extension on both sides)
    val nPartners = 2100 // ceil(2100/256) = 9 salt sub-groups
    val hub = (0 until nPartners).map(block).mkString
    val partners = (1 to nPartners).map { i =>
      (i.toLong, s"partner $i ${block(i - 1)} ${hex(s"tail$i")}")
    }
    val docs = ((0L, hub) +: partners).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft_q39hub").toString
    docs.write.parquet(s"$tmp/documents.parquet")
    // unsalted, all 2100 partners would land in ONE verify task; the
    // salted key must spread them near-uniformly across ≥8 sub-groups
    val bySalt = Dedup.lcsCandidates(spark, tmp, minLen, Dedup.DefaultDfCap)
      .filter(col("ia") === 0L).groupBy("salt").count().collect()
    assert(bySalt.length >= 8, s"hub spread only ${bySalt.length} groups")
    assert(bySalt.map(_.getLong(1)).max <= 2L * Dedup.LcsVerifyChunk,
      "a salted sub-group still exceeds twice the chunk size")
    // salting must not change the answer: exactly the planted pairs
    val got = Dedup.q39(spark, tmp, minLen).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = (1 to nPartners).map(i => (0L, i.toLong, 40L)).toSet
    assert(got === want,
      s"missed: ${want.diff(got).take(3)}; spurious: ${got.diff(want).take(3)}")
  }

  test("q73 FastSS fuzzy match is bit-equal to an all-pairs levenshtein brute force") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // planted: substitution pair, indel pair, an exact-duplicate row,
    // and an unrelated name
    val docs = Seq("abcd", "abed", "abc", "zzzz", "abcd")
      .toDF("c_name")
    val tmp = java.nio.file.Files.createTempDirectory("graft_q73").toString
    docs.write.parquet(s"$tmp/customer.parquet")
    val planted = Dedup.q73(spark, tmp).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    // ("abc","abcd") indel, ("abc","abed")? dist 2 — no.
    assert(planted === Set(("abc", "abcd"), ("abcd", "abed")))
    // spec-local DP levenshtein — independent of both engines
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1)(i => i)
      for (j <- 1 to b.length) {
        var prev = d(0); d(0) = j
        for (i <- 1 to a.length) {
          val t = d(i)
          d(i) = math.min(math.min(d(i) + 1, d(i - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = t
        }
      }
      d(a.length)
    }
    val names = Tables(spark, sf, "customer")
      .select(col("c_name")).distinct().collect().map(_.getString(0)).sorted
    val want = (for {
      i <- names.indices; j <- (i + 1) until names.length
      if lev(names(i), names(j)) == 1
    } yield (names(i), names(j))).toSet
    val got = Dedup.q73(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(want.nonEmpty, "corpus has no distance-1 name pairs to find")
    assert(got === want, "FastSS candidates missed or invented pairs")
  }

  test("q76 distance-2 FastSS: planted pairs, brute-force equality, " +
      "neighborhood-count math, string-free amplified shuffles") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1)(i => i)
      for (j <- 1 to b.length) {
        var prev = d(0); d(0) = j
        for (i <- 1 to a.length) {
          val t = d(i)
          d(i) = math.min(math.min(d(i) + 1, d(i - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = t
        }
      }
      d(a.length)
    }
    // planted: double-substitution pair, delete+insert pair, unrelated
    val docs = Seq("abcdef", "axcdey", "bcdefg", "zzzzzz").toDF("c_name")
    val tmp = java.nio.file.Files.createTempDirectory("graft_q76").toString
    docs.write.parquet(s"$tmp/customer.parquet")
    val planted = Dedup.q76(spark, tmp).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(planted === Set(("abcdef", "axcdey", 2L), ("abcdef", "bcdefg", 2L)))
    // neighborhood-count math: an all-distinct-chars name of length m
    // has exactly 1 + m + C(m,2) variants at depth ≤ 2; repeated
    // chars can only dedup below that bound
    val m = "abcdef".length
    assert(Dedup.deletionVariants("abcdef", 2).size === 1 + m + m * (m - 1) / 2)
    assert(Dedup.deletionVariants("aab", 2).size < 1 + 3 + 3)
    // the string-free generator is the annotated one with the variant
    // reduced to a hash: same scripts in the same order, and hash
    // equality ⟺ variant-string equality across a mixed sample
    // (runs, unicode, short strings) — the witness-bucket key may be
    // any consistent hash, but it must not split a shared variant
    val sample = Seq("abcdef", "aab", "aaaaaa", "ab", "a", "",
      "Customer#000000042", "Customer#000000123", "naïve–café",
      "ααβγ", "abcdeg", "xabcdef")
    val byString = sample.flatMap(n =>
      Dedup.annotatedVariants(n, 2).map { case (v, meta) => (n, meta) -> v })
    val byHash = sample.flatMap { n =>
      val vs = Seq.newBuilder[((String, Long), Long)]
      Dedup.variantHashes(n, 2)((h, meta) => vs += ((n, meta) -> h))
      vs.result()
    }
    assert(byString.map(_._1) === byHash.map(_._1),
      "generators disagree on (name, script) enumeration")
    val v2h = byString.map(_._2).zip(byHash.map(_._2))
    v2h.combinations(2).foreach { case Seq((v1, h1), (v2, h2)) =>
      assert((v1 == v2) === (h1 == h2),
        s"hash/string equality mismatch: '$v1' vs '$v2'")
    }
    // brute force at this sf: every distinct-name pair within lev ≤ 2
    val names = Tables(spark, sf, "customer")
      .select(col("c_name")).distinct().collect().map(_.getString(0)).sorted
    val want = (for {
      i <- names.indices; j <- (i + 1) until names.length
      d = lev(names(i), names(j)) if d >= 1 && d <= 2
    } yield (names(i), names(j), d.toLong)).toSet
    val got = Dedup.q76(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(want.nonEmpty, "corpus has no distance-≤2 name pairs to find")
    assert(got === want, s"missed: ${want.diff(got).take(3)}; " +
      s"spurious: ${got.diff(want).take(3)}")
    // the amplified relations (variants → inverted index → pair dedup)
    // must shuffle ONLY 8-byte keys/ids — name strings move once in
    // the name-dim exchanges below the variant flatMap, never per
    // variant (AQE off so the raw exchanges are inspectable)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = Dedup.fuzzyCandidates(spark, sf, 2, 1000)
        .queryExecution.executedPlan
      val amplified = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.child.find {
            case _: org.apache.spark.sql.execution.SerializeFromObjectExec => true
            case _ => false
          }.isDefined => e
      }
      assert(amplified.nonEmpty, "no exchange above the variant flatMap")
      amplified.foreach { e =>
        assert(!e.output.exists(_.dataType ==
          org.apache.spark.sql.types.StringType),
          s"variant-amplified exchange carries strings: ${e.output}")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("fuzzy-match df-cap: default is lossless here; aggressive caps " +
      "quantify recall loss and never invent pairs") {
    def fpairs(df: org.apache.spark.sql.DataFrame): Set[(String, String)] =
      df.collect().map(r => (r.getString(0), r.getString(1))).toSet
    // a deletion variant shared by > cap names is tombstoned map-side:
    // pairs meeting ONLY at hot variants are lost. Quantify it.
    val uncapped = fpairs(Dedup.q76(spark, sf, dfCap = Int.MaxValue))
    assert(fpairs(Dedup.q76(spark, sf)) === uncapped,
      "default cap must be lossless on this corpus")
    for (cap <- Seq(2, 5, 20)) {
      val capped = fpairs(Dedup.q76(spark, sf, dfCap = cap))
      assert(capped.subsetOf(uncapped),
        s"cap=$cap invented pairs: ${capped.diff(uncapped).take(3)}")
      info(f"df-cap=$cap%d recall vs uncapped: " +
        f"${capped.size}/${uncapped.size} = ${capped.size.toDouble / uncapped.size}%.2f")
    }
  }

  test("fuzzy-match arms agree: the driver arm and budget 0's distributed arm give equal " +
      "rows for q73 and q76, at sf and on a planted set, at every cap") {
    import spark.implicits._
    // planted: exact duplicate rows, names of length 0 and 1, a null
    // name (both arms skip it, as the oracle's levenshtein does), a
    // dense one-letter-apart cluster that small caps tombstone, and
    // "Ａb" / "😀b", whose UTF-16 order (U+D83D < U+FF21) is the
    // reverse of their UTF-8 byte order (0xEF < 0xF0)
    val names = Seq("", "", "a", "b", "ab", "abc", "abc", "abd", "abcd", "abed",
      "aaaa", "aaab", "aaba", "abaa", "baaa", "aabb", "bbaa", "xb",
      "\uFF21b", "\uD83D\uDE00b", "zzzzzz", null)
    val planted = java.nio.file.Files.createTempDirectory("graft_fuzzy_arms").toString
    names.toDF("c_name").write.parquet(s"$planted/customer.parquet")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(String, String, Long)] =
      df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    for {
      dir <- Seq(sf, planted)
      cap <- Seq(2, 5, 20, Dedup.DefaultDfCap, Int.MaxValue)
      (q, run) <- Seq[(String, (Int, Long) => org.apache.spark.sql.DataFrame)](
        "q73" -> ((c, b) => Dedup.q73(spark, dir, c, b)),
        "q76" -> ((c, b) => Dedup.q76(spark, dir, c, b)))
    } {
      val driver = rows(run(cap, Dedup.FuzzyLocalMaxBytes))
      val distributed = rows(run(cap, 0L))
      assert(driver === distributed, s"$q at cap $cap on $dir: arms disagree")
    }
    assert("\uD83D\uDE00b".compareTo("\uFF21b") < 0, "the planted pair no longer splits the orders")
    val q76 = rows(Dedup.q76(spark, planted))
    assert(q76.contains(("\uFF21b", "\uD83D\uDE00b", 2L)),
      s"name_a/name_b must follow Spark's binary order: $q76")
    assert(q76.contains(("", "a", 1L)) && q76.contains(("", "ab", 2L)), q76)
  }

  test("fuzzy-match dispatch: just above the byte budget the plan holds the variant exchange; " +
      "at or below it, no exchange at all") {
    import org.apache.spark.sql.execution.SerializeFromObjectExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val w = Dedup.fuzzyLocal(spark, sf, 2, Dedup.DefaultDfCap, Long.MaxValue).get.bytes
    def exchanges(budget: Long) = {
      val plan = Dedup.q76(spark, sf, localMaxBytes = budget).queryExecution.executedPlan
      val all = plan.collect { case e: ShuffleExchangeExec => e }
      (all.size, all.count(_.child.find(_.isInstanceOf[SerializeFromObjectExec]).isDefined))
    }
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      assert(exchanges(w) === ((0, 0)), s"at the working set ($w B) the driver arm must run")
      assert(exchanges(w + 1) === ((0, 0)))
      val (_, variant) = exchanges(w - 1)
      assert(variant >= 1, s"one byte under the working set ($w B) the variant exchange must run")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q99 SemDeDup verdicts equal a driver-side greedy recomputation per cell") {
    import org.apache.spark.sql.functions._
    val got = Dedup.q99(spark, sf).collect()
    assert(got.nonEmpty)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val vecs = Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    got.groupBy(_.getAs[Int]("cell")).foreach { case (cell, ms) =>
      // same total order q99 uses; ccos values come from q99's own
      // output, so the orders are identical by construction
      val order = ms.sortBy(r =>
        (-r.getAs[Double]("centroid_cos"), r.getAs[Long]("vec_id")))
      val kept = scala.collection.mutable.ArrayBuffer.empty[Long]
      order.foreach { r =>
        val id = r.getAs[Long]("vec_id")
        kept.find(k => cos(vecs(id), vecs(k)) > Dedup.SemTau) match {
          case Some(k) =>
            assert(r.getAs[String]("verdict") === "dropped",
              s"cell $cell vec $id should drop against $k")
            assert(r.getAs[Long]("dup_of") === k,
              s"cell $cell vec $id names the wrong duplicate")
          case None =>
            assert(r.getAs[String]("verdict") === "kept")
            assert(r.isNullAt(r.fieldIndex("dup_of")))
            kept += id
        }
      }
      // the kept set is a τ-independent set: a pair over τ would have
      // made the later member drop against the earlier one
      kept.toSeq.combinations(2).foreach { case Seq(a, b) =>
        assert(cos(vecs(a), vecs(b)) <= Dedup.SemTau,
          s"kept pair ($a,$b) in cell $cell exceeds tau")
      }
    }
  }

  test("q99 SemDeDup drops planted exact clones") {
    import spark.implicits._
    // 24 deterministic 4-d vectors: three jittered direction groups,
    // one orthogonal singleton, and an EXACT clone pair (5, 22)
    def jitter(i: Int): Float = 0.05f * ((i % 7) - 3)
    val vecs: Seq[(Long, Seq[Float], Int)] = (0 until 24).map { i =>
      val base: Seq[Float] =
        if (i == 22) Seq(1f, jitter(5), 0f, 0f) // clone of id 5
        else if (i < 8) Seq(1f, jitter(i), 0f, 0f)
        else if (i < 16) Seq(0f, 1f, jitter(i), 0f)
        else if (i < 22) Seq(jitter(i), 0f, 1f, 0f)
        else Seq(0f, 0f, 0f, 1f)
      (i.toLong, base, i / 8)
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft_q99").toString
    vecs.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$tmp/embeddings.parquet")
    val rows = Dedup.q99(spark, tmp).collect()
    assert(rows.length === 24)
    val byId = rows.map(r => r.getAs[Long]("vec_id") -> r).toMap
    val cloneVerdicts = Seq(5L, 22L).map(byId(_).getAs[String]("verdict"))
    assert(cloneVerdicts.count(_ == "kept") <= 1,
      "both exact clones survived")
    assert(cloneVerdicts.contains("dropped"))
    // every drop names a kept member of the same cell
    val keptIds = rows.filter(_.getAs[String]("verdict") == "kept")
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell")).toMap
    rows.filter(_.getAs[String]("verdict") == "dropped").foreach { r =>
      val of = r.getAs[Long]("dup_of")
      assert(keptIds.get(of) === Some(r.getAs[Int]("cell")),
        s"vec ${r.getAs[Long]("vec_id")} dup_of $of not kept in-cell")
    }
  }

  test("incremental SemDeDup: batch judged only against standing kept members, " +
      "clones drop, verdicts equal a driver recomputation") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    val idx = java.nio.file.Files.createTempDirectory("graft_semidx").toString + "/ivf"
    Similarity.buildIvfIndex(spark, sf, idx)
    // standing state: the kept set of a full q99 run over the corpus
    val full = Dedup.q99(spark, sf)
    val keptIds = full.filter(col("verdict") === "kept").select("vec_id")
    val standing = Similarity.ivfAssigned(spark, sf)
      .join(keptIds, "vec_id")
      .select(col("vec_id"), col("cell"), col("v"), col("nrm"))
    // new batch: exact clones of 5 kept vectors (id + 100000) plus 5
    // clones of previously-dropped vectors (id + 200000) — every one
    // is within tau of some standing kept member, so all must drop
    val emb = Tables(spark, sf, "embeddings")
    val keptSample = keptIds.orderBy(col("vec_id")).limit(5)
      .collect().map(_.getLong(0))
    val dropSample = full.filter(col("verdict") === "dropped")
      .orderBy(col("vec_id")).limit(5).collect().map(_.getAs[Long]("vec_id"))
    val batch = emb.filter(col("vec_id").isInCollection(keptSample))
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      .unionAll(emb.filter(col("vec_id").isInCollection(dropSample))
        .select((col("vec_id") + 200000L).as("vec_id"), col("embedding")))
    val got = Dedup.semDedupIncrement(spark, idx, standing, batch).collect()
    // only the batch is verdicted — standing history is never re-judged
    assert(got.map(_.getAs[Long]("vec_id")).toSet ===
      (keptSample.map(_ + 100000L) ++ dropSample.map(_ + 200000L)).toSet)
    val standingKeptSet = keptIds.collect().map(_.getLong(0)).toSet
    got.foreach { r =>
      assert(r.getAs[String]("verdict") === "dropped",
        s"clone ${r.getAs[Long]("vec_id")} should drop against standing kept")
      assert(standingKeptSet.contains(r.getAs[Long]("dup_of")),
        s"dup_of ${r.getAs[Long]("dup_of")} is not a standing kept member")
    }
    // driver recomputation with the same total orders and double math
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val cents = spark.read.parquet(s"$idx/_quantizer")
      .select(col("cell"), col("cv")).collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).map(_._2)
    val standLocal = standing.collect().map { r =>
      (r.getAs[Int]("cell"), r.getAs[Long]("vec_id"),
        r.getSeq[Double](r.fieldIndex("v")).toArray, r.getAs[Double]("nrm"))
    }
    val batchLocal = batch.collect().map { r =>
      val arr = r.getSeq[Float](1).map(_.toDouble).toArray
      (r.getLong(0), arr, math.sqrt(dot(arr, arr)))
    }
    val gotById = got.map(r => r.getAs[Long]("vec_id") -> r).toMap
    batchLocal.groupBy { case (id, _, _) =>
      gotById(id).getAs[Int]("cell")
    }.foreach { case (cell, members) =>
      val c = cents(cell)
      val kept = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Array[Double], Double)]
      standLocal.filter(_._1 == cell)
        .map { case (_, id, arr, nrm) => (id, arr, nrm, dot(arr, c) / nrm) }
        .sortBy { case (id, _, _, cc) => (-cc, id) }
        .foreach { case (id, arr, nrm, _) => kept += ((id, arr, nrm)) }
      members.map { case (id, arr, nrm) => (id, arr, nrm, dot(arr, c) / nrm) }
        .sortBy { case (id, _, _, cc) => (-cc, id) }
        .foreach { case (id, arr, nrm, cc) =>
          val r = gotById(id)
          assert(r.getAs[Double]("centroid_cos") === cc)
          kept.find { case (_, kv, knrm) =>
            dot(arr, kv) / (nrm * knrm) > Dedup.SemTau
          } match {
            case Some((kid, _, _)) =>
              assert(r.getAs[String]("verdict") === "dropped")
              assert(r.getAs[Long]("dup_of") === kid,
                s"vec $id names ${r.getAs[Long]("dup_of")}, expected $kid")
            case None =>
              assert(r.getAs[String]("verdict") === "kept")
              kept += ((id, arr, nrm))
          }
        }
    }
  }

  test("q39 suffix-automaton LCS agrees with the DP definition") {
    val rnd = new scala.util.Random(7)
    def dpLcs(a: String, b: String): Int = {
      var best = 0
      val dp = Array.ofDim[Int](a.length + 1, b.length + 1)
      for (i <- 1 to a.length; j <- 1 to b.length)
        if (a(i - 1) == b(j - 1)) {
          dp(i)(j) = dp(i - 1)(j - 1) + 1
          if (dp(i)(j) > best) best = dp(i)(j)
        }
      best
    }
    for (_ <- 1 to 200) {
      val a = (1 to rnd.nextInt(60)).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
      val b = (1 to rnd.nextInt(60)).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
      assert(Dedup.lcsLen(a, b) === dpLcs(a, b), s"a=$a b=$b")
    }
  }

  test("q79: no dup cluster straddles train/val/test; singletons keep their q58 hash") {
    import org.apache.spark.sql.functions._
    val out = Dedup.q79(spark, sf)
    // the leakage property itself: one split per cluster
    val straddling = out.groupBy(col("cluster_id"))
      .agg(countDistinct(col("split")).as("n_splits"))
      .filter(col("n_splits") > 1).count()
    assert(straddling === 0L, "a cluster straddles splits")
    // every doc is assigned exactly once
    val docs = Tables(spark, sf, "documents").count()
    assert(out.count() === docs)
    assert(out.select(col("doc_id")).distinct().count() === docs)
    // real clusters exist at this SF and share their rep's bucket
    val clustered = out.filter(col("cluster_id") =!= col("doc_id")).count()
    assert(clustered > 0L, "expected non-trivial clusters in the corpus")
  }

  test("ccIncrement: labels after a batch increment equal the full recompute, at batch cost") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // standing graph: {1,2,3}, {5,6}, {10,11,12} plus isolated 8
    val standingEdges = Seq((1L, 2L), (2L, 3L), (5L, 6L), (10L, 11L),
      (11L, 12L)).toDF("a", "b")
    val standing = Dedup.ccLargeSmallStar(standingEdges)
      .toDF("doc_id", "cluster_id")
      .unionAll(Seq((8L, 8L)).toDF("doc_id", "cluster_id"))
      .localCheckpoint()
    // batch: 20 bridges components 1 and 5; 21 isolated; 22–23 pair
    // only with each other; 24 attaches to standing 10's component
    val newDocs = Seq(20L, 21L, 22L, 23L, 24L).toDF("doc_id")
    val batchPairs = Seq((20L, 3L), (20L, 6L), (22L, 23L), (24L, 12L))
      .toDF("a", "b")
    val got = Dedup.ccIncrement(standing, newDocs, batchPairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // full recompute over corpus ∪ batch (isolated nodes appended)
    val full = Dedup.ccLargeSmallStar(
      standingEdges.unionAll(batchPairs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ++
      Map(8L -> 8L, 21L -> 21L)
    assert(got === full)
    // the planted merges actually happened
    assert(got(5L) === 1L && got(6L) === 1L && got(20L) === 1L)
    assert(got(22L) === 22L && got(23L) === 22L)
    assert(got(24L) === 10L)
    assert(got(8L) === 8L && got(21L) === 21L)
    // batch-sized cost: the output plan never shuffle-joins the
    // standing relation — every attach is a broadcast
    val plan = Dedup.ccIncrement(standing, newDocs, batchPairs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"),
      s"standing relation was shuffle-joined:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("imperative minhash band keys are bit-equal to the SQL band-key relation") {
    // the streaming near-dup twin relies on the per-row imperative
    // pipeline producing EXACTLY the batch SQL's band keys — same
    // shingles, permutation family, bucket fold, (bucket, band) key
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    val sqlKeys = Dedup.bandKeyRelation(spark, dir)
      .select(col("doc_id"), col("band"), col("key"))
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq).toMap
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    assert(docs.nonEmpty)
    var checked = 0
    docs.foreach { case (id, text) =>
      val imp = Dedup.minhashBandKeysOf(text).toSeq
      sqlKeys.get(id) match {
        case Some(exp) =>
          assert(imp === exp, s"doc $id band keys diverge")
          checked += 1
        case None => // < 3 tokens: batch relation has no row
          assert(imp.isEmpty, s"doc $id imperative keys but no SQL row")
      }
    }
    assert(checked > 100, s"only $checked docs cross-checked")
  }
}
