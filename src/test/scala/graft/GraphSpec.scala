package graft

import org.apache.spark.sql.functions._

import graft.operators.Graph

/** q121 PageRank: driver brute-force bit-equality on the real graph,
  * determinism across parallelism, and the structural sanity a
  * centrality score must have (mass bounds, hub ordering).
  */
class GraphSpec extends SparkSpec {

  /** The exact integer update q121 contracts, recomputed imperatively
    * in the driver — an independent yardstick (per-node loop over an
    * adjacency map, no SQL, no Spark).
    */
  private def brutePr(edges: Seq[(Long, Long, Long)], iters: Int)
      : Map[Long, Long] = {
    val out = edges.groupBy(_._1)
    val deg = out.map { case (s, es) => s -> es.map(_._3).sum }
    var pr: Map[Long, Long] = deg.keys.map(_ -> Graph.PrScale).toMap
    val base = 15L * Graph.PrScale / 100L
    for (_ <- 1 to iters) {
      val inflow = scala.collection.mutable.Map[Long, Long]()
        .withDefaultValue(0L)
      for ((src, dst, w) <- edges) {
        val q = (85L * pr(src)) / (100L * deg(src))
        inflow(dst) += w * q
      }
      pr = deg.keys.map(n => n -> (base + inflow(n))).toMap
    }
    pr
  }

  private def edgesOf(dir: String): Seq[(Long, Long, Long)] = {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_suppkey"))
    val ord = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"))
    val pairs = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
      .agg(count(lit(1)).as("w"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    pairs.flatMap { case (c, s, w) => Seq((c, s, w), (s, c, w)) }.toSeq
  }

  test("q121 bit-equals an imperative driver PageRank on the real graph") {
    val got = Graph.q121(spark, sf).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("pr")).toMap
    val want = brutePr(edgesOf(sf), iters = 5)
    assert(got.keySet == want.keySet)
    val diff = got.collect { case (n, p) if want(n) != p => n }
    assert(diff.isEmpty, s"ranks differ at nodes: ${diff.take(5)}")
  }

  test("q121/q125/q124 driver-local arm bit-equals the distributed arm") {
    // round 15: the default dispatches to a driver-local fixpoint
    // below the edge bound; localMaxEdges = 0 forces the distributed
    // rounds — outputs must be bit-identical (int64 arithmetic is
    // order-free)
    assert(Graph.q121(spark, sf).collect().map(_.toSeq).toSeq ===
      Graph.q121(spark, sf, localMaxEdges = 0L).collect().map(_.toSeq).toSeq)
    assert(Graph.q125(spark, sf).collect().map(_.toSeq).toSeq ===
      Graph.q125(spark, sf, localMaxEdges = 0L).collect().map(_.toSeq).toSeq)
    assert(Graph.q124(spark, sf).collect().map(_.toSeq).toSeq ===
      Graph.q124(spark, sf, localMaxEdges = 0L).collect().map(_.toSeq).toSeq)
  }

  test("warm graph dispatch is jobless: q121/q124/q125/q126/q129/q130 decide and compute their arm without a Spark job") {
    // the first run fills the wsym cache (edge count + LocalGraph); a
    // second BUILD of the DataFrame must read the stored count and run
    // its driver kernel with no count(), no edge collect — zero jobs
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    val queries = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "q121" -> (() => Graph.q121(spark, sf)),
      "q124" -> (() => Graph.q124(spark, sf)),
      "q125" -> (() => Graph.q125(spark, sf)),
      "q126" -> (() => Graph.q126(spark, sf)),
      "q129" -> (() => Graph.q129(spark, sf)),
      "q130" -> (() => Graph.q130(spark, sf)))
    sc.addSparkListener(listener)
    val ran = try queries.map { case (q, build) =>
      build().collect()
      org.apache.spark.graftspec.Listeners.drain(sc)
      val before = jobs.get()
      build()
      org.apache.spark.graftspec.Listeners.drain(sc)
      q -> (jobs.get() - before)
    } finally sc.removeSparkListener(listener)
    assert(ran.forall(_._2 == 0),
      s"Spark jobs run by building the warm DataFrame: ${ran.mkString(", ")}")
  }

  test("q121 is bit-identical at different parallelism") {
    val a = Graph.q121(spark, sf).collect().map(_.toSeq)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "13")
      val b = Graph.q121(spark, sf).collect().map(_.toSeq)
      assert(a.toSeq == b.toSeq)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Driver twin of q125: q121's update with seed-restricted base
    * mass and a seed-restricted initial vector.
    */
  private def brutePpr(edges: Seq[(Long, Long, Long)], iters: Int)
      : Map[Long, Long] = {
    val out = edges.groupBy(_._1)
    val deg = out.map { case (s, es) => s -> es.map(_._3).sum }
    def isSeed(n: Long) = n % 2 == 1 && ((n - 1) / 2) % 10 == 3
    val baseUnit = 15L * Graph.PrScale / 100L
    var pr: Map[Long, Long] = deg.keys
      .map(n => n -> (if (isSeed(n)) Graph.PrScale else 0L)).toMap
    for (_ <- 1 to iters) {
      val inflow = scala.collection.mutable.Map[Long, Long]()
        .withDefaultValue(0L)
      for ((src, dst, w) <- edges) {
        val q = (85L * pr(src)) / (100L * deg(src))
        inflow(dst) += w * q
      }
      pr = deg.keys.map(n =>
        n -> ((if (isSeed(n)) baseUnit else 0L) + inflow(n))).toMap
    }
    pr
  }

  test("q125 bit-equals an imperative driver PPR; mass stays seed-anchored") {
    val got = Graph.q125(spark, sf).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("pr")).toMap
    val edges = edgesOf(sf)
    val want = brutePpr(edges, iters = 5)
    assert(got.keySet == want.keySet)
    val diff = got.collect { case (n, p) if want(n) != p => n }
    assert(diff.isEmpty, s"ppr differs at nodes: ${diff.take(5)}")
    // seed-set semantics: the seed decile exists, every seed carries
    // at least its own base mass, and total mass is well under
    // q121's (teleport injects at seeds only)
    def isSeed(n: Long) = n % 2 == 1 && ((n - 1) / 2) % 10 == 3
    val seeds = got.keySet.filter(isSeed)
    assert(seeds.nonEmpty, "seed decile empty — pick a different seed rule")
    val baseUnit = 15L * Graph.PrScale / 100L
    assert(seeds.forall(s => got(s) >= baseUnit))
    val q121Mass = Graph.q121(spark, sf).collect()
      .map(_.getAs[Long]("pr")).map(BigInt(_)).sum
    assert(got.values.map(BigInt(_)).sum < q121Mass)
    // proximity, not just reachability: some non-seed node holds mass
    assert(got.exists { case (n, p) => !isSeed(n) && p > 0 })
  }

  test("q122 bit-equals an adjacency-intersection brute force on the real graph") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byOrder = li.groupBy(_._1).view.mapValues(_.map(_._2).distinct.sorted)
    val edges = byOrder.values.flatMap(ps =>
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j)))
      .toSet
    val adj = scala.collection.mutable.Map[Long, Set[Long]]()
      .withDefaultValue(Set.empty)
    for ((a, b) <- edges) { adj(a) += b; adj(b) += a }
    val want = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    for ((a, b) <- edges; c <- adj(a) intersect adj(b) if c > b) {
      // (a<b<c by id) — each triangle once, credit all three corners
      want(a) += 1; want(b) += 1; want(c) += 1
    }
    val got = Graph.q122(spark, sf).collect()
      .map(r => r.getAs[Long]("part") -> r.getAs[Long]("triangles")).toMap
    assert(got == want.toMap)
  }

  test("q122 planted graphs: K4, a triangle with a pendant, a square") {
    import spark.implicits._
    // K4 on {1,2,3,4}: every vertex is in C(3,2)=3 triangles
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("lo", "hi")
    assert(Graph.trianglesOn(k4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L)))
    // triangle {1,2,3} + pendant 4: pendant is in no triangle (absent)
    val pend = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("lo", "hi")
    assert(Graph.trianglesOn(pend).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 1L), (2L, 1L), (3L, 1L)))
    // C4 (square): triangle-free
    val c4 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("lo", "hi")
    assert(Graph.trianglesOn(c4).count() == 0)
  }

  test("q123 bit-equals a driver rule miner: counts exact, one-division doubles") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
    val nOrders = li.map(_._1).distinct.length.toLong
    val itemCnt = li.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val byOrder = li.groupBy(_._1).view.mapValues(_.map(_._2).sorted)
    val pairCnt = scala.collection.mutable.Map[(Long, Long), Long]()
      .withDefaultValue(0L)
    for (ps <- byOrder.values; i <- ps.indices; j <- i + 1 until ps.length)
      pairCnt((ps(i), ps(j))) += 1
    val want = pairCnt.iterator.filter(_._2 >= 2).flatMap {
      case ((lo, hi), c) => Seq((lo, hi, c), (hi, lo, c))
    }.map { case (a, b, c) =>
      (a, b) -> ((c, itemCnt(a), itemCnt(b),
        c.toDouble / itemCnt(a),
        (c * nOrders).toDouble / (itemCnt(a) * itemCnt(b))))
    }.toMap
    val got = Graph.q123(spark, sf).collect().map { r =>
      (r.getAs[Long]("ante"), r.getAs[Long]("cons")) ->
        ((r.getAs[Long]("pair_cnt"), r.getAs[Long]("ante_cnt"),
          r.getAs[Long]("cons_cnt"), r.getAs[Double]("confidence"),
          r.getAs[Double]("lift")))
    }.toMap
    assert(got.keySet == want.keySet)
    // bit-equality including the doubles: exactly one division each
    val bad = got.collect { case (k, v) if want(k) != v => k }
    assert(bad.isEmpty, s"rules differ at: ${bad.take(5)}")
    assert(got.nonEmpty)
  }

  test("q124 equals a driver BFS; the 12-hop oracle cap is not binding") {
    val edges = edgesOf(sf).map { case (a, b, _) => (a, b) }
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val seedNode = edges.map(_._1).filter(_ % 2 == 1).min
    // level-synchronous BFS
    var dist = Map(seedNode -> 0); var frontier = Set(seedNode); var lvl = 0
    while (frontier.nonEmpty) {
      lvl += 1
      val next = frontier.flatMap(n => adj.getOrElse(n, Set.empty))
        .diff(dist.keySet)
      dist ++= next.map(_ -> lvl)
      frontier = next
    }
    val got = Graph.q124(spark, sf).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Int]("hops")).toMap
    assert(got == dist)
    assert(got.values.max < 12, "oracle depth cap must not bind")
    assert(got.values.max >= 2, "graph must need real traversal")
  }

  test("q122 plan: closing join broadcasts below the bound, shuffles above; arms agree") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val pairs = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("lo"), col("b.pk").as("hi"))
      .distinct().localCheckpoint()
    val bcast = Graph.trianglesOn(pairs, checkpointResult = false)
    val p = bcast.queryExecution.executedPlan.toString
    // round 15: below the bound the enumeration is the adjacency-merge
    // map stage (driver-built degree/adjacency maps — the same edge
    // relation the old arm collected to build its broadcast hash
    // join), so the plan carries NO join and NO wedge stream at all
    assert(p.contains("MapPartitions"),
      s"below-bound arm should be the adjacency-merge map stage:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"below-bound arm should not join at all:\n$p")
    // force the above-bound arm on the same graph: results identical
    val shuffled = Graph.trianglesOn(pairs, localMaxEdges = 0L)
    assert(shuffled.collect().map(_.toSeq).toSet ==
      bcast.collect().map(_.toSeq).toSet)
    assert(shuffled.collect().map(_.toSeq).toSet ==
      Graph.q122(spark, sf).collect().map(_.toSeq).toSet)
    // the shuffle arm screens wedges with the edge Bloom BEFORE the
    // exchange (round 10) — the screen must sit in the plan, and the
    // broadcast arm must NOT pay for it
    val sp = Graph.trianglesOn(pairs, localMaxEdges = 0L,
      checkpointResult = false).queryExecution.executedPlan.toString
    assert(sp.contains("graft_bloom_contains_long"),
      s"shuffle arm lost its wedge Bloom screen:\n$sp")
    assert(!bcast.queryExecution.executedPlan.toString
      .contains("graft_bloom_contains_long"),
      "broadcast arm should not build a Bloom")
  }

  test("q121's partitioning-reuse mechanism: persist preserves hash partitioning") {
    // every PageRank round joins the persisted edge relation on src;
    // the whole point of repartition(src).persist() is that the
    // InMemoryRelation PRESERVES the hash partitioning (a
    // localCheckpoint does NOT — measured: the ExistingRDD scan
    // re-exchanged), so only the 16-byte ranks side exchanges per
    // round. Pin the mechanism.
    // at bench scale the ranks side auto-broadcasts (also fine); the
    // preserved partitioning is the 1e9-node path where ranks exceed
    // any broadcast budget — force that shape to pin it
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val ew = spark.range(1000)
        .select(col("id").as("src"), (col("id") * 2).as("w"))
        .repartition(col("src")).persist()
      try {
        ew.count() // materialize the cache
        val ranks = spark.range(100)
          .select(col("id").as("node"), lit(1L).as("pr"))
        val joined = ew.join(ranks, ew("src") === ranks("node"))
        val p = joined.queryExecution.executedPlan.toString
        // the plan string includes the cached relation's OWN build
        // exchange (REPARTITION_BY_COL, printed twice by AQE) — the
        // join itself must add exactly one (the ranks side)
        val exchanges = "ENSURE_REQUIREMENTS".r.findAllIn(p).length
        assert(exchanges == 1,
          s"expected ONE join-added exchange (the ranks side), got $exchanges:\n$p")
        assert(p.contains("InMemoryTableScan"), p)
      } finally ew.unpersist(blocking = false)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
  }

  test("q121 mass and shape: base floor holds; suppliers out-rank customers") {
    val rows = Graph.q121(spark, sf).collect()
    val base = 15L * Graph.PrScale / 100L
    assert(rows.forall(_.getAs[Long]("pr") >= base))
    // integer floors only ever DROP mass vs the conserved fixpoint
    val total = rows.map(_.getAs[Long]("pr")).sum
    assert(total <= rows.length * Graph.PrScale)
    // ~15 customers trade with each supplier: every supplier hub must
    // out-rank every customer in a bipartite purchase graph
    val (supp, cust) = rows.partition(_.getAs[String]("kind") == "supp")
    assert(supp.map(_.getAs[Long]("pr")).min >
      cust.map(_.getAs[Long]("pr")).max)
    // kind/key decode round-trips the node id
    assert(rows.forall { r =>
      val n = r.getAs[Long]("node")
      val k = r.getAs[Long]("key")
      if (r.getAs[String]("kind") == "cust") n == 2 * k else n == 2 * k + 1
    })
  }

  /** Driver twin of q126: the bipartite mutual-reinforcement update
    * with the int64 grid renormalization, per-pair loops over plain
    * maps — no SQL, no Spark.
    */
  private def bruteHits(pairs: Seq[(Long, Long, Long)], iters: Int)
      : (Map[Long, Long], Map[Long, Long]) = {
    def renorm(m: collection.Map[Long, Long]): Map[Long, Long] = {
      val d = math.max(1L, m.values.sum / Graph.HitsScale)
      m.map { case (k, v) => k -> v / d }.toMap
    }
    var hub: Map[Long, Long] =
      pairs.map(_._1).distinct.map(_ -> Graph.HitsScale).toMap
    var auth: Map[Long, Long] = Map.empty
    for (_ <- 1 to iters) {
      val araw = scala.collection.mutable.Map[Long, Long]()
        .withDefaultValue(0L)
      for ((c, s, w) <- pairs) araw(s) += w * hub(c)
      auth = renorm(araw)
      val hraw = scala.collection.mutable.Map[Long, Long]()
        .withDefaultValue(0L)
      for ((c, s, w) <- pairs) hraw(c) += w * auth(s)
      hub = renorm(hraw)
    }
    (hub, auth)
  }

  test("q126 bit-equals an imperative driver HITS; sides bipartite, scores bounded") {
    val rows = Graph.q126(spark, sf).collect()
    val gotHub = rows.filter(_.getString(0) == "hub")
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    val gotAuth = rows.filter(_.getString(0) == "auth")
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    val pairs = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(spark.read.parquet(s"$sf/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"), col("l_suppkey"))
      .agg(count(lit(1)).as("w"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val (hub, auth) = bruteHits(pairs, iters = 3)
    assert(gotHub == hub, "hub scores differ from the driver twin")
    assert(gotAuth == auth, "authority scores differ from the driver twin")
    // renormalization keeps every score on the documented bound
    assert(rows.forall(_.getLong(2) <= 2 * Graph.HitsScale))
    assert(rows.forall(_.getLong(2) >= 0L))
    // the sides are exactly the graph's two node sets
    assert(gotHub.keySet == pairs.map(_._1).toSet)
    assert(gotAuth.keySet == pairs.map(_._2).toSet)
  }

  test("q126 is bit-identical at different parallelism") {
    val a = Graph.q126(spark, sf).collect().map(_.toSeq)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "11")
      val b = Graph.q126(spark, sf).collect().map(_.toSeq)
      assert(a.toSeq == b.toSeq)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("q129 bit-equals a driver synchronous peel; converged at the round cap") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey"), col("l_suppkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val ordMap = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val w = scala.collection.mutable.Map[(Long, Long), Long]()
      .withDefaultValue(0L)
    li.foreach { case (ok, sk) =>
      w((ordMap(ok) * 2, sk * 2 + 1)) += 1 }
    val edges = w.toSeq.map { case ((a, b), n) => (a, b, n) }
    def peel(rounds: Int, k: Long): Map[Long, Long] = {
      var alive = edges.flatMap(e => Seq(e._1, e._2)).toSet
      def degs = {
        val d = scala.collection.mutable.Map[Long, Long]()
          .withDefaultValue(0L)
        edges.foreach { case (a, b, n) =>
          if (alive(a) && alive(b)) { d(a) += n; d(b) += n } }
        d
      }
      (1 to rounds).foreach { _ =>
        val d = degs; alive = alive.filter(d(_) >= k) }
      degs.filter { case (n, _) => alive(n) }.toMap
    }
    val want = peel(4, 60L)
    assert(want.nonEmpty)
    // the 4-round cap is not a truncation: round 5 changes nothing
    assert(peel(5, 60L) === want, "real graph not converged in 4 rounds")
    val got = Graph.q129(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
  }

  test("q129 planted cascade: a chain peels over multiple rounds into the K4 core; arms agree") {
    import spark.implicits._
    // K4 (unit weights, wdeg 3 each) with a 3-link chain hanging off
    // node 1: x-ends peel one per round — a cascade DEEPER than one
    // synchronous round, so a single-round peel is provably not enough
    val g = Seq((1L, 2L, 1L), (1L, 3L, 1L), (1L, 4L, 1L), (2L, 3L, 1L),
      (2L, 4L, 1L), (3L, 4L, 1L), (1L, 10L, 1L), (10L, 11L, 1L),
      (11L, 12L, 1L)).toDF("a", "b", "w").localCheckpoint()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val core = rows(Graph.kcoreOn(g, k = 2L, rounds = 4))
    assert(core === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // one round is not enough — the cascade is real
    assert(rows(Graph.kcoreOn(g, k = 2L, rounds = 1)).keySet
      .contains(10L))
    // driver-local (default), distributed-broadcast and
    // distributed-shuffle arms all agree
    assert(rows(Graph.kcoreOn(g, k = 2L, rounds = 4,
      localMaxEdges = 0L)) === core)
    assert(rows(Graph.kcoreOn(g, k = 2L, rounds = 4,
      broadcastMaxRows = 0L, localMaxEdges = 0L)) === core)
    // the truncated-budget partial peel matches across arms too (the
    // local loop must mirror round counting, not just the fixpoint)
    assert(rows(Graph.kcoreOn(g, k = 2L, rounds = 1)) ===
      rows(Graph.kcoreOn(g, k = 2L, rounds = 1, localMaxEdges = 0L)))
  }

  test("q129 plan: the dispatch hint alone decides the alive-set join strategy") {
    import spark.implicits._
    // the per-round wdeg join is materialized inside the peel loop
    // (round 14's hand-off refactor), so the dispatch contract is
    // pinned on the plan seam the loop executes, not on q129's final
    // (post-checkpoint) plan
    val g = Seq((1L, 2L, 5L), (2L, 3L, 5L), (1L, 3L, 5L))
      .toDF("a", "b", "w").localCheckpoint()
    val sym = g.select(col("a").as("node"), col("b").as("peer"), col("w"))
      .unionAll(g.select(col("b").as("node"), col("a").as("peer"), col("w")))
    val alive = sym.select(col("node")).distinct().localCheckpoint()
    // silence stats-based auto-broadcast so only the dispatch hint can
    // broadcast — at 100 TB the alive set has no small-stats shortcut
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val bcast = Graph.wdegPlan(sym, alive, useBroadcast = true)
        .queryExecution.executedPlan.toString
      assert(bcast.contains("BroadcastExchange"),
        s"alive set not broadcast below the bound:\n$bcast")
      val shuffled = Graph.wdegPlan(sym, alive, useBroadcast = false)
        .queryExecution.executedPlan.toString
      assert(!shuffled.contains("BroadcastExchange"),
        s"alive set broadcast above the bound:\n$shuffled")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q127 bit-equals an adjacency-intersection brute force on the real graph") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byOrder = li.groupBy(_._1).view.mapValues(_.map(_._2).distinct.sorted)
    val edges = byOrder.values.flatMap(ps =>
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j)))
      .toSet
    val adj = scala.collection.mutable.Map[Long, Set[Long]]()
      .withDefaultValue(Set.empty)
    for ((a, b) <- edges) { adj(a) += b; adj(b) += a }
    val want = edges.map { case (a, b) =>
      val common = (adj(a) intersect adj(b)).size.toLong
      val union = adj(a).size + adj(b).size - common
      (a, b) -> (adj(a).size.toLong, adj(b).size.toLong, common, union,
        common * 1000000L / union)
    }.toMap
    val got = Graph.q127(spark, sf).collect().map(r =>
      (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6))).toMap
    assert(got == want)
    // cross-consistency with q122: each triangle supports three edges
    val triTotal = Graph.q122(spark, sf).collect()
      .map(_.getLong(1)).sum / 3 // corner credits → triangle count
    assert(got.values.map(_._3).sum === 3 * triTotal)
  }

  test("q127 planted graphs: K4, triangle with pendant, square; arms agree") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6))).toMap
    // K4: every edge has the two remaining vertices in common;
    // union = 3 + 3 − 2 = 4 → jaccard 0.5 exactly
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("lo", "hi")
    assert(rows(Graph.edgeJaccardOn(k4)).forall {
      case (_, stats) => stats == ((3L, 3L, 2L, 4L, 500000L)) })
    // triangle {1,2,3} + pendant edge (3,4): triangle edges share one
    // neighbor (union 3 → 333333); the bridge shares none (scores 0)
    val pend = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("lo", "hi")
    val pendGot = rows(Graph.edgeJaccardOn(pend))
    assert(pendGot((1L, 2L)) === ((2L, 2L, 1L, 3L, 333333L)))
    assert(pendGot((3L, 4L)) === ((3L, 1L, 0L, 4L, 0L)))
    // C4: triangle-free — every edge survives with zero support
    val c4 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("lo", "hi")
    assert(rows(Graph.edgeJaccardOn(c4)).values.forall(_._3 == 0L)
      && Graph.edgeJaccardOn(c4).count() === 4L)
    // broadcast and shuffled wedge-closing arms are byte-identical on
    // a planted pseudo-random graph
    val rnd = (0 until 400).map { i =>
      val a = (i * 37 + 11) % 60; val b = (i * i * 13 + 7) % 60
      (math.min(a, b).toLong, math.max(a, b).toLong)
    }.filter(e => e._1 != e._2).distinct.toDF("lo", "hi")
      .localCheckpoint()
    assert(rows(Graph.edgeJaccardOn(rnd)) ===
      rows(Graph.edgeJaccardOn(rnd, localMaxEdges = 0L)))
  }

  test("q130 bit-equals a driver nested-ladder peel; every rung converged") {
    // independent yardstick: imperative nested peeling over the same
    // weighted graph, each rung from the previous rung's survivors
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey"), col("l_suppkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val ordMap = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val w = scala.collection.mutable.Map[(Long, Long), Long]()
      .withDefaultValue(0L)
    li.foreach { case (ok, sk) => w((ordMap(ok) * 2, sk * 2 + 1)) += 1 }
    val edges = w.toSeq.map { case ((a, b), n) => (a, b, n) }
    def peelFrom(start: Set[Long], k: Long, rounds: Int): Set[Long] = {
      var alive = start
      (1 to rounds).foreach { _ =>
        val d = scala.collection.mutable.Map[Long, Long]()
          .withDefaultValue(0L)
        edges.foreach { case (a, b, n) =>
          if (alive(a) && alive(b)) { d(a) += n; d(b) += n } }
        alive = alive.filter(d(_) >= k)
      }
      alive
    }
    val all = edges.flatMap(e => Seq(e._1, e._2)).toSet
    var alive = all
    val want = scala.collection.mutable.Map[Long, Long]()
    all.foreach(n => want(n) = 0L)
    Graph.CorenessLadder.foreach { k =>
      val next = peelFrom(alive, k, Graph.CorenessRounds)
      // the round budget is not a truncation at ANY rung
      assert(peelFrom(alive, k, Graph.CorenessRounds + 1) === next,
        s"rung k=$k not converged in ${Graph.CorenessRounds} rounds")
      next.foreach(n => want(n) = k)
      alive = next
    }
    val got = Graph.q130(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want.toMap)
    // the ladder discriminates on the real graph: at least three
    // distinct levels are populated (0 always is; 120 empties)
    assert(got.values.toSet.size >= 3)
  }

  test("q130 planted ladder: nested monotone levels; arms agree; strict cap throws") {
    import spark.implicits._
    // K4 (unit weights) + a 3-link chain: chain peels at k=2, K4
    // survives k=2 and k=3, nothing survives k=4
    val g = Seq((1L, 2L, 1L), (1L, 3L, 1L), (1L, 4L, 1L), (2L, 3L, 1L),
      (2L, 4L, 1L), (3L, 4L, 1L), (1L, 10L, 1L), (10L, 11L, 1L),
      (11L, 12L, 1L)).toDF("a", "b", "w").localCheckpoint()
    def levels(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = levels(Graph.coreLevelsOn(g, Seq(2L, 3L, 4L), rounds = 4))
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L,
      10L -> 0L, 11L -> 0L, 12L -> 0L))
    // driver-local (default), distributed-broadcast and
    // distributed-shuffle arms all agree
    assert(levels(Graph.coreLevelsOn(g, Seq(2L, 3L, 4L), rounds = 4,
      localMaxEdges = 0L)) === got)
    assert(levels(Graph.coreLevelsOn(g, Seq(2L, 3L, 4L), rounds = 4,
      broadcastMaxRows = 0L, localMaxEdges = 0L)) === got)
    // strict + a budget too small for the 3-deep cascade must be LOUD
    // (the r11 advice: silent non-convergence returns sub-k nodes the
    // oracle twin cannot catch) — on BOTH arms
    val e = intercept[IllegalStateException] {
      Graph.kcoreOn(g, k = 2L, rounds = 1, strict = true).collect()
    }
    assert(e.getMessage.contains("not converged"))
    val eD = intercept[IllegalStateException] {
      Graph.kcoreOn(g, k = 2L, rounds = 1, strict = true,
        localMaxEdges = 0L).collect()
    }
    assert(eD.getMessage.contains("not converged"))
    // non-strict truncated budgets stay available to cascade specs
    assert(Graph.kcoreOn(g, k = 2L, rounds = 1).collect().nonEmpty)
  }

  test("q122/q127 session tri-cache: cached results bit-equal the uncached enumeration") {
    // the cached entries aggregate from one shared materialized
    // triangle relation; the *On twins enumerate fresh — results must
    // be byte-identical (determinism is what makes the cache legal)
    val sfDir = sf
    val pairs = {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("lo"), col("b.pk").as("hi"))
        .distinct().localCheckpoint()
    }
    val tri1 = Graph.q122(spark, sfDir).collect().map(_.toSeq)
    val tri2 = Graph.q122(spark, sfDir).collect().map(_.toSeq) // warm hit
    val triRef = Graph.trianglesOn(pairs).collect().map(_.toSeq)
    assert(tri1.toSeq === triRef.toSeq)
    assert(tri2.toSeq === triRef.toSeq)
    val ej1 = Graph.q127(spark, sfDir).collect().map(_.toSeq)
    val ejRef = Graph.edgeJaccardOn(pairs).collect().map(_.toSeq)
    assert(ej1.toSeq === ejRef.toSeq)
  }

  test("q127 result-pin dispatch: parquet-temp arm bit-equals the localCheckpoint arm") {
    import spark.implicits._
    val rnd = (0 until 400).map { i =>
      val a = (i * 37 + 11) % 60; val b = (i * i * 13 + 7) % 60
      (math.min(a, b).toLong, math.max(a, b).toLong)
    }.filter(e => e._1 != e._2).distinct.toDF("lo", "hi")
      .localCheckpoint()
    val pinned = Graph.edgeJaccardOn(rnd).collect().map(_.toSeq)
    // pinMaxRows = 0 forces every row over the bound -> parquet temp
    val spilled = Graph.edgeJaccardOn(rnd, pinMaxRows = 0L)
    // the spilled arm's plan reads a parquet scan, not an RDD scan
    assert(spilled.queryExecution.executedPlan.toString
      .contains("FileScan parquet"),
      "pinMaxRows=0 did not dispatch the result to a parquet temp")
    assert(spilled.collect().map(_.toSeq).toSeq === pinned.toSeq)
  }

  test("q131 clustering: planted exact values; cross-checks q122; arms agree; cache path equal") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
    // K4: every node deg 3, 3 triangles, 3 wedges -> cc exactly 1e6
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("lo", "hi")
    assert(rows(Graph.clusteringOn(k4)).values
      .forall(_ == ((3L, 3L, 3L, 1000000L))))
    // triangle {1,2,3} + pendant (3,4): node 3 deg 3, 1 tri, 3 wedges
    // -> 333333; node 4 deg 1, zero wedges -> guard keeps score 0
    val pend = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("lo", "hi")
    val got = rows(Graph.clusteringOn(pend))
    assert(got(3L) === ((3L, 1L, 3L, 333333L)))
    assert(got(4L) === ((1L, 0L, 0L, 0L)))
    // real graph: numerator is exactly q122's triangle count per node
    val q122m = Graph.q122(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ccm = Graph.q131(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(q122m.forall { case (n, t) => ccm(n) == t })
    // nodes absent from q122 (no triangles) carry 0, never drop
    assert(ccm.keySet.size >= q122m.keySet.size)
    // arms agree on a planted pseudo-random graph
    val rnd = (0 until 400).map { i =>
      val a = (i * 37 + 11) % 60; val b = (i * i * 13 + 7) % 60
      (math.min(a, b).toLong, math.max(a, b).toLong)
    }.filter(e => e._1 != e._2).distinct.toDF("lo", "hi")
      .localCheckpoint()
    assert(rows(Graph.clusteringOn(rnd)) ===
      rows(Graph.clusteringOn(rnd, localMaxEdges = 0L)))
  }

  test("q126 dispatch: broadcast and shuffled arms bit-equal; broadcast arm moves less shuffle") {
    // round 12: the rank-side joins dispatch on node count — below
    // the bound the node-sized hub/auth BROADCASTS and the pair
    // relation never exchanges (sf1 measured 905 MB of re-exchanged
    // pairs in the old plan). int64 sums are order-free, so the arms
    // must be bit-identical; the broadcast arm must shuffle less.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val sh = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) sh.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      }
    })
    def measured(arm: => Array[org.apache.spark.sql.Row]): (Seq[Seq[Any]], Long) = {
      Thread.sleep(300) // drain listener events from prior work
      val s0 = sh.get()
      val rows = arm.map(_.toSeq).toSeq
      Thread.sleep(300)
      (rows, sh.get() - s0)
    }
    // silence stats-based auto-broadcast so only the dispatch hint can
    // broadcast (the q129 plan-pin discipline — at 100 TB the rank
    // relation has no small-stats shortcut), and pre-run each arm once
    // so neither measurement pays first-plan setup the other skipped
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // force the two DISTRIBUTED arms explicitly (round 15: the
      // default now dispatches to the driver-local arm below the
      // edge bound — compared against both at the end)
      Graph.hitsFixed(spark, sf, iters = 3,
        broadcastMaxRows = Graph.BroadcastEdgeMaxRows,
        localMaxEdges = 0L).collect()
      Graph.hitsFixed(spark, sf, iters = 3, broadcastMaxRows = 0L,
        localMaxEdges = 0L).collect()
      val (bcast, shB) = measured(Graph.hitsFixed(spark, sf, iters = 3,
        broadcastMaxRows = Graph.BroadcastEdgeMaxRows,
        localMaxEdges = 0L).collect())
      val (shuf, shS) = measured(Graph.hitsFixed(spark, sf, iters = 3,
        broadcastMaxRows = 0L, localMaxEdges = 0L).collect())
      assert(bcast === shuf, "dispatch arms disagree")
      assert(shB < shS,
        s"broadcast arm shuffled $shB >= shuffled arm $shS")
      // the driver-local default bit-equals both distributed arms
      assert(Graph.q126(spark, sf).collect().map(_.toSeq).toSeq === bcast)
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  /** Driver twin of q135: adjacency-set support, lower-median
    * threshold by sorted rank, synchronous peel to the true fixpoint
    * (no budget) — an independent yardstick with no SQL and no Spark.
    * Returns (thr, fixpoint edge -> within-truss support).
    */
  private def bruteTruss(edges: Set[(Long, Long)])
      : (Long, Map[(Long, Long), Long]) = {
    def supports(es: Set[(Long, Long)]): Map[(Long, Long), Long] = {
      val adj = scala.collection.mutable.Map[Long, Set[Long]]()
        .withDefaultValue(Set.empty)
      for ((a, b) <- es) { adj(a) += b; adj(b) += a }
      es.iterator.map { case (a, b) =>
        (a, b) -> (adj(a) intersect adj(b)).size.toLong }.toMap
    }
    val s0 = supports(edges)
    val target = (edges.size + 1) / 2
    val thr = s0.values.toSeq.sorted.apply(target - 1)
    // NB: `s0.collect { case (e, s) ... => e }` would rebuild a MAP
    // (the collected elements are pairs), collapsing edges that share
    // a lo — filter + keySet keeps the edge set an edge set
    var cur = s0.filter(_._2 >= thr).keySet
    var changed = true
    while (changed) {
      val next = supports(cur).filter(_._2 >= thr).keySet
      changed = next != cur
      cur = next
    }
    (thr, supports(cur))
  }

  private def trussRows(df: org.apache.spark.sql.DataFrame)
      : Map[(Long, Long), (Long, Long)] = df.collect()
    .map(r => (r.getLong(0), r.getLong(1)) ->
      (r.getLong(2), r.getLong(3))).toMap

  test("q135 planted cascade: octahedron + K6 + fan peel to exact hand values; strict budget throws") {
    import spark.implicits._
    // K6 on 1-6 (15 edges, support 4), octahedron K_{2,2,2} on 11-16
    // with antipodal pairs (11,12)(13,14)(15,16) (12 edges, support
    // 2), fan center 21 rim 22-25 (7 edges, supports 1,2,2,1 spokes /
    // 1,1,1 rim). n=34 -> target 17; cum: supp1 5, supp2 19 -> thr 2.
    // Initial filter keeps interior spokes (21,23)(21,24); their
    // triangles used the dropped rim, so round 1 peels them (a real
    // cascade); round 2 is the no-op. Fixpoint = octahedron + K6.
    val k6 = for (a <- 1L to 6L; b <- (a + 1) to 6L) yield (a, b)
    val octa = for {
      a <- 11L to 16L; b <- (a + 1) to 16L
      if !(a % 2 == 1 && b == a + 1)
    } yield (a, b)
    val fan = Seq((21L, 22L), (21L, 23L), (21L, 24L), (21L, 25L),
      (22L, 23L), (23L, 24L), (24L, 25L))
    val g = (k6 ++ octa ++ fan).toDF("lo", "hi").localCheckpoint()
    val got = trussRows(Graph.trussOn(g, strict = true))
    val want = (k6.map(e => e -> ((4L, 2L))) ++
      octa.map(e => e -> ((2L, 2L)))).toMap
    assert(got === want)
    // the driver twin lands on the same threshold and fixpoint
    val (bthr, bfix) = bruteTruss((k6 ++ octa ++ fan).toSet)
    assert(bthr === 2L && bfix.keySet === want.keySet)
    // a zero-round strict budget must be LOUD on a graph that needs a
    // real peel (the q129 discipline: silent non-convergence would
    // return sub-threshold edges the oracle twin can't catch)
    val e = intercept[IllegalStateException] {
      Graph.trussOn(g, rounds = 0, strict = true).collect()
    }
    assert(e.getMessage.contains("not converged"))
  }

  test("q135 isolates a planted community from noise; bit-equals the driver twin; arms agree") {
    import spark.implicits._
    // K12 community on 0-11 buried in 645 LCG-noise edges over nodes
    // 100-159: noise support is HOMOGENEOUS (a uniform random graph
    // cascades to empty at its own median — probed, the same physics
    // as the sf0.001 corpus), the community is not. The median lands
    // at 7 and the fixpoint is EXACTLY the K12 (within-truss support
    // 10), noise fully peeled in 3 rounds — the semantic contract:
    // keep mutually reinforcing community mass, peel everything else.
    val k12 = (for (a <- 0L until 12L; b <- (a + 1) until 12L)
      yield (a, b)).toSet
    var x = 12345L
    def lcg(): Long = { x = (x * 1103515245L + 12345L) & 0x7FFFFFFFL; x }
    val noise = (0 until 700).map { _ =>
      val a = (lcg() >> 16) % 60; val b = (lcg() >> 16) % 60
      (100L + math.min(a, b), 100L + math.max(a, b))
    }.filter(e => e._1 != e._2).toSet
    val edges = k12 ++ noise
    val df = edges.toSeq.toDF("lo", "hi").localCheckpoint()
    val got = trussRows(Graph.trussOn(df, strict = true))
    assert(got === k12.map(e => e -> ((10L, 7L))).toMap)
    // the independent driver twin lands on the same threshold/fixpoint
    val (bthr, bfix) = bruteTruss(edges)
    assert(bthr === 7L &&
      bfix === k12.map(_ -> 10L).toMap)
    // broadcast and Bloom-screened shuffle arms are byte-identical
    assert(trussRows(Graph.trussOn(df, broadcastMaxRows = 0L,
      strict = true)) === got)
  }

  test("q135 real corpus: empty truss converges quietly; cache path equals fresh enumeration") {
    // the sf0.001 co-purchase blob is a mutual-support house of cards
    // (probed down to p10 in SURVEY §8m) — the truss is EMPTY, a
    // converged, correct answer that pins the empty-truss path the
    // way q130's deliberately-empty top rung does
    val viaCache = Graph.q135(spark, sf).collect()
    assert(viaCache.isEmpty)
    // the driver twin agrees the fixpoint is empty
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val edges = li.groupBy(_._1).view.mapValues(_.map(_._2).distinct.sorted)
      .values.flatMap(ps =>
        for (i <- ps.indices; j <- i + 1 until ps.length)
          yield (ps(i), ps(j)))
      .toSet
    val (bthr, bfix) = bruteTruss(edges)
    assert(bfix.isEmpty, s"driver twin kept ${bfix.size} at thr=$bthr")
    // fresh enumeration (no session tri-cache) reaches the same answer
    import spark.implicits._
    val pairsDf = edges.toSeq.toDF("lo", "hi").localCheckpoint()
    assert(Graph.trussOn(pairsDf, strict = true).collect().isEmpty)
  }
}
