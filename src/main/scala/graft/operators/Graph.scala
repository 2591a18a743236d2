package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Iterative graph analytics — the family beyond connected components
  * ([[Dedup.q35]]/`ccLargeSmallStar`): global importance scores over a
  * relation-derived graph. The production use in a training-data
  * pipeline is the CommonCrawl recipe — a link/host-graph centrality
  * score becomes a per-document quality prior that mixture weighting
  * (q47/q113) and quality filtering (q111) consume as a feature.
  *
  * Spark shape (the classic one): the edge relation is built ONCE,
  * pre-joined with out-degrees, and `localCheckpoint`ed — every
  * Lloyd's-style round is then one hash join (ranks ⨝ edges on src)
  * plus one groupBy(dst) sum, i.e. two graph-sized shuffles per
  * round, never a corpus-sized one. Ranks are 16-byte (node, pr)
  * rows. On a 1000-executor cluster both sides hash-partition on the
  * node id; AQE's skew split handles hub nodes (a supplier joined by
  * every customer) without salting because the per-round join is
  * key-balanced after the edge pre-aggregation collapses multi-edges
  * into one weighted row.
  *
  * Driver-local regime: at or below [[BroadcastEdgeMaxRows]] edges
  * every graph kernel runs on the driver over one [[LocalGraph]]
  * (ascending ids, CSR over the symmetric closure, edge weights). Each
  * session-cache entry (`wsym`, `tri`) counts its edge relation once
  * at fill time and builds that graph beside the stored count
  * ([[sized]]); a query dispatches by comparing the stored count with
  * its bound, so choosing the arm costs a warm query no Spark job. The
  * `*On` spec entry points size their input through the same helper.
  */
object Graph {

  /** Fixed-point scale: ranks live on a 1e-12 grid (pr = rank × 1e12
    * as int64), the [[Similarity.FixedPointScale]] discipline. All
    * arithmetic below is int64 ⇒ exact and order-independent, so the
    * scores are bit-identical at any parallelism AND across engines —
    * what makes an iterative float algorithm DuckDB-oracle-able at
    * all. Headroom: `85 × Σpr` must stay under Long.MaxValue, which
    * holds while total graph mass (n_nodes × 1e12) × any one node's
    * share × 85 < 9.2e18 — comfortable through ~1e5-node graphs with
    * hub shares <1e-2 (sf1 is 1.6e16 total). The documented knob for
    * a 1e9-node host graph is dropping the scale to 1e6 (µ-rank
    * grid): same algorithm, 1e6× more headroom, still exact.
    */
  val PrScale: Long = 1000000000000L

  /** Damping d = 0.85 as the exact rational 85/100 — never a double. */
  private val DampNum = 85L
  private val DampDen = 100L

  /** q121: PageRank over the customer–supplier purchase graph.
    *
    * Graph: node per customer (custkey×2) and supplier (suppkey×2+1);
    * an undirected edge (two directed rows) per (customer, supplier)
    * pair that traded, weighted by lineitem count — `lineitem ⨝
    * orders` pre-aggregated to one row per pair BEFORE any iteration,
    * so the per-round work is graph-sized (48k edges at sf0.01), not
    * fact-table-sized (60k lineitems — 100× more at sf1). The
    * symmetric closure makes every node's out-degree positive, so
    * there are no dangling nodes and no teleport-mass redistribution
    * term — the base (1−d) term alone conserves the fixpoint.
    *
    * Update (all int64, positive, so Spark `DIV` ≡ DuckDB `//`):
    *   contrib(u→v) = w(u,v) × ((85 × pr(u)) DIV (100 × deg(u)))
    *   pr'(v)       = (15 × SCALE) DIV 100  +  Σ_in contrib
    * where deg(u) = Σ w(u,·). The per-unit-weight quotient is floored
    * once and multiplied by the collapsed edge weight — the floor
    * placement is part of the cross-engine contract (flooring after
    * the multiply would differ). Five rounds from pr₀ = SCALE.
    *
    * The oracle is the SAME five rounds unrolled as chained DuckDB
    * CTEs — exact integer arithmetic is what lets an iterative
    * algorithm hash-match across engines (the q105 int64-contribution
    * trick applied to a fixpoint loop).
    */
  def q121(spark: SparkSession, dir: String, iters: Int = 5,
      localMaxEdges: Long = BroadcastEdgeMaxRows): DataFrame = {
    // one row per trading pair, session-cached (round 14) — the
    // fact-table join + aggregate used to re-run per execution
    val g = coPurchaseWeighted(spark, dir)
    // round 15: below the edge bound the whole fixpoint runs on the
    // driver (the q135/BPE local-vs-distributed dispatch — in this
    // regime the rank relation broadcasts every round anyway, and the
    // five chained rounds were paying scheduler latency to move a
    // node-sized int64 vector). Identical arithmetic; GraphSpec's
    // imperative twin and the forced-distributed arm pin equality.
    val local = g.localUpTo(localMaxEdges)
    if (local.isDefined)
      return pagerankLocal(spark, local.get, iters, personalized = false)
    pagerankRounds(purchasePairs(g), iters, personalized = false)
  }

  /** q125: PERSONALIZED PageRank over the purchase graph — teleport
    * mass restarts at a SEED SET instead of everywhere, so scores
    * measure proximity-weighted reachability from the seeds: the
    * contamination-tracing primitive ("how exposed is each node to
    * these flagged sources?", Haveliwala WWW '02 topic-sensitive
    * PageRank) that q124's hop counts answer only un-weighted.
    *
    * Seeds: every supplier with `s_suppkey % 10 = 3` — a deterministic
    * decile, nonempty at every SF. The loop is [[q121]]'s VERBATIM
    * (same int64 1e-12 grid, same floored per-unit-weight quotient,
    * same five rounds — the floor placement and scale headroom
    * contracts carry over unchanged; total mass is SMALLER than
    * q121's since only seeds inject base mass); the only differences
    * are the initial vector (SCALE on seeds, 0 elsewhere) and the
    * per-round base term (`(15·SCALE) DIV 100` on seeds, 0
    * elsewhere). The symmetric closure gives every node an in-edge,
    * so the per-round groupBy(dst) covers EVERY node — zero-rank
    * nodes contribute 0-valued rows, not absent rows — and the
    * base relation joins back without an outer join.
    *
    * Spark shape: identical to q121 — one persisted hash-partitioned
    * edge relation, per round one join + one int64 sum, plus one
    * node-sized base join (broadcast at bench scale; key-partitioned
    * like the ranks side at 1e9 nodes). Oracle: the same five rounds
    * unrolled as chained DuckDB CTEs.
    */
  def q125(spark: SparkSession, dir: String, iters: Int = 5,
      localMaxEdges: Long = BroadcastEdgeMaxRows): DataFrame = {
    val g = coPurchaseWeighted(spark, dir) // session-cached, see q121
    val local = g.localUpTo(localMaxEdges) // see q121's dispatch note
    if (local.isDefined)
      return pagerankLocal(spark, local.get, iters, personalized = true)
    pagerankRounds(purchasePairs(g), iters, personalized = true)
  }

  /** The distributed rounds of [[q121]] and, `personalized`, [[q125]]
    * over the weighted pair relation `(cnode, snode, w)`.
    */
  private def pagerankRounds(pairs: DataFrame, iters: Int,
      personalized: Boolean): DataFrame = {
    val edges = pairs.select(col("cnode").as("src"), col("snode").as("dst"),
        col("w"))
      .unionAll(pairs.select(col("snode").as("src"), col("cnode").as("dst"),
        col("w")))
    val deg = edges.groupBy(col("src")).agg(sum(col("w")).as("deg"))
    // (src, dst, w, deg) — the one relation every round joins,
    // HASH-PARTITIONED ON src by the explicit repartition. Round 14:
    // the persist/unpersist pair is gone along with the per-round
    // checkpoints — with all five rounds in ONE plan, every round's
    // join references the structurally identical ew subtree, so
    // ReuseExchange computes the repartition exchange once and later
    // rounds read its shuffle files (the same one-edge-shuffle-total
    // guarantee the persisted relation gave, without pinning executor
    // storage; at 1e9 nodes shuffle files spill to disk gracefully
    // where a pinned relation would evict).
    val ew = edges.join(deg, Seq("src"))
      .repartition(col("src"))
    val baseUnit = (15L * PrScale) / DampDen
    // q125's node-sized (node, base) relation: teleport mass lands on
    // seeds only; built once, CHECKPOINTED (it stays multi-consumer —
    // the initial vector plus every round's base join — so the barrier
    // still guards against re-expansion), joined back every round
    // (`div` keeps the suppkey recovery in int64 — `/` would go
    // double)
    val baseRel =
      if (!personalized) None
      else Some(deg.select(col("src").as("node"))
        .withColumn("base",
          when(expr("node % 2 = 1 AND ((node - 1) div 2) % 10 = 3"),
            lit(baseUnit)).otherwise(lit(0L)))
        .localCheckpoint())
    // the rounds CHAIN without materialization barriers (round 14):
    // each round's ranks feed exactly ONE consumer (the next round),
    // so there is no multi-consumer re-expansion to guard against
    // (the q75 codegen lesson does not apply) and no per-round driver
    // read (unlike q35/q124's convergence probes) — per-round
    // localCheckpoint was 5 extra materialization jobs + scheduler
    // barriers per execution. All five rounds now run as ONE job whose
    // stages pipeline; AQE still broadcasts the node-sized ranks side
    // per round from runtime stage stats.
    var ranks = baseRel match {
      case None => deg.select(col("src").as("node"), lit(PrScale).as("pr"))
      case Some(b) => b.select(col("node"),
        when(col("base") > 0, lit(PrScale)).otherwise(lit(0L)).as("pr"))
    }
    for (_ <- 1 to iters) {
      val inflow = ew.join(ranks, ew("src") === ranks("node"))
        .selectExpr("dst",
          s"w * (($DampNum * pr) div ($DampDen * deg)) AS contrib")
        .groupBy(col("dst"))
        .agg(sum(col("contrib")).as("inflow"))
      ranks = baseRel match {
        case None =>
          inflow.select(col("dst").as("node"),
            (lit(baseUnit) + col("inflow")).as("pr"))
        case Some(b) => inflow.join(b, inflow("dst") === b("node"))
          .select(col("node"), (col("base") + col("inflow")).as("pr"))
      }
    }
    ranks
      .select(col("node"),
        when(col("node") % 2 === 0, lit("cust")).otherwise(lit("supp"))
          .as("kind"),
        (col("node") / 2).cast("long").as("key"),
        col("pr"))
      .orderBy(col("pr").desc, col("node"))
  }

  val q125Sql: String = {
    val baseUnit = (15L * PrScale) / DampDen
    def round(i: Int): String =
      s"""it$i AS (
         |  SELECT dst AS node,
         |    b.base + CAST(SUM(w * ((85 * pr) // (100 * deg)))
         |      AS BIGINT) AS pr
         |  FROM ew JOIN it${i - 1} ON ew.src = it${i - 1}.node
         |  JOIN base b ON b.node = ew.dst
         |  GROUP BY dst, b.base)""".stripMargin
    s"""WITH pairs AS MATERIALIZED (
       |  SELECT o_custkey * 2 AS cnode, l_suppkey * 2 + 1 AS snode,
       |    COUNT(*) AS w
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY 1, 2
       |), edges AS MATERIALIZED (
       |  SELECT cnode AS src, snode AS dst, w FROM pairs
       |  UNION ALL
       |  SELECT snode AS src, cnode AS dst, w FROM pairs
       |), deg AS MATERIALIZED (
       |  SELECT src, CAST(SUM(w) AS BIGINT) AS deg FROM edges GROUP BY src
       |), ew AS MATERIALIZED (
       |  SELECT e.src, e.dst, e.w, d.deg FROM edges e JOIN deg d USING (src)
       |), base AS MATERIALIZED (
       |  SELECT src AS node,
       |    CASE WHEN src % 2 = 1 AND ((src - 1) // 2) % 10 = 3
       |         THEN CAST($baseUnit AS BIGINT) ELSE CAST(0 AS BIGINT)
       |    END AS base
       |  FROM deg
       |), it0 AS (
       |  SELECT node,
       |    CASE WHEN base > 0 THEN CAST($PrScale AS BIGINT)
       |         ELSE CAST(0 AS BIGINT) END AS pr
       |  FROM base
       |),
       |${(1 to 5).map(round).mkString(",\n")}
       |SELECT node,
       |  CASE WHEN node % 2 = 0 THEN 'cust' ELSE 'supp' END AS kind,
       |  node // 2 AS key, pr
       |FROM it5
       |ORDER BY pr DESC, node""".stripMargin
  }

  /** Driver-local arm of [[q121]]/[[q125]]: the identical int64
    * update over the [[LocalGraph]]'s CSR rows — contrib(u→v) =
    * w × ((85·pr(u)) div (100·deg(u))) with deg(u) the row's weight
    * sum, pr'(v) = base(v) + Σ inflow — with the personalized variant
    * differing only in the initial vector and the seed-restricted
    * base, exactly as the distributed rounds. Integer sums are
    * order-independent, so the arms are bit-identical (spec-pinned,
    * plus GraphSpec's pre-existing imperative twins).
    */
  private def pagerankLocal(spark: SparkSession, g: LocalGraph,
      iters: Int, personalized: Boolean): DataFrame = {
    import spark.implicits._
    val nN = g.nNodes
    val deg = new Array[Long](nN)
    var i = 0
    while (i < nN) {
      var p = g.off(i)
      while (p < g.off(i + 1)) { deg(i) += g.wt(p); p += 1 }
      i += 1
    }
    val baseUnit = (15L * PrScale) / DampDen
    def isSeed(id: Long): Boolean = id % 2 == 1 && ((id - 1) / 2) % 10 == 3
    val base = new Array[Long](nN)
    var pr = new Array[Long](nN)
    i = 0
    while (i < nN) {
      if (!personalized) { base(i) = baseUnit; pr(i) = PrScale }
      else if (isSeed(g.ids(i))) { base(i) = baseUnit; pr(i) = PrScale }
      i += 1
    }
    var it = 0
    while (it < iters) {
      val next = new Array[Long](nN)
      i = 0
      while (i < nN) {
        val q = (DampNum * pr(i)) / (DampDen * deg(i))
        var p = g.off(i)
        while (p < g.off(i + 1)) { next(g.adj(p)) += g.wt(p) * q; p += 1 }
        i += 1
      }
      i = 0
      while (i < nN) { next(i) += base(i); i += 1 }
      pr = next
      it += 1
    }
    val out = Vector.newBuilder[(Long, String, Long, Long)]
    i = 0
    while (i < nN) {
      val id = g.ids(i)
      out += ((id, if (id % 2 == 0) "cust" else "supp", id / 2, pr(i)))
      i += 1
    }
    spark.createDataset(out.result()).toDF("node", "kind", "key", "pr")
      .orderBy(col("pr").desc, col("node"))
  }

  /** q122: per-node triangle counts over the part co-order graph —
    * the second graph-analytics operator, and the canonical "an
    * unoriented self-join explodes; orient first" scale lesson.
    *
    * Graph: undirected edge between two parts that appear in the same
    * order (the q63 basket relation, collapsed to distinct pairs).
    * Per-part triangle counts are the local-clustering numerator —
    * in a curation pipeline the same shape scores tag/entity
    * co-occurrence density.
    *
    * Algorithm (Suri & Vassilvitskii, WWW '11 / Cohen '09): orient
    * every edge from its (degree, id)-smaller endpoint to the larger,
    * enumerate wedges by self-joining the oriented list on the
    * source, then close each wedge against the canonical edge set.
    * Orientation is the whole ballgame at scale: out-degree under
    * the (deg, id) order is O(√m), so wedges are O(m^1.5) TOTAL and
    * no single node is a hot join key (the naive per-node wedge join
    * is quadratic in the max degree — one celebrity node kills it).
    * Every triangle materializes exactly once (its three vertices
    * have a unique (deg, id) order), then credits all three corners
    * via one explode. All arithmetic is integer counting — exact,
    * order-free, DuckDB-oracle-able.
    *
    * Spark shape: the basket self-join is per-order local (orders are
    * small baskets); deg is node-sized (broadcast here; at 100 TB a
    * shuffle join keyed on the node — still edge-sized). The wedge
    * self-join shuffles the oriented list once on src; the closing
    * join shuffles wedges on the (lo, hi) pair key, where the m^1.5
    * bound caps the volume.
    */
  def q122(spark: SparkSession, dir: String): DataFrame = {
    triangleCountsFrom(coPurchaseGraph(spark, dir).tris)
      .orderBy(col("part"))
  }

  /** Edge-count bound of the driver-local regime and of the
    * distributed arms' broadcast hints. At or below it a cache fill
    * ([[sized]]) builds the [[LocalGraph]] and every graph kernel —
    * [[Dedup.q35]]'s connected components too — runs on the driver
    * over it: 16-byte edge rows × 4M ≈ 64 MB collected,
    * inside the default `spark.driver.maxResultSize` (1 GB). Above it
    * the distributed arms run, and kcore, coreLevels, hitsFixed and
    * truss each BROADCAST their per-round alive set (nodes, hubs or
    * surviving edges) when that relation is at most this many rows,
    * and shuffle it otherwise. Dispatch is by COUNT — deterministic
    * for a given graph, the q34 dispatch discipline. Triangle
    * enumeration broadcasts no edge set: below the bound its wedges
    * close in the [[LocalGraph]]'s adjacency merge, above it in a
    * Bloom-screened shuffle join.
    */
  private[graft] val BroadcastEdgeMaxRows = 4000000L

  /** False-positive rate of the wedge screen's edge Bloom: 3% costs
    * ~7.3 bits per edge (6 MB per 6.9M edges, riding the task binary
    * once per stage) and passes 3% of non-closing wedges through to
    * the join that drops them — the shuffle still shrinks by ~30×
    * when (as always in a sparse graph) most wedges don't close.
    */
  private[graft] val WedgeBloomFpp = 0.03

  /** The driver-local graph every sub-bound kernel runs over. `ids`
    * ascend, and a node's dense index is its position in them; row u
    * of the CSR is `adj(off(u) until off(u + 1))`, the dense indices of
    * u's neighbours in the symmetric closure, sorted, with `wt` the
    * parallel weights (1 for an unweighted input). Every input row
    * lands once in each endpoint's row — no dedup, each weight stays
    * on its edge — so a kernel sees exactly the multiset its
    * distributed arm reads. The input row count lives beside it, in
    * [[Sized]].
    */
  private[graft] final class LocalGraph(val ids: Array[Long],
      val off: Array[Int], val adj: Array[Int], val wt: Array[Long]) {
    def nNodes: Int = ids.length

    /** Dense index of `id`; negative when `id` is no node. */
    def indexOf(id: Long): Int = java.util.Arrays.binarySearch(ids, id)
  }

  private[graft] object LocalGraph {

    /** One `executeCollect` of the `(a, b)` or `(a, b, w)` columns —
      * the first two or three, by position. InternalRows with
      * primitive `getLong`: the external Row conversion was the
      * driver arms' dominant cost.
      */
    def apply(edges: DataFrame): LocalGraph = {
      val cols = edges.columns.take(3)
      val rows = edges.select(cols.map(col): _*)
        .queryExecution.executedPlan.executeCollect()
      val nR = rows.length
      // slot 2r is row r's a→b, slot 2r+1 its b→a; slot d's source is
      // end(d) and its target end(d ^ 1)
      val ends = new Array[Long](2 * nR)
      var r = 0
      while (r < nR) {
        ends(2 * r) = rows(r).getLong(0); ends(2 * r + 1) = rows(r).getLong(1)
        r += 1
      }
      val sorted = ends.clone()
      java.util.Arrays.sort(sorted)
      var n = 0
      var d = 0
      while (d < sorted.length) {
        if (n == 0 || sorted(d) != sorted(n - 1)) { sorted(n) = sorted(d); n += 1 }
        d += 1
      }
      val ids = java.util.Arrays.copyOf(sorted, n)
      val ix = new Array[Int](2 * nR)
      d = 0
      while (d < ix.length) {
        ix(d) = java.util.Arrays.binarySearch(ids, ends(d)); d += 1
      }
      val off = new Array[Int](n + 1)
      d = 0
      while (d < ix.length) { off(ix(d) + 1) += 1; d += 1 }
      var u = 0
      while (u < n) { off(u + 1) += off(u); u += 1 }
      // counting sort of the slots by target, then a stable scatter by
      // source: every row comes out sorted by neighbour index (a node's
      // in- and out-slot counts agree, so `off` buckets both passes)
      val fill = new Array[Int](n)
      val byTarget = new Array[Int](ix.length)
      d = 0
      while (d < ix.length) {
        val t = ix(d ^ 1); byTarget(off(t) + fill(t)) = d; fill(t) += 1
        d += 1
      }
      java.util.Arrays.fill(fill, 0)
      val adj = new Array[Int](ix.length)
      val wt = new Array[Long](ix.length)
      val weighted = cols.length == 3
      var k = 0
      while (k < byTarget.length) {
        val sl = byTarget(k); val src = ix(sl)
        val p = off(src) + fill(src); fill(src) += 1
        adj(p) = ix(sl ^ 1)
        wt(p) = if (weighted) rows(sl >> 1).getLong(2) else 1L
        k += 1
      }
      new LocalGraph(ids, off, adj, wt)
    }
  }

  /** An edge relation with its row count and — when that count was at
    * most the bound it was [[sized]] against — its [[LocalGraph]]. The
    * value a `wsym` cache entry holds, and the edge half of a `tri`
    * one.
    */
  private[graft] final case class Sized(edges: DataFrame, nEdges: Long,
      local: Option[LocalGraph]) {

    /** The driver-local graph when the stored count is at most `bound`:
      * the dispatch every production graph query makes, with no Spark
      * job (`bound = 0` forces the distributed arm).
      */
    def localUpTo(bound: Long): Option[LocalGraph] =
      local.filter(_ => nEdges <= bound)
  }

  /** The one dispatch helper: count `edges` once, and build the
    * [[LocalGraph]] only when the count is at most `localMaxEdges`.
    */
  private[graft] def sized(edges: DataFrame, localMaxEdges: Long): Sized =
    sized(edges, edges.count(), localMaxEdges)

  /** [[sized]] over a relation whose row count is already known — a
    * cache fill's [[graft.SessionCaches.pinCounted]] result, so the
    * relation is never counted twice.
    */
  private[graft] def sized(edges: DataFrame, nEdges: Long,
      localMaxEdges: Long): Sized =
    Sized(edges, nEdges,
      if (nEdges <= localMaxEdges) Some(LocalGraph(edges)) else None)

  /** A `tri` cache entry: the sized canonical edge relation, its
    * materialized triangle relation `(apex, lo, hi)` and that
    * relation's row count.
    */
  private final case class Triangles(graph: Sized, tris: DataFrame,
      nTris: Long)

  /** Enumerate `g`'s triangles, pin them via
    * [[graft.SessionCaches.pinByRows]] (triangle count proxied by the
    * edge count for the dispatch — same order for sparse graphs; both
    * arms scale-safe regardless) and count them.
    */
  private def trianglesOf(g: Sized): Triangles = {
    val (tris, oriented) = triangleEnum(g)
    val pinned = graft.SessionCaches.pinByRows(tris, g.nEdges, "tris")
    oriented.unpersist(blocking = false)
    Triangles(g, pinned, pinned.count())
  }

  /** The WEIGHTED customer–supplier purchase pair relation
    * `(cnode, snode, w)` — `lineitem ⨝ orders` pre-aggregated to one
    * row per trading pair. This is the [[coPurchaseWeighted]] "wsym"
    * session cache under a column rename (round 14): FOUR more
    * registry queries derive their graph from that exact aggregate
    * ([[q121]]/[[q125]] as-is, [[q124]] as its distinct key set,
    * [[q126]] under the bijective `cust = cnode div 2` /
    * `supp = (snode - 1) div 2` re-keying — COUNT per pair is
    * invariant under a bijection of the keys), and each used to pay
    * the fact-table join + aggregate per bench run; now q121, q124,
    * q125, q126, q129 and q130 all share ONE fill per (session, dir).
    */
  private def purchasePairs(g: Sized): DataFrame =
    g.edges.select(col("a").as("cnode"), col("b").as("snode"), col("w"))

  /** Session-scoped cache of the co-purchase graph's edge relation
    * AND its materialized triangle relation, keyed by (session, dir)
    * — the r11 verdict's shared-wedge item: [[q122]] and [[q127]]
    * both consume the SAME oriented-wedge enumeration, and
    * re-enumerating it per query was the single biggest avoidable
    * cost in the graph family (sf1: ~53 s combined, roughly half of
    * it duplicate work). The cache holds a [[Triangles]]: the edge
    * relation sized once (count plus, below the bound, its
    * [[LocalGraph]]) and the triangle relation materialized by
    * [[trianglesOf]] with its count, so the second consumer
    * aggregates straight from the materialized triangles.
    *
    * Storage, lifetime and the pin of the basket pairs are
    * [[graft.SessionCaches]]'s; fill time accrues to the bench's
    * honest-accounting ledger.
    *
    * Contract notes (re-documenting the self-contained-query rule the
    * r11 verdict asked about): each cached relation is DETERMINISTIC
    * for a given `dir` (distinct pairs, exact triangle set), so query
    * results are bit-identical with or without a warm cache — the
    * oracle gate stays green either way, and the *On spec entry
    * points bypass the cache entirely. Inputs under one `dir` are
    * immutable for a session's lifetime (the testdata contract); a
    * pipeline mutating its tables must use a fresh session or new
    * paths.
    */
  private def coPurchaseGraph(spark: SparkSession,
      dir: String): Triangles =
    graft.SessionCaches.getOrBuild(spark, "tri", dir) {
      val li = Tables(spark, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      // consumed twice (orientation + wedge closing) — materialize
      // the basket self-join once
      val (pairs, nPairs) = graft.SessionCaches.pinCounted(
        li.as("a").join(li.as("b"),
            col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
          .select(col("a.pk").as("lo"), col("b.pk").as("hi"))
          .distinct(), "tri-pairs")
      trianglesOf(sized(pairs, nPairs, BroadcastEdgeMaxRows))
    }

  /** [[q122]]'s corner aggregation over a triangle relation: every
    * triangle credits its three corners via one explode; node-sized
    * `(part, triangles)` output, shared with [[q131]].
    */
  private def triangleCountsFrom(tris: DataFrame): DataFrame =
    tris
      .select(explode(array(col("apex"), col("lo"), col("hi"))).as("part"))
      .groupBy(col("part")).agg(count(lit(1)).as("triangles"))

  /** [[q122]]'s core over an arbitrary canonical `(lo, hi)` edge
    * relation (lo < hi, deduplicated) — spec entry point for planted
    * graphs; enumerates fresh (no session cache).
    */
  private[graft] def trianglesOn(pairs: DataFrame,
      localMaxEdges: Long = BroadcastEdgeMaxRows,
      checkpointResult: Boolean = true): DataFrame = {
    val (tris, oriented) = triangleEnum(sized(pairs, localMaxEdges))
    // the node-sized result materializes behind a checkpoint so the
    // wedge cache can be released before returning (plan specs skip
    // the checkpoint to inspect the join shape)
    val agg = triangleCountsFrom(tris)
    val counts = if (checkpointResult) {
      val c = agg.localCheckpoint()
      oriented.unpersist(blocking = false)
      c
    } else {
      // plan-spec path: the returned plan still references the cached
      // relation (Spark recomputes through it after unpersist), but
      // the cache must not outlive the call — plan inspection never
      // executes it, and leaving it pinned leaks blocks session-long
      oriented.unpersist(blocking = false)
      agg
    }
    counts.orderBy(col("part"))
  }

  /** The triangle enumeration shared by [[q122]], [[q127]] and
    * [[q135]] over a [[sized]] canonical `(lo, hi)` edge relation:
    * returns the triangle corner relation
    * `(apex, lo, hi)` (lo < hi; apex the (deg,id)-minimum corner)
    * and a second relation callers unpersist once their aggregate
    * materializes (the persisted oriented edge relation in the
    * shuffle arm; a no-op placeholder in the broadcast arm).
    *
    * When `g` carries its [[LocalGraph]] (at most the bound it was
    * sized against) the enumeration is adjacency-merge
    * ("compact-forward", Latapy '08): the old arm already shipped the
    * FULL edge set to every task as a broadcast hash relation (built
    * on the driver), yet still materialized the O(m^1.5) wedge stream
    * through a 41M-row join probe at sf0.1 — 5.4 s of the 9.2 s tri
    * fill, measured round 15. Same driver/executor memory class, but
    * the wedge stream never exists: each oriented edge (u, v)
    * two-pointer-merges the sorted out-adjacency rows
    * adj⁺(u) ∩ adj⁺(v) — every match is a
    * triangle, each triangle found exactly once (w ∈ adj⁺(u) ∩ adj⁺(v)
    * exists only for the oriented edge (u, v) with v → w; the probe at
    * (u, w) cannot see v because orientation is antisymmetric). Rows
    * are identical to the wedge arm's: apex = the (deg,id)-min corner,
    * (lo, hi) = the id-ordered closing pair.
    *
    * Above the bound the edge set cannot ride a broadcast, so the
    * oriented-wedge self-join + Bloom-screened closing join runs as
    * before (O(m^1.5) wedges, shuffle volume ~triangles + fpp·wedges).
    */
  private def triangleEnum(g: Sized): (DataFrame, DataFrame) = {
    val pairs = g.edges
    if (g.local.isDefined)
      return (trianglesByAdjacencyMerge(pairs.sparkSession, g.local.get),
        pairs.limit(0))
    val deg = pairs.select(col("lo").as("node"))
      .unionAll(pairs.select(col("hi").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // orient: src = (deg, id)-smaller endpoint; ties impossible past
    // the id comparison, so the orientation is a strict total order
    val oriented = pairs
      .join(broadcast(deg).withColumnRenamed("node", "lo")
        .withColumnRenamed("deg", "dlo"), Seq("lo"))
      .join(broadcast(deg).withColumnRenamed("node", "hi")
        .withColumnRenamed("deg", "dhi"), Seq("hi"))
      .select(
        when(col("dlo") < col("dhi") ||
          (col("dlo") === col("dhi") && col("lo") < col("hi")),
          col("lo")).otherwise(col("hi")).as("src"),
        when(col("dlo") < col("dhi") ||
          (col("dlo") === col("dhi") && col("lo") < col("hi")),
          col("hi")).otherwise(col("lo")).as("dst"))
      // hash-partitioned on src and PERSISTED so the wedge self-join
      // exchanges NEITHER side (both sides read the same cached
      // hash-partitioned relation; a localCheckpoint would drop the
      // partitioning — see q121's ew note)
      .repartition(col("src")).persist()
    // wedges at the (deg,id)-minimum corner, closing pair canonical
    val wedges = oriented.as("x").join(oriented.as("y"),
        col("x.src") === col("y.src") && col("x.dst") < col("y.dst"))
      .select(col("x.src").as("apex"),
        col("x.dst").as("lo"), col("y.dst").as("hi"))
    // close wedges against the edge set. This arm only runs ABOVE the
    // broadcast bound (the adjacency-merge arm returned early below
    // it), so the join must shuffle — screen the wedge stream with a
    // Bloom over the canonical edge keys FIRST (round 10): most
    // wedges never close (sf1: 190M wedges, 2.3M triangles over 6.9M
    // edges), the probe is one codegen'd virtual call in the wedge
    // map stage, and one-sided Bloom error means only rows the join
    // would drop anyway can slip through — byte-identical results,
    // shuffle volume cut to ~triangles + fpp·wedges.
    val bloom = pairs
      .select(xxhash64(col("lo"), col("hi")).as("k"))
      .stat.bloomFilter("k", math.max(1000L, g.nEdges), WedgeBloomFpp)
    // the probe key is the same xxhash64(lo, hi) (seed 42) the
    // bloom was built over — constructed as a raw Catalyst tree so
    // the custom expression nests without a registered SQL name
    val keyExpr = org.apache.spark.sql.catalyst.expressions.XxHash64(
      Seq(org.apache.spark.sql.catalyst.analysis
          .UnresolvedAttribute("lo"),
        org.apache.spark.sql.catalyst.analysis
          .UnresolvedAttribute("hi")), 42L)
    val screened = wedges.filter(
      org.apache.spark.sql.graftbridge.ExprBridge.column(
        graft.functions.BloomContainsLong(keyExpr, bloom)))
    val tris = screened.join(pairs, Seq("lo", "hi"))
    (tris, oriented)
  }

  /** The below-broadcast-bound triangle enumeration: the oriented
    * out-rows adj⁺(u) filtered from the [[LocalGraph]]'s sorted CSR
    * rows on the driver (u → v when (deg, id)(u) < (deg, id)(v);
    * index order is id order, so each filtered row stays sorted),
    * broadcast to one map stage over node ranges, two-pointer merge of
    * adj⁺(u) ∩ adj⁺(v) per oriented edge. No wedge stream, no join —
    * the emitted rows are exactly the wedge arm's `(apex, lo, hi)`.
    */
  private def trianglesByAdjacencyMerge(spark: SparkSession,
      g: LocalGraph): DataFrame = {
    import spark.implicits._
    val n = g.nNodes
    def deg(u: Int): Int = g.off(u + 1) - g.off(u)
    def before(u: Int, v: Int): Boolean =
      deg(u) < deg(v) || (deg(u) == deg(v) && u < v)
    val outOff = new Array[Int](n + 1)
    val outAdj = new scala.collection.mutable.ArrayBuilder.ofInt
    var u = 0
    while (u < n) {
      var p = g.off(u)
      while (p < g.off(u + 1)) {
        if (before(u, g.adj(p))) outAdj += g.adj(p)
        p += 1
      }
      outOff(u + 1) = outAdj.length
      u += 1
    }
    val bc = spark.sparkContext.broadcast((g.ids, outOff, outAdj.result()))
    spark.range(0L, n.toLong, 1L, spark.sparkContext.defaultParallelism)
      .as[Long]
      .mapPartitions { us =>
        val (ids, oo, oa) = bc.value
        us.flatMap { ul =>
          val u = ul.toInt
          val out = new scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
          var e = oo(u)
          while (e < oo(u + 1)) {
            val v = oa(e)
            var i = oo(u)
            var j = oo(v)
            while (i < oo(u + 1) && j < oo(v + 1)) {
              val x = oa(i); val y = oa(j)
              if (x == y) {
                // triangle u→v, u→w, v→w with w = x; closing pair in
                // canonical id order, apex = the (deg,id)-min corner u
                if (v < x) out += ((ids(u), ids(v), ids(x)))
                else out += ((ids(u), ids(x), ids(v)))
                i += 1; j += 1
              } else if (x < y) i += 1
              else j += 1
            }
            e += 1
          }
          out
        }
      }
      .toDF("apex", "lo", "hi")
  }

  /** q127: per-edge triangle support and neighborhood Jaccard over
    * the co-purchase graph — the edge-strength profile under k-truss
    * peeling and community detection (an edge inside a community
    * shares most of its endpoints' neighborhoods; a bridge shares
    * none), and the graph-native near-dup signal (two products
    * co-bought with the same basket cohort are interchangeable).
    *
    * For each canonical edge (lo, hi): `common_cnt` = |N(lo) ∩ N(hi)|
    * — exactly the triangles through the edge, so the enumeration is
    * [[triangleEnum]]'s oriented-wedge machinery (O(m^1.5) wedges,
    * Bloom-screened above the broadcast bound) with each triangle
    * attributed to its THREE canonical edges instead of its three
    * corners; `union_cnt` = deg(lo) + deg(hi) − common_cnt (both
    * endpoints belong to the union — each neighbors the other — so
    * union_cnt ≥ max(deg)+1 ≥ 2 and the division below is total);
    * `jaccard_pm` = (common_cnt × 1e6) DIV union_cnt — all-positive
    * int64, Spark `div` ≡ DuckDB `//`, hash-exact cross-engine (the
    * q121 grid discipline). Zero-support edges survive via the left
    * join: a bridge scoring 0 is the signal, not noise.
    *
    * Scale shape: identical to q122 — wedge stream map-side screened,
    * the per-edge aggregate shuffles triangle-sized 16-byte keys, the
    * degree join broadcasts the node-sized relation onto the
    * edge-sized result.
    */
  def q127(spark: SparkSession, dir: String): DataFrame = {
    val t = coPurchaseGraph(spark, dir)
    edgeJaccardFrom(t.graph.edges, t.tris, t.graph.nEdges)
  }

  /** Per-canonical-edge triangle count from a triangle corner
    * relation: one triangle supports its THREE edges; apex↔lo and
    * apex↔hi need re-canonicalizing (the apex is degree-ordered, not
    * id-ordered). Shared by [[q127]] (as `common_cnt`) and [[q135]]
    * (as truss support). Shuffles triangle-sized 16-byte keys once.
    */
  private def edgeSupportCounts(tris: DataFrame, as: String): DataFrame =
    tris.select(explode(array(
        struct(least(col("apex"), col("lo")).as("lo"),
          greatest(col("apex"), col("lo")).as("hi")),
        struct(least(col("apex"), col("hi")).as("lo"),
          greatest(col("apex"), col("hi")).as("hi")),
        struct(col("lo"), col("hi")))).as("e"))
      .select(col("e.lo"), col("e.hi"))
      .groupBy(col("lo"), col("hi"))
      .agg(count(lit(1)).as(as))

  /** [[q127]]'s support/Jaccard aggregation over an edge relation and
    * its triangle relation. The edge-sized output (one row per edge,
    * so `nEdges` is its exact count) materializes by
    * [[graft.SessionCaches.pinByRows]]: an unconditional
    * `localCheckpoint` would pin a 100 TB edge-sized result to
    * executor memory.
    */
  private def edgeJaccardFrom(pairs: DataFrame, tris: DataFrame,
      nEdges: Long,
      pinMaxRows: Long = graft.SessionCaches.ResultPinMaxRows): DataFrame = {
    val support = edgeSupportCounts(tris, "common_cnt")
    val deg = pairs.select(col("lo").as("node"))
      .unionAll(pairs.select(col("hi").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val out = pairs
      .join(support, Seq("lo", "hi"), "left")
      .na.fill(0L, Seq("common_cnt"))
      .join(broadcast(deg).withColumnRenamed("node", "lo")
        .withColumnRenamed("deg", "deg_lo"), Seq("lo"))
      .join(broadcast(deg).withColumnRenamed("node", "hi")
        .withColumnRenamed("deg", "deg_hi"), Seq("hi"))
      .select(col("lo"), col("hi"), col("deg_lo"), col("deg_hi"),
        col("common_cnt"),
        (col("deg_lo") + col("deg_hi") - col("common_cnt"))
          .as("union_cnt"),
        expr("common_cnt * 1000000L div " +
          "(deg_lo + deg_hi - common_cnt)").as("jaccard_pm"))
    graft.SessionCaches.pinByRows(out, nEdges, "edge-jaccard", pinMaxRows)
      .orderBy(col("lo"), col("hi"))
  }

  /** [[q127]]'s core over an arbitrary canonical `(lo, hi)` edge
    * relation — spec entry point for planted graphs; enumerates fresh
    * (no session cache). `pinMaxRows` forces the output-pin arm for
    * plan specs (tiny bound ⇒ parquet temp).
    */
  private[graft] def edgeJaccardOn(pairs: DataFrame,
      localMaxEdges: Long = BroadcastEdgeMaxRows,
      pinMaxRows: Long = graft.SessionCaches.ResultPinMaxRows): DataFrame = {
    val g = sized(pairs, localMaxEdges)
    val (tris, oriented) = triangleEnum(g)
    val out = edgeJaccardFrom(pairs, tris, g.nEdges, pinMaxRows)
    oriented.unpersist(blocking = false)
    out
  }

  /** q123: pairwise association rules over order baskets — the
    * A-priori 2-itemset stage (Agrawal & Srikant, VLDB '94) with
    * support / confidence / lift, i.e. the rule-mining layer q63's
    * basket relation feeds. In a data pipeline the identical shape
    * scores tag/label co-occurrence (which metadata values imply each
    * other) before mixture design.
    *
    * Exactness contract: every statistic is int64 counting plus at
    * most ONE IEEE division (confidence = pair/ante, lift =
    * pair×n / (ante×cons)) — a single division is correctly rounded,
    * so doubles hash-match DuckDB (q24's rational-idf discipline).
    * Support floor: pairs co-ordered ≥ 2 times (singleton pairs are
    * noise at every SF — 97% of the pair mass — and the floor is the
    * standard A-priori pruning step).
    *
    * Scale shape: the basket self-join is per-order local (baskets
    * are small); pair counting shuffles canonical 16-byte pairs once;
    * item counts are node-sized and broadcast back onto the
    * (floor-pruned, tiny) rule relation. The support floor applies
    * BEFORE the stats join — at 100 TB the post-floor rule set is the
    * only thing that leaves the aggregation.
    */
  def q123(spark: SparkSession, dir: String): DataFrame = {
    // barrier: the distinct basket relation feeds FIVE consumers
    // (order count, item counts referenced twice, both sides of the
    // pair self-join) — one scan+distinct, not five (round 14)
    val li = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct().localCheckpoint()
    val nOrders = li.select(col("ok")).distinct()
      .agg(count(lit(1)).as("n_orders"))
    val itemCnt = li.groupBy(col("pk")).agg(count(lit(1)).as("item_cnt"))
    val pairCnt = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("lo"), col("b.pk").as("hi"))
      .agg(count(lit(1)).as("pair_cnt"))
      .filter(col("pair_cnt") >= 2)
    // both rule directions from each canonical pair
    val rules = pairCnt.select(explode(array(
        struct(col("lo").as("ante"), col("hi").as("cons"),
          col("pair_cnt")),
        struct(col("hi").as("ante"), col("lo").as("cons"),
          col("pair_cnt")))).as("r"))
      .select(col("r.ante"), col("r.cons"), col("r.pair_cnt"))
    rules
      .join(broadcast(itemCnt).withColumnRenamed("pk", "ante")
        .withColumnRenamed("item_cnt", "ante_cnt"), Seq("ante"))
      .join(broadcast(itemCnt).withColumnRenamed("pk", "cons")
        .withColumnRenamed("item_cnt", "cons_cnt"), Seq("cons"))
      .join(broadcast(nOrders))
      .select(col("ante"), col("cons"), col("pair_cnt"),
        col("ante_cnt"), col("cons_cnt"),
        (col("pair_cnt") / col("ante_cnt")).as("confidence"),
        ((col("pair_cnt") * col("n_orders")) /
          (col("ante_cnt") * col("cons_cnt"))).as("lift"))
      .orderBy(col("ante"), col("cons"))
  }

  val q123Sql: String =
    """WITH li AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
      |), n AS (
      |  SELECT COUNT(DISTINCT ok) AS n_orders FROM li
      |), item AS (
      |  SELECT pk, COUNT(*) AS item_cnt FROM li GROUP BY pk
      |), pairs AS (
      |  SELECT a.pk AS lo, b.pk AS hi, COUNT(*) AS pair_cnt
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2
      |  HAVING COUNT(*) >= 2
      |), rules AS (
      |  SELECT lo AS ante, hi AS cons, pair_cnt FROM pairs
      |  UNION ALL
      |  SELECT hi AS ante, lo AS cons, pair_cnt FROM pairs
      |)
      |SELECT r.ante, r.cons, r.pair_cnt,
      |  ia.item_cnt AS ante_cnt, ic.item_cnt AS cons_cnt,
      |  r.pair_cnt / ia.item_cnt AS confidence,
      |  (r.pair_cnt * n.n_orders) / (ia.item_cnt * ic.item_cnt) AS lift
      |FROM rules r
      |JOIN item ia ON ia.pk = r.ante
      |JOIN item ic ON ic.pk = r.cons
      |CROSS JOIN n
      |ORDER BY ante, cons""".stripMargin

  /** The co-purchase edge relation `pairs(lo, hi)` as the DuckDB
    * oracles' first CTE — the twin of [[coPurchaseGraph]]'s edges.
    */
  private val PairsCte: String =
    """WITH pairs AS MATERIALIZED (
      |  SELECT DISTINCT a.pk AS lo, b.pk AS hi
      |  FROM (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      |        FROM lineitem) a
      |  JOIN (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      |        FROM lineitem) b
      |    ON a.ok = b.ok AND a.pk < b.pk
      |)""".stripMargin

  /** Degree-oriented triangle enumeration over an edge relation
    * `edges(lo, hi)`: `deg<tag>(node, deg)`, `ori<tag>(src, dst)` and
    * the triangles `tri<tag>(apex, lo, hi)`, each AS MATERIALIZED —
    * the CTEs the q122, q127, q131 and q135 oracles share.
    */
  private def triangleCtes(edges: String, tag: String): String =
    s"""deg$tag AS MATERIALIZED (
       |  SELECT node, COUNT(*) AS deg FROM (
       |    SELECT lo AS node FROM $edges
       |    UNION ALL SELECT hi FROM $edges)
       |  GROUP BY node
       |), ori$tag AS MATERIALIZED (
       |  SELECT
       |    CASE WHEN dl.deg < dh.deg OR (dl.deg = dh.deg AND p.lo < p.hi)
       |         THEN p.lo ELSE p.hi END AS src,
       |    CASE WHEN dl.deg < dh.deg OR (dl.deg = dh.deg AND p.lo < p.hi)
       |         THEN p.hi ELSE p.lo END AS dst
       |  FROM $edges p
       |  JOIN deg$tag dl ON dl.node = p.lo
       |  JOIN deg$tag dh ON dh.node = p.hi
       |), tri$tag AS MATERIALIZED (
       |  SELECT x.src AS apex, x.dst AS lo, y.dst AS hi
       |  FROM ori$tag x JOIN ori$tag y
       |    ON x.src = y.src AND x.dst < y.dst
       |  WHERE EXISTS (SELECT 1 FROM $edges p
       |                WHERE p.lo = x.dst AND p.hi = y.dst)
       |)""".stripMargin

  /** q122's enumeration over the co-purchase edges, the prefix of the
    * q122, q127 and q131 oracles.
    */
  private val TriangleCtes: String = s"""$PairsCte, ${triangleCtes("pairs", "")}"""

  /** DuckDB twin of [[q122]]. CTE hygiene is load-bearing at sf1:
    * DuckDB INLINES plain CTEs per reference, so `tri` named three
    * times (the corners union) re-ran the whole wedge join three
    * times — 135+ CPU-minutes and a 78 GB spill that filled the disk.
    * `AS MATERIALIZED` on every multiply-referenced CTE plus a
    * single-reference `unnest([apex, lo, hi])` corner explode brings
    * the same query to 137 s / no spill at sf1. Results identical
    * (asserted against the old formulation at sf0.01 before the
    * swap).
    */
  val q122Sql: String =
    s"""$TriangleCtes
      |SELECT part, COUNT(*) AS triangles
      |FROM (SELECT unnest([apex, lo, hi]) AS part FROM tri)
      |GROUP BY part
      |ORDER BY part""".stripMargin

  /** q131: per-node LOCAL CLUSTERING COEFFICIENT over the co-purchase
    * graph (Watts & Strogatz, Nature '98) — triangles through a node
    * over its wedge capacity deg·(deg−1)/2, i.e. q122's numerator
    * normalized into the density signal curation actually thresholds
    * on: a high-degree node with near-zero clustering is a hub/spam
    * pattern, a dense-neighborhood node sits inside a real community
    * (the q129/q130 tiering's per-node refinement). Rendered on the
    * ×1e6 int64 grid — `cc_pm = triangles·1e6 div max(1, wedges)` —
    * all-positive integer ops, Spark `div` ≡ DuckDB `//`, hash-exact
    * (deg=1 nodes have zero wedges AND zero triangles: the guard
    * keeps the division total and the score 0).
    *
    * Scale shape: the THIRD consumer of the session tri-cache — with
    * q122/q127 in the same session the triangle relation is already
    * materialized and this query is two node-sized aggregates + one
    * node-keyed join; cold, it pays one [[triangleEnum]] (O(m^1.5)
    * wedges, Bloom-screened). Degree join is node-sized.
    */
  def q131(spark: SparkSession, dir: String): DataFrame = {
    val t = coPurchaseGraph(spark, dir)
    clusteringFrom(t.graph.edges, t.tris)
  }

  /** [[q131]]'s normalization over an edge relation and its triangle
    * relation.
    */
  private def clusteringFrom(pairs: DataFrame,
      tris: DataFrame): DataFrame = {
    val deg = pairs.select(col("lo").as("part"))
      .unionAll(pairs.select(col("hi").as("part")))
      .groupBy(col("part")).agg(count(lit(1)).as("deg"))
    deg.join(triangleCountsFrom(tris), Seq("part"), "left")
      .na.fill(0L, Seq("triangles"))
      .select(col("part"), col("deg"), col("triangles"),
        expr("deg * (deg - 1) div 2").as("wedges"),
        expr("triangles * 1000000L div greatest(1L, deg * (deg - 1) div 2)")
          .as("cc_pm"))
      .orderBy(col("part"))
  }

  /** [[q131]]'s core over an arbitrary canonical `(lo, hi)` edge
    * relation — spec entry point for planted graphs; enumerates fresh
    * (no session cache).
    */
  private[graft] def clusteringOn(pairs: DataFrame,
      localMaxEdges: Long = BroadcastEdgeMaxRows): DataFrame = {
    val (tris, oriented) = triangleEnum(sized(pairs, localMaxEdges))
    val out = clusteringFrom(pairs, tris).localCheckpoint()
    oriented.unpersist(blocking = false)
    out.orderBy(col("part"))
  }

  /** DuckDB twin of [[q131]]: q122's materialized wedge enumeration,
    * corner counts left-joined onto the degree relation, the same
    * ×1e6 grid (`//` ≡ Spark `div` on positive int64).
    */
  val q131Sql: String =
    s"""$TriangleCtes, tcnt AS MATERIALIZED (
      |  SELECT part, COUNT(*) AS triangles
      |  FROM (SELECT unnest([apex, lo, hi]) AS part FROM tri)
      |  GROUP BY part
      |)
      |SELECT d.node AS part, d.deg,
      |  COALESCE(t.triangles, 0) AS triangles,
      |  d.deg * (d.deg - 1) // 2 AS wedges,
      |  (COALESCE(t.triangles, 0) * 1000000)
      |    // GREATEST(1, d.deg * (d.deg - 1) // 2) AS cc_pm
      |FROM deg d LEFT JOIN tcnt t ON t.part = d.node
      |ORDER BY part""".stripMargin

  /** DuckDB twin of [[q127]]: q122's materialized wedge enumeration,
    * each triangle exploded to its three re-canonicalized edges (the
    * corners union references `tri` three times — hence the
    * MATERIALIZED, q122Sql's documented pitfall), zero-support edges
    * kept by the left join, the Jaccard on the same ×1e6 integer
    * grid (`//` ≡ Spark `div` on positive int64).
    */
  val q127Sql: String =
    s"""$TriangleCtes, corners AS (
      |  SELECT least(apex, lo) AS lo, greatest(apex, lo) AS hi FROM tri
      |  UNION ALL
      |  SELECT least(apex, hi), greatest(apex, hi) FROM tri
      |  UNION ALL
      |  SELECT lo, hi FROM tri
      |), esupp AS (
      |  SELECT lo, hi, COUNT(*) AS common_cnt FROM corners GROUP BY 1, 2
      |)
      |SELECT p.lo, p.hi, dl.deg AS deg_lo, dh.deg AS deg_hi,
      |  COALESCE(s.common_cnt, 0) AS common_cnt,
      |  dl.deg + dh.deg - COALESCE(s.common_cnt, 0) AS union_cnt,
      |  (COALESCE(s.common_cnt, 0) * 1000000)
      |    // (dl.deg + dh.deg - COALESCE(s.common_cnt, 0)) AS jaccard_pm
      |FROM pairs p
      |JOIN deg dl ON dl.node = p.lo
      |JOIN deg dh ON dh.node = p.hi
      |LEFT JOIN esupp s ON s.lo = p.lo AND s.hi = p.hi
      |ORDER BY p.lo, p.hi""".stripMargin

  /** q129: weighted k-core extraction over the customer–supplier
    * purchase graph (Seidman '83; the webgraph-era dense-subgraph
    * filter — Batagelj & Zaveršnik '03 peeling) — SYNCHRONOUS peeling:
    * each round drops every node whose weighted degree within the
    * surviving subgraph is below k, all at once, until the fixed
    * round budget. Synchronous rounds are what make the fixpoint
    * deterministic (no peel-order dependence) and DuckDB-oracle-able
    * as unrolled CTEs; the k-core itself is order-independent, so on
    * ANY converged run the output is exactly the k-core. The round
    * budget follows q124's cap discipline: 4 rounds, the spec asserts
    * convergence is reached on the real graph at every SF (sf1
    * measures 3 real cascade rounds, smaller SFs 1) and a planted
    * chain spec exercises a cascade deeper than one round. The
    * production shape is CommonCrawl-style host filtering: keep
    * documents whose host sits in a dense interaction core, drop
    * long-tail spam islands.
    *
    * Per round: weighted degree = one join of the symmetric edge
    * relation against the alive set on BOTH endpoints + one int64
    * sum — alive is node-sized and shrinks monotonically, so it
    * BROADCASTS below [[BroadcastEdgeMaxRows]] (dispatch once, on the
    * initial node count — the q34/q122 discipline; above the bound
    * the joins shuffle on the 8-byte node key, still per-round
    * edge-relation-sized). Weights are lineitem counts ⇒ all int64,
    * exact, order-free.
    */
  def q129(spark: SparkSession, dir: String, k: Long = 60L,
      rounds: Int = 4): DataFrame =
    kcore(coPurchaseWeighted(spark, dir), k, rounds, BroadcastEdgeMaxRows,
      strict = true)

  /** The weighted customer–supplier purchase graph [[q129]] and
    * [[q130]] peel: node ids disambiguated by parity (customer = 2·ck,
    * supplier = 2·sk+1), weight = lineitem count — all int64.
    *
    * Session-cached MATERIALIZED (round 13 — the weighted twin of the
    * tri-cache): q129 and q130 each paid the lineitem⋈orders join +
    * groupBy per query; now the first consumer materializes the edge
    * relation once per (session, dir) by
    * [[graft.SessionCaches.pinCounted]] and [[sized]] it with the
    * count the pin returns: the entry keeps the edge count and, below
    * [[BroadcastEdgeMaxRows]], the [[LocalGraph]] every driver-local
    * kernel of the six consumers runs over. Deterministic for a given
    * dir ⇒ results bit-identical warm or cold; the *On spec entry
    * points bypass the cache entirely.
    */
  private def coPurchaseWeighted(spark: SparkSession,
      dir: String): Sized =
    graft.SessionCaches.getOrBuild(spark, "wsym", dir) {
      val li = Tables(spark, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
      val ord = Tables(spark, dir, "orders")
        .select(col("o_orderkey").as("ok"), col("o_custkey").as("ck"))
      val (w, n) = graft.SessionCaches.pinCounted(li.join(ord, Seq("ok"))
        .groupBy((col("ck") * 2).as("a"), (col("sk") * 2 + 1).as("b"))
        .agg(count(lit(1)).as("w")), "wsym")
      sized(w, n, BroadcastEdgeMaxRows)
    }

  /** Weighted degree of every `alive` node WITHIN the alive-induced
    * subgraph: one join of the symmetric edge relation against the
    * alive set on BOTH endpoints + one int64 sum, alive broadcast per
    * the caller's once-decided dispatch. Checkpointed — each relation
    * feeds the rung filter, the convergence count, and possibly the
    * next rung's hand-off or [[kcoreOn]]'s final projection.
    */
  private def wdegWithin(sym: DataFrame, alive: DataFrame,
      useBroadcast: Boolean): DataFrame =
    wdegPlan(sym, alive, useBroadcast).localCheckpoint()

  /** [[wdegWithin]] minus the materialization — the plan-inspectable
    * seam for the dispatch spec (the checkpoint hides the join from
    * the final executedPlan, so the contract "the dispatch hint alone
    * decides the alive-set join strategy" is pinned here).
    */
  private[graft] def wdegPlan(sym: DataFrame, alive: DataFrame,
      useBroadcast: Boolean): DataFrame = {
    val a = if (useBroadcast) broadcast(alive) else alive
    sym.join(a, Seq("node"))
      .join(a.withColumnRenamed("node", "peer"), Seq("peer"))
      .groupBy(col("node")).agg(sum(col("w")).as("wdeg"))
  }

  /** Peel `alive0` at threshold `k` for up to `rounds` synchronous
    * rounds, EARLY-EXITING at the fixpoint: the alive set only
    * shrinks, so a filter that drops nothing means the k-core is
    * reached and further rounds are no-ops (fixpoints are stable, so
    * early exit is output-identical to the full budget, which keeps
    * the fixed-unroll DuckDB twins exact).
    *
    * Round 14 — the wdeg HAND-OFF: each round is now "filter the
    * standing wdeg relation at k, then recompute wdeg only if the
    * filter dropped nodes". The arithmetic is the old
    * join+sum-then-filter round verbatim; what changes is that the
    * converged (no-op) round stops paying a join, and the
    * (node, wdeg) relation is RETURNED alongside the core — valid by
    * the loop invariant `wd = wdegWithin(sym, alive)` — so [[q129]]'s
    * final in-core degree projection and each [[q130]] rung's first
    * round reuse it instead of recomputing the identical join
    * (nestedness: rung k+1 peels from rung k's survivors, whose
    * in-core wdeg the previous rung's converged round just computed).
    * `wdeg0` is that inherited relation.
    *
    * Returns `(core, count, converged, wdegOfCore)`. With `strict`, a
    * budget that ran out before an observed fixpoint buys one extra
    * count-only verification FILTER (no join — the standing wdeg
    * relation already covers the final alive set) and THROWS if it
    * would still drop nodes — round-12: a silently unconverged peel
    * returns sub-k nodes that the identically-shaped oracle twin
    * can't catch either (the r11 advice); non-convergence must be
    * loud, never a wrong answer.
    */
  private def peelToCore(sym: DataFrame, alive0: DataFrame, n0: Long,
      k: Long, rounds: Int, useBroadcast: Boolean,
      strict: Boolean,
      wdeg0: Option[DataFrame] = None): (DataFrame, Long, Boolean, DataFrame) = {
    var alive = alive0
    var n = n0
    // invariant everywhere below: wd = wdegWithin(sym, alive)
    var wd = wdeg0.getOrElse(wdegWithin(sym, alive0, useBroadcast))
    var converged = false
    var i = 0
    while (i < rounds && !converged) {
      val next = wd.filter(col("wdeg") >= k).select(col("node"))
        .localCheckpoint()
      val m = next.count()
      if (m == n) converged = true
      else {
        alive = next
        wd = wdegWithin(sym, alive, useBroadcast)
        n = m
      }
      i += 1
    }
    if (strict && !converged &&
        wd.filter(col("wdeg") >= k).count() != n)
      throw new IllegalStateException(
        s"k-core peel (k=$k) not converged within $rounds rounds — " +
          "raise the round budget (and the oracle twin's unroll) " +
          "for this graph")
    (alive, n, converged, wd)
  }

  /** [[q129]]'s core over an arbitrary weighted `(a, b, w)` edge
    * relation — spec entry point for planted graphs. `strict = false`
    * by default: plan/cascade specs deliberately run truncated
    * budgets; the production entries ([[q129]]/[[q130]]) pass true so
    * non-convergence throws instead of returning sub-k nodes.
    */
  private[graft] def kcoreOn(pairs: DataFrame, k: Long, rounds: Int,
      broadcastMaxRows: Long = BroadcastEdgeMaxRows,
      strict: Boolean = false,
      localMaxEdges: Long = BroadcastEdgeMaxRows): DataFrame =
    kcore(sized(pairs, localMaxEdges), k, rounds, broadcastMaxRows, strict)

  private def kcore(g: Sized, k: Long, rounds: Int,
      broadcastMaxRows: Long, strict: Boolean): DataFrame = {
    // round 15: below the edge bound the peel runs on the driver —
    // the q135/q121 dispatch note; each distributed round was a
    // filter + checkpoint + count + join + sum over node-sized sets
    if (g.local.isDefined)
      return kcoreLocal(g.edges.sparkSession, g.local.get, k, rounds, strict)
    val pairs = g.edges
    val sym = pairs.select(col("a").as("node"), col("b").as("peer"),
        col("w"))
      .unionAll(pairs.select(col("b").as("node"), col("a").as("peer"),
        col("w")))
      .localCheckpoint()
    val alive0 = sym.select(col("node")).distinct().localCheckpoint()
    val n0 = alive0.count()
    // dispatch once: a node set that starts under the bound only
    // shrinks (deterministic for a given graph, the q34 discipline)
    val useBroadcast = n0 <= broadcastMaxRows
    // the returned wdeg relation IS the final weighted degree within
    // the core (the peel loop's invariant) — the old final join+sum
    // recomputed it verbatim (round 14)
    val (_, _, _, wd) =
      peelToCore(sym, alive0, n0, k, rounds, useBroadcast, strict)
    wd.orderBy(col("node"))
  }

  /** The [[peelToCore]] loop on the [[LocalGraph]]'s primitive
    * arrays — the driver-local arm shared by [[kcoreOn]] and
    * [[coreLevelsOn]]. Mirrors the distributed loop exactly: the
    * within-subgraph weighted-degree relation has a row only for alive
    * nodes with ≥ 1 alive peer (the join's semantics — tracked as
    * `has`), next = {alive with a row and wdeg ≥ k}, converged when
    * nothing drops, strict throws the same message. Returns
    * (aliveAfter, wdeg, has) — the wdeg/has pair covers aliveAfter by
    * the loop invariant.
    */
  private def peelLocal(g: LocalGraph, alive0: Array[Boolean], k: Long,
      rounds: Int,
      strict: Boolean): (Array[Boolean], Array[Long], Array[Boolean]) = {
    val nNodes = g.nNodes
    // (wdeg, hasAlivePeer) within the alive-induced subgraph
    def wdegWithin(alive: Array[Boolean]): (Array[Long], Array[Boolean]) = {
      val wd = new Array[Long](nNodes)
      val has = new Array[Boolean](nNodes)
      var u = 0
      while (u < nNodes) {
        if (alive(u)) {
          var p = g.off(u)
          while (p < g.off(u + 1)) {
            if (alive(g.adj(p))) { wd(u) += g.wt(p); has(u) = true }
            p += 1
          }
        }
        u += 1
      }
      (wd, has)
    }
    var alive = alive0
    var n: Long = alive0.count(identity).toLong
    var (wd, has) = wdegWithin(alive)
    var converged = false
    var i = 0
    while (i < rounds && !converged) {
      val next = new Array[Boolean](nNodes)
      var m = 0L
      var e = 0
      while (e < nNodes) {
        if (alive(e) && has(e) && wd(e) >= k) { next(e) = true; m += 1 }
        e += 1
      }
      if (m == n) converged = true
      else {
        alive = next
        val r = wdegWithin(alive)
        wd = r._1; has = r._2
        n = m
      }
      i += 1
    }
    if (strict && !converged) {
      var m = 0L
      var e = 0
      while (e < nNodes) {
        if (alive(e) && has(e) && wd(e) >= k) m += 1
        e += 1
      }
      if (m != n)
        throw new IllegalStateException(
          s"k-core peel (k=$k) not converged within $rounds rounds — " +
            "raise the round budget (and the oracle twin's unroll) " +
            "for this graph")
    }
    (alive, wd, has)
  }

  private def kcoreLocal(spark: SparkSession, g: LocalGraph, k: Long,
      rounds: Int, strict: Boolean): DataFrame = {
    import spark.implicits._
    val (alive, wd, has) =
      peelLocal(g, Array.fill(g.nNodes)(true), k, rounds, strict)
    val out = Vector.newBuilder[(Long, Long)]
    var i = 0
    while (i < g.nNodes) {
      if (alive(i) && has(i)) out += ((g.ids(i), wd(i)))
      i += 1
    }
    spark.createDataset(out.result()).toDF("node", "wdeg")
      .orderBy(col("node"))
  }

  private def coreLevelsLocal(spark: SparkSession, g: LocalGraph,
      ladder: Seq[Long], rounds: Int, strict: Boolean): DataFrame = {
    import spark.implicits._
    val level = new Array[Long](g.nNodes)
    var alive = Array.fill(g.nNodes)(true)
    ladder.foreach { k =>
      alive = peelLocal(g, alive, k, rounds, strict)._1
      var i = 0
      while (i < g.nNodes) { if (alive(i)) level(i) = k; i += 1 }
    }
    val out = Vector.newBuilder[(Long, Long)]
    var i = 0
    while (i < g.nNodes) { out += ((g.ids(i), level(i))); i += 1 }
    spark.createDataset(out.result()).toDF("node", "core_level")
      .orderBy(col("node"))
  }

  /** DuckDB twin of [[q129]]: the same four synchronous peeling
    * rounds unrolled (DuckDB's integer SUM returns HUGEINT, hence the
    * BIGINT casts).
    */
  val q129Sql: String = {
    def round(prev: String, n: Int): String =
      s"""a$n AS MATERIALIZED (
         |  SELECT s.node FROM sym s
         |  JOIN $prev x ON x.node = s.node
         |  JOIN $prev y ON y.node = s.peer
         |  GROUP BY s.node HAVING SUM(s.w) >= 60
         |)""".stripMargin
    s"""WITH pairs AS MATERIALIZED (
       |  SELECT ck * 2 AS a, sk * 2 + 1 AS b, COUNT(*) AS w
       |  FROM (SELECT l_orderkey AS ok, l_suppkey AS sk FROM lineitem) li
       |  JOIN (SELECT o_orderkey AS ok, o_custkey AS ck FROM orders) o
       |    USING (ok)
       |  GROUP BY 1, 2
       |), sym AS MATERIALIZED (
       |  SELECT a AS node, b AS peer, w FROM pairs
       |  UNION ALL SELECT b, a, w FROM pairs
       |), a0 AS MATERIALIZED (
       |  SELECT DISTINCT node FROM sym
       |), ${round("a0", 1)},
       |${round("a1", 2)},
       |${round("a2", 3)},
       |${round("a3", 4)}
       |SELECT s.node, SUM(s.w)::BIGINT AS wdeg
       |FROM sym s
       |JOIN a4 x ON x.node = s.node
       |JOIN a4 y ON y.node = s.peer
       |GROUP BY s.node
       |ORDER BY s.node""".stripMargin
  }

  /** The fixed k-ladder of [[q130]] and the per-rung round budget —
    * shared with the unrolled oracle twin, so both engines peel the
    * SAME bounded computation. Ladder placement (probed on the real
    * wdeg distribution, SF-invariant: median ≈ 41, p90 ≈ 66,
    * p99 ≈ 625): 15 keeps ~98% of nodes, 30 ~78%, 60 ~15%, and 120
    * EMPTIES the graph (the bipartite cascade: once the customers
    * under 120 go, every supplier follows) — a deliberately-empty top
    * rung that pins the empty-core path. Measured convergence is ≤ 3
    * real peels + 1 no-op per rung at every SF; the budget carries
    * one spare round (testdata regenerates between rounds — the
    * strict check throws loudly if a future graph needs more, and
    * early exit makes the spare free when unused).
    */
  private[graft] val CorenessLadder: Seq[Long] = Seq(15L, 30L, 60L, 120L)
  private[graft] val CorenessRounds = 5

  /** q130: full coreness decomposition over the weighted
    * customer–supplier graph — each node's core LEVEL on the fixed
    * k-ladder, i.e. the largest rung k whose k-core still contains
    * the node (0 when even the lowest rung peels it). The
    * host/author-reputation tiering a curation pipeline consumes
    * directly ("keep tier-60 hosts, review tier-30, drop tier-0"),
    * and the standard decomposition view of Seidman '83 peeling
    * (Batagelj & Zaveršnik '03) quantized to a ladder so it is
    * fixed-unroll oracle-able.
    *
    * Nestedness does the heavy lifting: k-cores are monotone
    * (k′ > k ⇒ core(k′) ⊆ core(k)), so each rung peels FROM THE
    * PREVIOUS RUNG'S SURVIVORS, never from the full graph — total
    * cost is one q129-style peel whose input shrinks rung over rung
    * (at the probed ladder, rung 3 starts from 15% of the nodes).
    * Per-round cost and dispatch are exactly [[q129]]'s (alive-set
    * join broadcast below [[BroadcastEdgeMaxRows]], decided once on
    * the initial node count); level assembly is a union of node-sized
    * rung survivors + one max aggregate.
    */
  def q130(spark: SparkSession, dir: String): DataFrame =
    coreLevels(coPurchaseWeighted(spark, dir), CorenessLadder,
      CorenessRounds, BroadcastEdgeMaxRows, strict = true)

  /** [[q130]]'s core over an arbitrary weighted `(a, b, w)` edge
    * relation — spec entry point for planted graphs. The ladder must
    * be strictly ascending (nested peeling is only valid downward).
    */
  private[graft] def coreLevelsOn(pairs: DataFrame, ladder: Seq[Long],
      rounds: Int, broadcastMaxRows: Long = BroadcastEdgeMaxRows,
      strict: Boolean = false,
      localMaxEdges: Long = BroadcastEdgeMaxRows): DataFrame =
    coreLevels(sized(pairs, localMaxEdges), ladder, rounds,
      broadcastMaxRows, strict)

  private def coreLevels(g: Sized, ladder: Seq[Long], rounds: Int,
      broadcastMaxRows: Long, strict: Boolean): DataFrame = {
    require(ladder.nonEmpty && ladder.zip(ladder.tail).forall {
      case (a, b) => a < b }, s"ladder must ascend strictly: $ladder")
    if (g.local.isDefined) // see kcore's dispatch note
      return coreLevelsLocal(g.edges.sparkSession, g.local.get, ladder,
        rounds, strict)
    val pairs = g.edges
    val sym = pairs.select(col("a").as("node"), col("b").as("peer"),
        col("w"))
      .unionAll(pairs.select(col("b").as("node"), col("a").as("peer"),
        col("w")))
      .localCheckpoint()
    val all = sym.select(col("node")).distinct().localCheckpoint()
    val n0 = all.count()
    val useBroadcast = n0 <= broadcastMaxRows
    var alive = all
    var n = n0
    // nestedness hand-off (round 14): rung k+1 peels from rung k's
    // survivors, whose in-core wdeg rung k's converged round already
    // computed — passing it forward makes each rung's first round a
    // filter instead of a join
    var wd: Option[DataFrame] = None
    val rungs = ladder.map { k =>
      val (core, m, _, wdOut) =
        peelToCore(sym, alive, n, k, rounds, useBroadcast, strict, wd)
      alive = core
      n = m
      wd = Some(wdOut)
      core.select(col("node"), lit(k).as("k"))
    }
    rungs.foldLeft(all.select(col("node"), lit(0L).as("k")))(
        _.unionAll(_))
      .groupBy(col("node")).agg(max(col("k")).as("core_level"))
      .orderBy(col("node"))
  }

  /** DuckDB twin of [[q130]]: the same nested ladder with each rung's
    * peel unrolled [[CorenessRounds]] times (fixpoints are stable, so
    * Spark's early exit is output-identical to the full unroll).
    */
  val q130Sql: String = {
    def round(prev: String, cur: String, k: Long): String =
      s"""$cur AS MATERIALIZED (
         |  SELECT s.node FROM sym s
         |  JOIN $prev x ON x.node = s.node
         |  JOIN $prev y ON y.node = s.peer
         |  GROUP BY s.node HAVING SUM(s.w) >= $k
         |)""".stripMargin
    val rungs = CorenessLadder.zipWithIndex.flatMap { case (k, r) =>
      (1 to CorenessRounds).map { i =>
        val prev =
          if (i == 1 && r == 0) "a0"
          else if (i == 1) s"c${r - 1}_$CorenessRounds"
          else s"c${r}_${i - 1}"
        round(prev, s"c${r}_$i", k)
      }
    }
    val levels = CorenessLadder.zipWithIndex.map { case (k, r) =>
      s"SELECT node, $k AS k FROM c${r}_$CorenessRounds"
    }.mkString("\n  UNION ALL ")
    s"""WITH pairs AS MATERIALIZED (
       |  SELECT ck * 2 AS a, sk * 2 + 1 AS b, COUNT(*) AS w
       |  FROM (SELECT l_orderkey AS ok, l_suppkey AS sk FROM lineitem) li
       |  JOIN (SELECT o_orderkey AS ok, o_custkey AS ck FROM orders) o
       |    USING (ok)
       |  GROUP BY 1, 2
       |), sym AS MATERIALIZED (
       |  SELECT a AS node, b AS peer, w FROM pairs
       |  UNION ALL SELECT b, a, w FROM pairs
       |), a0 AS MATERIALIZED (
       |  SELECT DISTINCT node FROM sym
       |), ${rungs.mkString(",\n")},
       |levels AS (
       |  SELECT node, 0 AS k FROM a0
       |  UNION ALL $levels
       |)
       |SELECT node, MAX(k)::BIGINT AS core_level
       |FROM levels GROUP BY node
       |ORDER BY node""".stripMargin
  }

  /** q124: BFS hop distance from a deterministic seed (the
    * smallest-keyed supplier) to every reachable node of the purchase
    * graph — frontier-parallel breadth-first search, the graph twin
    * of [[graft.sources.FileOps]]' frontier directory walk and the
    * reachability primitive under lineage/contamination tracing
    * ("every doc within k derivation steps of a flagged source").
    *
    * Spark shape: each level is one join (frontier ⨝ edges on src) +
    * distinct + anti-join against the settled set — all three keyed
    * on the 8-byte node id; per-level cost is frontier-edge-sized,
    * never graph-sized, and the loop runs diameter-many rounds (the
    * purchase graph's diameter is ~4; the 12-round cap — shared with
    * the oracle's recursion bound — guards the degenerate case
    * loudly, the q35 discipline). Driver sees one count per level,
    * never data.
    *
    * Oracle: a recursive CTE enumerating (node, depth ≤ 12) pairs
    * and taking MIN(depth) — exact equality with BFS whenever the
    * diameter is under the cap; past it BOTH sides drop the node
    * (the CTE never reaches it, BFS's settled set does — hence the
    * Spark loop ALSO caps at the same 12 for the oracled query, and
    * the spec asserts the cap was not binding on the real graph).
    */
  def q124(spark: SparkSession, dir: String, maxHops: Int = 12,
      localMaxEdges: Long = BroadcastEdgeMaxRows): DataFrame = {
    val g = coPurchaseWeighted(spark, dir)
    // round 15: below the edge bound the level loop runs on the
    // driver (the q121/q135 dispatch note) — each distributed level
    // was a join + distinct + anti-join + checkpoint + isEmpty probe
    // over a frontier of a few thousand 8-byte ids
    val local = g.localUpTo(localMaxEdges).flatMap(bfsLocal(spark, _, maxHops))
    if (local.isDefined) return local.get
    // the weighted pair aggregate's key set IS the distinct pair set
    val pairs = purchasePairs(g).select(col("cnode"), col("snode"))
    val edges = pairs.select(col("cnode").as("src"), col("snode").as("dst"))
      .unionAll(pairs.select(col("snode").as("src"), col("cnode").as("dst")))
      .repartition(col("src")).localCheckpoint()
    val seed = edges.agg(min(when(col("src") % 2 === 1, col("src")))
      .as("node")).select(col("node"), lit(0).as("hops"))

    var settled = seed.localCheckpoint()
    var frontier = settled
    var level = 0
    while (level < maxHops && !frontier.isEmpty) {
      level += 1
      frontier = edges.join(frontier, edges("src") === frontier("node"))
        .select(col("dst").as("node")).distinct()
        .join(settled, Seq("node"), "left_anti")
        .select(col("node"), lit(level).as("hops"))
        .localCheckpoint()
      // settled is a FLAT UNION of the already-checkpointed frontiers
      // — no expression tree to re-expand, so re-materializing the
      // whole settled set every round (O(V·rounds) checkpoint writes)
      // bought nothing (round 14); the per-round frontier checkpoint
      // above stays, because the isEmpty convergence probe reads it
      settled = settled.unionAll(frontier)
    }
    settled.orderBy(col("hops"), col("node"))
  }

  /** Driver-local arm of [[q124]]: level-synchronous BFS over the
    * [[LocalGraph]]'s CSR rows from the seed (the first odd id, i.e.
    * the smallest supplier node), levels capped at `maxHops` exactly
    * like the distributed loop. Returns None when the graph has no
    * supplier node (the distributed arm's null-seed degenerate keeps
    * that path).
    */
  private def bfsLocal(spark: SparkSession, g: LocalGraph,
      maxHops: Int): Option[DataFrame] = {
    import spark.implicits._
    val nN = g.nNodes
    val seed = g.ids.indexWhere(_ % 2 == 1)
    if (seed < 0) return None
    val hops = Array.fill(nN)(-1)
    hops(seed) = 0
    var frontier = Array(seed)
    var level = 0
    while (level < maxHops && frontier.nonEmpty) {
      level += 1
      val next = new scala.collection.mutable.ArrayBuffer[Int]()
      var f = 0
      while (f < frontier.length) {
        val u = frontier(f)
        var p = g.off(u)
        while (p < g.off(u + 1)) {
          val v = g.adj(p)
          if (hops(v) < 0) { hops(v) = level; next += v }
          p += 1
        }
        f += 1
      }
      frontier = next.toArray
    }
    val out = Vector.newBuilder[(Long, Int)]
    var i = 0
    while (i < nN) {
      if (hops(i) >= 0) out += ((g.ids(i), hops(i)))
      i += 1
    }
    Some(spark.createDataset(out.result()).toDF("node", "hops")
      .orderBy(col("hops"), col("node")))
  }

  val q124Sql: String =
    """WITH RECURSIVE pairs AS (
      |  SELECT DISTINCT o_custkey * 2 AS cnode, l_suppkey * 2 + 1 AS snode
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |), edges AS (
      |  SELECT cnode AS src, snode AS dst FROM pairs
      |  UNION ALL
      |  SELECT snode AS src, cnode AS dst FROM pairs
      |), seed AS (
      |  SELECT MIN(src) AS node FROM edges WHERE src % 2 = 1
      |), reach(node, d) AS (
      |  SELECT node, 0 FROM seed
      |  UNION
      |  SELECT e.dst, r.d + 1
      |  FROM reach r JOIN edges e ON e.src = r.node
      |  WHERE r.d < 12
      |)
      |SELECT node, CAST(MIN(d) AS INT) AS hops
      |FROM reach
      |GROUP BY node
      |ORDER BY hops, node""".stripMargin

  val q121Sql: String = {
    val base = (15L * PrScale) / DampDen
    def round(i: Int): String =
      s"""it$i AS (
         |  SELECT dst AS node,
         |    $base + CAST(SUM(w * ((85 * pr) // (100 * deg))) AS BIGINT) AS pr
         |  FROM ew JOIN it${i - 1} ON ew.src = it${i - 1}.node
         |  GROUP BY dst)""".stripMargin
    // every multiply-referenced CTE is AS MATERIALIZED — DuckDB
    // inlines plain CTEs (q122Sql's documented pitfall), so without
    // it the lineitem⨝orders edge build re-executes once per
    // unrolled round through ew
    s"""WITH pairs AS MATERIALIZED (
       |  SELECT o_custkey * 2 AS cnode, l_suppkey * 2 + 1 AS snode,
       |    COUNT(*) AS w
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY 1, 2
       |), edges AS MATERIALIZED (
       |  SELECT cnode AS src, snode AS dst, w FROM pairs
       |  UNION ALL
       |  SELECT snode AS src, cnode AS dst, w FROM pairs
       |), deg AS MATERIALIZED (
       |  SELECT src, CAST(SUM(w) AS BIGINT) AS deg FROM edges GROUP BY src
       |), ew AS MATERIALIZED (
       |  SELECT e.src, e.dst, e.w, d.deg FROM edges e JOIN deg d USING (src)
       |), it0 AS (
       |  SELECT src AS node, CAST($PrScale AS BIGINT) AS pr FROM deg
       |),
       |${(1 to 5).map(round).mkString(",\n")}
       |SELECT node,
       |  CASE WHEN node % 2 = 0 THEN 'cust' ELSE 'supp' END AS kind,
       |  node // 2 AS key, pr
       |FROM it5
       |ORDER BY pr DESC, node""".stripMargin
  }

  /** [[q126]]'s fixed-point grid. Smaller than [[PrScale]] on purpose:
    * a raw HITS score is Σ w·score over in-edges, bounded by
    * totalWeight × SCALE — at 1e9 that is ~6e15 at sf1 (lineitem
    * count × grid), comfortably inside int64 even before the
    * per-round renormalization pulls scores back under ~2 × SCALE.
    */
  val HitsScale: Long = 1000000000L

  /** q126: HITS hubs & authorities (Kleinberg, JACM '99) over the
    * BIPARTITE customer–supplier purchase graph — customers are hubs
    * (good buyers point at good suppliers), suppliers authorities;
    * the natural bipartite reading of the mutual-reinforcement
    * update, and the third member of the q121/q125 int64 fixpoint
    * family:
    *
    *   auth(s) = Σ_{c→s} w(c,s) × hub(c)
    *   hub(c)  = Σ_{c→s} w(c,s) × auth(s)
    *
    * Textbook HITS renormalizes by the L2 norm — an IRRATIONAL
    * scalar, impossible to hash-match across engines. This operator's
    * contract renormalizes on the int64 grid instead:
    *
    *   norm(x) = x div max(1, total div SCALE),   total = Σ x
    *
    * — all-positive integer ops (Spark `div` ≡ DuckDB `//`), keeping
    * every score on [0, 2·SCALE] forever (divisor error ≤ 2×), sums
    * order-independent, ranking monotone in the real-valued scores.
    * Three mutual-reinforcement rounds from hub₀ = SCALE.
    *
    * Spark shape: the pair relation is pre-aggregated ONCE to one row
    * per trading pair (session-cached via [[purchasePairs]] since
    * round 14); each half-round is one join +
    * one int64 sum + a broadcast 1-row total (the q121 discipline —
    * per-round work is graph-sized, never fact-table-sized; at 1e9
    * nodes the totals stay 1-row and the pair relation stays
    * hash-partitioned and scanned, never reshuffled). Round 12: the
    * rank-relation joins DISPATCH on the initial node count (q129's
    * once-decided discipline) — below [[BroadcastEdgeMaxRows]] the
    * node-sized hub/auth side BROADCASTS, so the pair relation never
    * leaves its map stage (r12 measured sf1: the old plan re-exchanged
    * the unpartitioned pairs every half-round, 905 MB over 3 rounds);
    * above the bound each join shuffles on the 8-byte node key —
    * int64 sums are order-free, so the arms are bit-identical.
    * Oracle: the same three rounds unrolled as chained DuckDB CTEs
    * with scalar subquery totals.
    */
  def q126(spark: SparkSession, dir: String, iters: Int = 3): DataFrame =
    hitsFixed(spark, dir, iters, BroadcastEdgeMaxRows)

  private[graft] def hitsFixed(spark: SparkSession, dir: String,
      iters: Int, broadcastMaxRows: Long,
      localMaxEdges: Long = BroadcastEdgeMaxRows): DataFrame = {
    val g = coPurchaseWeighted(spark, dir)
    // round 15: below the edge bound the mutual-reinforcement rounds
    // run on the driver (the q121/q135 dispatch note) — each
    // distributed half-round was a join + sum + 1-row total +
    // checkpoint over node-sized int64 vectors
    val local = g.localUpTo(localMaxEdges)
    if (local.isDefined) return hitsLocal(spark, local.get, iters)
    // the session-cached weighted pair relation under the bijective
    // re-keying (cnode = cust×2, snode = supp×2+1 ⇒ COUNT per pair
    // invariant; `div` keeps int64) — already materialized, so the
    // per-query persist/unpersist pair is gone with the rebuild
    val pairs = purchasePairs(g)
      .selectExpr("cnode div 2 AS cust", "(snode - 1) div 2 AS supp", "w")
    def renorm(df: DataFrame, key: String, raw: String,
        out: String): DataFrame = {
      val tot = df.agg(sum(col(raw)).as("t"))
      df.crossJoin(broadcast(tot))
        .selectExpr(key,
          s"$raw div greatest(1L, t div ${HitsScale}L) AS $out")
    }
    var hub = pairs.select(col("cust")).distinct()
      .withColumn("h", lit(HitsScale))
      .localCheckpoint()
    // dispatch once, on the initial hub count (node-sized, fixed for
    // a given graph — the q34/q129 discipline)
    val useBroadcast = hub.count() <= broadcastMaxRows
    def side(df: DataFrame): DataFrame =
      if (useBroadcast) broadcast(df) else df
    var auth: DataFrame = null
    for (_ <- 1 to iters) {
      val araw = pairs.join(side(hub), Seq("cust"))
        .select(col("supp"), (col("w") * col("h")).as("c"))
        .groupBy(col("supp")).agg(sum(col("c")).as("araw"))
      auth = renorm(araw, "supp", "araw", "a").localCheckpoint()
      val hraw = pairs.join(side(auth), Seq("supp"))
        .select(col("cust"), (col("w") * col("a")).as("c"))
        .groupBy(col("cust")).agg(sum(col("c")).as("hraw"))
      hub = renorm(hraw, "cust", "hraw", "h").localCheckpoint()
    }
    hub.select(lit("hub").as("kind"), col("cust").as("key"),
        col("h").as("score"))
      .unionAll(auth.select(lit("auth").as("kind"), col("supp").as("key"),
        col("a").as("score")))
      .orderBy(col("kind"), col("score").desc, col("key"))
  }

  /** Driver-local arm of [[q126]]: the identical int64-grid
    * mutual-reinforcement rounds over the [[LocalGraph]], sides by
    * parity (hubs the even customer nodes, keyed `cnode div 2`;
    * authorities the odd supplier nodes, keyed `(snode - 1) div 2`) —
    * araw(s) = Σ w·h(c) over s's row, renorm x ↦ x div max(1, Σx div
    * SCALE) within the side, then the hub half-round; integer sums are
    * order-free so the arms are bit-identical (spec-pinned).
    */
  private def hitsLocal(spark: SparkSession, g: LocalGraph,
      iters: Int): DataFrame = {
    import spark.implicits._
    val nN = g.nNodes
    def isHub(i: Int): Boolean = g.ids(i) % 2 == 0
    // one half-round: x(v) = Σ w·from(u) over v's row, for the nodes
    // of one side, renormalized within that side
    def half(from: Array[Long], hubs: Boolean): Array[Long] = {
      val x = new Array[Long](nN)
      var t = 0L
      var v = 0
      while (v < nN) {
        if (isHub(v) == hubs) {
          var p = g.off(v)
          while (p < g.off(v + 1)) { x(v) += g.wt(p) * from(g.adj(p)); p += 1 }
          t += x(v)
        }
        v += 1
      }
      val d = math.max(1L, t / HitsScale)
      v = 0
      while (v < nN) { x(v) = x(v) / d; v += 1 }
      x
    }
    var hub = Array.tabulate(nN)(i => if (isHub(i)) HitsScale else 0L)
    var auth: Array[Long] = null
    var it = 0
    while (it < iters) {
      auth = half(hub, hubs = false)
      hub = half(auth, hubs = true)
      it += 1
    }
    val out = Vector.newBuilder[(String, Long, Long)]
    var i = 0
    while (i < nN) {
      val id = g.ids(i)
      if (isHub(i)) out += (("hub", id / 2, hub(i)))
      else out += (("auth", (id - 1) / 2, auth(i)))
      i += 1
    }
    spark.createDataset(out.result()).toDF("kind", "key", "score")
      .orderBy(col("kind"), col("score").desc, col("key"))
  }

  val q126Sql: String = {
    def round(i: Int): String =
      s"""a${i}raw AS MATERIALIZED (
         |  SELECT supp, CAST(SUM(w * h) AS BIGINT) AS araw
         |  FROM pairs JOIN hub${i - 1} USING (cust) GROUP BY supp
         |), a$i AS MATERIALIZED (
         |  SELECT supp, araw // GREATEST(1,
         |    (SELECT CAST(SUM(araw) AS BIGINT) FROM a${i}raw)
         |      // $HitsScale) AS a
         |  FROM a${i}raw
         |), h${i}raw AS MATERIALIZED (
         |  SELECT cust, CAST(SUM(w * a) AS BIGINT) AS hraw
         |  FROM pairs JOIN a$i USING (supp) GROUP BY cust
         |), hub$i AS MATERIALIZED (
         |  SELECT cust, hraw // GREATEST(1,
         |    (SELECT CAST(SUM(hraw) AS BIGINT) FROM h${i}raw)
         |      // $HitsScale) AS h
         |  FROM h${i}raw)""".stripMargin
    s"""WITH pairs AS MATERIALIZED (
       |  SELECT o_custkey AS cust, l_suppkey AS supp, COUNT(*) AS w
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY 1, 2
       |), hub0 AS MATERIALIZED (
       |  SELECT DISTINCT cust, CAST($HitsScale AS BIGINT) AS h FROM pairs
       |),
       |${(1 to 3).map(round).mkString(",\n")}
       |SELECT 'hub' AS kind, cust AS key, h AS score FROM hub3
       |UNION ALL
       |SELECT 'auth' AS kind, supp AS key, a AS score FROM a3
       |ORDER BY kind, score DESC, key""".stripMargin
  }

  /** Round budget for [[q135]]'s support peeling, shared with the
    * oracle twin's unroll (the q129 discipline: both engines peel the
    * SAME bounded computation). Probed on the real co-purchase graph
    * at four SFs — synchronous recompute rounds to fixpoint including
    * the terminal no-op: sf0.001 → 3, sf0.01 → 4, sf0.1 → 4, sf1 → 4.
    * The budget carries two spare rounds (testdata regenerates
    * between rounds); early exit makes the spares free when unused,
    * and the strict check throws loudly if a future graph needs more.
    */
  private[graft] val TrussRounds = 6

  /** q135: QUANTILE-parameterized k-truss over the co-purchase graph
    * (Cohen '08 "Trusses: cohesive subgraphs for social network
    * analysis") — the maximal subgraph in which every surviving edge
    * closes at least `thr` triangles WITH OTHER SURVIVORS, where the
    * support floor `thr` is not a fixed constant but the LOWER MEDIAN
    * of the graph's own initial per-edge support distribution. The
    * fixed-k form was probed and REJECTED in round 12 (SURVEY §7h):
    * per-edge support medians move 4× between SFs, so no constant
    * both discriminates and converges everywhere. The quantile form
    * computes the threshold INSIDE the query from the same data both
    * engines read — smallest support value v with
    * #{e : support(e) ≤ v} ≥ (|E|+1) div 2, all-integer rank
    * arithmetic — so it adapts per SF while staying hash-exact
    * cross-engine (probed thresholds: 42 / 10 / 5 / 5 at
    * sf0.001/0.01/0.1/1). In a curation pipeline this is the
    * edge-grain sibling of [[q129]]'s node tiers: keep co-purchase
    * (or co-citation / co-host) relations that sit inside mutually
    * reinforcing communities, peel hub-spoke noise that q127's raw
    * support cannot separate from community mass.
    *
    * Semantics: synchronous peeling (Batagelj–Zaveršnik shape) —
    * each round recomputes every survivor's support within the
    * surviving subgraph and drops ALL edges under `thr` at once, so
    * the fixpoint is peel-order-free and the DuckDB twin unrolls the
    * identical rounds. On the probed corpora
    * the sf0.001 graph peels to EMPTY (its dense little blob is a
    * mutual-support house of cards at every quantile — probed down to
    * p10) — a converged, correct answer that pins the empty-truss
    * path, exactly as [[q130]]'s deliberately-empty top rung does;
    * sf0.01 keeps 1127 of 115729 edges, sf1 4434420 of 11960000.
    *
    * Output grain: surviving canonical edges with their within-truss
    * support and the computed threshold
    * (`lo, hi, supp, thr`) — `thr` rides the result so the per-SF
    * parameter is part of the checked contract.
    *
    * Scale shape: the wedge enumeration runs ONCE (and is free when
    * the session tri-cache is warm — [[q122]]/[[q127]]/[[q131]] share
    * it). A triangle of the survivor-induced subgraph is exactly an
    * initial triangle whose three edges all survive, so each round
    * FILTERS the materialized triangle relation — three semi-joins
    * against the survivor edge set (broadcast below the q122 bound,
    * decided once; 8+8-byte keys above it) + one triangle-sized
    * explode/count — never re-enumerates, and both the triangle and
    * edge relations shrink monotonically round over round (the
    * median floor halves the edge set up front). The threshold
    * itself is a histogram-of-supports aggregate (rows bounded by
    * the distinct support values — ≪ |E|, ~30 on the real graphs)
    * plus one 1-row driver read; no edge-sized data ever reaches the
    * driver.
    */
  def q135(spark: SparkSession, dir: String): DataFrame = {
    truss(coPurchaseGraph(spark, dir), TrussRounds, BroadcastEdgeMaxRows,
      strict = true)
  }

  /** The triangle relation as canonical EDGE TRIPLES — the peeling
    * rounds' working form: a triangle of the survivor-induced
    * subgraph is exactly an initial triangle whose three edges all
    * survive, so every round FILTERS this relation instead of
    * re-running the O(m^1.5) wedge enumeration (apex↔lo / apex↔hi
    * re-canonicalized once, here).
    */
  private def triEdgeTriples(tris: DataFrame): DataFrame =
    tris.select(
      least(col("apex"), col("lo")).as("e1lo"),
      greatest(col("apex"), col("lo")).as("e1hi"),
      least(col("apex"), col("hi")).as("e2lo"),
      greatest(col("apex"), col("hi")).as("e2hi"),
      col("lo").as("e3lo"), col("hi").as("e3hi"))

  /** One peeling round's support relation: every edge of `cur` with
    * its triangle count WITHIN `cur` — the surviving triangles of
    * `triples` (all three edges semi-joined against `cur`, which
    * broadcasts below the caller's once-decided bound) exploded back
    * onto their edges; zero-support edges kept via the left join
    * (they are exactly the ones the next filter peels). Returns the
    * support relation AND the filtered triple relation so the next
    * round filters a shrinking input.
    */
  private def trussRound(triples: DataFrame, cur: DataFrame,
      useBroadcast: Boolean): (DataFrame, DataFrame) = {
    // ONE survivor-side plan shared by all three semi-joins (join
    // CONDITIONS instead of per-side renames keep the three broadcast
    // subtrees canonically identical, so ReuseExchange ships the
    // survivor set once per round instead of three times)
    val s = if (useBroadcast) broadcast(cur) else cur
    def semi(t: DataFrame, pre: String): DataFrame =
      t.join(s, t(s"${pre}lo") === s("lo") && t(s"${pre}hi") === s("hi"),
        "left_semi")
    val alive = semi(semi(semi(triples, "e1"), "e2"), "e3")
      .localCheckpoint()
    // no checkpoint here: the caller materializes the filtered child,
    // and supp's own plan above the checkpointed `alive` is two ops
    val supp = cur.join(
        alive.select(explode(array(
            struct(col("e1lo").as("lo"), col("e1hi").as("hi")),
            struct(col("e2lo").as("lo"), col("e2hi").as("hi")),
            struct(col("e3lo").as("lo"), col("e3hi").as("hi")))).as("e"))
          .select(col("e.lo"), col("e.hi"))
          .groupBy(col("lo"), col("hi"))
          .agg(count(lit(1)).as("supp")),
        Seq("lo", "hi"), "left")
      .na.fill(0L, Seq("supp"))
    (supp, alive)
  }

  /** [[q135]]'s core over an arbitrary canonical `(lo, hi)` edge
    * relation — spec entry point for planted graphs (enumerates
    * fresh, no session cache). Round 1 recomputes support in
    * full (the median floor just halved the edge set); later rounds
    * are DECREMENTAL — identical arithmetic, applied as subtraction —
    * and the loop invariant (suppRel = current survivors with support
    * within the current set; sub-thr rows are next round's peel)
    * makes convergence detection a filter instead of an extra
    * recompute. With `strict`, an exhausted budget with sub-thr rows
    * still present throws loudly (q129's discipline: silent
    * non-convergence returns sub-threshold edges the oracle twin
    * can't catch); the rounds=0 degenerate keeps the old count-only
    * verification round, since stale initial supports say nothing
    * about stability.
    */
  private[graft] def trussOn(pairs: DataFrame,
      rounds: Int = TrussRounds,
      broadcastMaxRows: Long = BroadcastEdgeMaxRows,
      strict: Boolean = false): DataFrame =
    truss(trianglesOf(sized(pairs, broadcastMaxRows)), rounds,
      broadcastMaxRows, strict)

  private def truss(t: Triangles, rounds: Int, broadcastMaxRows: Long,
      strict: Boolean): DataFrame = {
    val pairs = t.graph.edges
    val nEdges = t.graph.nEdges
    if (nEdges == 0)
      return pairs.select(col("lo"), col("hi"), lit(0L).as("supp"),
        lit(0L).as("thr"))
    // the ONE enumeration — free when the session tri-cache is warm;
    // every peeling round below filters it, never re-enumerates
    val tris0 = t.tris
    // round 15: below the broadcast bound the peel itself runs ON THE
    // DRIVER (the BPE/q34 local-vs-distributed dispatch discipline).
    // In this regime the edge relation already rides to the driver —
    // it builds the alive-set broadcasts (and the tri fill's
    // [[LocalGraph]]) — and the 4-round synchronous peel was paying ~20
    // sequential Spark jobs (checkpoints, semi-joins, convergence
    // probes) to move a few hundred thousand int64s per round: 5.8 s
    // at sf0.1 where the arithmetic is ~10M array ops. The triangle
    // relation is additionally bounded by the pin rule's row bound
    // (triangles can outgrow edges on dense graphs; above it the
    // distributed rounds below run even when the edges broadcast).
    // Identical arithmetic, budget and strict-throw semantics —
    // GraphSpec pins arm equality on planted graphs, the oracle the
    // real ones at two SFs.
    if (t.graph.local.isDefined &&
        t.nTris <= graft.SessionCaches.ResultPinMaxRows)
      return trussLocal(t.graph.local.get, tris0, rounds, strict)
    val sup0 = pairs.join(edgeSupportCounts(tris0, "supp"),
        Seq("lo", "hi"), "left")
      .na.fill(0L, Seq("supp"))
      .localCheckpoint()
    // lower-median support: smallest v whose cumulative edge count
    // reaches ceil(|E|/2) — the histogram is bounded by the distinct
    // support values (≪ |E|), so the unpartitioned window and the
    // 1-row read are constant-sized, never edge-sized
    val target = (nEdges + 1L) / 2L
    val thr = sup0.groupBy(col("supp")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("supp"))))
      .filter(col("cum") >= target)
      .agg(min(col("supp")).as("t"))
      .head.getLong(0)
    // alive-set joins broadcast below the bound, decided once on the
    // initial edge count (monotone shrinking — the q34/q129 discipline)
    val useBroadcast = nEdges <= broadcastMaxRows
    def bcast(df: DataFrame): DataFrame =
      if (useBroadcast) broadcast(df) else df
    val s1 = sup0.filter(col("supp") >= thr)
      .select(col("lo"), col("hi")).localCheckpoint()
    // INVARIANT through the loop: suppRel = every edge of the current
    // survivor set with its support WITHIN that set (sub-thr rows are
    // the ones the next round peels; none left ⟺ fixpoint — so
    // convergence detection is a filter, not an extra recompute)
    var suppRel: DataFrame = null
    var triples = triEdgeTriples(tris0)
    var converged = false
    var i = 0
    // round 1 recomputes in full — the median floor just halved the
    // edge set, so the support delta is edge-set-sized and a
    // decrement pass would cost as much as the recompute
    if (rounds >= 1) {
      val (supp, alive) = trussRound(triples, s1, useBroadcast)
      suppRel = supp.localCheckpoint()
      triples = alive
      converged = suppRel.filter(col("supp") < thr).isEmpty
      i = 1
    } else
      suppRel = sup0.filter(col("supp") >= thr).localCheckpoint()
    // rounds 2+ go DECREMENTAL: past the first peel the survivor set
    // moves by a trickle, so instead of re-counting every triangle we
    // subtract the triangles that LOST an edge. The triangle base is
    // materialized ONCE (round 1's `alive`); each later round derives
    // its alive view by three broadcast anti-probes against the
    // CUMULATIVE dropped set — constant chain depth, map-side, and no
    // triangle-sized re-write per round (the first decremental cut
    // re-materialized the relation every round: 720 MB/round at sf1
    // to delete 20 edges)
    var cumDropped: DataFrame = null
    while (i < rounds && !converged) {
      val dropped =
        bcast(suppRel.filter(col("supp") < thr)
          .select(col("lo"), col("hi")).localCheckpoint())
      def hitBy(t: DataFrame, pre: String,
          s: DataFrame): org.apache.spark.sql.Column =
        t(s"${pre}lo") === s("lo") && t(s"${pre}hi") === s("hi")
      val aliveT =
        if (cumDropped == null) triples
        else {
          val c = bcast(cumDropped)
          triples
            .join(c, hitBy(triples, "e1", c), "left_anti")
            .join(c, hitBy(triples, "e2", c), "left_anti")
            .join(c, hitBy(triples, "e3", c), "left_anti")
        }
      val corners = array(
        struct(col("e1lo").as("lo"), col("e1hi").as("hi")),
        struct(col("e2lo").as("lo"), col("e2hi").as("hi")),
        struct(col("e3lo").as("lo"), col("e3hi").as("hi")))
      // triangles losing >= 1 edge this round, each counted ONCE (a
      // triangle can lose two edges at once — hence the distinct):
      // ONE exploded scan probed against the broadcast dropped set
      val removed = aliveT
        .select(col("e1lo"), col("e1hi"), col("e2lo"), col("e2hi"),
          col("e3lo"), col("e3hi"), explode(corners).as("e"))
        .select(col("e1lo"), col("e1hi"), col("e2lo"), col("e2hi"),
          col("e3lo"), col("e3hi"),
          col("e.lo").as("lo"), col("e.hi").as("hi"))
        .join(dropped, Seq("lo", "hi"), "left_semi")
        .select(col("e1lo"), col("e1hi"), col("e2lo"), col("e2hi"),
          col("e3lo"), col("e3hi"))
        .distinct()
      val dec = removed.select(explode(corners).as("e"))
        .select(col("e.lo"), col("e.hi"))
        .groupBy(col("lo"), col("hi"))
        .agg(count(lit(1)).as("dec"))
      val next = suppRel.filter(col("supp") >= thr)
        .join(dec, Seq("lo", "hi"), "left")
        .select(col("lo"), col("hi"),
          (col("supp") - coalesce(col("dec"), lit(0L))).as("supp"))
        .localCheckpoint()
      converged = next.filter(col("supp") < thr).isEmpty
      suppRel = next
      cumDropped =
        if (cumDropped == null) dropped
        else cumDropped.unionAll(dropped).localCheckpoint()
      i += 1
    }
    if (strict && !converged) {
      // i > 0: the invariant makes `converged` exact — throw directly.
      // The rounds=0 degenerate (spec-only) keeps the old count-only
      // verification: stale initial supports say nothing about
      // stability, so one full recompute decides
      val stable = i == 0 &&
        trussRound(triples, s1, useBroadcast)._1
          .filter(col("supp") < thr).isEmpty
      if (!stable)
        throw new IllegalStateException(
          s"k-truss peel (thr=$thr) not converged within $rounds " +
            "rounds — raise the round budget (and the oracle twin's " +
            "unroll) for this graph")
    }
    suppRel.filter(col("supp") >= thr)
      .select(col("lo"), col("hi"), col("supp"), lit(thr).as("thr"))
      .orderBy(col("lo"), col("hi"))
  }

  /** Driver-local synchronous peel — [[trussOn]]'s below-bound arm.
    * A canonical edge (lo < hi) is a [[LocalGraph]] slot whose
    * neighbour sorts after its row; a triangle's edge is found by
    * binary search within the `lo` row (done once per triangle edge);
    * each round is one pass over the triangle index triples (alive×3
    * → credit 3 edges) and one pass over the edges. Threshold, round
    * counting, early exit, budget and strict-throw semantics mirror
    * the distributed rounds exactly (including the rounds=0
    * count-only verification degenerate); the output relation is
    * re-parallelized and sorted like the distributed arm's.
    */
  private def trussLocal(g: LocalGraph, tris: DataFrame, rounds: Int,
      strict: Boolean): DataFrame = {
    val spark = tris.sparkSession
    import spark.implicits._
    // number the canonical slots: edge e joins nodes eLo(e) < eHi(e)
    val edgeAt = new Array[Int](g.adj.length)
    val eLo = new Array[Int](g.adj.length / 2)
    val eHi = new Array[Int](g.adj.length / 2)
    var m = 0
    var u = 0
    while (u < g.nNodes) {
      var p = g.off(u)
      while (p < g.off(u + 1)) {
        if (g.adj(p) > u) { edgeAt(p) = m; eLo(m) = u; eHi(m) = g.adj(p); m += 1 }
        p += 1
      }
      u += 1
    }
    def idx(lo: Long, hi: Long): Int = {
      val l = g.indexOf(lo); val h = g.indexOf(hi)
      val p = if (l < 0 || h < 0) -1
        else java.util.Arrays.binarySearch(g.adj, g.off(l), g.off(l + 1), h)
      if (p < 0) throw new IllegalStateException(
        s"triangle edge ($lo,$hi) missing from the edge relation")
      edgeAt(p)
    }
    val ts = tris.select(col("apex"), col("lo"), col("hi"))
      .queryExecution.executedPlan.executeCollect()
    val nT = ts.length
    val te1 = new Array[Int](nT)
    val te2 = new Array[Int](nT)
    val te3 = new Array[Int](nT)
    var k = 0
    while (k < nT) {
      val r = ts(k)
      val a = r.getLong(0); val l = r.getLong(1); val h = r.getLong(2)
      te1(k) = idx(math.min(a, l), math.max(a, l))
      te2(k) = idx(math.min(a, h), math.max(a, h))
      te3(k) = idx(l, h)
      k += 1
    }
    def supportWithin(alive: Array[Boolean]): Array[Long] = {
      val s = new Array[Long](m)
      var t = 0
      while (t < nT) {
        val a = te1(t); val b = te2(t); val c = te3(t)
        if (alive(a) && alive(b) && alive(c)) {
          s(a) += 1; s(b) += 1; s(c) += 1
        }
        t += 1
      }
      s
    }
    def anySubThr(alive: Array[Boolean], s: Array[Long],
        thr: Long): Boolean = {
      var e = 0
      while (e < m) {
        if (alive(e) && s(e) < thr) return true
        e += 1
      }
      false
    }
    val sup0 = supportWithin(Array.fill(m)(true))
    // lower median over the initial supports: smallest v with
    // #{e : supp(e) <= v} >= ceil(m/2) = the rank-target order stat
    val sorted = sup0.clone()
    java.util.Arrays.sort(sorted)
    val thr = sorted((m + 1) / 2 - 1)
    val alive = new Array[Boolean](m)
    k = 0; while (k < m) { alive(k) = sup0(k) >= thr; k += 1 }
    // INVARIANT mirrors the distributed loop: curSupp = every current
    // survivor's support within the survivor set (sup0 plays the
    // rounds=0 degenerate's stale role); sub-thr rows are the next
    // round's peel; none left <=> fixpoint
    var curSupp = sup0
    var converged = false
    var i = 0
    while (i < rounds && !converged) {
      if (i > 0) {
        var e = 0
        while (e < m) { alive(e) &&= curSupp(e) >= thr; e += 1 }
      }
      curSupp = supportWithin(alive)
      converged = !anySubThr(alive, curSupp, thr)
      i += 1
    }
    if (strict && !converged) {
      val stable = i == 0 && !anySubThr(alive, supportWithin(alive), thr)
      if (!stable)
        throw new IllegalStateException(
          s"k-truss peel (thr=$thr) not converged within $rounds " +
            "rounds — raise the round budget (and the oracle twin's " +
            "unroll) for this graph")
    }
    val out = Vector.newBuilder[(Long, Long, Long, Long)]
    k = 0
    while (k < m) {
      if (alive(k) && curSupp(k) >= thr)
        out += ((g.ids(eLo(k)), g.ids(eHi(k)), curSupp(k), thr))
      k += 1
    }
    spark.createDataset(out.result()).toDF("lo", "hi", "supp", "thr")
      .orderBy(col("lo"), col("hi"))
  }

  /** DuckDB twin of [[q135]]: the same initial-support median
    * threshold and [[TrussRounds]] synchronous recompute rounds
    * unrolled (fixpoints are stable, so Spark's early exit is
    * output-identical to the full unroll). Every multiply-referenced
    * CTE is AS MATERIALIZED — q122Sql's documented inlining pitfall.
    */
  val q135Sql: String = {
    def supportBlock(edges: String, tag: String): String =
      s"""${triangleCtes(edges, tag)}, sup$tag AS MATERIALIZED (
         |  SELECT e.lo, e.hi, COALESCE(c.cnt, 0) AS supp
         |  FROM $edges e LEFT JOIN (
         |    SELECT lo, hi, COUNT(*) AS cnt FROM (
         |      SELECT LEAST(apex, lo) AS lo, GREATEST(apex, lo) AS hi
         |      FROM tri$tag
         |      UNION ALL SELECT LEAST(apex, hi), GREATEST(apex, hi)
         |      FROM tri$tag
         |      UNION ALL SELECT lo, hi FROM tri$tag) GROUP BY 1, 2) c
         |    ON c.lo = e.lo AND c.hi = e.hi
         |)""".stripMargin
    val roundBlocks = (1 to TrussRounds).map { r =>
      val survivors =
        s"""s$r AS MATERIALIZED (
           |  SELECT lo, hi FROM sup${r - 1}
           |  WHERE supp >= (SELECT t FROM thr)
           |)""".stripMargin
      s"$survivors,\n${supportBlock(s"s$r", s"$r")}"
    }
    s"""$PairsCte, ${supportBlock("pairs", "0")},
       |thr AS MATERIALIZED (
       |  SELECT MIN(supp) AS t FROM (
       |    SELECT supp, SUM(c) OVER (ORDER BY supp) AS cum FROM (
       |      SELECT supp, COUNT(*) AS c FROM sup0 GROUP BY supp))
       |  WHERE cum >= (SELECT (COUNT(*) + 1) // 2 FROM pairs)
       |),
       |${roundBlocks.mkString(",\n")}
       |SELECT lo, hi, supp, (SELECT t FROM thr) AS thr
       |FROM sup$TrussRounds
       |WHERE supp >= (SELECT t FROM thr)
       |ORDER BY lo, hi""".stripMargin
  }
}
