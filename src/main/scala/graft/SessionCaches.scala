package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Registry for session-scoped derived-relation caches (`tri`,
  * `wsym`, `ccLabels`, `verdicts`, `tiers-N`) and memos (Tables'
  * schemas), the one pin rule their relations are materialized by,
  * and the parquet temps that rule spills to.
  *
  * Lifetimes: keys are a per-session UUID held weakly by identity —
  * unique for the session's lifetime, unlike `identityHashCode`,
  * which can collide after GC and hand a later session DataFrames
  * bound to a stopped SparkContext. Entries are EVICTED when their
  * SparkContext stops (a listener registered once per context), so
  * localCheckpoint blocks and stopped sessions never stay reachable
  * for the JVM lifetime, and parquet temps registered here are
  * deleted on context stop and again by a JVM shutdown hook.
  *
  * Pin rule ([[pinCounted]], [[pinByRows]]): a relation of at most
  * [[ResultPinMaxRows]] rows stays a `localCheckpoint`, a larger one
  * spills to a parquet temp. Every cache fill goes through it, so the
  * bound and the spill branch live here and nowhere else.
  *
  * It also keeps the HONEST-ACCOUNTING ledger the bench needs: each
  * cache fill records its wall seconds against the input dir, so
  * `Bench` can charge the once-per-session enumeration into the suite
  * total instead of letting min-of-N exclude it.
  */
object SessionCaches {

  /** Claim-then-build holder: the map stores the CLAIM (cheap,
    * lock-free via putIfAbsent) and the build runs under the holder's
    * own lazy-init lock, never under a ConcurrentHashMap bin lock
    * (round 14 — computeIfAbsent held the bin for the whole
    * multi-minute Spark build, blocking unrelated keys that hashed to
    * the same bin, and a build that recursively called getOrBuild
    * risked IllegalStateException("recursive update")). A throwing
    * build leaves the lazy uninitialized, so the next caller retries
    * it — the same re-attempt semantics computeIfAbsent had.
    */
  private final class Holder(kind: String, dir: String, charged: Boolean,
      build: () => AnyRef) {
    lazy val value: AnyRef = {
      val t0 = System.nanoTime()
      val v = build()
      val secs = (System.nanoTime() - t0) / 1e9
      if (charged) {
        buildSecs.merge(dir, secs, (a, b) => a + b)
        buildSecsByKind.merge((dir, kind), secs, (a, b) => a + b)
      }
      v
    }
  }

  private final case class Entry(holder: Holder, sc: SparkContext)

  private val entries = new ConcurrentHashMap[String, Entry]()
  // temp path -> owning context (swept on that context's stop)
  private val temps = new ConcurrentHashMap[String, SparkContext]()
  // input dir -> accumulated cache-fill wall seconds (bench ledger),
  // plus the per-kind breakdown the bench detail line reports so a
  // cache_build_s jump is attributable to the cache that grew
  private val buildSecs = new ConcurrentHashMap[String, java.lang.Double]()
  private val buildSecsByKind =
    new ConcurrentHashMap[(String, String), java.lang.Double]()
  // contexts that already carry our eviction listener (identity map —
  // a context is a live singleton while registered; stopped contexts
  // are removed by the listener itself)
  private val hooked =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkContext, java.lang.Boolean]())
  private val shutdownHooked = new AtomicBoolean(false)
  // session -> stable per-session UUID, held WEAKLY by identity: a
  // live session always maps to the same id, a collected one can
  // never hand its id to a newcomer (the identityHashCode hazard)
  private val sessionIds =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, String]())

  private def sessionId(spark: SparkSession): String =
    sessionIds.synchronized {
      var id = sessionIds.get(spark)
      if (id == null) {
        id = java.util.UUID.randomUUID().toString
        sessionIds.put(spark, id)
      }
      id
    }

  /** Fetch-or-build a session-scoped cache entry. `build` runs at
    * most once per (session, kind, dir); its wall seconds accrue to
    * `dir`'s ledger. The entry lives until the session's
    * SparkContext stops. The map holds only a claim — the build runs
    * outside any map lock (see [[Holder]]), so concurrent builds of
    * DIFFERENT keys never serialize and a build may itself call
    * getOrBuild for another key.
    */
  def getOrBuild[T <: AnyRef](spark: SparkSession, kind: String,
      dir: String)(build: => T): T =
    claim(spark, kind, dir, charged = true)(build)

  /** [[getOrBuild]] for a value too small to charge the bench ledger
    * with: a memo (Tables' schemas) that lives and is evicted like
    * every other entry.
    */
  private[graft] def memo[T <: AnyRef](spark: SparkSession, kind: String,
      key: String)(build: => T): T =
    claim(spark, kind, key, charged = false)(build)

  private def claim[T <: AnyRef](spark: SparkSession, kind: String,
      dir: String, charged: Boolean)(build: => T): T = {
    ensureHooks(spark.sparkContext)
    val key = s"${sessionId(spark)} $kind $dir"
    val fresh = Entry(new Holder(kind, dir, charged, () => build), spark.sparkContext)
    val claimed = entries.putIfAbsent(key, fresh) match {
      case null => fresh
      case prior => prior
    }
    claimed.holder.value.asInstanceOf[T]
  }

  /** Row bound under which a pinned relation stays a `localCheckpoint`
    * (executor block storage — free to re-read, but HEAP-RESIDENT);
    * above it the relation spills to a parquet temp (a 100 TB edge or
    * verdict relation must never pin executor memory). 32M rows ×
    * ~60 B ≈ 2 GB across the local executor — comfortable here, and
    * on a real cluster the block storage is per-executor anyway. Row
    * COUNT, deterministic for a given input: the q34/q42 once-decided
    * dispatch discipline.
    */
  private[graft] val ResultPinMaxRows = 32000000L

  /** Materialize `df`, whose row count the caller already knows, by
    * the pin rule: `localCheckpoint` at or below `bound` rows, a
    * parquet temp above it. Both arms are EAGER (the caller may
    * unpersist inputs afterwards) and byte-identical in content — the
    * dispatch changes where the bytes live, never what they are.
    */
  private[graft] def pinByRows(df: DataFrame, rows: Long, tag: String,
      bound: Long = ResultPinMaxRows): DataFrame =
    if (rows <= bound) df.localCheckpoint() else spill(df, tag)

  /** The count-first pin every session-cache fill uses: checkpoint
    * `df`, count it, keep the checkpoint at or below `bound` rows,
    * otherwise spill it to a parquet temp and release the heap copy.
    * Returns the pinned relation with its row count, so a caller
    * dispatching on the size (a [[graft.operators.Graph.Sized]]) never
    * counts it again.
    */
  private[graft] def pinCounted(df: DataFrame, tag: String,
      bound: Long = ResultPinMaxRows): (DataFrame, Long) = {
    val held = df.localCheckpoint()
    val rows = held.count()
    if (rows <= bound) (held, rows)
    else {
      val spilled = spill(held, tag)
      held.unpersist(blocking = false)
      (spilled, rows)
    }
  }

  /** Write `df` to a parquet temp under `graft.tmpDir` (conf) or
    * `java.io.tmpdir` and read it back; the temp is swept when the
    * session's context stops. At cluster scale the conf points at the
    * job's scratch prefix on the shared store.
    */
  private def spill(df: DataFrame, tag: String): DataFrame = {
    val spark = df.sparkSession
    val base = spark.conf.getOption("graft.tmpDir")
      .getOrElse(System.getProperty("java.io.tmpdir"))
    val p = s"$base/graft-$tag-${java.util.UUID.randomUUID}"
    df.write.mode("overwrite").parquet(p)
    registerTemp(spark, p)
    spark.read.parquet(p)
  }

  /** Register a parquet temp dir for sweeping when `spark`'s context
    * stops (and at JVM shutdown, whichever comes first).
    */
  private[graft] def registerTemp(spark: SparkSession, path: String): Unit = {
    ensureHooks(spark.sparkContext)
    temps.put(path, spark.sparkContext)
  }

  /** Accumulated cache-fill wall seconds charged to `dir` in this
    * JVM — the bench's honest-accounting line.
    */
  def buildSecondsFor(dir: String): Double =
    Option(buildSecs.get(dir)).fold(0.0)(_.doubleValue())

  /** Per-kind breakdown of [[buildSecondsFor]] — which cache grew. */
  def buildBreakdownFor(dir: String): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    buildSecsByKind.asScala.collect {
      case ((d, kind), secs) if d == dir => kind -> secs.doubleValue()
    }.toMap
  }

  /** Evict every entry and sweep every temp owned by `sc`. Invoked by
    * the per-context listener on application end; exposed for specs.
    */
  private[graft] def evictContext(sc: SparkContext): Unit = {
    entries.entrySet().removeIf(e => e.getValue.sc eq sc)
    val it = temps.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getValue eq sc) {
        deleteRecursively(new java.io.File(e.getKey))
        it.remove()
      }
    }
  }

  /** How many entries `sc` owns — for specs. */
  private[graft] def entriesOwnedBy(sc: SparkContext): Int = {
    import scala.jdk.CollectionConverters._
    entries.values().asScala.count(_.sc eq sc)
  }

  private def ensureHooks(sc: SparkContext): Unit = {
    if (shutdownHooked.compareAndSet(false, true))
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        val it = temps.keySet().iterator()
        while (it.hasNext) deleteRecursively(new java.io.File(it.next()))
      }, "graft-session-cache-sweep"))
    hooked.synchronized {
      if (!hooked.containsKey(sc)) {
        hooked.put(sc, java.lang.Boolean.TRUE)
        sc.addSparkListener(new SparkListener {
          override def onApplicationEnd(
              e: SparkListenerApplicationEnd): Unit = evictContext(sc)
        })
      }
    }
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) {
      val kids = f.listFiles()
      if (kids != null) kids.foreach(deleteRecursively)
    }
    f.delete(): Unit
  }
}
