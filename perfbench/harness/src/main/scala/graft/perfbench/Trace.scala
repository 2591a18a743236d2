package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One recorded span: a timed call into a layer of the program. */
final case class Span(id: Int, parent: Int, name: String, pass: Int,
    startNs: Long, endNs: Long)

/** In-memory span recorder. Spans are kept until the run ends and
  * written out once; with tracing off `span` only runs the body.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0
  var pass: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = { nextId += 1; nextId }
      val parent = stack.headOption.getOrElse(0)
      stack.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        stack.pop()
        spans += Span(id, parent, name, pass, t0, System.nanoTime())
      }
    }

  def all: Seq[Span] = spans.toSeq
}

/** Spark listener-bus counters, read as deltas around a pass. */
final class SparkCounters extends SparkListener {
  private val c = Seq("jobs", "stages", "tasks", "tasks_failed",
    "run_ms", "gc_ms", "shuffle_read_b", "shuffle_write_b", "spill_b",
    "result_b", "job_ns").map(_ -> new AtomicLong()).toMap
  // wall time with at least one job running ("job_ns"): overlapping
  // jobs count once
  private var active = 0
  private var busySince = 0L

  private def add(k: String, v: Long): Unit = c(k).addAndGet(v): Unit

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (active == 0) busySince = e.time
    active += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    add("jobs", 1)
    active -= 1
    if (active == 0) add("job_ns", (e.time - busySince) * 1000000L)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add("stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    if (!e.taskInfo.successful) add("tasks_failed", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("run_ms", m.executorRunTime)
      add("gc_ms", m.jvmGCTime)
      add("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead)
      add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten)
      add("spill_b", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("result_b", m.resultSize)
    }
  }

  /** Counter values after every event posted so far was delivered. */
  def snapshot(sc: SparkContext): Map[String, Long] = {
    org.apache.spark.graftbench.ListenerBus.drain(sc)
    c.map { case (k, v) => k -> v.get() }
  }
}

/** JVM-wide counters from the platform MXBeans and Spark's codegen
  * metrics source.
  */
object Jvm {
  def snapshot(): Map[String, Double] = {
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum.toDouble
    val jitMs = Option(ManagementFactory.getCompilationMXBean)
      .map(_.getTotalCompilationTime.toDouble).getOrElse(0.0)
    val codeCacheMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))
      .map(_.getUsage.getUsed).sum / 1e6
    val codegen = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount.toDouble
    Map("gc_ms" -> gcMs, "jit_ms" -> jitMs, "code_cache_mb" -> codeCacheMb,
      "codegen_classes" -> codegen)
  }

  /** Heap in use right after a full collection: the live set. Pending
    * listener events are delivered first, and the pause between two
    * collections lets Spark's context cleaner drop the blocks of RDDs
    * the first collection found unreachable.
    */
  def liveHeapMb(sc: SparkContext): Double = {
    org.apache.spark.graftbench.ListenerBus.drain(sc)
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  def flags: Seq[String] =
    ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
}

/** The pass loop both workloads share. */
object Passes {
  /** Run `pass(i)` until `seconds` have elapsed and at least `minPasses`
    * passes ran. Each pass returns its own record (with its `wall_s`);
    * this adds the JVM and, when tracing, Spark counter deltas around it
    * and the live heap after it.
    */
  def run(spark: org.apache.spark.sql.SparkSession, seconds: Double,
      minPasses: Int, tr: Tracer, counters: Option[SparkCounters])(
      pass: Int => Map[String, Any]): Seq[Map[String, Any]] = {
    val out = mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    while (out.size < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      val i = out.size
      tr.pass = i
      val c0 = counters.map(_.snapshot(spark.sparkContext))
      val j0 = Jvm.snapshot()
      val rec = pass(i)
      val j1 = Jvm.snapshot()
      val c1 = counters.map(_.snapshot(spark.sparkContext))
      out += rec ++ Map("pass" -> i,
        "jvm" -> j1.map { case (k, v) => k -> (v - j0(k)) },
        "code_cache_mb" -> j1("code_cache_mb"),
        "spark" -> c1.map(_.map { case (k, v) => k -> (v - c0.get(k)) }),
        "live_heap_mb" -> Jvm.liveHeapMb(spark.sparkContext))
    }
    out.toSeq
  }
}
