package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Tables' schema memo: a repeated read infers nothing, a rewrite with
  * a new schema is seen, and no entry outlives its context.
  */
class TablesSpec extends SparkSpec {

  /** Spark jobs started while `f` runs, counted by a listener. */
  private def jobsDuring(f: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    org.apache.spark.graftspec.Listeners.drain(sc)
    sc.addSparkListener(listener)
    try { f; org.apache.spark.graftspec.Listeners.drain(sc) }
    finally sc.removeSparkListener(listener)
    jobs.get()
  }

  test("schema memo: a second read starts no Spark job; a rewrite with a new schema is read " +
      "as the new schema; evictContext drops every entry") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tables").toString
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(s"$dir/customer.parquet")
    val first = jobsDuring(Tables(spark, dir, "customer").schema)
    assert(first >= 1, "the first read inferred its schema without a job: is the memo keyed per read?")
    val second = jobsDuring(Tables(spark, dir, "customer").schema)
    assert(second === 0, s"a second read of the same table started $second Spark jobs")
    // a rewrite under the same dir changes the version stamp
    Seq((3L, 4.5, true)).toDF("k", "w", "flag")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val rewritten = Tables(spark, dir, "customer")
    assert(rewritten.columns.toSeq === Seq("k", "w", "flag"), rewritten.schema.treeString)
    assert(rewritten.collect().map(_.toSeq).toSeq === Seq(Seq(3L, 4.5, true)))
    SessionCaches.evictContext(spark.sparkContext)
    assert(SessionCaches.entriesOwnedBy(spark.sparkContext) === 0)
    assert(jobsDuring(Tables(spark, dir, "customer").schema) >= 1,
      "a read after eviction found its schema memoized")
  }

  test("schema memo: no entry survives a context stop") {
    val (exit, out) = ChildJvm.run("graft.TablesMemoStopMain", Nil)
    assert(exit === 0, out)
    assert(out.contains("entries before stop: 1") && out.contains("entries after stop: 0"), out)
  }
}

/** Reads one table twice in its own session, then stops the context and
  * prints the session-cache entries the context owned before and after.
  */
object TablesMemoStopMain {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[1]").appName("tables-memo-stop")
      .config("spark.ui.enabled", "false").getOrCreate()
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tables_stop").toString
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$dir/customer.parquet")
    Tables(spark, dir, "customer").schema
    Tables(spark, dir, "customer").schema
    val sc = spark.sparkContext
    println(s"entries before stop: ${SessionCaches.entriesOwnedBy(sc)}")
    spark.stop()
    println(s"entries after stop: ${SessionCaches.entriesOwnedBy(sc)}")
  }
}
