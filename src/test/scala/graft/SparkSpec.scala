package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs; one per suite (lazy). */
trait SparkSpec extends AnyFunSuite {
  val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    // match GraftSession: tz-less parquet timestamps are UTC instants
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Runs `stream` into the append-mode memory sink `table` until its
    * input is drained, asserts it kept no state, and stops it; the
    * rows are then in `table`.
    */
  def drainStateless(stream: DataFrame, table: String, what: String): Unit = {
    val q = stream.writeStream.outputMode("append").format("memory")
      .queryName(table).start()
    try {
      q.processAllAvailable()
      assert(q.lastProgress.stateOperators.isEmpty ||
        q.lastProgress.stateOperators.forall(_.numRowsTotal == 0L),
        s"$what stream must keep no state")
    } finally q.stop()
  }
}
