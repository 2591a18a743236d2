package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.GraftFunctions

/** Session extensions: registers graft's native expressions
  * ([[graft.functions.GraftFunctions.all]]) so plain SQL
  * (`SELECT fingerprint64(text), dot_d(a, b)`) works on any session
  * built with `.config("spark.sql.extensions", "graft.GraftExtensions")`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach { case (name, cls, build) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), build))
    }
}

/** Canonical session builder: the configuration every graft driver
  * (Verify, Bench, user apps) wants — AQE with skew handling, UTC,
  * sensible local shuffle parallelism, graft SQL extensions, and the
  * gftp:// connector registered.
  */
object GraftSession {
  def builder(master: String = "local[*]",
      shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // default 100 thrashes across a many-query workload — evicted
      // giant generated classes (64-agg signatures, struct explodes)
      // recompile in Janino at random, multi-second stalls
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // parquet timestamps written without a timezone (pandas/arrow
      // `timestamp[us]`, isAdjustedToUTC=false) must read as plain
      // UTC TIMESTAMP, not TIMESTAMP_NTZ: the engine contract is
      // "every timestamp is a UTC instant" and the DuckDB oracle
      // reads the same files as naive-UTC
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.hadoop.fs.gftp.impl",
        "graft.sources.ftp.GraftFtpFileSystem")
      .config("spark.ui.enabled", "false")
}
