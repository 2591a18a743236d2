package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry

/** The query workload: which registry queries it runs, and one timed
  * pass over them.
  */
object Queries {
  type Q = (SparkSession, String) => DataFrame

  /** The `queries` workload. Graph family and cluster-label consumers,
    * every input below the driver-local edge bounds, so the driver-local
    * kernels and all three graph cache fills (tri, wsym, ccLabels) run;
    * and shuffle- and executor-bound curation and dedup queries with no
    * graph kernel.
    */
  val all: Seq[(String, Q)] = Seq(
    "q121_pagerank", "q122_triangles", "q124_bfs_hops", "q129_kcore",
    "q131_clustering", "q35_dup_clusters", "q36_cluster_rep",
    "q31_ngram_jaccard", "q76_fuzzy_match2").map(n => n -> SparkEntry.queries(n))

  /** Order-insensitive digest of a result: row count plus the sum of
    * per-row xxhash64 values (mod 2^31-1). Floating-point columns are
    * rounded to 6 decimals first, so the last-bit noise of a
    * reordered floating-point sum cannot flip the check.
    */
  def digest(df: DataFrame): DataFrame = {
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols: Seq[Column] = renamed.schema.fields.toSeq.map { f =>
      val c = col(f.name)
      f.dataType match {
        case DoubleType | FloatType => round(c.cast(DoubleType), 6)
        case ArrayType(DoubleType | FloatType, _) =>
          transform(c, x => round(x.cast(DoubleType), 6))
        case _: MapType => to_json(c)
        case _ => c
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    renamed.agg(count(lit(1)).as("rows"),
      coalesce(sum(pmod(h, lit(2147483647L))), lit(0L)).as("hash"))
  }

  final case class QRes(name: String, wallS: Double, buildS: Double,
      planS: Double, execS: Double, rows: Long, hash: Long,
      error: Option[String]) {
    def toMap: Map[String, Any] = Map("name" -> name, "wall_s" -> wallS,
      "build_s" -> buildS, "plan_s" -> planS, "exec_s" -> execS,
      "rows" -> rows, "hash" -> hash, "error" -> error)
  }

  /** Run one query: build the DataFrame through the program's entry
    * point, plan the digest, execute it. Each phase is timed and,
    * when tracing, recorded as a span.
    */
  def runOne(spark: SparkSession, dir: String, tr: Tracer, name: String,
      fn: Q, dump: Option[String]): QRes = tr.span(s"q.$name") {
    val t0 = System.nanoTime()
    var t1, t2 = t0
    try {
      val df = tr.span("entry.build")(fn(spark, dir))
      t1 = System.nanoTime()
      val d = digest(df)
      tr.span("spark.plan")(d.queryExecution.executedPlan)
      t2 = System.nanoTime()
      val row = tr.span("spark.exec")(d.collect().head)
      val t3 = System.nanoTime()
      dump.foreach(p => df.coalesce(1).write.mode("overwrite").parquet(s"$p/$name"))
      QRes(name, (t3 - t0) / 1e9, (t1 - t0) / 1e9, (t2 - t1) / 1e9,
        (t3 - t2) / 1e9, row.getLong(0), row.getLong(1), None)
    } catch {
      case e: Throwable =>
        val t = System.nanoTime()
        QRes(name, (t - t0) / 1e9, 0, 0, 0, -1, 0, Some(e.toString.take(500)))
    }
  }

}
