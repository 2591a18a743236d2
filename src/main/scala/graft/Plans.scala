package graft

/** Plan-dump driver for the optimization rounds: writes
  * `.explain("formatted")` for the requested registry queries to
  * `<outDir>/<query>_<tag>.txt` so before/after plan claims in
  * OPTIMIZATION_r*.md are checkable without running Spark.
  *
  * Usage: runMain graft.Plans <sfDir> <outDir> <tag> [q1,q2,...]
  * (no list = every registry query). Plans are captured WITHOUT
  * executing the final action — but queries with driver-side loops
  * (k-core peels, CC star rounds) run their loop's jobs while the
  * plan is CONSTRUCTED, so a dump is not free; it is still far
  * cheaper than the bench.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val tag = args(2)
    val only: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(",").toSet) else None
    new java.io.File(outDir).mkdirs()
    val spark = GraftSession.builder(
        master = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          val w = new java.io.PrintWriter(s"$outDir/${name}_$tag.txt")
          try w.println(plan) finally w.close()
          Console.err.println(s"[plans] $name ok")
        } catch {
          case e: Throwable =>
            Console.err.println(s"[plans] $name failed: $e")
        }
      }
    spark.stop()
  }
}
