package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SessionCaches, SparkEntry}

/** Benchmark harness entry point. `perfbench/run.py` launches one JVM
  * per run and reads the result file this writes; all arithmetic and
  * output checks happen there.
  *
  * {{{
  * Main --workload queries --seed 1 --seconds 30 --trace 0 --cores 4
  *      --min-passes 4 --data <tables dir> --work <scratch dir>
  *      --out <result.json> [--dump <dir>]
  * }}}
  */
object Main {
  private val json = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    val cores = a("cores").toInt
    val minPasses = a("min-passes").toInt
    Files.createDirectories(work)

    val fixture = if (Transfer.isTransfer(workload)) Some(new Transfer.Fixture(work)) else None
    val spark = session(cores, work)
    val readyMs = System.currentTimeMillis()
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> traced,
      "cores" -> cores, "ready_ms" -> readyMs,
      "jvm_flags" -> Jvm.flags,
      "spark_conf" -> spark.sparkContext.getConf.getAll.toSeq.sorted
        .map { case (k, v) => Seq(k, v) })
    try {
      val tr = new Tracer(traced)
      val counters = if (traced) {
        val c = new SparkCounters; spark.sparkContext.addSparkListener(c); Some(c)
      } else None
      fixture match {
        case Some(fx) =>
          out ++= Transfer.run(spark, fx, work, seconds, minPasses, tr, counters)
        case None =>
          out ++= runQueries(spark, a("data"), seed, seconds, minPasses, tr,
            counters, a.get("dump"))
      }
      if (traced) out("spans") = tr.all.map { s =>
        Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "pass" -> s.pass, "start_ns" -> s.startNs, "end_ns" -> s.endNs)
      }
    } finally {
      spark.stop()
      fixture.foreach(_.close())
    }
    Files.writeString(Paths.get(a("out")), json.writeValueAsString(out))
  }

  def session(cores: Int, work: java.nio.file.Path): SparkSession = {
    val spark = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("graft.tmpDir", work.resolve("tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Cold pass, then warm passes; the seed fixes the query order. */
  def runQueries(spark: SparkSession, dir: String, seed: Long,
      seconds: Double, minPasses: Int, tr: Tracer,
      counters: Option[SparkCounters], dump: Option[String]): Map[String, Any] = {
    val order = new scala.util.Random(seed).shuffle(Queries.all)
    val passes = Passes.run(spark, seconds, minPasses, tr, counters) { _ =>
      val f0 = SessionCaches.buildBreakdownFor(dir)
      val t0 = System.nanoTime()
      val res = order.map { case (n, f) => Queries.runOne(spark, dir, tr, n, f, dump) }
      val wall = (System.nanoTime() - t0) / 1e9
      val f1 = SessionCaches.buildBreakdownFor(dir)
      Map("wall_s" -> wall, "queries" -> res.map(_.toMap),
        "fills" -> f1.map { case (k, v) => k -> (v - f0.getOrElse(k, 0.0)) })
    }
    dump.foreach(d => Files.writeString(Paths.get(s"$d/oracle_sql.json"),
      json.writeValueAsString(SparkEntry.oracleSql)))
    Map("order" -> order.map(_._1), "passes" -> passes)
  }
}
