package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.blueprints.{Blueprint, Download, Upload}
import graft.ftp.MiniFtpServer
import graft.sources.ssh.SshServer

/** The probe behind `FileOps.LocalMaxEntries` and `LocalMaxBytes`:
  * times a regex Upload and a regex Download of `n` flat files over
  * loopback FTP and SFTP, on the driver arm (no bound) and on the
  * executors (bound 0), in one `local[4]` session, and prints the
  * median wall per cell after a warm-up. Runs alternate arms.
  *
  * {{{
  * sbt "Test/runMain graft.TransferCrossover files 7 4,8,16,32,64,128,256"
  * sbt "Test/runMain graft.TransferCrossover bytes 7 8,16,32"
  * }}}
  * `files`: n files of 16 KB each; `bytes`: 4 files of m MB in total.
  */
object TransferCrossover {
  def main(args: Array[String]): Unit = {
    val Array(mode, runsArg, sizesArg) = args
    val runs = runsArg.toInt
    val sizes = sizesArg.split(",").map(_.toInt).toSeq
    val spark = SparkSession.builder().master("local[4]").appName("crossover")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val work = Files.createTempDirectory("graft_crossover")
    val roots = Seq("ftp", "sftp").map(p => p -> Files.createDirectories(work.resolve(p))).toMap
    val ftp = new MiniFtpServer(roots("ftp"))
    val ssh = new SshServer(roots("sftp"), Map("u" -> "p"))
    val ports = Map("ftp" -> ftp.port, "sftp" -> ssh.port)

    /** `count` files of `bytes` each, as `f_<i>.dat` in a fresh `dir`. */
    def fill(dir: Path, count: Int, bytes: Int): Unit = {
      clear(dir)
      val body = Array.tabulate[Byte](bytes)(_.toByte)
      (0 until count).foreach(i => Files.write(dir.resolve(f"f_$i%04d.dat"), body))
    }
    def clear(dir: Path): Unit = {
      if (Files.exists(dir)) Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(Files.delete)
      Files.createDirectories(dir)
    }
    def argv(p: String, from: String, to: String): Array[String] = Array(
      "--host", "127.0.0.1", "--port", ports(p).toString, "--username", "u", "--password", "p",
      "--protocol", p, "--source-file-name-match-type", "regex_match",
      "--source-file-name", "\\.dat$", "--source-folder-name", from,
      "--destination-folder-name", to, "--destination-file-name", "g.dat")

    /** Median ms of `runs` timed runs per arm, driver first. */
    def cell(p: String, verb: String, count: Int, bytes: Int, timed: Int): (Double, Double) = {
      val local = work.resolve("local")
      val (bp, from, to): (Blueprint, String, Path) = verb match {
        case "up" => fill(local, count, bytes); (Upload, local.toString, roots(p).resolve("up"))
        case _ => fill(roots(p).resolve("dl"), count, bytes); (Download, "dl", local)
      }
      val dst = if (verb == "up") "up" else local.toString
      val walls = (0 until timed).map { _ =>
        Seq(Long.MaxValue, 0L).map { bound =>
          clear(to)
          val t0 = System.nanoTime()
          val code = bp.runBounded(spark, argv(p, from, dst), bound, bound)
          val ms = (System.nanoTime() - t0) / 1e6
          val made = Files.list(to).count()
          require(code == 0 && made == count,
            s"$p $verb of $count files at bound $bound exited $code with $made files")
          ms
        }
      }
      def median(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
      (median(walls.map(_.head)), median(walls.map(_.last)))
    }

    for (p <- ports.keys; verb <- Seq("up", "dl")) cell(p, verb, 8, 16 << 10, 3) // warm-up
    println(s"$mode: driver / executors median ms of $runs runs")
    for (size <- sizes) {
      val row = for (p <- Seq("ftp", "sftp"); verb <- Seq("up", "dl")) yield {
        val (driver, executors) =
          if (mode == "files") cell(p, verb, size, 16 << 10, runs)
          else cell(p, verb, 4, (size << 20) / 4, runs)
        f"$p $verb $driver%.0f/$executors%.0f"
      }
      println(s"${if (mode == "files") "n" else "MB"}=$size  ${row.mkString(", ")}")
    }
    ftp.stop(); ssh.close(); spark.stop()
  }
}
