package graft.perfbench

import java.io.{InputStream, OutputStream}
import java.net.URI
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.SparkSession

import graft.blueprints.{Blueprints, Delete, Download, Move, Upload}
import graft.ftp.MiniFtpServer
import graft.sources.FileOps
import graft.sources.ftp.FtpClient
import graft.sources.ssh.{SftpClient, SshServer}

/** The transfer workload: the four blueprints over FTP and SFTP
  * against the embedded loopback servers. The servers are fixtures;
  * only the client side is the program under test.
  *
  * One pass, per protocol: the small tree goes upload → download →
  * move → delete, then the large set goes upload → download. Every
  * step uses a regex match and an explicit destination name, so the
  * enumerated `name_N.ext` plan runs. After each step (untimed) the
  * step's output directory is hashed for the checks in `run.py`.
  */
object Transfer {
  val Protocols = Seq("ftp", "sftp")
  private val User = "bench"

  def isTransfer(workload: String): Boolean = workload == "transfer"

  /** Both loopback servers, each serving its own directory. */
  final class Fixture(work: Path) {
    val roots: Map[String, Path] = Protocols.map { p =>
      val r = work.resolve(s"${p}_root")
      Files.createDirectories(r)
      p -> r
    }.toMap
    private val ftp = new MiniFtpServer(roots("ftp"))
    private val ssh = new SshServer(roots("sftp"), Map(User -> User))
    val ports: Map[String, Int] = Map("ftp" -> ftp.port, "sftp" -> ssh.port)
    def close(): Unit = { ftp.stop(); ssh.close() }
  }

  def sha256(f: Path): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val in = Files.newInputStream(f)
    try {
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n >= 0) { md.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** name → SHA-256 of every regular file under `dir`, by relative path. */
  def manifest(dir: Path): Map[String, String] =
    if (!Files.isDirectory(dir)) Map.empty
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => dir.relativize(f).toString -> sha256(f)).toMap
      finally s.close()
    }

  private def clear(dir: Path): Unit = {
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
    Files.createDirectories(dir)
  }

  private def flags(fx: Fixture, p: String, extra: String*): Array[String] =
    (Seq("--host", "127.0.0.1", "--port", fx.ports(p).toString,
      "--username", User, "--password", User, "--protocol", p) ++ extra).toArray

  private def regexFlags(pattern: String, from: String, to: String,
      name: String): Seq[String] = Seq(
    "--source-file-name-match-type", "regex_match", "--source-file-name", pattern,
    "--source-folder-name", from, "--destination-folder-name", to,
    "--destination-file-name", name)

  def run(spark: SparkSession, fx: Fixture, work: Path, seconds: Double,
      minPasses: Int, tr: Tracer, counters: Option[SparkCounters]): Map[String, Any] = {
    def jobs(): Option[Long] = counters.map(_.snapshot(spark.sparkContext)("jobs"))
    val passes = Passes.run(spark, seconds, minPasses, tr, counters) { _ =>
      val perProtocol = Protocols.map { p =>
        val root = fx.roots(p)
        val dlSmall = work.resolve(s"dl_${p}_small")
        val dlLarge = work.resolve(s"dl_${p}_large")
        Seq(dlSmall, dlLarge, root.resolve("small"), root.resolve("large")).foreach(clear)
        // step -> (blueprint, its flags, the directory holding its output)
        val steps = Seq(
          "small.upload" -> (Upload.run _, regexFlags("\\.dat$",
            work.resolve("src_small").toString, "small/up", "f.dat"), root.resolve("small/up")),
          "small.download" -> (Download.run _, regexFlags("^f_[0-9]+\\.dat$",
            "small/up", dlSmall.toString, "g.dat"), dlSmall),
          "small.move" -> (Move.run _, regexFlags("f_[0-9]+\\.dat$",
            "small/up", "small/moved", "m.dat"), root.resolve("small/moved")),
          "small.delete" -> (Delete.run _, Seq("--file-name-match-type", "regex_match",
            "--source-file-name", "m_[0-9]+\\.dat$", "--source-folder-name", "small/moved"),
            root.resolve("small/moved")),
          "large.upload" -> (Upload.run _, regexFlags("\\.bin$",
            work.resolve("src_large").toString, "large", "L.bin"), root.resolve("large")),
          "large.download" -> (Download.run _, regexFlags("^L_[0-9]+\\.bin$",
            "large", dlLarge.toString, "K.bin"), dlLarge))
        p -> steps.map { case (name, (blueprint, extra, output)) =>
          val j0 = jobs()
          val t0 = System.nanoTime()
          val code = tr.span(s"bp.$p.$name")(blueprint(spark, flags(fx, p, extra: _*)))
          val wall = (System.nanoTime() - t0) / 1e9
          val j1 = jobs()
          // untimed: the step's output, and what a move left at its source
          val left = if (name == "small.move") manifest(root.resolve("small/up")).keys.toSeq.sorted
            else Nil
          name -> Map("wall_s" -> wall, "exit" -> code, "files" -> manifest(output),
            "left" -> left, "spark_jobs" -> j1.map(_ - j0.get))
        }.toMap
      }.toMap
      val wall = perProtocol.values.flatMap(_.values).map(_("wall_s").asInstanceOf[Double]).sum
      Map("wall_s" -> wall, "steps" -> perProtocol)
    }
    val probed = if (tr.enabled)
      Map("probes" -> Protocols.map(p => p -> probes(spark, fx, p, work)).toMap)
    else Map.empty
    Map("passes" -> passes) ++ probed
  }

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  private def timeEach(n: Int)(op: Int => Unit): Seq[Double] =
    (0 until n).map { i => val t0 = System.nanoTime(); op(i); ms(t0) }

  private def copyAll(in: InputStream): Long = {
    val buf = new Array[Byte](1 << 16)
    var total = 0L
    var n = in.read(buf)
    while (n >= 0) { total += n; n = in.read(buf) }
    in.close()
    total
  }

  private def writeAll(out: OutputStream, bytes: Array[Byte]): Unit = {
    var off = 0
    while (off < bytes.length) {
      val n = math.min(1 << 16, bytes.length - off)
      out.write(bytes, off, n); off += n
    }
    out.close()
  }

  /** Traced-run probes below the blueprints: FileOps listing and
    * planning, per-op latency through the Hadoop FileSystem adapter,
    * and the raw protocol clients with no adapter and no Spark.
    */
  private def probes(spark: SparkSession, fx: Fixture, p: String,
      work: Path): Map[String, Any] = {
    val root = fx.roots(p)
    val small = work.resolve("src_small")
    val largeFile = Files.list(work.resolve("src_large")).iterator().asScala
      .toSeq.map(_.toString).sorted.head
    val payload = Files.readAllBytes(java.nio.file.Paths.get(largeFile))
    Seq(root.resolve("probe"), root.resolve("large")).foreach(clear)
    // populate the probe tree through the program itself (untimed)
    val up = Upload.run(spark, flags(fx, p,
      regexFlags("\\.dat$", small.toString, "probe", "f.dat"): _*))
    require(up == 0, s"probe upload over $p exited $up")
    Files.write(root.resolve("large/big.bin"), payload)
    val uri = Blueprints.ftpUri(spark, Blueprints.parse(flags(fx, p,
      "--source-file-name-match-type", "regex_match", "--source-file-name", "x")))

    val listT0 = System.nanoTime()
    val manifestDF = FileOps.listRecursive(spark, s"$uri/probe")
    val listed = manifestDF.count()
    val listS = ms(listT0) / 1e3
    val planT0 = System.nanoTime()
    FileOps.planTransfersDF(FileOps.matchBasename(manifestDF, "^f_[0-9]+\\.dat$"),
      "planned", Some("n.dat"), enumerateAll = true).count()
    val planS = ms(planT0) / 1e3

    val names = Files.list(root.resolve("probe")).iterator().asScala
      .map(_.getFileName.toString).toSeq.sorted
    val fs = FileSystem.newInstance(new URI(uri), spark.sparkContext.hadoopConfiguration)
    val k = math.min(names.size, 20)
    val statMs = timeEach(k)(i => fs.getFileStatus(new HPath(s"/probe/${names(i)}")))
    val small1k = new Array[Byte](1024)
    val createMs = timeEach(k)(i => writeAll(fs.create(new HPath(s"/probe/c_$i.tmp")), small1k))
    val openMs = timeEach(k)(i => copyAll(fs.open(new HPath(s"/probe/${names(i)}"))))
    val renameMs = timeEach(k)(i => fs.rename(new HPath(s"/probe/c_$i.tmp"),
      new HPath(s"/probe/r_$i.tmp")))
    val rdT0 = System.nanoTime()
    val readBytes = copyAll(fs.open(new HPath("/large/big.bin")))
    val fsReadS = ms(rdT0) / 1e3
    val wrT0 = System.nanoTime()
    writeAll(fs.create(new HPath("/large/fs_put.bin")), payload)
    val fsWriteS = ms(wrT0) / 1e3
    fs.close()

    val host = "127.0.0.1"
    val port = fx.ports(p)
    val (connectMs, rttMs, getS, putS) = p match {
      case "ftp" =>
        val connect = timeEach(5)(_ => new FtpClient(host, port, User, User).close())
        val c = new FtpClient(host, port, User, User)
        try {
          val rtt = timeEach(20)(_ => c.cmd("NOOP"))
          val g0 = System.nanoTime(); copyAll(c.retrieveStream("/large/big.bin"))
          val get = ms(g0) / 1e3
          val p0 = System.nanoTime(); writeAll(c.storeStream("/large/client_put.bin"), payload)
          (connect, rtt, get, ms(p0) / 1e3)
        } finally c.close()
      case _ =>
        val connect = timeEach(5)(_ => new SftpClient(host, port, User, User).close())
        val c = new SftpClient(host, port, User, User)
        try {
          val rtt = timeEach(20)(_ => c.stat("/"))
          val g0 = System.nanoTime(); copyAll(c.inputStream("/large/big.bin"))
          val get = ms(g0) / 1e3
          val p0 = System.nanoTime(); writeAll(c.outputStream("/large/client_put.bin"), payload)
          (connect, rtt, get, ms(p0) / 1e3)
        } finally c.close()
    }
    val mb = payload.length / 1e6
    require(readBytes == payload.length, s"adapter read $readBytes of ${payload.length} bytes")
    require(sha256(root.resolve("large/fs_put.bin")) == sha256(root.resolve("large/big.bin")) &&
      sha256(root.resolve("large/client_put.bin")) == sha256(root.resolve("large/big.bin")),
      s"probe writes over $p differ from their source")
    Seq(root.resolve("probe"), root.resolve("large")).foreach(clear)
    Map("listed" -> listed, "list_s" -> listS, "plan_s" -> planS,
      "stat_ms" -> statMs, "create_ms" -> createMs, "open_ms" -> openMs,
      "rename_ms" -> renameMs, "read_mb_per_s" -> mb / fsReadS,
      "write_mb_per_s" -> mb / fsWriteS, "connect_ms" -> connectMs,
      "rtt_ms" -> rttMs, "get_mb_per_s" -> mb / getS, "put_mb_per_s" -> mb / putS)
  }
}
