package graft

import java.nio.file.Files

import graft.ftp.MiniFtpServer
import graft.sources.{FileOps, QuickAck}
import graft.sources.ftp.FtpClient

class FtpSpec extends SparkSpec {

  private lazy val ftpRoot = {
    val r = Files.createTempDirectory("graft_ftp")
    Files.createDirectories(r.resolve("data/sub"))
    Files.writeString(r.resolve("data/one.csv"), "id,v\n1,a\n2,b\n")
    Files.writeString(r.resolve("data/two.csv"), "id,v\n3,c\n")
    Files.writeString(r.resolve("data/sub/three.txt"), "xyz\n")
    r
  }
  private lazy val server = new MiniFtpServer(ftpRoot)
  private def ftpUri = s"gftp://u:p@127.0.0.1:${server.port}"

  private def withGftp(): Unit = {
    spark.sparkContext.hadoopConfiguration.set("fs.gftp.impl",
      "graft.sources.ftp.GraftFtpFileSystem")
    // FileSystem instances are keyed per (scheme, authority); disable
    // the cache so each test sees fresh state
    spark.sparkContext.hadoopConfiguration.set("fs.gftp.impl.disable.cache",
      "true")
  }

  test("bad FTP credentials surface as the reference's exit-3 error") {
    val authRoot = Files.createTempDirectory("graft_ftp_auth")
    val authServer = new graft.ftp.MiniFtpServer(authRoot,
      requiredPassword = Some("secret"))
    try {
      val e = intercept[FileOps.GraftFsError] {
        new FtpClient("127.0.0.1", authServer.port, "u", "wrong")
      }
      assert(e.code === FileOps.ErrorCodes.IncorrectCredentials)
      // and the right password still logs in
      val ok = new FtpClient("127.0.0.1", authServer.port, "u", "secret")
      ok.close()
    } finally authServer.stop()
  }

  test("FtpClient speaks the protocol: list, size, retr, stor, rename, dele") {
    val c = new FtpClient("127.0.0.1", server.port, "u", "p")
    try {
      val names = c.nlst("data").map(_.split("/").last).sorted
      assert(names === Seq("one.csv", "sub", "two.csv"))
      assert(c.size("data/one.csv").contains(13L))
      assert(c.size("data/sub").isEmpty)
      val is = c.retrieveStream("data/one.csv")
      val got = new String(is.readAllBytes())
      is.close() // drains the 226 completion reply
      assert(got === "id,v\n1,a\n2,b\n")
      val os = c.storeStream("data/written.bin")
      os.write(Array[Byte](1, 2, 3)); os.close()
      assert(c.size("data/written.bin").contains(3L))
      assert(c.rename("data/written.bin", "data/renamed.bin"))
      assert(c.delete("data/renamed.bin"))
      assert(c.size("data/renamed.bin").isEmpty)
      val entries = c.mlsd("data")
      assert(entries.find(_.name == "sub").exists(_.isDir))
      assert(entries.find(_.name == "one.csv").exists(e => !e.isDir && e.size == 13))
    } finally c.close()
  }

  test("positioned read that drains exactly the body keeps the client alive") {
    val c = new FtpClient("127.0.0.1", server.port, "u", "p")
    try {
      // read EXACTLY the 13 known bytes without ever observing -1 —
      // the positioned-read pattern; the close must probe, see the
      // drained socket, and keep the session instead of discarding it
      val is = c.retrieveStream("data/one.csv")
      val buf = new Array[Byte](13)
      var off = 0
      while (off < 13) {
        val n = is.read(buf, off, 13 - off)
        assert(n > 0); off += n
      }
      is.close()
      assert(new String(buf) === "id,v\n1,a\n2,b\n")
      // the same client must still serve commands AND another transfer
      assert(c.size("data/one.csv").contains(13L),
        "client was discarded after a complete positioned read")
      val is2 = c.retrieveStream("data/one.csv")
      assert(new String(is2.readAllBytes()) === "id,v\n1,a\n2,b\n")
      is2.close()
    } finally c.close()
  }

  test("REST resume: downloads and uploads restart at an offset") {
    val c = new FtpClient("127.0.0.1", server.port, "u", "p")
    try {
      val os = c.storeStream("data/resume.bin")
      os.write("0123456789".getBytes); os.close()
      // download resume: only the suffix crosses the wire
      val is = c.retrieveStream("data/resume.bin", 6L)
      val got = new String(is.readAllBytes()); is.close()
      assert(got === "6789")
      // upload resume: splice a new tail at offset 4 (stale longer
      // tail truncated, like a resumed partial upload)
      val os2 = c.storeStream("data/resume.bin", 4L)
      os2.write("WXYZ".getBytes); os2.close()
      val is2 = c.retrieveStream("data/resume.bin")
      assert(new String(is2.readAllBytes()) === "0123WXYZ"); is2.close()
      assert(c.size("data/resume.bin").contains(8L))
      assert(c.delete("data/resume.bin"))
    } finally c.close()
  }

  test("gftp seek issues REST instead of skip-reading (the parquet-footer pattern)") {
    withGftp()
    val before = server.restCount.get()
    val fs = org.apache.hadoop.fs.FileSystem.newInstance(
      new java.net.URI(ftpUri), spark.sparkContext.hadoopConfiguration)
    try {
      val in = fs.open(new org.apache.hadoop.fs.Path("/data/one.csv"))
      try {
        in.seek(8L)
        val got = new String(in.readAllBytes())
        assert(got === "id,v\n1,a\n2,b\n".substring(8))
      } finally in.close()
    } finally fs.close()
    assert(server.restCount.get() > before,
      "seek re-streamed the prefix instead of sending REST")
  }

  test("gftp stat and open stay on the control channel: no MLSD of the parent") {
    withGftp()
    val dir = Files.createDirectories(ftpRoot.resolve("siblings"))
    (0 until 40).foreach(i =>
      Files.writeString(dir.resolve(f"s$i%02d.dat"), s"sibling $i\n"))
    val fs = org.apache.hadoop.fs.FileSystem.newInstance(
      new java.net.URI(ftpUri), spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val before = server.mlsdCount.get()
    try {
      val st = fs.getFileStatus(p("/siblings/s07.dat"))
      assert(st.isFile && st.getLen === "sibling 7\n".length.toLong)
      // MDTM carries whole seconds
      assert(st.getModificationTime ===
        Files.getLastModifiedTime(dir.resolve("s07.dat")).toMillis / 1000 * 1000)
      assert(fs.getFileStatus(p("/siblings")).isDirectory)
      intercept[java.io.FileNotFoundException](fs.getFileStatus(p("/siblings/ghost")))
      val in = fs.open(p("/siblings/s11.dat"))
      try assert(new String(in.readAllBytes()) === "sibling 11\n") finally in.close()
      intercept[java.io.FileNotFoundException](fs.open(p("/siblings/ghost")))
      intercept[java.io.IOException](fs.open(p("/siblings")))
    } finally fs.close()
    assert(server.mlsdCount.get() === before,
      "a per-file stat or open listed the parent directory")
  }

  test("regex Delete of 40 siblings over 4 partitions exits 0 well inside " +
      "the 30 s socket timeout") {
    assert(spark.sparkContext.defaultParallelism >= 4)
    val dir = Files.createDirectories(ftpRoot.resolve("bulkdel"))
    (0 until 40).foreach(i => Files.writeString(dir.resolve(f"d$i%02d.dat"), "x"))
    val t0 = System.nanoTime()
    val code = graft.blueprints.Delete.runBounded(spark, Array(
      "--host", "127.0.0.1", "--port", server.port.toString,
      "--username", "u", "--password", "p",
      "--file-name-match-type", "regex_match",
      "--source-file-name", "d[0-9]+\\.dat$", "--source-folder-name", "bulkdel"),
      localMaxEntries = 0)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(code === 0)
    assert(Files.list(dir).count() === 0L)
    assert(secs < 10.0, f"regex delete took $secs%.1f s")
  }

  test("gftp create + open round trips do not wait on delayed ACKs") {
    assume(QuickAck.supported, "the platform has no TCP_QUICKACK")
    withGftp()
    val fs = org.apache.hadoop.fs.FileSystem.newInstance(
      new java.net.URI(ftpUri), spark.sparkContext.hadoopConfiguration)
    val body = Array.tabulate[Byte](1024)(_.toByte)
    def roundTrip(i: Int): Unit = {
      val p = new org.apache.hadoop.fs.Path(s"/acks/f$i.bin")
      val out = fs.create(p)
      out.write(body); out.close()
      val in = fs.open(p)
      try assert(java.util.Arrays.equals(in.readAllBytes(), body)) finally in.close()
    }
    try {
      roundTrip(0) // untimed: first use loads the classes
      val t0 = System.nanoTime()
      (1 to 20).foreach(roundTrip)
      val secs = (System.nanoTime() - t0) / 1e9
      // a 150 left un-ACKed holds each 226 ~40 ms: ~1.8 s for these 40
      assert(secs < 0.5, f"20 create + open round trips took $secs%.2f s")
    } finally fs.close()
  }

  test("a short RETR fails the download; --retries heals it byte-identical") {
    val files = Seq("a", "b", "c").map(n =>
      s"/dir/$n.dat" -> Array.tabulate[Byte](1000)(i => (i * n.head).toByte)).toMap
    val stub = new ShortRetrServer(files)
    def download(extra: String*): (Int, java.nio.file.Path) = {
      val dst = Files.createTempDirectory("graft_short")
      (graft.blueprints.Download.run(spark, (Seq(
        "--host", "127.0.0.1", "--port", stub.port.toString,
        "--username", "u", "--password", "p",
        "--source-file-name-match-type", "regex_match",
        "--source-file-name", "\\.dat$", "--source-folder-name", "dir",
        "--destination-folder-name", dst.toString) ++ extra).toArray), dst)
    }
    try {
      stub.faults.set(1)
      assert(download("--retries", "0")._1 !== 0,
        "a download the server ended early (426) exited 0")
      stub.faults.set(1)
      val (code, dst) = download("--retries", "2", "--backoff-ms", "10")
      assert(code === 0)
      assert(stub.faults.get <= 0, "the stub never faulted")
      files.foreach { case (p, bytes) =>
        assert(java.util.Arrays.equals(
          Files.readAllBytes(dst.resolve(p.drop(5))), bytes), p)
      }
    } finally stub.stop()
  }

  test("bulkCopy resume: partial transfers complete via REST in both directions") {
    withGftp()
    val payload = Array.tabulate[Byte](40000)(i => (i % 251).toByte)
    Files.write(ftpRoot.resolve("data/big.bin"), payload)
    // download: destination already holds the first 15000 bytes
    val outDir = Files.createTempDirectory("graft_resume")
    val dstFile = outDir.resolve("big.bin")
    Files.write(dstFile, payload.take(15000))
    def resumed(t: FileOps.Transfer, srcUri: String, dstUri: String): Unit =
      FileOps.actOn(spark.sparkContext.parallelize(Seq(t), 1), FileOps.shipConf(spark))(
        FileOps.copyFiles(_, srcUri, dstUri, 0, 0L, resume = true))
    val before = server.restCount.get()
    resumed(FileOps.Transfer("/data/big.bin", dstFile.toString), ftpUri, "file:")
    assert(java.util.Arrays.equals(Files.readAllBytes(dstFile), payload),
      "resumed download corrupted the file")
    assert(server.restCount.get() > before, "source seek did not use REST")
    // already-complete destination: second resume is a no-op that
    // leaves the bytes intact
    resumed(FileOps.Transfer("/data/big.bin", dstFile.toString), ftpUri, "file:")
    assert(java.util.Arrays.equals(Files.readAllBytes(dstFile), payload))
    // upload: remote destination holds a 10000-byte prefix; resume
    // appends the tail via REST+STOR (gftp append)
    Files.write(ftpRoot.resolve("data/up.bin"), payload.take(10000))
    val local = outDir.resolve("up_src.bin")
    Files.write(local, payload)
    resumed(FileOps.Transfer(local.toString, "/data/up.bin"), "file:", ftpUri)
    assert(java.util.Arrays.equals(
      Files.readAllBytes(ftpRoot.resolve("data/up.bin")), payload),
      "resumed upload corrupted the remote file")
    Files.delete(ftpRoot.resolve("data/big.bin"))
    Files.delete(ftpRoot.resolve("data/up.bin"))
  }

  test("spark.read.csv works over gftp:// (the connector end-to-end)") {
    withGftp()
    val df = spark.read.option("header", "true").csv(s"$ftpUri/data/one.csv")
    assert(df.count() === 2)
    assert(df.columns.toSeq === Seq("id", "v"))
    // glob over the directory
    val all = spark.read.option("header", "true").csv(s"$ftpUri/data/*.csv")
    assert(all.count() === 3)
  }

  test("download blueprint: regex match over FTP tree → distributed copy to local") {
    withGftp()
    val entries = DistributedWalk(spark, ftpUri)
    val matched = entries.filter(FileOps.matching("\\.csv$", basename = true)).map(_.path)
    assert(matched.collect().sorted.toSeq === Seq("/data/one.csv", "/data/two.csv"))
    val dst = Files.createTempDirectory("graft_dl")
    val (from, to) = (ftpUri, s"file:$dst")
    FileOps.actOn(FileOps.planMatched(matched, "\\.csv$", "got", None,
      enumerateAll = true), FileOps.shipConf(spark))(
      FileOps.copyFiles(_, from, to, 0, 0L, false))
    FileOps.unpersist(entries)
    assert(Files.readString(dst.resolve("got/one.csv")) === "id,v\n1,a\n2,b\n")
    assert(Files.readString(dst.resolve("got/two.csv")) === "id,v\n3,c\n")
  }

  test("upload blueprint: local → FTP with enumerated destination names") {
    withGftp()
    val src = Files.createTempDirectory("graft_ul")
    Files.writeString(src.resolve("x.csv"), "a\n")
    Files.writeString(src.resolve("y.csv"), "b\n")
    val files = spark.sparkContext.parallelize(Seq(s"$src/y.csv", s"$src/x.csv"))
    val (from, to) = (s"file:$src", ftpUri)
    FileOps.actOn(FileOps.planMatched(files, "\\.csv$", "up/in",
      Some("out.csv"), enumerateAll = true), FileOps.shipConf(spark))(
      FileOps.copyFiles(_, from, to, 0, 0L, false))
    assert(Files.readString(ftpRoot.resolve("up/in/out_1.csv")) === "a\n")
    assert(Files.readString(ftpRoot.resolve("up/in/out_2.csv")) === "b\n")
  }

  test("move + delete blueprints over FTP") {
    withGftp()
    Files.writeString(ftpRoot.resolve("data/mv.txt"), "m\n")
    val conf = spark.sessionState.newHadoopConf()
    FileOps.moveFiles(conf, ftpUri, 0, 0L)(
      Iterator(FileOps.Transfer("/data/mv.txt", "/moved/mv2.txt")))
    assert(Files.readString(ftpRoot.resolve("moved/mv2.txt")) === "m\n")
    FileOps.deleteFiles(conf, ftpUri)(Iterator("/moved/mv2.txt"))
    assert(!Files.exists(ftpRoot.resolve("moved/mv2.txt")))
  }

  test("DataFrame write → gftp (full sink path through the connector)") {
    withGftp()
    import spark.implicits._
    Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "s")
      .coalesce(1).write.mode("overwrite").json(s"$ftpUri/out/js")
    val back = spark.read.json(s"$ftpUri/out/js")
    assert(back.count() === 3)
    assert(back.select("k").collect().map(_.getLong(0)).sorted === Array(1L, 2L, 3L))
  }
}

/** A stub FTP server with just enough verbs for a regex download of
  * the files in `files` (all under /dir). While `faults` is positive,
  * a RETR sends half the body, ends the data connection and answers
  * 426, as a server whose transfer broke off does.
  */
final class ShortRetrServer(files: Map[String, Array[Byte]]) {
  import java.net.{InetAddress, ServerSocket, Socket}
  val faults = new java.util.concurrent.atomic.AtomicInteger
  private val ss = new ServerSocket(0, 16, InetAddress.getLoopbackAddress)
  def port: Int = ss.getLocalPort
  def stop(): Unit = ss.close()
  private val acceptor = new Thread(() => while (!ss.isClosed) {
    try {
      val s = ss.accept()
      val t = new Thread(() => session(s)); t.setDaemon(true); t.start()
    } catch { case _: java.io.IOException => () }
  })
  acceptor.setDaemon(true); acceptor.start()

  private def session(s: Socket): Unit = try {
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(s.getInputStream, "UTF-8"))
    def reply(r: String): Unit = {
      s.getOutputStream.write((r + "\r\n").getBytes("UTF-8")); s.getOutputStream.flush()
    }
    var data: ServerSocket = null
    def send(body: Array[Byte]): Unit = {
      val d = data.accept()
      d.getOutputStream.write(body); d.close(); data.close()
    }
    reply("220 stub")
    var line = in.readLine()
    while (line != null) {
      val arg = line.dropWhile(_ != ' ').trim
      line.takeWhile(_ != ' ').toUpperCase match {
        case "USER" => reply("331 password")
        case "PASS" => reply("230 in")
        case "TYPE" => reply("200 binary")
        case "SIZE" => reply(files.get(arg).fold("550 not a file")(b => s"213 ${b.length}"))
        case "CWD" => reply(if (arg == "/dir") "250 ok" else "550 no such directory")
        case "PASV" =>
          data = new ServerSocket(0, 1, InetAddress.getLoopbackAddress)
          reply(s"227 passive (127,0,0,1,${data.getLocalPort / 256},${data.getLocalPort % 256})")
        case "MLSD" =>
          reply("150 listing")
          send(files.map { case (p, b) => s"type=file;size=${b.length}; ${p.drop(5)}\r\n" }
            .mkString.getBytes("UTF-8"))
          reply("226 listed")
        case "RETR" =>
          val body = files(arg)
          reply("150 sending")
          if (faults.getAndDecrement() > 0) {
            send(body.take(body.length / 2)); reply("426 transfer aborted")
          } else { send(body); reply("226 sent") }
        case "QUIT" => reply("221 bye"); s.close()
        case _ => reply("502 not implemented")
      }
      line = if (s.isClosed) null else in.readLine()
    }
  } catch { case _: java.io.IOException => () } finally s.close()
}
