package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions._

import graft.sources.ssh.{SftpClient, SshCrypto, SshServer}

/** SFTP stack: from-scratch SSH2 transport (curve25519-sha256 /
  * ssh-ed25519 / aes128-ctr / hmac-sha2-256, all JDK primitives) +
  * SFTPv3 client, embedded server, and the `gsftp://` Hadoop adapter.
  * The wire format is INTEROP-proven: the stock OpenSSH `sftp` binary
  * drives our server over publickey auth in one of the tests.
  */
class SftpSpec extends SparkSpec {

  private def freshDir(): Path =
    Files.createTempDirectory("graft-sftp")

  private def startServer(root: Path,
      keys: Seq[Array[Byte]] = Nil): SshServer =
    new SshServer(root, Map("tester" -> "secret"), keys)

  private def connect(s: SshServer): SftpClient =
    new SftpClient("127.0.0.1", s.port, "tester", "secret",
      expectedHostKey = Some(s.hostKeyBlob))

  test("protocol round-trip: put/get/stat/ls/rename/delete, random-access reads, appends, multi-frame files") {
    val root = freshDir()
    val srv = startServer(root)
    try {
      val c = connect(srv)
      try {
        // write a file large enough to span many channel frames and
        // several WRITE packets
        val rnd = new java.util.Random(42)
        val big = new Array[Byte](2 * 1024 * 1024 + 12345)
        rnd.nextBytes(big)
        // parents are not implicit — OPEN without the dir fails
        intercept[java.io.IOException] { c.outputStream("/data/big.bin") }
        c.mkdir("/data")
        val out2 = c.outputStream("/data/big.bin")
        out2.write(big); out2.close()
        assert(Files.readAllBytes(root.resolve("data/big.bin"))
          .sameElements(big))
        // full read back through the stream
        val in = c.inputStream("/data/big.bin")
        val got = in.readAllBytes(); in.close()
        assert(got.sameElements(big))
        // RANDOM ACCESS: read 8 bytes at an arbitrary offset without
        // streaming anything before it (the parquet-footer shape)
        val h = c.openRead("/data/big.bin")
        val tail = c.read(h, big.length - 8L, 8).get
        assert(tail.sameElements(big.takeRight(8)))
        val mid = c.read(h, 1234567L, 16).get
        assert(mid.sameElements(big.slice(1234567, 1234567 + 16)))
        c.closeHandle(h)
        // stat / ls
        val st = c.stat("/data/big.bin").get
        assert(st.size.contains(big.length.toLong) && !st.isDir)
        assert(c.readDir("/data").map(_._1) == Seq("big.bin"))
        // append
        val app = c.outputStream("/data/big.bin", append = true,
          appendAt = big.length.toLong)
        app.write(Array[Byte](1, 2, 3)); app.close()
        assert(c.stat("/data/big.bin").get.size
          .contains(big.length + 3L))
        // rename + delete
        c.mkdir("/moved")
        assert(c.rename("/data/big.bin", "/moved/big.bin"))
        assert(c.stat("/data/big.bin").isEmpty)
        assert(c.remove("/moved/big.bin"))
        assert(c.rmdir("/moved") && c.rmdir("/data"))
      } finally c.close()
    } finally srv.close()
  }

  test("readDir lists a directory that spans several READDIR replies") {
    val root = freshDir()
    (0 until 150).foreach(i => Files.writeString(root.resolve(f"f$i%03d"), "x"))
    val srv = startServer(root)
    val c = connect(srv)
    try assert(c.readDir("/").map(_._1).sorted === (0 until 150).map(i => f"f$i%03d"))
    finally { c.close(); srv.close() }
  }

  test("auth: wrong password is the exit-3 taxonomy; path jail holds; pinned host key mismatch rejects") {
    val root = freshDir()
    val srv = startServer(root)
    try {
      val bad = intercept[graft.sources.FileOps.GraftFsError] {
        new SftpClient("127.0.0.1", srv.port, "tester", "WRONG")
      }
      assert(bad.code == 3)
      // path jail: .. escapes answer permission-denied, not the fs
      val c = connect(srv)
      try {
        val (envOk) = intercept[java.io.IOException] {
          c.readDir("/../../etc")
        }
        assert(envOk != null)
      } finally c.close()
      // a client pinning a DIFFERENT host key must refuse the server
      val otherKey = SshCrypto.ed25519Blob(
        SshCrypto.ed25519KeyPair().getPublic)
      intercept[java.io.IOException] {
        new SftpClient("127.0.0.1", srv.port, "tester", "secret",
          expectedHostKey = Some(otherKey))
      }
    } finally srv.close()
  }

  test("INTEROP: the stock OpenSSH sftp client drives our server over publickey auth") {
    val sftpBin = Paths.get("/usr/bin/sftp")
    val keygen = Paths.get("/usr/bin/ssh-keygen")
    assume(Files.exists(sftpBin) && Files.exists(keygen),
      "openssh client not installed")
    val root = freshDir()
    val work = freshDir()
    // user keypair via the real ssh-keygen; the .pub line's base64
    // field IS the wire blob our server authorizes
    val keyPath = work.resolve("id_ed25519")
    val gen = new ProcessBuilder("/usr/bin/ssh-keygen", "-t", "ed25519",
      "-N", "", "-q", "-f", keyPath.toString).inheritIO().start()
    assert(gen.waitFor() == 0, "ssh-keygen failed")
    val pubLine = Files.readString(work.resolve("id_ed25519.pub")).trim
    val blob = java.util.Base64.getDecoder.decode(pubLine.split("\\s+")(1))
    val srv = startServer(root, keys = Seq(blob))
    try {
      val rnd = new java.util.Random(7)
      val payload = new Array[Byte](777777)
      rnd.nextBytes(payload)
      Files.write(work.resolve("src.bin"), payload)
      val batch = work.resolve("batch.txt")
      Files.writeString(batch,
        s"""put ${work.resolve("src.bin")} up.bin
           |mkdir sub
           |rename up.bin sub/moved.bin
           |get sub/moved.bin ${work.resolve("down.bin")}
           |ls -l sub
           |""".stripMargin)
      val p = new ProcessBuilder("/usr/bin/sftp",
        "-P", srv.port.toString,
        "-i", keyPath.toString,
        "-b", batch.toString,
        "-F", "/dev/null",
        "-o", "StrictHostKeyChecking=no",
        "-o", "UserKnownHostsFile=/dev/null",
        "-o", "IdentitiesOnly=yes",
        "tester@127.0.0.1")
      p.redirectErrorStream(true)
      val proc = p.start()
      val log = new String(proc.getInputStream.readAllBytes())
      assert(proc.waitFor() == 0, s"openssh sftp batch failed:\n$log")
      // the upload landed where the rename put it, byte-identical
      assert(Files.readAllBytes(root.resolve("sub/moved.bin"))
        .sameElements(payload), "uploaded bytes differ")
      // and the download round-tripped byte-identical
      assert(Files.readAllBytes(work.resolve("down.bin"))
        .sameElements(payload), "downloaded bytes differ")
      assert(log.contains("moved.bin"), s"ls output missing entry:\n$log")
    } finally srv.close()
  }

  test("blueprints run over --protocol sftp: upload + download round-trip, bad credentials exit 3") {
    import graft.blueprints.{Download, Upload}
    val root = freshDir()
    val srv = startServer(root)
    try {
      def args(user: String, pass: String, extra: String*): Array[String] =
        (Seq("--host", "127.0.0.1", "--port", srv.port.toString,
          "--username", user, "--password", pass,
          "--protocol", "sftp") ++ extra).toArray
      val src = freshDir()
      Files.writeString(src.resolve("a.csv"), "a\n")
      Files.writeString(src.resolve("b.csv"), "b\n")
      assert(Upload.run(spark, args("tester", "secret",
        "--source-file-name-match-type", "regex_match",
        "--source-file-name", "\\.csv$",
        "--source-folder-name", src.toString,
        "--destination-folder-name", "in")) == 0)
      assert(Files.readString(root.resolve("in/a.csv")) == "a\n")
      assert(Files.readString(root.resolve("in/b.csv")) == "b\n")
      val dl = freshDir()
      assert(Download.run(spark, args("tester", "secret",
        "--source-file-name-match-type", "exact_match",
        "--source-file-name", "b.csv",
        "--source-folder-name", "in",
        "--destination-folder-name", dl.toString)) == 0)
      assert(Files.readString(dl.resolve("b.csv")) == "b\n")
      // the reference's exit-3 taxonomy carries through the ssh stack
      assert(Upload.run(spark, args("tester", "WRONG",
        "--source-file-name-match-type", "exact_match",
        "--source-file-name", "a.csv",
        "--source-folder-name", src.toString,
        "--destination-folder-name", "in")) == 3)
    } finally srv.close()
  }

  test("gsftp://: Spark reads and writes real formats through the adapter; parquet footer seek is native") {
    val root = freshDir()
    val srv = startServer(root)
    try {
      val conf = spark.sparkContext.hadoopConfiguration
      conf.set("fs.gsftp.impl", "graft.sources.ssh.GraftSftpFileSystem")
      conf.set("fs.gsftp.impl.disable.cache", "true")
      conf.set("fs.gsftp.user", "tester")
      conf.set("fs.gsftp.password", "secret")
      val base = s"gsftp://127.0.0.1:${srv.port}"
      import spark.implicits._
      val df = (1 to 500).map(i => (i.toLong, s"row $i")).toDF("id", "v")
      // parquet write + read over sftp: the read path exercises the
      // footer probe (seek to EOF-8) natively via offset READs
      df.write.parquet(s"$base/t.parquet")
      val back = spark.read.parquet(s"$base/t.parquet")
      assert(back.count() == 500)
      assert(back.agg(sum(col("id"))).head.getLong(0) ==
        (1 to 500).map(_.toLong).sum)
      // csv too (sequential scan path)
      df.write.csv(s"$base/t.csv")
      assert(spark.read.csv(s"$base/t.csv").count() == 500)
      // and the FileOps listing surface sees it all
      val manifest = graft.sources.FileOps.listRecursive(spark, base)
      assert(manifest.filter(col("path").contains("t.parquet")).count() > 0)
    } finally srv.close()
  }

  /** TCP forwarder injecting `delayMs` ONE-WAY latency per direction
    * without throttling bandwidth: a reader thread stamps each chunk
    * with its due time into a queue, a writer thread delivers when
    * due — many chunks ride the pipe concurrently, like a real
    * long-haul link (a naive sleep-per-chunk proxy would serialize
    * the pipelined window and fake the measurement).
    */
  private final class LatencyProxy(targetPort: Int, delayMs: Long) {
    private val server = new java.net.ServerSocket(
      0, 8, java.net.InetAddress.getByName("127.0.0.1"))
    val port: Int = server.getLocalPort
    @volatile private var open = true
    private val acceptor = new Thread(() => {
      try while (open) {
        val a = server.accept()
        val b = new java.net.Socket("127.0.0.1", targetPort)
        a.setTcpNoDelay(true); b.setTcpNoDelay(true)
        pipe(a, b); pipe(b, a)
      } catch { case _: Throwable => () }
    })
    acceptor.setDaemon(true); acceptor.start()
    private def pipe(from: java.net.Socket, to: java.net.Socket): Unit = {
      val q = new java.util.concurrent
        .LinkedBlockingQueue[(Long, Array[Byte])]()
      val reader = new Thread(() => {
        try {
          val in = from.getInputStream
          val buf = new Array[Byte](64 << 10)
          var n = in.read(buf)
          while (n >= 0) {
            if (n > 0) q.put((System.nanoTime + delayMs * 1000000L,
              java.util.Arrays.copyOf(buf, n)))
            n = in.read(buf)
          }
        } catch { case _: Throwable => () }
        finally q.put((0L, null))
      })
      val writer = new Thread(() => {
        try {
          val out = to.getOutputStream
          var e = q.take()
          while (e._2 != null) {
            val wait = (e._1 - System.nanoTime) / 1000000L
            if (wait > 0) Thread.sleep(wait)
            out.write(e._2); out.flush()
            e = q.take()
          }
          to.shutdownOutput()
        } catch { case _: Throwable => () }
      })
      reader.setDaemon(true); writer.setDaemon(true)
      reader.start(); writer.start()
    }
    def close(): Unit = {
      open = false
      try server.close() catch { case _: Throwable => () }
    }
  }

  test("pipelining: >=4x synchronous throughput at 50ms RTT, bytes identical both directions") {
    val root = freshDir()
    val srv = startServer(root)
    val proxy = new LatencyProxy(srv.port, delayMs = 25) // 50 ms RTT
    try {
      val rnd = new java.util.Random(7)
      val payload = new Array[Byte](SftpClient.ChunkBytes * 32) // 1.5 MiB
      rnd.nextBytes(payload)
      val c = new SftpClient("127.0.0.1", proxy.port, "tester", "secret",
        expectedHostKey = Some(srv.hostKeyBlob))
      try {
        // pipelined upload through the latency pipe
        val tUp = System.nanoTime
        val out = c.outputStream("/pipe.bin")
        out.write(payload); out.close()
        val upMs = (System.nanoTime - tUp) / 1000000L
        assert(Files.readAllBytes(root.resolve("pipe.bin"))
          .sameElements(payload), "pipelined upload corrupted bytes")
        // pipelined download
        val tDown = System.nanoTime
        val in = c.inputStream("/pipe.bin")
        val got = in.readAllBytes(); in.close()
        val downMs = (System.nanoTime - tDown) / 1000000L
        assert(got.sameElements(payload), "pipelined download corrupted bytes")
        // the synchronous baseline: the same bytes as one-request-
        // in-flight offset READs (what the pre-round-11 stream did) —
        // each 48 KiB chunk pays the full RTT
        val tSync = System.nanoTime
        val h = c.openRead("/pipe.bin")
        var off = 0L
        var n = 0
        while (n >= 0) {
          c.read(h, off, SftpClient.ChunkBytes) match {
            case Some(d) => off += d.length
            case None => n = -1
          }
        }
        c.closeHandle(h)
        val syncMs = (System.nanoTime - tSync) / 1000000L
        assert(off == payload.length.toLong)
        assert(downMs * 4 <= syncMs,
          s"pipelined read ${downMs}ms not 4x faster than sync ${syncMs}ms")
        assert(upMs * 4 <= syncMs,
          s"pipelined write ${upMs}ms not 4x faster than sync ${syncMs}ms")
      } finally c.close()
    } finally { proxy.close(); srv.close() }
  }

  test("the client ACKs at once: a 2 MB put and a 2 MB get each run at >= 40 MB/s on loopback") {
    assume(graft.sources.QuickAck.supported, "the platform has no TCP_QUICKACK")
    val root = freshDir()
    val srv = startServer(root)
    try {
      val c = connect(srv)
      try {
        val payload = new Array[Byte](2 << 20)
        new java.util.Random(11).nextBytes(payload)
        // best of three, so one JIT or scheduling pause cannot pass
        // for a stall; a delayed ACK slows every attempt (~6 MB/s)
        def mbPerS(op: => Unit): Double = (1 to 3).map { _ =>
          val t0 = System.nanoTime(); op
          payload.length / 1e6 / ((System.nanoTime() - t0) / 1e9)
        }.max
        var got: Array[Byte] = null
        val put = mbPerS { val o = c.outputStream("/ack.bin"); o.write(payload); o.close() }
        val get = mbPerS { val i = c.inputStream("/ack.bin"); got = i.readAllBytes(); i.close() }
        assert(got.sameElements(payload))
        assert(put >= 40.0, f"put ran at $put%.1f MB/s")
        assert(get >= 40.0, f"get ran at $get%.1f MB/s")
      } finally c.close()
    } finally srv.close()
  }

  test("rekey under load: a transfer far past the rekey limit completes byte-identical, with reads in flight") {
    val root = freshDir()
    val srv = startServer(root)
    try {
      // 96 KiB rekey limit: a 2 MiB round trip forces MANY re-keys,
      // several of them landing while pipelined READ responses are in
      // flight — the deferral path (CHANNEL_DATA mid-kex) must absorb
      // them, not die in readMessageRaw
      val c = new SftpClient("127.0.0.1", srv.port, "tester", "secret",
        expectedHostKey = Some(srv.hostKeyBlob),
        rekeyBytes = 96L << 10)
      try {
        val rnd = new java.util.Random(11)
        val payload = new Array[Byte](2 * 1024 * 1024 + 777)
        rnd.nextBytes(payload)
        val out = c.outputStream("/rekey.bin")
        out.write(payload); out.close()
        assert(Files.readAllBytes(root.resolve("rekey.bin"))
          .sameElements(payload), "upload across re-keys corrupted bytes")
        val in = c.inputStream("/rekey.bin")
        val got = in.readAllBytes(); in.close()
        assert(got.sameElements(payload),
          "download across re-keys corrupted bytes")
        assert(c.rekeys >= 8,
          s"expected many re-keys at a 96 KiB limit, saw ${c.rekeys}")
        // the re-keyed connection is still fully usable
        assert(c.stat("/rekey.bin").get.size
          .contains(payload.length.toLong))
        assert(c.remove("/rekey.bin"))
      } finally c.close()
    } finally srv.close()
  }

  test("adaptive receive window: advertised window slow-starts, stays bounded, bytes identical") {
    val root = freshDir()
    val srv = startServer(root)
    try {
      val c = connect(srv)
      try {
        // a download large enough to force many refills and the full
        // slow-start ramp (init 256 KiB -> ceiling via doubling)
        val rnd = new java.util.Random(7)
        val big = new Array[Byte](24 * 1024 * 1024 + 321)
        rnd.nextBytes(big)
        java.nio.file.Files.createDirectories(root.resolve("w"))
        java.nio.file.Files.write(root.resolve("w/win.bin"), big)
        // before any transfer the client has only the initial grant
        assert(c.recvWindowCeiling === graft.sources.ssh.SftpClient.RecvWindowInit)
        val in = c.inputStream("/w/win.bin")
        val got = in.readAllBytes(); in.close()
        // unchanged transfer: every byte arrives exactly once
        assert(got.sameElements(big))
        // the window GREW (slow start engaged: a flat tiny window
        // would cap throughput; a flat huge one is the old behavior)
        assert(c.recvWindowCeiling > graft.sources.ssh.SftpClient.RecvWindowInit,
          "window never grew on a throughput-bound transfer")
        // ... and stayed bounded by the documented ceiling
        assert(c.recvWindowCeiling <= graft.sources.ssh.SftpClient.RecvWindowMax,
          s"advertised window ${c.recvWindowCeiling} exceeds the bound")
        // upload direction is unaffected by our receive window
        val out = c.outputStream("/w/back.bin")
        out.write(big); out.close()
        assert(java.nio.file.Files.readAllBytes(root.resolve("w/back.bin"))
          .sameElements(big))
      } finally c.close()
    } finally srv.close()
  }

  test("client publickey auth: authorized key round-trips, unknown key is the exit-3 taxonomy") {
    val root = freshDir()
    val kp = SshCrypto.ed25519KeyPair()
    val srv = startServer(root,
      keys = Seq(SshCrypto.ed25519Blob(kp.getPublic.asInstanceOf[java.security.PublicKey])))
    try {
      // authorized identity, wrong password on purpose: the key is
      // what authenticates
      val c = new SftpClient("127.0.0.1", srv.port, "tester", "IGNORED",
        expectedHostKey = Some(srv.hostKeyBlob), identity = Some(kp))
      try {
        val data = ("key auth payload " * 100).getBytes("UTF-8")
        java.nio.file.Files.createDirectories(root.resolve("k"))
        val out = c.outputStream("/k/key.bin")
        out.write(data); out.close()
        val in = c.inputStream("/k/key.bin")
        val got = in.readAllBytes(); in.close()
        assert(got.sameElements(data))
      } finally c.close()
      // an UNAUTHORIZED key must fail as bad credentials (exit 3),
      // exactly like a wrong password — never hang, never connect
      val stranger = SshCrypto.ed25519KeyPair()
      val err = intercept[graft.sources.FileOps.GraftFsError] {
        new SftpClient("127.0.0.1", srv.port, "tester", "IGNORED",
          expectedHostKey = Some(srv.hostKeyBlob),
          identity = Some(stranger))
      }
      assert(err.code === 3)
    } finally srv.close()
  }

  test("extended data spends the receive window: chatty-stderr server, transfer still completes byte-identical") {
    val root = freshDir()
    val srv = startServer(root)
    // every SFTP response is preceded by 8 KiB of stderr chatter; over
    // a 4 MiB download (~90 pipelined READ responses) that is ~700 KiB
    // of extended data — far past the 256 KiB slow-start window, so a
    // client that drops extended bytes without crediting them back
    // (the pre-round-13 bug) stalls permanently. RFC 4254 §5.2.
    srv.stderrChatter = 8192
    try {
      val c = connect(srv)
      try {
        val rnd = new java.util.Random(13)
        val big = new Array[Byte](4 * 1024 * 1024 + 77)
        rnd.nextBytes(big)
        java.nio.file.Files.createDirectories(root.resolve("e"))
        java.nio.file.Files.write(root.resolve("e/chat.bin"), big)
        // watchdog: the failure mode under test is a permanent stall,
        // which must surface as a test failure, not a hung suite
        @volatile var got: Array[Byte] = null
        val worker = new Thread(() => {
          val in = c.inputStream("/e/chat.bin")
          got = in.readAllBytes(); in.close()
        }, "sftp-chatter-download")
        worker.setDaemon(true)
        worker.start()
        worker.join(120000L)
        assert(!worker.isAlive,
          "download stalled: extended data exhausted the receive window")
        assert(got.sameElements(big))
      } finally c.close()
    } finally srv.close()
  }
}
