package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

import graft.blueprints.{Blueprints, Delete, Download, Move, Upload}
import graft.ftp.MiniFtpServer
import graft.sources.FileOps
import graft.sources.ftp.GraftFtpFileSystem
import graft.sources.ssh.{GraftSftpFileSystem, SshServer}

/** The remote adapters' client pool and the local filesystem FileOps
  * opens: one JVM-wide pool per server identity, whose logins and SSH
  * sessions every FS handle and every step reuses, a failed or stale
  * client never reused, and creates that start no process.
  */
class ClientPoolSpec extends SparkSpec {

  private def gftp(server: MiniFtpServer): FileSystem = {
    val fs = new GraftFtpFileSystem
    fs.initialize(new URI(s"gftp://u:p@127.0.0.1:${server.port}"), new Configuration(false))
    fs
  }

  private def write(fs: FileSystem, p: String, bytes: Array[Byte]): Unit = {
    val out = fs.create(new Path(p))
    try out.write(bytes) finally out.close()
  }

  private def read(fs: FileSystem, p: String): Array[Byte] = {
    val in = fs.open(new Path(p))
    try in.readAllBytes() finally in.close()
  }

  /** A flat server tree of `n` files `f_<i>.dat` under `dir/`. */
  private def tree(root: JPath, n: Int): Map[String, Array[Byte]] = {
    Files.createDirectories(root.resolve("dir"))
    (0 until n).map { i =>
      val bytes = Array.tabulate[Byte](1000 + i)(j => (i * 31 + j).toByte)
      Files.write(root.resolve(s"dir/f_$i.dat"), bytes)
      s"f_$i.dat" -> bytes
    }.toMap
  }

  private def downloadArgs(port: Int, protocol: String, dst: JPath, extra: String*) =
    (Seq("--host", "127.0.0.1", "--port", port.toString, "--username", "u",
      "--password", "p", "--protocol", protocol,
      "--source-file-name-match-type", "regex_match", "--source-file-name", "\\.dat$",
      "--source-folder-name", "dir", "--destination-folder-name", dst.toString) ++ extra).toArray

  private def sameFiles(dst: JPath, files: Map[String, Array[Byte]]): Unit = {
    assert(Files.list(dst).count() === files.size.toLong)
    files.foreach { case (name, bytes) =>
      assert(java.util.Arrays.equals(Files.readAllBytes(dst.resolve(name)), bytes), name)
    }
  }

  test("a gftp create into an existing parent sends one CWD") {
    val root = Files.createTempDirectory("graft_pool_cwd")
    Files.createDirectories(root.resolve("p/q"))
    val server = new MiniFtpServer(root)
    val fs = gftp(server)
    try {
      val before = server.commandCount("CWD")
      write(fs, "/p/q/f", "x".getBytes(UTF_8))
      assert(server.commandCount("CWD") - before === 1L)
      assert(Files.readString(root.resolve("p/q/f")) === "x")
      // a missing parent is still made, segment by segment
      write(fs, "/p/r/s/f", "y".getBytes(UTF_8))
      assert(Files.readString(root.resolve("p/r/s/f")) === "y")
    } finally { fs.close(); server.stop() }
  }

  test("a gftp client that got a 421 is discarded; the next call logs in fresh") {
    val root = Files.createTempDirectory("graft_pool_421")
    Files.writeString(root.resolve("a.txt"), "abc")
    val server = new MiniFtpServer(root)
    val fs = gftp(server)
    try {
      assert(fs.getFileStatus(new Path("/a.txt")).getLen === 3L)
      assert(fs.getFileStatus(new Path("/a.txt")).getLen === 3L)
      assert(server.loginCount.get === 1L, "the second call did not reuse the client")
      server.fail421After(0)
      intercept[java.io.IOException](fs.getFileStatus(new Path("/a.txt")))
      assert(new String(read(fs, "/a.txt"), UTF_8) === "abc")
      assert(server.loginCount.get === 2L)
    } finally { fs.close(); server.stop() }
  }

  test("a regex Download under one injected 421 fails at --retries 0 and heals at --retries 1") {
    val root = Files.createTempDirectory("graft_pool_dl421")
    val files = tree(root, 3)
    val server = new MiniFtpServer(root)
    def download(extra: String*): (Int, JPath) = {
      val dst = Files.createTempDirectory("graft_pool_dl421_out")
      (Download.run(spark, downloadArgs(server.port, "ftp", dst, extra: _*)), dst)
    }
    /** The commands of a clean run on the warm pool: no login and no
      * QUIT, so the last one is the last file's RETR.
      */
    def cleanWarmRun(): Long = {
      assert(download()._1 === 0) // warms the pool
      val before = server.commandCount
      assert(download()._1 === 0)
      server.commandCount - before
    }
    try {
      server.fail421After(cleanWarmRun() - 1)
      assert(download("--retries", "0")._1 !== 0, "a download the server cut off exited 0")
      server.fail421After(cleanWarmRun() - 1)
      val (code, dst) = download("--retries", "1", "--backoff-ms", "10")
      assert(code === 0)
      sameFiles(dst, files)
    } finally server.stop()
  }

  test("a data connection dropped mid-RETR fails at --retries 0, heals at --retries 1, " +
      "and its client is never pooled") {
    val root = Files.createTempDirectory("graft_pool_drop")
    val files = tree(root, 3)
    val server = new MiniFtpServer(root)
    def download(extra: String*): (Int, JPath) = {
      val dst = Files.createTempDirectory("graft_pool_drop_out")
      (Download.run(spark, downloadArgs(server.port, "ftp", dst, extra: _*)), dst)
    }
    try {
      assert(download()._1 === 0) // warms the pool
      server.dropDataAfter(500)
      assert(download("--retries", "0")._1 !== 0, "a download whose data was cut exited 0")
      assert(download()._1 === 0) // warms it again
      val before = server.loginCount.get
      server.dropDataAfter(500)
      val (code, dst) = download("--retries", "1", "--backoff-ms", "10")
      assert(code === 0)
      sameFiles(dst, files)
      // the retry logs in once: the cut client was closed, not reused
      assert(server.loginCount.get - before === 1L)
    } finally server.stop()
  }

  test("a driver-arm regex Download of 20 files logs in at most twice on FTP and SFTP") {
    val ftpRoot = Files.createTempDirectory("graft_pool_ftp20")
    val sftpRoot = Files.createTempDirectory("graft_pool_sftp20")
    val files = tree(ftpRoot, 20)
    tree(sftpRoot, 20)
    val ftp = new MiniFtpServer(ftpRoot)
    val ssh = new SshServer(sftpRoot, Map("u" -> "p"))
    try {
      for ((protocol, port, connections) <- Seq(("ftp", ftp.port, ftp.loginCount),
          ("sftp", ssh.port, ssh.sessionCount))) {
        val dst = Files.createTempDirectory(s"graft_pool_${protocol}20_out")
        val before = connections.get
        // the walk's handle, then the copy's source handle
        assert(Download.runBounded(spark, downloadArgs(port, protocol, dst),
          localMaxEntries = 64L) === 0)
        val opened = connections.get - before
        assert(opened <= 2L, s"$protocol: $opened connections for 20 files")
        sameFiles(dst, files)
      }
    } finally { ftp.stop(); ssh.close() }
  }

  test("one FS used from 4 threads stays byte-identical and never shares a client") {
    val ftpRoot = Files.createTempDirectory("graft_pool_threads_ftp")
    val sftpRoot = Files.createTempDirectory("graft_pool_threads_sftp")
    val ftp = new MiniFtpServer(ftpRoot)
    val ssh = new SshServer(sftpRoot, Map("u" -> "p"))
    val sftpFs = new GraftSftpFileSystem
    sftpFs.initialize(new URI(s"gsftp://u:p@127.0.0.1:${ssh.port}"), new Configuration(false))
    def payload(t: Int, i: Int) = Array.tabulate[Byte](200 + 37 * i)(j => (t * 7 + i + j).toByte)
    try {
      for ((fs, connections) <- Seq((gftp(ftp), ftp.loginCount), (sftpFs, ssh.sessionCount))) {
        val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
        val threads = (0 until 4).map { t =>
          new Thread(() => (0 until 50).foreach { i =>
            val f = s"/t$t/f${i / 3}"
            try i % 3 match {
              case 0 => write(fs, f, payload(t, i / 3))
              case 1 =>
                if (!java.util.Arrays.equals(read(fs, f), payload(t, i / 3)))
                  errors.add(s"$f read back different bytes")
              case _ =>
                val len = fs.getFileStatus(new Path(f)).getLen
                if (len != payload(t, i / 3).length) errors.add(s"$f is $len bytes")
            } catch { case e: Exception => errors.add(s"$f: $e") }
          })
        }
        threads.foreach(_.start())
        threads.foreach(_.join())
        fs.close()
        assert(errors.isEmpty, errors.toString)
        // at most one client per thread: a client is never handed to two
        assert(connections.get <= 4L, s"${connections.get} connections for 4 threads")
      }
    } finally { ftp.stop(); ssh.close() }
  }

  test("a Download's local files and new dirs keep their modes") {
    val root = Files.createTempDirectory("graft_pool_modes")
    val files = tree(root, 2)
    val server = new MiniFtpServer(root)
    val out = Files.createTempDirectory("graft_pool_modes_out")
    try {
      val dst = out.resolve("a/b")
      assert(Download.run(spark, downloadArgs(server.port, "ftp", dst)) === 0)
      sameFiles(dst, files)
      def mode(p: JPath) = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
      // files: Hadoop's 0666 under its default umask 022; dirs: the
      // process umask, as a plain mkdir makes them
      files.keys.foreach(f => assert(mode(dst.resolve(f)) === "rw-r--r--", f))
      val plain = out.resolve("plain")
      assert(plain.toFile.mkdir())
      Seq(out.resolve("a"), dst).foreach(d => assert(mode(d) === mode(plain), d))
    } finally server.stop()
  }

  /** The benchmark's step sequence per protocol over a fixed tree: six
    * small files in three directories go up, down, move and delete,
    * then two large files go up and down.
    */
  private def transferPass(port: Int, protocol: String, src: JPath, root: JPath,
      out: JPath): Unit = {
    Seq(out.resolve("small"), out.resolve("large"), root.resolve("small"), root.resolve("large"))
      .foreach(d => org.apache.commons.io.FileUtils.deleteDirectory(d.toFile))
    def regex(pattern: String, from: String, to: String, name: String) = Seq(
      "--source-file-name-match-type", "regex_match", "--source-file-name", pattern,
      "--source-folder-name", from, "--destination-folder-name", to,
      "--destination-file-name", name)
    val steps = Seq(
      Upload -> regex("\\.dat$", src.resolve("small").toString, "small/up", "f.dat"),
      Download -> regex("^f_[0-9]+\\.dat$", "small/up", out.resolve("small").toString, "g.dat"),
      Move -> regex("f_[0-9]+\\.dat$", "small/up", "small/moved", "m.dat"),
      Delete -> Seq("--file-name-match-type", "regex_match", "--source-file-name",
        "m_[0-9]+\\.dat$", "--source-folder-name", "small/moved"),
      Upload -> regex("\\.bin$", src.resolve("large").toString, "large", "L.bin"),
      Download -> regex("^L_[0-9]+\\.bin$", "large", out.resolve("large").toString, "K.bin"))
    steps.foreach { case (blueprint, flags) =>
      val argv = (Seq("--host", "127.0.0.1", "--port", port.toString, "--username", "u",
        "--password", "p", "--protocol", protocol) ++ flags).toArray
      assert(blueprint.run(spark, argv) === 0, s"$protocol ${flags.mkString(" ")}")
    }
    assert(Files.list(out.resolve("small")).count() === 6L)
    assert(Files.list(out.resolve("large")).count() === 2L)
  }

  test("the transfer steps log in at most once per protocol cold, and never warm") {
    val src = Files.createTempDirectory("graft_pool_pass_src")
    Seq("a", "b", "c").zipWithIndex.foreach { case (d, i) =>
      Files.createDirectories(src.resolve(s"small/$d"))
      (0 until 2).foreach(j => Files.write(src.resolve(s"small/$d/s$i$j.dat"),
        Array.tabulate[Byte](4000 + j)(k => (k * (i + 3)).toByte)))
    }
    Files.createDirectories(src.resolve("large"))
    (0 until 2).foreach(j => Files.write(src.resolve(s"large/b$j.bin"),
      Array.tabulate[Byte](300000)(k => (k * (j + 7)).toByte)))
    val ftpRoot = Files.createTempDirectory("graft_pool_pass_ftp")
    val sftpRoot = Files.createTempDirectory("graft_pool_pass_sftp")
    val ftp = new MiniFtpServer(ftpRoot)
    val ssh = new SshServer(sftpRoot, Map("u" -> "p"))
    try {
      for ((protocol, port, root, connections) <- Seq(("ftp", ftp.port, ftpRoot, ftp.loginCount),
          ("sftp", ssh.port, sftpRoot, ssh.sessionCount))) {
        val out = Files.createTempDirectory(s"graft_pool_pass_${protocol}_out")
        val perPass = (0 until 3).map { _ =>
          val before = connections.get
          transferPass(port, protocol, src, root, out)
          connections.get - before
        }
        info(s"$protocol logins per pass (cold, warm, warm): ${perPass.mkString(", ")}")
        assert(perPass.head <= 1L, s"$protocol cold pass")
        assert(perPass.tail === Seq(0L, 0L), s"$protocol warm passes")
      }
    } finally { ftp.stop(); ssh.close() }
  }

  test("spark.read.text over 200 files holds at most task slots + 1 connections, with no GC") {
    val slots = spark.sparkContext.defaultParallelism
    val ftpRoot = Files.createTempDirectory("graft_pool_read_ftp")
    val sftpRoot = Files.createTempDirectory("graft_pool_read_sftp")
    Seq(ftpRoot, sftpRoot).foreach { r =>
      Files.createDirectories(r.resolve("lines"))
      (0 until 200).foreach(i => Files.writeString(r.resolve(f"lines/part-$i%03d.txt"), s"line $i\n"))
    }
    val ftp = new MiniFtpServer(ftpRoot)
    val ssh = new SshServer(sftpRoot, Map("u" -> "p"))
    try {
      for ((protocol, port, logins, live) <- Seq(
          ("ftp", ftp.port, ftp.loginCount, () => ftp.liveConnections),
          ("sftp", ssh.port, ssh.sessionCount, () => ssh.liveConnections))) {
        // the conf a blueprint step sets: a new FS per getFileSystem call
        val uri = Blueprints.ftpUri(spark, Blueprints.parse(Array("--host", "127.0.0.1",
          "--port", port.toString, "--username", "u", "--password", "p",
          "--protocol", protocol, "--source-file-name-match-type", "regex_match",
          "--source-file-name", "x")))
        val before = logins.get
        assert(spark.read.text(s"$uri/lines").count() === 200L)
        val opened = logins.get - before
        assert(opened <= slots + 1L, s"$protocol: $opened logins for $slots task slots")
        assert(live() <= slots + 1, s"$protocol: ${live()} connections open for $slots task slots")
      }
    } finally { ftp.stop(); ssh.close() }
  }

  test("two users, two passwords, or a pinned and an unpinned host key never share a client") {
    val ftpRoot = Files.createTempDirectory("graft_pool_identity_ftp")
    val sftpRoot = Files.createTempDirectory("graft_pool_identity_sftp")
    Files.writeString(ftpRoot.resolve("a.txt"), "abc")
    Files.writeString(sftpRoot.resolve("a.txt"), "abc")
    val ftp = new MiniFtpServer(ftpRoot) // any user, any password
    val ssh = new SshServer(sftpRoot, Map("u" -> "p", "v" -> "q"))
    val pinned = new Configuration(false)
    pinned.set("fs.gsftp.hostkey", java.util.Base64.getEncoder.encodeToString(ssh.hostKeyBlob))
    def view(fs: FileSystem, uri: String, conf: Configuration = new Configuration(false)) = {
      fs.initialize(new URI(uri), conf)
      fs
    }
    /** The logins one call on each view makes, in turn. */
    def logins(count: () => Long, views: FileSystem*): Seq[Long] = views.map { fs =>
      val before = count()
      assert(fs.getFileStatus(new Path("/a.txt")).getLen === 3L)
      count() - before
    }
    val ftpAt = s"127.0.0.1:${ftp.port}"
    val sshAt = s"127.0.0.1:${ssh.port}"
    try {
      // one identity through two views logs in once
      assert(logins(() => ftp.loginCount.get, view(new GraftFtpFileSystem, s"gftp://u:p@$ftpAt"),
        view(new GraftFtpFileSystem, s"gftp://u:p@$ftpAt")) === Seq(1L, 0L))
      assert(logins(() => ftp.loginCount.get, view(new GraftFtpFileSystem, s"gftp://u2:p@$ftpAt"),
        view(new GraftFtpFileSystem, s"gftp://u:p2@$ftpAt")) === Seq(1L, 1L))
      assert(logins(() => ssh.sessionCount.get,
        view(new GraftSftpFileSystem, s"gsftp://u:p@$sshAt"),
        view(new GraftSftpFileSystem, s"gsftp://v:q@$sshAt"),
        view(new GraftSftpFileSystem, s"gsftp://u:p@$sshAt", pinned),
        view(new GraftSftpFileSystem, s"gsftp://u:p@$sshAt"),
        view(new GraftSftpFileSystem, s"gsftp://u:p@$sshAt", pinned)) === Seq(1L, 1L, 1L, 0L, 0L))
    } finally { ftp.stop(); ssh.close() }
  }

  test("after a server restart drops every idle client, the next call succeeds at once " +
      "on one fresh login") {
    for (protocol <- Seq("ftp", "sftp")) {
      val root = Files.createTempDirectory(s"graft_pool_restart_$protocol")
      val files = tree(root, 3)
      val (port, logins, live, restart, stop) =
        if (protocol == "ftp") {
          val s = new MiniFtpServer(root)
          (s.port, s.loginCount, () => s.liveConnections, () => s.dropConnections(), () => s.stop())
        } else {
          val s = new SshServer(root, Map("u" -> "p"))
          (s.port, s.sessionCount, () => s.liveConnections, () => s.dropConnections(), () => s.close())
        }
      try {
        // a view on the pool a Download step uses
        val fs = FileSystem.newInstance(new URI(Blueprints.ftpUri(spark,
          Blueprints.parse(downloadArgs(port, protocol, root)))), spark.sessionState.newHadoopConf())
        /** Three clients at once, then three idle ones in the pool. */
        def fill(): Unit = {
          files.keys.map(n => fs.open(new Path(s"/dir/$n")))
            .foreach(in => try in.readAllBytes() finally in.close())
          assert(live() === 3, s"$protocol connections before the restart")
        }
        fill()
        restart()
        var before = logins.get
        assert(fs.getFileStatus(new Path("/dir")).isDirectory)
        assert(logins.get - before === 1L, s"$protocol logins after the restart")
        fill()
        restart()
        before = logins.get
        val dst = Files.createTempDirectory(s"graft_pool_restart_${protocol}_out")
        assert(Download.run(spark, downloadArgs(port, protocol, dst, "--retries", "0")) === 0)
        sameFiles(dst, files)
        assert(logins.get - before === 1L, s"$protocol Download logins after the restart")
      } finally stop()
    }
  }

  test("50 local creates start no child process") {
    val (code, output) = ChildJvm.run("graft.LocalCreateMain", Nil,
      env = Map("JAVA_TOOL_OPTIONS" -> "-Djava.security.manager=allow"))
    assert(code === 0, output)
    assert(output.contains("processes=0 "), output)
    assert(output.contains("mode=rw------- "), output)
  }
}

/** Copies 50 local files to new local dirs through `FileOps.copyFiles`
  * under a security manager that counts process starts; prints the
  * count and the mode of a copy made under the umask 077.
  */
object LocalCreateMain {
  def main(args: Array[String]): Unit = {
    val dir = Files.createTempDirectory("graft_local_create")
    val src = Files.createDirectories(dir.resolve("src"))
    (0 to 50).foreach(i => Files.writeString(src.resolve(s"f$i"), s"$i"))
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", "077")
    def copy(from: Int, to: Int): Unit =
      FileOps.copyFiles(conf, "file:", "file:", retries = 0, backoffMs = 0L, resume = false)(
        (from until to).iterator.map(i => FileOps.Transfer(s"$src/f$i", s"$dir/out/d$i/f$i")))
    copy(0, 1) // class loading, whose static set-up may start processes
    val started = new java.util.concurrent.atomic.AtomicInteger
    System.setSecurityManager(new SecurityManager {
      override def checkPermission(p: java.security.Permission): Unit = ()
      override def checkExec(cmd: String): Unit = { started.incrementAndGet(); () }
    })
    copy(1, 51)
    System.setSecurityManager(null)
    val mode = PosixFilePermissions.toString(
      Files.getPosixFilePermissions(dir.resolve("out/d50/f50")))
    println(s"processes=${started.get} mode=$mode ")
  }
}
