package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

import graft.blueprints.Download
import graft.ftp.MiniFtpServer
import graft.sources.FileOps
import graft.sources.ftp.GraftFtpFileSystem
import graft.sources.ssh.{GraftSftpFileSystem, SshServer}

/** The remote adapters' client pool and the local filesystem FileOps
  * opens: one login or SSH session per FS handle, a failed client
  * never reused, and creates that start no process.
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
    try {
      // a clean run's commands end with the last file's RETR, then QUIT
      val before = server.commandCount
      assert(download()._1 === 0)
      val last = server.commandCount - before
      server.fail421After(last - 2)
      assert(download("--retries", "0")._1 !== 0, "a download the server cut off exited 0")
      server.fail421After(last - 2)
      val (code, dst) = download("--retries", "1", "--backoff-ms", "10")
      assert(code === 0)
      sameFiles(dst, files)
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
