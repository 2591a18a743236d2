package graft

import java.io.{EOFException, FileNotFoundException, IOException}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

import graft.ftp.{MiniFtpServer, TlsTestMaterial}
import graft.sources.ftp.{GraftFtpFileSystem, GraftFtpsFileSystem}
import graft.sources.ssh.{GraftSftpFileSystem, SshServer}

/** One set of Hadoop `FileSystem` contract assertions, run on every
  * remote adapter: `gftp` and `gftps` against the loopback FTP server,
  * `gsftp` against the embedded SSH server (its host key pinned).
  */
class FileSystemContractSpec extends AnyFunSuite {

  /** A fresh adapter over a fresh server root; the closer stops both. */
  private def withFs(scheme: String)(body: FileSystem => Unit): Unit = {
    val root = Files.createTempDirectory(s"graft_contract_$scheme")
    val conf = new Configuration(false)
    val (fs, port, stop): (FileSystem, Int, () => Unit) = scheme match {
      case "gftp" =>
        val s = new MiniFtpServer(root)
        (new GraftFtpFileSystem, s.port, () => s.stop())
      case "gftps" =>
        val s = new MiniFtpServer(root, tlsContext = Some(TlsTestMaterial.serverContext))
        conf.set("fs.gftps.truststore", TlsTestMaterial.truststorePath)
        conf.set("fs.gftps.truststore.password", TlsTestMaterial.storePass)
        (new GraftFtpsFileSystem, s.port, () => s.stop())
      case "gsftp" =>
        val s = new SshServer(root, Map("u" -> "p"))
        conf.set("fs.gsftp.hostkey", java.util.Base64.getEncoder.encodeToString(s.hostKeyBlob))
        (new GraftSftpFileSystem, s.port, () => s.close())
    }
    try {
      fs.initialize(new URI(s"$scheme://u:p@localhost:$port"), conf)
      body(fs)
    } finally { fs.close(); stop() }
  }

  private def write(fs: FileSystem, p: Path, s: String): Unit = {
    val out = fs.create(p)
    try out.write(s.getBytes(UTF_8)) finally out.close()
  }

  private def read(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def contract(fs: FileSystem): Unit = {
    assert(fs.getFileStatus(new Path("/")).isDirectory)

    val missing = new Path("/c/missing.bin")
    intercept[FileNotFoundException](fs.getFileStatus(missing))
    intercept[FileNotFoundException](fs.open(missing))
    intercept[FileNotFoundException](fs.append(missing))
    intercept[FileNotFoundException](fs.listStatus(missing))
    assert(!fs.delete(missing, true))
    assert(!fs.delete(missing, false))

    val nested = new Path("/c/m/n/o")
    assert(fs.mkdirs(nested))
    assert(fs.getFileStatus(nested).isDirectory)
    assert(fs.mkdirs(nested), "mkdirs of an existing directory")

    // create makes the missing parents
    val f = new Path("/c/p/q/f.txt")
    write(fs, f, "hello")
    assert(fs.getFileStatus(new Path("/c/p/q")).isDirectory)
    val st = fs.getFileStatus(f)
    assert(st.isFile && st.getLen === 5 && st.getPath === fs.makeQualified(f))
    val asList = fs.listStatus(f)
    assert(asList.map(s => (s.getPath, s.getLen, s.isFile)).toSeq ===
      Seq((fs.makeQualified(f), 5L, true)), "listStatus of a file is that file")
    intercept[IOException](fs.create(f, false))
    assert(read(fs, f) === "hello", "a refused create leaves the file alone")
    assert(!scala.util.Try(fs.mkdirs(f)).getOrElse(false), "mkdirs over a file")

    // append continues from the current length
    val out = fs.append(f)
    out.write(" world".getBytes(UTF_8)); out.close()
    assert(fs.getFileStatus(f).getLen === 11)
    assert(read(fs, f) === "hello world")

    // seek, positioned reads, and a seek past the end
    val in = fs.open(f)
    try {
      in.seek(6)
      assert(in.getPos === 6)
      assert(new String(in.readNBytes(5), UTF_8) === "world")
      val head = new Array[Byte](5)
      in.readFully(0, head)
      assert(new String(head, UTF_8) === "hello")
      intercept[EOFException](in.seek(12))
      intercept[EOFException](in.readFully(8, new Array[Byte](8)))
    } finally in.close()

    val dir = new Path("/c/p/q")
    intercept[IOException](fs.open(dir))

    // rename
    val g = new Path("/c/p/g.txt")
    assert(fs.rename(f, g))
    assert(!fs.exists(f) && read(fs, g) === "hello world")
    assert(!fs.rename(missing, new Path("/c/p/h.txt")))

    // one batched listing equals the single listings
    val (d1, d2) = (new Path("/c/d1"), new Path("/c/d2"))
    Seq("/c/d1/x.txt", "/c/d2/y.txt", "/c/d2/z.txt", "/c/d2/sub/w.txt")
      .foreach(p => write(fs, new Path(p), p))
    def key(ss: Array[org.apache.hadoop.fs.FileStatus]) =
      ss.map(s => (s.getPath.toString, s.getLen, s.isDirectory)).sortBy(_._1).toSeq
    val singles = key(fs.listStatus(d1) ++ fs.listStatus(d2))
    assert(singles.map(_._1.split("/c/").last) ===
      Seq("d1/x.txt", "d2/sub", "d2/y.txt", "d2/z.txt"))
    assert(key(fs.listStatus(Array(d1, d2))) === singles)

    // delete: a non-empty directory only recursively, an empty one either way
    intercept[IOException](fs.delete(d2, false))
    assert(fs.exists(new Path("/c/d2/sub/w.txt")))
    assert(fs.delete(d2, true) && !fs.exists(d2))
    assert(fs.delete(g, false) && !fs.exists(g))
    assert(fs.mkdirs(new Path("/c/e")) && fs.delete(new Path("/c/e"), false))
    assert(fs.delete(new Path("/c"), true) && !fs.exists(new Path("/c")))
    assert(fs.listStatus(new Path("/")).isEmpty)
  }

  for (scheme <- Seq("gftp", "gftps", "gsftp"))
    test(s"$scheme honours the FileSystem contract") { withFs(scheme)(contract) }
}
