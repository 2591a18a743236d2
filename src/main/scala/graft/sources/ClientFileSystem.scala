package graft.sources

import java.io.{EOFException, FileNotFoundException, IOException, OutputStream}
import java.net.URI

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

import ClientFileSystem.{MaxIdleMs, Meta, SeekableInput}

/** The Hadoop `FileSystem` skeleton of graft's remote adapters
  * (`gftp://`, `gftps://`, `gsftp://`): URI and credential parsing,
  * client lifetime, `FileStatus` construction and every verb, built
  * on a few wire calls that each protocol's subclass supplies.
  * Credentials resolve from the URI userInfo or
  * `fs.<scheme>.{user,password}`, the port from the URI or
  * `fs.<scheme>.port`, else `defaultPort`.
  *
  * Client lifetime: each instance keeps a pool of idle clients (FTP
  * logins or SSH sessions). An FS call checks one out, or opens one
  * when none is idle, and returns it when the call ends; a stream
  * holds its client until it is closed. The reference passes one
  * ftplib client to every per-file call the same way
  * (download_file.py:187), and since `FileOps` opens one instance per
  * step or task, each step or partition runs on one connection. A
  * call that fails, or a stream whose close fails, closes its client
  * instead: a `421`, a short RETR's `426` or an aborted transfer
  * never reaches the next caller. A missing path
  * (`FileNotFoundException`) is an answer, not a failure, and keeps
  * the client. A client idle for more than [[ClientFileSystem.MaxIdleMs]]
  * is closed rather than reused, and `close()` closes every idle one.
  * Clients are never shared: two threads each get their own.
  */
abstract class ClientFileSystem[C <: AutoCloseable](defaultPort: Int)
    extends FileSystem {

  private var uri: URI = _
  protected var host: String = _
  protected var port: Int = defaultPort
  protected var user: String = "anonymous"
  protected var password: String = ""
  private var workingDir: Path = new Path("/")

  /** A connected, logged-in client. */
  protected def client(): C
  /** One path's metadata; None when it does not exist. */
  protected def stat(c: C, path: String): Option[Meta]
  /** A directory's entries, without `.` and `..`. */
  protected def entries(c: C, dir: String): Seq[(String, Meta)]
  protected def remove(c: C, path: String, isDir: Boolean): Boolean
  /** Create `dir` and each missing ancestor; true when `dir` is a directory. */
  protected def makeDirs(c: C, dir: String): Boolean
  protected def move(c: C, src: String, dst: String): Boolean
  /** A read stream at offset 0 of a regular file of `len` bytes. */
  protected def openInput(c: C, path: String, len: Long): SeekableInput
  /** A write stream: at 0 it creates or truncates the file, above 0
    * it continues the file from that offset.
    */
  protected def openOutput(c: C, path: String, at: Long): OutputStream

  /** A regular file's length, on the client that will transfer it. */
  protected def fileLen(c: C, path: String): Long = stat(c, path) match {
    case Some(m) if m.isDir => throw new IOException(s"$path is a directory")
    case Some(m) => m.len
    case None => throw new FileNotFoundException(path)
  }

  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    setConf(conf)
    val scheme = getScheme
    host = name.getHost
    port =
      if (name.getPort > 0) name.getPort
      else conf.getInt(s"fs.$scheme.port", defaultPort)
    Option(name.getUserInfo).foreach { ui =>
      val parts = ui.split(":", 2)
      user = parts(0)
      if (parts.length > 1) password = parts(1)
    }
    user = conf.get(s"fs.$scheme.user", user)
    password = conf.get(s"fs.$scheme.password", password)
    // keep the full authority (incl. userinfo) — Path.checkPath
    // compares authorities verbatim
    uri = URI.create(s"$scheme://${name.getAuthority}")
  }

  override def getUri: URI = uri
  override def setWorkingDirectory(dir: Path): Unit = { workingDir = dir }
  override def getWorkingDirectory: Path = workingDir

  private def abs(p: Path): String = {
    val q = if (p.isAbsolute) p else new Path(workingDir, p)
    q.toUri.getPath match { case "" => "/"; case s => s }
  }

  /** False once the client closed itself (an aborted transfer). */
  protected def isOpen(c: C): Boolean = true

  // idle clients, the most recently returned first, each with the
  // System.nanoTime it was returned at
  private val idle = new java.util.ArrayDeque[(C, Long)]()
  private var closed = false

  /** An idle client, else a new one; idle clients past the age limit close. */
  private def checkout(): C = {
    val now = System.nanoTime()
    val stale = ArrayBuffer.empty[C]
    val reused = idle.synchronized {
      while (!idle.isEmpty && now - idle.peekLast._2 > MaxIdleMs * 1000000L)
        stale += idle.pollLast()._1
      Option(idle.pollFirst()).map(_._1)
    }
    stale.foreach(discard)
    reused.getOrElse(client())
  }

  private def checkin(c: C): Unit = {
    val kept = isOpen(c) && idle.synchronized {
      !closed && { idle.addFirst((c, System.nanoTime())); true }
    }
    if (!kept) discard(c)
  }

  private def discard(c: C): Unit =
    try c.close() catch { case NonFatal(_) => () }

  /** Runs `end`, then returns `c` to the pool; closes `c` instead when
    * `end` fails with anything but a missing path.
    */
  protected def release[A](c: C)(end: => A): A = {
    val a = try end catch {
      case e: FileNotFoundException => checkin(c); throw e
      case e: Throwable => discard(c); throw e
    }
    checkin(c)
    a
  }

  private def withClient[A](f: C => A): A = { val c = checkout(); release(c)(f(c)) }

  /** A client handed to the stream `f` builds, which [[release]]s it
    * when closed; released here only if building the stream fails.
    */
  protected def withStreamClient[A](f: C => A): A = {
    val c = checkout()
    try f(c) catch { case e: Throwable => release(c)(throw e) }
  }

  override def close(): Unit = try super.close() finally {
    val all = idle.synchronized {
      closed = true
      val cs = idle.asScala.map(_._1).toList
      idle.clear()
      cs
    }
    all.foreach(discard)
  }

  private def fileStatus(m: Meta, q: Path): FileStatus =
    new FileStatus(m.len, m.isDir, 1, 65536, m.mtimeMs, q)

  override def getFileStatus(p: Path): FileStatus = withClient(status(_, p))

  private def status(c: C, p: Path): FileStatus = abs(p) match {
    case "/" => fileStatus(Meta(0L, isDir = true, 0L), makeQualified(p))
    case path => fileStatus(
      stat(c, path).getOrElse(throw new FileNotFoundException(path)), makeQualified(p))
  }

  override def listStatus(p: Path): Array[FileStatus] = withClient(list(_, p))

  private def list(c: C, p: Path): Array[FileStatus] = {
    val st = status(c, p)
    if (!st.isDirectory) Array(st)
    else entries(c, abs(p)).map { case (name, m) =>
      fileStatus(m, new Path(makeQualified(p), name))
    }.toArray
  }

  override def mkdirs(p: Path, permission: FsPermission): Boolean =
    abs(p) == "/" || withClient(makeDirs(_, abs(p)))

  override def rename(src: Path, dst: Path): Boolean =
    withClient(move(_, abs(src), abs(dst)))

  override def delete(p: Path, recursive: Boolean): Boolean = withClient { c =>
    def del(path: String, isDir: Boolean): Boolean = {
      val children = if (isDir) entries(c, path) else Nil
      if (children.nonEmpty && !recursive)
        throw new IOException(s"$path not empty")
      children.forall { case (name, m) => del(s"$path/$name", m.isDir) } &&
        remove(c, path, isDir)
    }
    try del(abs(p), status(c, p).isDirectory)
    catch { case _: FileNotFoundException => false }
  }

  override def open(p: Path, bufferSize: Int): FSDataInputStream =
    withStreamClient { c =>
      val path = abs(p)
      new FSDataInputStream(openInput(c, path, fileLen(c, path)))
    }

  override def create(p: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    if (!overwrite && exists(p))
      throw new FileAlreadyExistsException(s"$p already exists")
    val path = abs(p)
    withStreamClient { c =>
      val parent = path.take(path.lastIndexOf('/'))
      if (parent.nonEmpty) makeDirs(c, parent)
      outStream(c, openOutput(c, path, 0L), 0L)
    }
  }

  /** Append continues the file from its current length — a real
    * resume primitive: a partially-transferred upload continues from
    * where it died instead of restarting.
    */
  override def append(p: Path, bufferSize: Int,
      progress: Progressable): FSDataOutputStream = withStreamClient { c =>
    val path = abs(p)
    val len = fileLen(c, path) // throws FileNotFoundException if absent
    outStream(c, openOutput(c, path, len), len)
  }

  /** A write stream that releases its client when closed; a write
    * that failed closes the client instead.
    */
  private def outStream(c: C, raw: OutputStream,
      start: Long): FSDataOutputStream =
    new FSDataOutputStream(new java.io.FilterOutputStream(raw) {
      private var held = true
      override def write(b: Array[Byte], off: Int, len: Int): Unit =
        try out.write(b, off, len)
        catch { case e: Throwable => held = false; discard(c); throw e }
      override def close(): Unit = if (held) {
        held = false
        release(c)(super.close())
      } else try super.close() catch { case NonFatal(_) => () }
    }, statistics, start)
}

object ClientFileSystem {

  /** Longest a client sits idle before it is closed instead of reused:
    * well under common server idle timeouts (vsftpd and ProFTPD drop a
    * control connection idle for 300 s), so a reused client is one the
    * server still holds open.
    */
  val MaxIdleMs = 30000L

  /** What a stat or a directory entry says of one path. */
  final case class Meta(len: Long, isDir: Boolean, mtimeMs: Long)

  /** A read stream over a file of `len` bytes that tracks its offset;
    * a seek past the end fails, and `readFully` loops over positioned
    * reads (`FSInputStream`'s, or a subclass's native ones).
    */
  abstract class SeekableInput(path: String, len: Long) extends FSInputStream {
    protected var pos = 0L
    /** Move the reader from `pos` to `target`, which is at most `len`. */
    protected def moveTo(target: Long): Unit
    override def getPos: Long = pos
    override def seek(target: Long): Unit = {
      if (target > len) throw new EOFException(s"seek past EOF in $path")
      if (target != pos) { moveTo(target); pos = target }
    }
    override def seekToNewSource(targetPos: Long): Boolean = false
  }
}
