package graft.sources

import java.io.{EOFException, FileNotFoundException, IOException, OutputStream}
import java.net.URI
import java.nio.ByteBuffer
import java.nio.channels.SocketChannel
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

import ClientFileSystem.{Meta, Pool, SeekableInput}

/** The Hadoop `FileSystem` skeleton of graft's remote adapters
  * (`gftp://`, `gftps://`, `gsftp://`): URI and credential parsing,
  * client lifetime, `FileStatus` construction and every verb, built
  * on a few wire calls that each protocol's subclass supplies.
  * Credentials resolve from the URI userInfo or
  * `fs.<scheme>.{user,password}`, the port from the URI or
  * `fs.<scheme>.port`, else `defaultPort`.
  *
  * Client lifetime: idle clients (FTP logins or SSH sessions) live in
  * one pool per JVM, keyed by server identity: scheme, host, port,
  * user, and a SHA-256 digest of the password and of every
  * `fs.<scheme>.*` conf value as [[initialize]] reads it (so of every
  * TLS or host-key setting `client()` reads; graft's callers hand each
  * handle a conf copy nobody changes after). Each instance is a view on
  * that pool, so every handle to the same identity (each step's, each
  * task's, each Spark reader's) reuses the same few connections; the
  * reference passes one ftplib client through a whole run the same
  * way (download_file.py:187). An FS call checks a client out, or
  * opens one when none is idle, and returns it when the call ends; a
  * stream holds its client until it is closed. Clients are never
  * shared: two threads each get their own.
  *
  * A call that fails, or a stream whose close fails, closes its client
  * instead: a `421`, a short RETR's `426` or an aborted transfer never
  * reaches the next caller. A missing path (`FileNotFoundException`)
  * is an answer, not a failure, and keeps the client. A client that
  * is not open is never pooled. Each identity keeps at most
  * [[ClientFileSystem.MaxIdlePerKey]] idle clients; one idle for more
  * than [[ClientFileSystem.MaxIdleMs]] is closed, at checkout and by a
  * daemon reaper. Every idle client is checked before it is handed
  * out, without a round trip or a wait (the server closed it, or wrote
  * to it unasked: [[isQuiet]]); one that fails is closed and the next
  * taken, so a restarted server costs a fresh login, not a failed call.
  * `close()` ends the view only: the idle clients stay for the other
  * views.
  */
abstract class ClientFileSystem[C <: AutoCloseable](defaultPort: Int)
    extends FileSystem {

  private var uri: URI = _
  protected var host: String = _
  protected var port: Int = defaultPort
  protected var user: String = "anonymous"
  protected var password: String = ""
  private var workingDir: Path = new Path("/")
  private var key: String = _

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
    key = ClientFileSystem.identity(scheme, host, port, user, password +:
      conf.getPropsWithPrefix(s"fs.$scheme.").asScala.toSeq.sorted.map { case (k, v) => s"$k=$v" })
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

  /** False when the server closed an idle client or wrote to it
    * unasked; checked with no round trip and no wait.
    */
  protected def isQuiet(c: C): Boolean = isOpen(c)

  /** This view's pool identity. */
  private[graft] def poolKey: String = key

  /** An idle client of this identity, else a new one; an idle one
    * that is no longer quiet closes, and the next is tried.
    */
  private def checkout(): C = Pool.take(key) match {
    case Some(c) =>
      val idle = c.asInstanceOf[C]
      if (isQuiet(idle)) idle else { discard(idle); checkout() }
    case None => client()
  }

  private def checkin(c: C): Unit =
    if (!isOpen(c) || !Pool.put(key, c)) discard(c)

  private def discard(c: C): Unit = Pool.close(c)

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

  /** Most idle clients one identity keeps: the task slots of a local
    * session, so a stage of concurrent tasks returns every client.
    */
  val MaxIdlePerKey: Int = Runtime.getRuntime.availableProcessors

  /** The pool key of one server identity; the password and the conf
    * values enter it as a SHA-256 digest only.
    */
  private def identity(scheme: String, host: String, port: Int, user: String,
      secrets: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    secrets.foreach(s => md.update(s"${s.length}:$s".getBytes(UTF_8)))
    s"$scheme://$user@$host:$port#${md.digest().map(b => f"${b & 0xff}%02x").mkString}"
  }

  /** The JVM's idle clients: per identity the most recently returned
    * first, each with the `System.nanoTime` it was returned at. An
    * identity with no idle client has no entry.
    */
  private object Pool {
    private type Idle = List[(AutoCloseable, Long)]
    private val idle = new java.util.concurrent.ConcurrentHashMap[String, Idle]()

    private lazy val reaper: Thread = {
      val t = new Thread(() => while (true) {
        Thread.sleep(MaxIdleMs / 2)
        idle.keySet().forEach(k => drain(k, pop = false))
      }, "graft-client-reaper")
      t.setDaemon(true)
      t.start()
      t
    }

    /** Closes the clients of `key` idle past [[MaxIdleMs]], and with
      * `pop` takes the most recently returned of the rest out of the
      * pool; the key's entry goes once it keeps none.
      */
    private def drain(key: String, pop: Boolean): Option[AutoCloseable] = {
      val now = System.nanoTime()
      var got = Option.empty[AutoCloseable]
      var stale: Idle = Nil
      idle.computeIfPresent(key, (_, q) => {
        val (fresh, old) = q.partition(now - _._2 <= MaxIdleMs * 1000000L)
        stale = old
        val rest = if (pop && fresh.nonEmpty) { got = Some(fresh.head._1); fresh.tail } else fresh
        if (rest.isEmpty) null else rest
      })
      stale.foreach(e => close(e._1))
      got
    }

    /** The most recently returned idle client of `key`; clients idle
      * past [[MaxIdleMs]] close first.
      */
    def take(key: String): Option[AutoCloseable] = drain(key, pop = true)

    /** False when `key` already keeps [[MaxIdlePerKey]] idle clients. */
    def put(key: String, c: AutoCloseable): Boolean = {
      reaper
      var kept = false
      idle.compute(key, (_, q) => {
        val held = if (q == null) Nil else q
        kept = held.size < MaxIdlePerKey
        if (kept) (c, System.nanoTime()) :: held else held
      })
      kept
    }

    def close(c: AutoCloseable): Unit =
      try c.close() catch { case NonFatal(_) => () }
  }

  /** True when the peer has neither closed `ch` nor sent on it, and no
    * byte the client received waits `unread` in its buffers: one
    * non-blocking read, no wait. For a client socket nobody is reading.
    */
  private[sources] def quiet(ch: SocketChannel)(unread: => Boolean): Boolean =
    try !unread && ch.blockingLock().synchronized {
      ch.configureBlocking(false)
      try ch.read(ByteBuffer.allocate(1)) == 0 finally ch.configureBlocking(true)
    } catch { case _: java.io.IOException => false }

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
