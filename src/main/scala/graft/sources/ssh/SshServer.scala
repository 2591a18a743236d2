package graft.sources.ssh

import java.io.{IOException, RandomAccessFile}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable

import SftpProto._

/** Embedded SSH2 + SFTPv3 server rooted at a local directory — the
  * loopback test double for [[SftpClient]] / `gsftp://`, in the same
  * role the embedded FTP server plays for `gftp://`. It is a REAL
  * server for the one-suite transport ([[SshCrypto]]): the spec suite
  * drives it with the stock OpenSSH `sftp`/`ssh` client binaries
  * (publickey auth, batch mode), so the wire format is interop-proven,
  * not just self-consistent.
  *
  * Auth: password map and/or authorized Ed25519 public-key blobs
  * (RFC 4252 §7 — the signature binds to the session id, so a
  * captured blob cannot replay). Paths are jailed under `root`.
  * Single session channel per connection (the OpenSSH sftp shape).
  */
final class SshServer(root: Path, users: Map[String, String],
    authorizedKeys: Seq[Array[Byte]] = Nil) {

  private val ss = new ServerSocket(0, 16, InetAddress.getLoopbackAddress)
  val port: Int = ss.getLocalPort
  val hostKey: java.security.KeyPair = SshCrypto.ed25519KeyPair()
  def hostKeyBlob: Array[Byte] = SshCrypto.ed25519Blob(hostKey.getPublic)

  @volatile private var running = true

  /** Per-connection error logging (off by default — a dead client
    * connection is not a server event; the spec suites flip it on).
    */
  @volatile var debug: Boolean = false

  /** Test knob: when > 0, every data send is preceded by that many
    * bytes of ChannelExtendedData (stderr) — models a chatty server
    * whose extended data spends the client's receive window
    * (RFC 4254 §5.2). 0 (default) = silent.
    */
  @volatile var stderrChatter: Int = 0

  /** Sessions authenticated — lets specs count the SSH connections a
    * client opened.
    */
  val sessionCount = new java.util.concurrent.atomic.AtomicLong(0)

  private val live = java.util.concurrent.ConcurrentHashMap.newKeySet[Socket]()

  /** Connections open now — lets specs count the sessions clients
    * hold, idle ones included.
    */
  def liveConnections: Int = live.size

  private val acceptor = new Thread(() => {
    while (running) {
      try {
        val s = ss.accept()
        val t = new Thread(() => handle(s), "graft-sshd-conn")
        t.setDaemon(true)
        t.start()
      } catch { case _: Throwable => () }
    }
  }, "graft-sshd-accept")
  acceptor.setDaemon(true)
  acceptor.start()

  /** Closes every live connection, as a server restart would. */
  def dropConnections(): Unit =
    live.removeIf { s => try s.close() catch { case _: IOException => () }; true }

  /** Stops accepting and closes every live connection. */
  def close(): Unit = {
    running = false
    try ss.close() catch { case _: IOException => () }
    dropConnections()
  }

  // ---- per-connection --------------------------------------------

  private def handle(sock: Socket): Unit = {
    live.add(sock)
    val t = new SshTransport(sock, isServer = true)
    try {
      t.exchangeVersions()
      t.runKex(Some(hostKey))
      serviceAndAuth(t)
      sessionCount.incrementAndGet()
      serveConnection(t)
    } catch {
      case e: Throwable => // connection dies; server lives
        if (debug) Console.err.println(
          s"[graft-sshd] connection died: $e\n  " +
            e.getStackTrace.take(6).mkString("\n  "))
    } finally { t.close(); live.remove(sock) }
  }

  private def serviceAndAuth(t: SshTransport): Unit = {
    val sr = t.readMessage()
    if ((sr(0) & 0xFF) != SshMsg.ServiceRequest ||
        new SshReader(sr, 1).text() != "ssh-userauth")
      throw new IOException("expected ssh-userauth service request")
    t.writePacket(new SshWriter().u8(SshMsg.ServiceAccept)
      .text("ssh-userauth").bytes)
    var authed = false
    def failure(): Unit = t.writePacket(new SshWriter()
      .u8(SshMsg.UserauthFailure)
      .nameList(Seq("publickey", "password")).bool(false).bytes)
    while (!authed) {
      val p = t.readMessage()
      if ((p(0) & 0xFF) != SshMsg.UserauthRequest)
        throw new IOException(s"expected userauth request, got ${p(0)}")
      val r = new SshReader(p, 1)
      val user = r.text(); val service = r.text(); val method = r.text()
      method match {
        case "password" =>
          r.bool()
          val pw = r.text()
          if (users.get(user).contains(pw)) authed = true else failure()
        case "publickey" =>
          val hasSig = r.bool()
          val alg = r.text()
          val blob = r.string()
          val known = alg == SshCrypto.HostKeyAlgo &&
            authorizedKeys.exists(java.util.Arrays.equals(_, blob))
          if (!known) failure()
          else if (!hasSig)
            t.writePacket(new SshWriter().u8(SshMsg.UserauthPkOk)
              .text(alg).string(blob).bytes)
          else {
            val sig = r.string()
            val signed = new SshWriter().string(t.sessionId)
              .u8(SshMsg.UserauthRequest).text(user).text(service)
              .text("publickey").bool(true).text(alg).string(blob).bytes
            if (SshCrypto.ed25519Verify(SshCrypto.ed25519FromBlob(blob),
                signed, sig)) authed = true
            else failure()
          }
        case _ => failure()
      }
      if (authed)
        t.writePacket(Array(SshMsg.UserauthSuccess.toByte))
    }
  }

  // ---- connection / channel / sftp -------------------------------

  private def serveConnection(t: SshTransport): Unit = {
    var peerChan = -1L
    var peerWindow = 0L
    var peerMaxPacket = 32768L
    var granted = 0L // bytes of our window the peer consumed
    val sftpBuf = new java.io.ByteArrayOutputStream(128 << 10)
    val sftp = new SftpServerHandler(root)
    var open = true
    var inWindowWait = false
    var closeSent = false

    def sendClose(): Unit = if (!closeSent) {
      closeSent = true
      t.writePacket(new SshWriter().u8(SshMsg.ChannelClose)
        .u32(peerChan).bytes)
    }

    def sendData(chan: Long, bytes: Array[Byte]): Unit = {
      if (stderrChatter > 0) {
        // test knob: interleave stderr chatter with every data send.
        // Extended data spends the peer's window exactly like data
        // (RFC 4254 §5.2) — so a client that fails to credit it back
        // stalls here, which is precisely what the spec checks.
        val noise = new Array[Byte](stderrChatter)
        java.util.Arrays.fill(noise, 'x'.toByte)
        while (peerWindow < noise.length && open) {
          inWindowWait = true
          try dispatch(t.readMessage()) finally inWindowWait = false
        }
        if (!open) return
        t.writePacket(new SshWriter().u8(SshMsg.ChannelExtendedData)
          .u32(chan).u32(1L /* SSH_EXTENDED_DATA_STDERR */)
          .string(noise).bytes)
        peerWindow -= noise.length
      }
      var off = 0
      while (off < bytes.length) {
        val n = math.min(bytes.length - off,
          math.min(peerMaxPacket, 32768L)).toInt
        while (peerWindow < n && open) {
          // block until the peer re-opens its window; incoming data
          // queues, it is drained after this send completes
          inWindowWait = true
          try dispatch(t.readMessage()) finally inWindowWait = false
        }
        if (!open) return
        t.writePacket(new SshWriter().u8(SshMsg.ChannelData).u32(chan)
          .string(java.util.Arrays.copyOfRange(bytes, off, off + n)).bytes)
        peerWindow -= n
        off += n
      }
    }

    def drainSftp(): Unit = {
      var buf = sftpBuf.toByteArray
      var consumed = 0
      while (buf.length - consumed >= 4) {
        val len = new SshReader(buf, consumed).u32()
        if (buf.length - consumed - 4 < len) {
          // incomplete packet
          val rest = java.util.Arrays.copyOfRange(buf, consumed, buf.length)
          sftpBuf.reset(); sftpBuf.write(rest, 0, rest.length)
          return
        }
        val pkt = java.util.Arrays.copyOfRange(buf,
          consumed + 4, consumed + 4 + len.toInt)
        consumed += 4 + len.toInt
        val resp = sftp.handle(pkt)
        sendData(peerChan, new SshWriter().u32(resp.length.toLong)
          .raw(resp).bytes)
        // sendData may have queued more incoming data — refresh
        buf = sftpBuf.toByteArray
        // NOTE: `consumed` indexes into the OLD buf only if sendData
        // didn't reset it; re-slice defensively
        if (consumed > buf.length) consumed = buf.length
      }
      val rest = java.util.Arrays.copyOfRange(buf, consumed, buf.length)
      sftpBuf.reset(); sftpBuf.write(rest, 0, rest.length)
    }

    def dispatch(p: Array[Byte]): Unit = (p(0) & 0xFF) match {
      case SshMsg.ChannelOpen =>
        val r = new SshReader(p, 1)
        val kind = r.text()
        val sender = r.u32(); val win = r.u32(); val maxPkt = r.u32()
        if (kind == "session" && peerChan < 0) {
          peerChan = sender; peerWindow = win; peerMaxPacket = maxPkt
          t.writePacket(new SshWriter().u8(SshMsg.ChannelOpenConfirmation)
            .u32(sender).u32(0L).u32(1L << 30).u32(65536L).bytes)
        } else
          t.writePacket(new SshWriter().u8(SshMsg.ChannelOpenFailure)
            .u32(sender).u32(1L).text("only one session").text("").bytes)
      case SshMsg.ChannelRequest =>
        val r = new SshReader(p, 1)
        r.u32() // our channel id (0)
        val req = r.text(); val wantReply = r.bool()
        val ok = req == "subsystem" && r.text() == "sftp"
        if (wantReply)
          t.writePacket(new SshWriter()
            .u8(if (ok) SshMsg.ChannelSuccess else SshMsg.ChannelFailure)
            .u32(peerChan).bytes)
      case SshMsg.ChannelWindowAdjust =>
        val r = new SshReader(p, 1); r.u32()
        peerWindow += r.u32()
      case SshMsg.ChannelData =>
        val r = new SshReader(p, 1); r.u32()
        val data = r.string()
        granted += data.length
        if (granted > (1L << 29)) {
          t.writePacket(new SshWriter().u8(SshMsg.ChannelWindowAdjust)
            .u32(peerChan).u32(granted).bytes)
          granted = 0
        }
        sftpBuf.write(data, 0, data.length)
        if (!inWindowWait) drainSftp()
      case SshMsg.ChannelEof =>
        // the peer closed the subsystem's stdin — emulate sftp-server
        // exiting: exit-status 0, our EOF, our CLOSE (the OpenSSH
        // client WAITS for the server-side close before exiting)
        t.writePacket(new SshWriter().u8(SshMsg.ChannelRequest)
          .u32(peerChan).text("exit-status").bool(false).u32(0L).bytes)
        t.writePacket(new SshWriter().u8(SshMsg.ChannelEof)
          .u32(peerChan).bytes)
        sendClose()
      case SshMsg.ChannelClose =>
        sendClose()
        open = false
      case SshMsg.GlobalRequest =>
        val r = new SshReader(p, 1); r.text()
        if (r.bool())
          t.writePacket(Array(SshMsg.RequestFailure.toByte))
      case _ => ()
    }

    while (open) dispatch(t.readMessage())
    sftp.closeAll()
  }

  /** SFTPv3 request handler over the jailed root — one response per
    * request, ids echoed verbatim.
    */
  private final class SftpServerHandler(root: Path) {
    private val absRoot = root.toAbsolutePath.normalize
    private var nextHandle = 0L
    private final class OpenFile(val raf: RandomAccessFile,
      val append: Boolean)
    private val files = mutable.Map[String, OpenFile]()
    // an open directory handle: its listing, 64 names per READDIR
    private val dirs = mutable.Map[String, Iterator[Seq[Path]]]()

    def closeAll(): Unit = {
      files.values.foreach(f => try f.raf.close() catch { case _: Throwable => () })
      files.clear(); dirs.clear()
    }

    private def resolve(p: String): Path = {
      val rel = p.dropWhile(_ == '/')
      val abs = (if (rel.isEmpty) absRoot else absRoot.resolve(rel))
        .normalize
      if (!abs.startsWith(absRoot))
        throw new SecurityException(s"path escapes root: $p")
      abs
    }

    private def virtual(abs: Path): String =
      if (abs == absRoot) "/"
      else "/" + absRoot.relativize(abs).toString.replace('\\', '/')

    private def attrsOf(abs: Path): Attrs = {
      val dir = Files.isDirectory(abs)
      Attrs(
        size = Some(if (dir) 0L else Files.size(abs)),
        perms = Some(if (dir) 0x4000L | 0x1EDL else 0x8000L | 0x1A4L),
        mtimeSec = Some(Files.getLastModifiedTime(abs).toMillis / 1000L))
    }

    private def longname(abs: Path, name: String): String = {
      val dir = Files.isDirectory(abs)
      val size = if (dir) 0L else Files.size(abs)
      f"${if (dir) "d" else "-"}rw-r--r--    1 graft    graft $size%10d Jan  1 00:00 $name"
    }

    private def status(id: Long, code: Long, msg: String): Array[Byte] =
      new SshWriter().u8(Status).u32(id).u32(code).text(msg).text("").bytes
    private def ok(id: Long): Array[Byte] = status(id, StOk, "ok")

    def handle(pkt: Array[Byte]): Array[Byte] = {
      val tpe = pkt(0) & 0xFF
      if (tpe == Init)
        return new SshWriter().u8(VersionMsg).u32(SftpProto.Version).bytes
      val r = new SshReader(pkt, 1)
      val id = r.u32()
      try {
        tpe match {
          case Realpath =>
            val abs = resolve(r.text())
            val w = new SshWriter().u8(Name).u32(id).u32(1L)
              .text(virtual(abs)).text(virtual(abs))
            writeAttrs(w,
              if (Files.exists(abs)) attrsOf(abs) else Attrs()).bytes
          case Stat | Lstat =>
            val abs = resolve(r.text())
            if (!Files.exists(abs)) status(id, StNoSuchFile, "no such file")
            else writeAttrs(new SshWriter().u8(AttrsMsg).u32(id),
              attrsOf(abs)).bytes
          case Fstat =>
            val h = r.text()
            files.get(h) match {
              case Some(f) => writeAttrs(new SshWriter().u8(AttrsMsg).u32(id),
                Attrs(size = Some(f.raf.length()),
                  perms = Some(0x8000L | 0x1A4L))).bytes
              case None => status(id, StBadMessage, "bad handle")
            }
          case Open =>
            val path = r.text(); val pflags = r.u32(); readAttrs(r)
            val abs = resolve(path)
            val exists = Files.exists(abs)
            if ((pflags & PflagExcl) != 0 && exists)
              status(id, StFailure, "exists")
            else if ((pflags & PflagCreat) == 0 && !exists)
              status(id, StNoSuchFile, "no such file")
            else if (exists && Files.isDirectory(abs))
              status(id, StFailure, "is a directory")
            else {
              val mode = if ((pflags & (PflagWrite | PflagAppend)) != 0)
                "rw" else "r"
              val raf = new RandomAccessFile(abs.toFile, mode)
              if ((pflags & PflagTrunc) != 0) raf.setLength(0)
              nextHandle += 1
              val h = s"f$nextHandle"
              files(h) = new OpenFile(raf, (pflags & PflagAppend) != 0)
              new SshWriter().u8(Handle).u32(id).text(h).bytes
            }
          case Read =>
            val h = r.text(); val off = r.u64(); val len = r.u32()
            files.get(h) match {
              case None => status(id, StBadMessage, "bad handle")
              case Some(f) =>
                if (off >= f.raf.length()) status(id, StEof, "eof")
                else {
                  f.raf.seek(off)
                  val want = math.min(len, 1L << 20).toInt
                  val buf = new Array[Byte](want)
                  val n = f.raf.read(buf, 0, want)
                  if (n <= 0) status(id, StEof, "eof")
                  else new SshWriter().u8(Data).u32(id)
                    .string(java.util.Arrays.copyOf(buf, n)).bytes
                }
            }
          case Write =>
            val h = r.text(); val off = r.u64(); val data = r.string()
            files.get(h) match {
              case None => status(id, StBadMessage, "bad handle")
              case Some(f) =>
                f.raf.seek(if (f.append) f.raf.length() else off)
                f.raf.write(data)
                ok(id)
            }
          case Close =>
            val h = r.text()
            files.remove(h).foreach(_.raf.close())
            dirs.remove(h)
            ok(id)
          case Opendir =>
            val abs = resolve(r.text())
            if (!Files.isDirectory(abs))
              status(id, StNoSuchFile, "not a directory")
            else {
              nextHandle += 1
              val h = s"d$nextHandle"
              val listing = Files.list(abs)
              val entries =
                try {
                  val it = listing.iterator()
                  val b = Vector.newBuilder[Path]
                  while (it.hasNext) b += it.next()
                  b.result()
                } finally listing.close()
              dirs(h) = entries.grouped(64)
              new SshWriter().u8(Handle).u32(id).text(h).bytes
            }
          case Readdir =>
            val h = r.text()
            dirs.get(h) match {
              case None => status(id, StBadMessage, "bad handle")
              case Some(it) if !it.hasNext => status(id, StEof, "eof")
              case Some(it) =>
                val batch = it.next()
                val w = new SshWriter().u8(Name).u32(id)
                  .u32(batch.length.toLong)
                batch.foreach { p =>
                  val n = p.getFileName.toString
                  w.text(n).text(longname(p, n))
                  writeAttrs(w, attrsOf(p))
                }
                w.bytes
            }
          case Remove =>
            val abs = resolve(r.text())
            if (!Files.exists(abs) || Files.isDirectory(abs))
              status(id, StNoSuchFile, "no such file")
            else { Files.delete(abs); ok(id) }
          case Mkdir =>
            val abs = resolve(r.text())
            if (Files.exists(abs)) status(id, StFailure, "exists")
            else { Files.createDirectories(abs); ok(id) }
          case Rmdir =>
            val abs = resolve(r.text())
            if (!Files.isDirectory(abs))
              status(id, StNoSuchFile, "not a directory")
            else { Files.delete(abs); ok(id) }
          case Rename =>
            val from = resolve(r.text()); val to = resolve(r.text())
            if (Files.exists(to)) status(id, StFailure, "target exists")
            else {
              Files.createDirectories(to.getParent)
              Files.move(from, to, StandardCopyOption.ATOMIC_MOVE)
              ok(id)
            }
          case Setstat =>
            // honor what we can (size, mtime); perms are a no-op on
            // the jailed root
            val abs = resolve(r.text())
            val a = readAttrs(r)
            a.size.foreach { s =>
              val raf = new RandomAccessFile(abs.toFile, "rw")
              try raf.setLength(s) finally raf.close()
            }
            a.mtimeSec.foreach(t => Files.setLastModifiedTime(abs,
              java.nio.file.attribute.FileTime.fromMillis(t * 1000L)))
            ok(id)
          case Fsetstat =>
            val h = r.text()
            val a = readAttrs(r)
            files.get(h).foreach(f => a.size.foreach(f.raf.setLength))
            ok(id)
          case _ => status(id, StOpUnsupported, s"unsupported op $tpe")
        }
      } catch {
        case _: SecurityException => status(id, StPermissionDenied, "denied")
        case e: Throwable =>
          status(id, StFailure, Option(e.getMessage).getOrElse("error"))
      }
    }
  }

}
