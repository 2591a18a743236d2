package graft.sources.ssh

import java.io.{BufferedInputStream, BufferedOutputStream, EOFException, IOException}
import java.math.BigInteger
import java.net.Socket
import java.security.KeyPair

import javax.crypto.{Cipher, Mac}
import javax.crypto.spec.{IvParameterSpec, SecretKeySpec}

import graft.sources.QuickAck

/** SSH2 transport layer (RFC 4253) over one socket, speaking exactly
  * [[SshCrypto]]'s suite — shared verbatim by [[SftpClient]] and the
  * embedded [[SshServer]]. Binary packet protocol with aes128-ctr +
  * hmac-sha2-256 after NEWKEYS (CTR keystream is continuous across
  * packets: ONE Cipher instance, `update()` only — `doFinal` would
  * reset the counter), curve25519-sha256 key exchange with ssh-ed25519
  * host keys, and re-keying BOTH ways: peer-initiated (RFC 4253 §9)
  * and self-initiated once `rekeyBytes` have crossed the connection
  * since the last kex (OpenSSH rekeys at 1–4 GB; long transfers must
  * survive it). Connection-layer packets that were already in flight
  * when a kex starts — the peer legally sends until it SEES our
  * KEXINIT — are DEFERRED, not errors: they re-queue ahead of the
  * post-kex stream, so a rekey is invisible to the channel layer.
  * Single-threaded request/response per connection, like
  * [[graft.sources.ftp.FtpClient]]'s one-control-connection
  * discipline.
  */
final class SshTransport(sock: Socket, val isServer: Boolean,
    localIdent: String = "SSH-2.0-graft_0.1",
    rekeyBytes: Long = 1L << 30) {

  // the client ACKs every read at once: it mostly waits on the
  // server, whose next segment Nagle holds until the last one is
  // ACKed — a delayed ACK would stall each reply train ~40 ms
  private val in = new BufferedInputStream(
    if (isServer) sock.getInputStream
    else new java.io.FilterInputStream(sock.getInputStream) {
      override def read(b: Array[Byte], off: Int, len: Int): Int = {
        val n = super.read(b, off, len); QuickAck(sock); n
      }
    }, 64 << 10)
  private val out = new BufferedOutputStream(sock.getOutputStream, 64 << 10)
  private val rnd = new java.security.SecureRandom

  private var peerIdent: String = _
  private var sendCipher: Cipher = _
  private var recvCipher: Cipher = _
  private var sendMac: Mac = _
  private var recvMac: Mac = _
  private var seqSend = 0L
  private var seqRecv = 0L

  /** The first exchange hash — user-auth signatures bind to it. */
  var sessionId: Array[Byte] = _

  // kex inputs kept for peer-initiated re-key
  private var hostKey: Option[KeyPair] = None
  private var hostBlobVerifier: Array[Byte] => Unit = _ => ()

  // re-key state: traffic since the last kex, a reentrancy guard (kex
  // itself writes packets), in-flight packets deferred across a kex,
  // and a counter the rekey specs observe
  private var bytesSinceKex = 0L
  private var inKex = false
  private val deferred = new java.util.ArrayDeque[Array[Byte]]()
  private var kexCount = 0

  /** Completed key exchanges (1 after connect; +1 per re-key). */
  def rekeyCount: Int = kexCount - 1

  def close(): Unit = try sock.close() catch { case _: IOException => () }

  // ---- version exchange ------------------------------------------

  def exchangeVersions(): Unit = {
    out.write((localIdent + "\r\n").getBytes("US-ASCII"))
    out.flush()
    var line = readIdentLine()
    var guard = 0
    while (!line.startsWith("SSH-")) { // pre-ident banner lines
      guard += 1
      if (guard > 64) throw new IOException("no SSH ident from peer")
      line = readIdentLine()
    }
    peerIdent = line
    if (!peerIdent.startsWith("SSH-2.0") && !peerIdent.startsWith("SSH-1.99"))
      throw new IOException(s"unsupported SSH version: $peerIdent")
  }

  private def readIdentLine(): String = {
    val sb = new StringBuilder
    var c = in.read()
    while (c != '\n') {
      if (c < 0) throw new EOFException("peer closed during ident")
      if (c != '\r') sb.append(c.toChar)
      if (sb.length > 255) throw new IOException("ident line too long")
      c = in.read()
    }
    sb.toString
  }

  // ---- binary packet protocol ------------------------------------

  def writePacket(payload: Array[Byte]): Unit = {
    maybeRekey()
    bytesSinceKex += payload.length
    val block = if (sendCipher == null) 8 else 16
    var padLen = block - ((4 + 1 + payload.length) % block)
    if (padLen < 4) padLen += block
    val pad = new Array[Byte](padLen)
    rnd.nextBytes(pad)
    val clear = new SshWriter()
      .u32((1 + payload.length + padLen).toLong).u8(padLen)
      .raw(payload).raw(pad).bytes
    if (sendMac != null) {
      sendMac.reset()
      sendMac.update(new SshWriter().u32(seqSend).bytes)
      sendMac.update(clear)
      out.write(sendCipher.update(clear))
      out.write(sendMac.doFinal())
    } else out.write(clear)
    out.flush()
    seqSend = (seqSend + 1) & 0xFFFFFFFFL
  }

  private def readFully(n: Int): Array[Byte] = {
    val b = new Array[Byte](n)
    var got = 0
    while (got < n) {
      val r = in.read(b, got, n - got)
      if (r < 0) throw new EOFException("peer closed mid-packet")
      got += r
    }
    b
  }

  private def readPacket(): Array[Byte] = {
    val clear: Array[Byte] =
      if (recvCipher == null) {
        val lenB = readFully(4)
        val len = new SshReader(lenB).u32()
        if (len < 1 || len > (1 << 20))
          throw new IOException(s"bad packet length $len")
        lenB ++ readFully(len.toInt)
      } else {
        val first = recvCipher.update(readFully(16))
        val len = new SshReader(first).u32()
        if (len < 1 || len > (1 << 20))
          throw new IOException(s"bad packet length $len (mac key drift?)")
        // JDK Cipher.update(empty) returns NULL — a minimal packet
        // (1-byte payload) is exactly one block, so rest is empty
        val restLen = len.toInt + 4 - 16
        val rest =
          if (restLen == 0) Array.emptyByteArray
          else recvCipher.update(readFully(restLen))
        val tag = readFully(32)
        recvMac.reset()
        recvMac.update(new SshWriter().u32(seqRecv).bytes)
        recvMac.update(first); recvMac.update(rest)
        if (!java.security.MessageDigest.isEqual(recvMac.doFinal(), tag))
          throw new IOException("ssh mac verification failed")
        first ++ rest
      }
    seqRecv = (seqRecv + 1) & 0xFFFFFFFFL
    val r = new SshReader(clear)
    val len = r.u32()
    val padLen = r.u8()
    bytesSinceKex += len
    r.bytes(len.toInt - padLen - 1)
  }

  /** Next non-transport message; IGNORE/DEBUG/UNIMPLEMENTED are
    * swallowed, DISCONNECT throws, a peer-initiated KEXINIT re-keys
    * transparently (RFC 4253 §9), and messages deferred across a kex
    * are delivered FIRST (in arrival order).
    */
  def readMessage(): Array[Byte] = {
    maybeRekey()
    while (true) {
      if (!deferred.isEmpty) return deferred.pollFirst()
      val p = readPacket()
      (p(0) & 0xFF) match {
        case SshMsg.Ignore | SshMsg.Debug | SshMsg.Unimplemented => ()
        case SshMsg.Disconnect =>
          val r = new SshReader(p, 1)
          r.u32()
          throw new IOException(s"ssh peer disconnected: ${r.text()}")
        case SshMsg.KexInit => rekey(p)
        case _ => return p
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Self-initiate a re-key once `rekeyBytes` of payload have crossed
    * since the last kex (checked at every packet boundary — a safe
    * point by construction: never mid-kex, never mid-packet). The
    * peer may legally keep sending connection-layer packets until it
    * sees our KEXINIT; [[waitPeerKexInit]] defers them for post-kex
    * delivery.
    */
  private def maybeRekey(): Unit =
    if (!inKex && sendCipher != null && bytesSinceKex > rekeyBytes)
      initiateRekey()

  /** Force a re-key now (also the rekey specs' hook). */
  def initiateRekey(): Unit = {
    if (inKex || sendCipher == null) return
    inKex = true
    try {
      val own = buildKexInit()
      writePacket(own)
      doKex(own, waitPeerKexInit())
    } finally inKex = false
  }

  /** After WE send KEXINIT: read until the peer's KEXINIT arrives,
    * deferring the connection-layer packets it sent before seeing
    * ours (channel data, window adjusts, auth/global messages —
    * anything ≥ 50).
    */
  private def waitPeerKexInit(): Array[Byte] = {
    while (true) {
      val p = readPacket()
      (p(0) & 0xFF) match {
        case SshMsg.KexInit => return p
        case SshMsg.Ignore | SshMsg.Debug | SshMsg.Unimplemented => ()
        case SshMsg.Disconnect =>
          val r = new SshReader(p, 1); r.u32()
          throw new IOException(s"ssh peer disconnected: ${r.text()}")
        case m if m >= 50 => deferred.addLast(p)
        case m => throw new IOException(s"unexpected ssh msg $m pre-kex")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  // ---- key exchange ----------------------------------------------

  private def buildKexInit(): Array[Byte] = {
    val cookie = new Array[Byte](16)
    rnd.nextBytes(cookie)
    new SshWriter().u8(SshMsg.KexInit).raw(cookie)
      .nameList(SshCrypto.KexAlgos)
      .nameList(Seq(SshCrypto.HostKeyAlgo))
      .nameList(Seq(SshCrypto.CipherAlgo))
      .nameList(Seq(SshCrypto.CipherAlgo))
      .nameList(Seq(SshCrypto.MacAlgo))
      .nameList(Seq(SshCrypto.MacAlgo))
      .nameList(Seq("none")).nameList(Seq("none"))
      .nameList(Nil).nameList(Nil)
      .bool(false).u32(0L).bytes
  }

  /** Peer lists must contain our one-of-each suite; returns
    * (firstKexGuessWrong) for the guessed-packet skip rule.
    */
  private def checkPeerKexInit(p: Array[Byte]): Boolean = {
    val r = new SshReader(p, 1)
    r.bytes(16)
    val kex = r.nameList(); val hk = r.nameList()
    val c2s = r.nameList(); val s2c = r.nameList()
    val m1 = r.nameList(); val m2 = r.nameList()
    val z1 = r.nameList(); val z2 = r.nameList()
    r.nameList(); r.nameList() // languages
    val follows = r.bool()
    def need(ok: Boolean, what: String, got: Seq[String]): Unit =
      if (!ok) throw new IOException(
        s"no common $what (peer offers: ${got.mkString(",")})")
    need(kex.exists(SshCrypto.KexAlgos.contains), "kex", kex)
    need(hk.contains(SshCrypto.HostKeyAlgo), "host key algo", hk)
    need(c2s.contains(SshCrypto.CipherAlgo) &&
      s2c.contains(SshCrypto.CipherAlgo), "cipher", c2s)
    need(m1.contains(SshCrypto.MacAlgo) && m2.contains(SshCrypto.MacAlgo),
      "mac", m1)
    need(z1.contains("none") && z2.contains("none"), "compression", z1)
    // a guess is only right if the peer's FIRST kex algo is the one
    // negotiated — ours are curve25519 variants
    follows && !SshCrypto.KexAlgos.contains(kex.headOption.getOrElse(""))
  }

  /** Initial key exchange. Server passes its host key; client passes
    * a host-blob verifier (trust policy).
    */
  def runKex(serverHostKey: Option[KeyPair] = None,
      verifier: Array[Byte] => Unit = _ => ()): Unit = {
    hostKey = serverHostKey
    hostBlobVerifier = verifier
    val own = buildKexInit()
    writePacket(own)
    val peer = {
      var p = readPacket()
      while ((p(0) & 0xFF) == SshMsg.Ignore || (p(0) & 0xFF) == SshMsg.Debug)
        p = readPacket()
      if ((p(0) & 0xFF) != SshMsg.KexInit)
        throw new IOException(s"expected KEXINIT, got ${p(0)}")
      p
    }
    doKex(own, peer)
  }

  private def rekey(peerKexInit: Array[Byte]): Unit = {
    inKex = true
    try {
      val own = buildKexInit()
      writePacket(own)
      doKex(own, peerKexInit)
    } finally inKex = false
  }

  private def doKex(ownKexInit: Array[Byte],
      peerKexInit: Array[Byte]): Unit = {
    val wrongGuess = checkPeerKexInit(peerKexInit)
    if (wrongGuess) readPacket() // discard the peer's guessed packet
    val (vC, vS) =
      if (isServer) (peerIdent, localIdent) else (localIdent, peerIdent)
    val (iC, iS) =
      if (isServer) (peerKexInit, ownKexInit) else (ownKexInit, peerKexInit)
    var k: BigInteger = null
    var h: Array[Byte] = null
    if (isServer) {
      val p = readMessageRaw(SshMsg.KexEcdhInit)
      val qC = new SshReader(p, 1).string()
      val eph = SshCrypto.x25519KeyPair()
      val qS = SshCrypto.x25519PublicRaw(eph)
      k = SshCrypto.x25519Shared(eph, qC)
      val kS = SshCrypto.ed25519Blob(hostKey.get.getPublic)
      h = exchangeHash(vC, vS, iC, iS, kS, qC, qS, k)
      if (sessionId == null) sessionId = h
      val sig = SshCrypto.ed25519Sign(hostKey.get.getPrivate, h)
      writePacket(new SshWriter().u8(SshMsg.KexEcdhReply)
        .string(kS).string(qS).string(sig).bytes)
    } else {
      val eph = SshCrypto.x25519KeyPair()
      val qC = SshCrypto.x25519PublicRaw(eph)
      writePacket(new SshWriter().u8(SshMsg.KexEcdhInit).string(qC).bytes)
      val p = readMessageRaw(SshMsg.KexEcdhReply)
      val r = new SshReader(p, 1)
      val kS = r.string(); val qS = r.string(); val sig = r.string()
      k = SshCrypto.x25519Shared(eph, qS)
      h = exchangeHash(vC, vS, iC, iS, kS, qC, qS, k)
      if (sessionId == null) sessionId = h
      if (!SshCrypto.ed25519Verify(SshCrypto.ed25519FromBlob(kS), h, sig))
        throw new IOException("host key signature verification FAILED")
      hostBlobVerifier(kS)
    }
    writePacket(Array(SshMsg.NewKeys.toByte))
    readMessageRaw(SshMsg.NewKeys)
    switchKeys(k, h)
    bytesSinceKex = 0L
    kexCount += 1
  }

  /** Read one packet expecting `msg`, tolerating transport noise;
    * mid-kex, connection-layer packets still in flight from before
    * the kex are deferred rather than fatal.
    */
  private def readMessageRaw(msg: Int): Array[Byte] = {
    while (true) {
      val p = readPacket()
      (p(0) & 0xFF) match {
        case m if m == msg => return p
        case SshMsg.Ignore | SshMsg.Debug => ()
        case SshMsg.Disconnect =>
          val r = new SshReader(p, 1); r.u32()
          throw new IOException(s"ssh peer disconnected: ${r.text()}")
        case m if inKex && m >= 50 => deferred.addLast(p)
        case m =>
          throw new IOException(s"expected ssh msg $msg, got $m")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def exchangeHash(vC: String, vS: String, iC: Array[Byte],
      iS: Array[Byte], kS: Array[Byte], qC: Array[Byte], qS: Array[Byte],
      k: BigInteger): Array[Byte] =
    SshCrypto.sha256(new SshWriter()
      .text(vC).text(vS).string(iC).string(iS).string(kS)
      .string(qC).string(qS).mpint(k).bytes)

  private def switchKeys(k: BigInteger, h: Array[Byte]): Unit = {
    // RFC 4253 §7.2 letters are direction-fixed (A/C/E client→server);
    // which direction we SEND on depends on the role
    val (ivS, ivR, keyS, keyR, macS, macR) =
      if (isServer) ('B', 'A', 'D', 'C', 'F', 'E')
      else ('A', 'B', 'C', 'D', 'E', 'F')
    def ctr(mode: Int, letterKey: Char, letterIv: Char): Cipher = {
      val c = Cipher.getInstance("AES/CTR/NoPadding")
      c.init(mode,
        new SecretKeySpec(SshCrypto.kdf(letterKey, 16, k, h, sessionId), "AES"),
        new IvParameterSpec(SshCrypto.kdf(letterIv, 16, k, h, sessionId)))
      c
    }
    def hmac(letter: Char): Mac = {
      val m = Mac.getInstance("HmacSHA256")
      m.init(new SecretKeySpec(SshCrypto.kdf(letter, 32, k, h, sessionId),
        "HmacSHA256"))
      m
    }
    sendCipher = ctr(Cipher.ENCRYPT_MODE, keyS, ivS)
    recvCipher = ctr(Cipher.DECRYPT_MODE, keyR, ivR)
    sendMac = hmac(macS)
    recvMac = hmac(macR)
  }
}
