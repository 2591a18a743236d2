package graft.sources.ftp

import java.io.{BufferedReader, InputStream, InputStreamReader, OutputStream}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets

import graft.sources.QuickAck

/** Minimal RFC 959 FTP client over raw sockets — the transport under
  * graft's FTP connector (the reference drives Python's ftplib; graft
  * speaks the same protocol surface: USER/PASS, TYPE I, PASV, RETR,
  * STOR, NLST, MLSD, DELE, RNFR/RNTO, MKD, CWD, PWD, SIZE, MDTM — see
  * ftp-blueprints download_file.py:210, upload_file.py:196).
  *
  * Passive mode only (the reference also forces PASV,
  * download_file.py:220). One in-flight data transfer per control
  * connection, as the protocol requires.
  *
  * FTPS (`tls = true`): explicit TLS per RFC 4217 — `AUTH TLS` before
  * login upgrades the control connection in place (the client speaks
  * first in a TLS handshake, so no read-ahead race with the 234
  * reply), then `PBSZ 0` + `PROT P` protect every data connection.
  * Data sockets connect in the clear (PASV) and upgrade AFTER the
  * transfer command's 1xx preliminary reply, matching ftplib's
  * `FTP_TLS.ntransfercmd` ordering — servers only begin the data-side
  * handshake once the transfer starts. Certificate verification uses
  * `sslContext` (or the JVM default truststore) WITH hostname
  * endpoint identification; [[FtpClient.trustAllContext]] exists as
  * the documented curl `-k` analogue for self-signed intra-net
  * servers and disables endpoint identification too. The cleartext
  * path is byte-identical to round 7 — `tls = false` touches no TLS
  * code at all.
  */
object FtpClient {
  final case class FtpReply(code: Int, text: String) {
    def ok: Boolean = code < 400
  }

  final case class FtpEntry(name: String, isDir: Boolean, size: Long,
    modifyMs: Long)

  /** An SSLContext that trusts ANY server certificate — the explicit
    * opt-in for self-signed FTPS servers (curl's `-k`, lftp's
    * `ssl:verify-certificate no`). Never the default.
    */
  def trustAllContext(): javax.net.ssl.SSLContext = {
    val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
    ctx.init(null, Array[javax.net.ssl.TrustManager](
      new javax.net.ssl.X509TrustManager {
        override def checkClientTrusted(
            c: Array[java.security.cert.X509Certificate], a: String): Unit = ()
        override def checkServerTrusted(
            c: Array[java.security.cert.X509Certificate], a: String): Unit = ()
        override def getAcceptedIssuers: Array[java.security.cert.X509Certificate] =
          Array.empty
      }), new java.security.SecureRandom())
    ctx
  }
}

class FtpClient(host: String, port: Int, user: String, password: String,
    timeoutMs: Int = 30000, tls: Boolean = false,
    sslContext: Option[javax.net.ssl.SSLContext] = None,
    verifyHostname: Boolean = true) extends AutoCloseable {
  import FtpClient.{FtpEntry, FtpReply}

  // the TCP socket, beneath TLS under FTPS
  private val plainControl = new Socket()
  plainControl.connect(new InetSocketAddress(host, port), timeoutMs)
  private var control: Socket = plainControl
  control.setSoTimeout(timeoutMs)
  private var in = new BufferedReader(
    new InputStreamReader(control.getInputStream, StandardCharsets.UTF_8))
  private var out: OutputStream = control.getOutputStream

  expect(readReply(), 220)
  if (tls) startTls()
  login()
  if (tls) {
    // RFC 4217: PBSZ must precede PROT; 0 is the only value for TLS
    expect(cmd("PBSZ 0"), 200)
    expect(cmd("PROT P"), 200)
  }

  private def sslSocketFactory: javax.net.ssl.SSLSocketFactory =
    sslContext.getOrElse(javax.net.ssl.SSLContext.getDefault).getSocketFactory

  /** Upgrade an existing socket to TLS client-side. `HTTPS`-style
    * endpoint identification (hostname check against the cert) is on
    * unless the caller opted out (trust-all deployments).
    */
  private def upgrade(plain: Socket): javax.net.ssl.SSLSocket = {
    val ssl = sslSocketFactory
      .createSocket(plain, host, port, true)
      .asInstanceOf[javax.net.ssl.SSLSocket]
    ssl.setUseClientMode(true)
    ssl.setSoTimeout(timeoutMs)
    if (verifyHostname) {
      val p = ssl.getSSLParameters
      p.setEndpointIdentificationAlgorithm("HTTPS")
      ssl.setSSLParameters(p)
    }
    ssl.startHandshake()
    ssl
  }

  private def startTls(): Unit = {
    expect(cmd("AUTH TLS"), 234)
    val ssl = upgrade(control)
    control = ssl
    in = new BufferedReader(
      new InputStreamReader(ssl.getInputStream, StandardCharsets.UTF_8))
    out = ssl.getOutputStream
  }

  /** TLS-protect a data connection (no-op in cleartext mode). Called
    * AFTER the transfer command's preliminary reply — RFC 4217 data
    * handshakes begin when the transfer does.
    */
  private def secureData(plain: Socket): Socket =
    if (!tls) plain else upgrade(plain)

  private def readReply(): FtpReply = {
    val first = in.readLine()
    if (first == null) throw new java.io.IOException("FTP control closed")
    val code = first.take(3).toInt
    var text = first.drop(4)
    if (first.length > 3 && first.charAt(3) == '-') {
      // multiline: read until "NNN " terminator
      var line = in.readLine()
      while (line != null && !(line.startsWith(first.take(3))
          && line.length > 3 && line.charAt(3) == ' ')) {
        text += "\n" + line
        line = in.readLine()
      }
      if (line != null) text += "\n" + line.drop(4)
    }
    FtpReply(code, text)
  }

  private def send(cmdLine: String): Unit = {
    out.write((cmdLine + "\r\n").getBytes(StandardCharsets.UTF_8))
    out.flush()
  }

  def cmd(cmdLine: String): FtpReply = { send(cmdLine); readReply() }

  /** A transfer command (RETR/STOR/NLST/MLSD). Its `1xx` preliminary
    * reply is ACKed at once: the client sends nothing on the control
    * connection until the completion reply, so a delayed ACK would
    * hold that reply behind the server's Nagle for ~40 ms.
    */
  private def transferCmd(cmdLine: String): FtpReply = {
    val r = cmd(cmdLine)
    if (r.code / 100 == 1) QuickAck(plainControl)
    r
  }

  private def expect(r: FtpReply, codes: Int*): FtpReply = {
    if (!codes.contains(r.code))
      throw new java.io.IOException(
        s"FTP unexpected reply ${r.code} ${r.text} (wanted ${codes.mkString("/")})")
    r
  }

  private def login(): Unit = {
    // 530 = not logged in → the reference's exit-3 bad-credentials
    // condition (ftp-blueprints exit_codes.py:1)
    val u = cmd(s"USER $user")
    if (u.code == 530) throw graft.sources.FileOps.GraftFsError(
      graft.sources.FileOps.ErrorCodes.IncorrectCredentials,
      s"FTP rejected user '$user': ${u.text}")
    expect(u, 331, 230)
    if (u.code == 331) {
      val p = cmd(s"PASS $password")
      if (p.code == 530) throw graft.sources.FileOps.GraftFsError(
        graft.sources.FileOps.ErrorCodes.IncorrectCredentials,
        s"FTP rejected credentials for '$user': ${p.text}")
      expect(p, 230)
    }
    expect(cmd("TYPE I"), 200)
  }

  /** Open the PASV data connection advertised by the server. */
  private def pasv(): Socket = {
    val r = expect(cmd("PASV"), 227)
    val m = "\\((\\d+),(\\d+),(\\d+),(\\d+),(\\d+),(\\d+)\\)".r
      .findFirstMatchIn(r.text)
      .getOrElse(throw new java.io.IOException(s"bad PASV reply: ${r.text}"))
    val h = (1 to 4).map(m.group).mkString(".")
    val p = m.group(5).toInt * 256 + m.group(6).toInt
    val s = new Socket()
    // servers behind NAT often advertise an unroutable address; the
    // control-connection host is the reliable one (same as ftplib's
    // trust_server_pasv_ipv4_address=False default)
    s.connect(new InetSocketAddress(host, p), timeoutMs)
    s.setSoTimeout(timeoutMs)
    // a STOR's last small segment must not wait for the previous ACK
    s.setTcpNoDelay(true)
    s
  }

  /** Run the transfer-command/TLS-upgrade sequence for an already-open
    * PASV socket, closing that socket if any step throws — a REST or
    * RETR/STOR/NLST/MLSD rejection (or a failed data-channel TLS
    * handshake) must not leak the data socket: against a flaky server,
    * repeated command failures would otherwise exhaust file
    * descriptors (round-8 advice; previously only `mlsd` closed the
    * socket, and only on its 4xx path).
    */
  private def withDataSocket(plain: Socket)(body: => Socket): Socket =
    try body
    catch {
      case e: Throwable =>
        try plain.close() catch { case _: java.io.IOException => () }
        throw e
    }

  /** RETR as a stream; closing it drains the 226 completion reply. */
  def retrieveStream(path: String): InputStream = retrieveStream(path, 0L)

  /** RETR resumed at byte `offset` via REST (RFC 959 §4.1.3 restart;
    * the ftplib `retrbinary(rest=...)` twin): the server seeks before
    * sending, so a partial download resumes without re-reading the
    * prefix — and [[GraftFtpFileSystem]]'s seek becomes O(1) instead
    * of a skip-read of `offset` bytes (parquet footer reads over FTP
    * hit exactly this).
    */
  def retrieveStream(path: String, offset: Long): InputStream = {
    val plain = pasv()
    val data = withDataSocket(plain) {
      if (offset > 0) expect(cmd(s"REST $offset"), 350)
      expect(transferCmd(s"RETR $path"), 150, 125)
      secureData(plain)
    }
    new java.io.FilterInputStream(data.getInputStream) {
      private var sawEof = false
      override def read(): Int = {
        val b = super.read(); if (b < 0) sawEof = true; b
      }
      override def read(b: Array[Byte], off: Int, len: Int): Int = {
        val n = super.read(b, off, len); if (n < 0) sawEof = true; n
      }
      override def close(): Unit = {
        // a positioned reader (read exactly `length` bytes, or skip())
        // can fully drain the body without ever observing -1 — probe
        // one byte before declaring this close mid-transfer, so a
        // completed transfer keeps the client instead of forcing a
        // reconnect per stream. Mid-transfer the probe returns
        // promptly (data is in flight); at EOF the server's FIN is
        // already queued behind the last byte.
        if (!sawEof) {
          try { if (super.read() < 0) sawEof = true }
          catch { case _: java.io.IOException => () }
        }
        super.close(); data.close()
        if (sawEof) {
          // the byte stream reached EOF — drain the completion reply.
          // A server that already tore the session down leaves no
          // reply (the gftp stream's SIZE check catches a short
          // body); a non-2xx one (426: data connection ended early)
          // means the body is short and fails the read
          val done = try Some(readReply())
            catch { case _: java.io.IOException => None }
          done.filter(_.code / 100 != 2).foreach { r =>
            throw new java.io.IOException(s"FTP RETR $path failed: ${r.code} ${r.text}")
          }
        } else {
          // closed MID-transfer (seek reopens with REST): the control
          // state is undefined — a strict server kills the session on
          // the data-socket EPIPE. Discard the whole client, like
          // ftplib after an abort; callers reconnect.
          FtpClient.this.close()
        }
      }
    }
  }

  /** STOR as a stream; closing it completes the transfer. */
  def storeStream(path: String): OutputStream = storeStream(path, 0L)

  /** STOR resumed at byte `offset` via REST — the upload-resume twin
    * of [[retrieveStream(path:String,offset:Long)*]]: the server
    * writes into the existing file starting at `offset`.
    */
  def storeStream(path: String, offset: Long): OutputStream = {
    val plain = pasv()
    val data = withDataSocket(plain) {
      if (offset > 0) expect(cmd(s"REST $offset"), 350)
      expect(transferCmd(s"STOR $path"), 150, 125)
      secureData(plain)
    }
    new java.io.FilterOutputStream(data.getOutputStream) {
      override def close(): Unit = {
        super.close(); data.close()
        expect(readReply(), 226, 250)
      }
      override def write(b: Array[Byte], off: Int, len: Int): Unit =
        this.out.write(b, off, len)
    }
  }

  /** NLST — bare names (the reference's listing primitive,
    * download_file.py:147).
    */
  def nlst(path: String): Seq[String] = {
    val plain = pasv()
    val data = withDataSocket(plain) {
      expect(transferCmd(if (path.isEmpty) "NLST" else s"NLST $path"), 150, 125)
      secureData(plain)
    }
    val r = new BufferedReader(new InputStreamReader(
      data.getInputStream, StandardCharsets.UTF_8))
    val names = Iterator.continually(r.readLine()).takeWhile(_ != null).toList
    data.close()
    expect(readReply(), 226, 250)
    names
  }

  /** MLSD — machine-readable listing (RFC 3659). Missing/invalid
    * directories surface as FileNotFoundException so FileSystem
    * `exists()` probes behave.
    */
  def mlsd(path: String): Seq[FtpEntry] = {
    val plain = pasv()
    val data = withDataSocket(plain) {
      val rep = transferCmd(if (path.isEmpty) "MLSD" else s"MLSD $path")
      if (rep.code >= 400)
        throw new java.io.FileNotFoundException(
          s"$path: ${rep.code} ${rep.text}")
      expect(rep, 150, 125)
      secureData(plain)
    }
    val r = new BufferedReader(new InputStreamReader(
      data.getInputStream, StandardCharsets.UTF_8))
    val lines = Iterator.continually(r.readLine()).takeWhile(_ != null).toList
    data.close()
    expect(readReply(), 226, 250)
    lines.flatMap(parseMlsdLine)
  }

  private def parseMlsdLine(line: String): Option[FtpEntry] = {
    val idx = line.indexOf(' ')
    if (idx < 0) return None
    val (facts, name) = (line.take(idx), line.drop(idx + 1))
    val kv = facts.split(";").filter(_.contains("="))
      .map { f => val Array(k, v) = f.split("=", 2); k.toLowerCase -> v }
      .toMap
    val typ = kv.getOrElse("type", "file")
    if (typ == "cdir" || typ == "pdir") None
    else Some(FtpEntry(name, typ == "dir",
      kv.get("size").map(_.toLong).getOrElse(0L),
      kv.get("modify").map(parseMdtm).getOrElse(0L)))
  }

  private def parseMdtm(s: String): Long = {
    val f = new java.text.SimpleDateFormat("yyyyMMddHHmmss")
    f.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    try f.parse(s.take(14)).getTime catch { case _: Exception => 0L }
  }

  /** SIZE probe — also the reference's is-file test (move_file.py:52). */
  def size(path: String): Option[Long] = {
    val r = cmd(s"SIZE $path")
    if (r.code == 213) Some(r.text.trim.toLong) else None
  }

  /** MDTM (RFC 3659) — modification time in epoch ms; None when the
    * server does not answer it.
    */
  def mdtm(path: String): Option[Long] = {
    val r = cmd(s"MDTM $path")
    if (r.code == 213) Some(parseMdtm(r.text.trim)) else None
  }

  def delete(path: String): Boolean = cmd(s"DELE $path").ok

  def rename(from: String, to: String): Boolean = {
    val r = cmd(s"RNFR $from")
    r.code == 350 && cmd(s"RNTO $to").ok
  }

  def mkd(path: String): Boolean = cmd(s"MKD $path").ok

  def rmd(path: String): Boolean = cmd(s"RMD $path").ok

  def cwd(path: String): Boolean = cmd(s"CWD $path").ok

  def pwd(): String = {
    val r = expect(cmd("PWD"), 257)
    "\"(.*)\"".r.findFirstMatchIn(r.text).map(_.group(1)).getOrElse("/")
  }

  /** Walk CWD through each segment, creating missing dirs — the
    * reference's create_new_folders (upload_file.py:159).
    */
  def makeDirs(path: String): Unit = {
    val orig = pwd()
    path.split("/").filter(_.nonEmpty).foldLeft("") { (acc, seg) =>
      val cur = if (path.startsWith("/") || acc.nonEmpty) s"$acc/$seg" else seg
      if (!cwd(cur)) { mkd(cur); cwd(cur) }
      cur
    }
    cwd(orig)
  }

  override def close(): Unit = {
    try cmd("QUIT") catch { case _: Exception => () }
    control.close()
  }
}
