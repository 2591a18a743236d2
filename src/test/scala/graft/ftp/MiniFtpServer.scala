package graft.ftp

import java.io.{BufferedReader, InputStreamReader, OutputStream}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicBoolean

import scala.util.control.NonFatal

/** In-process FTP server for specs: serves one local directory over
  * RFC 959 + MLSD, passive mode only, loopback only. Protocol support
  * mirrors exactly what [[graft.sources.ftp.FtpClient]] speaks.
  *
  * FTPS test mode: pass a server-side `tlsContext` and the server
  * advertises and accepts `AUTH TLS` (RFC 4217), upgrading the
  * control connection in place; `PBSZ 0` / `PROT P` then TLS-wrap
  * every data connection. Cleartext sessions on the same server stay
  * untouched unless `requireTls` forces 530s before AUTH.
  */
class MiniFtpServer(root: Path, requiredPassword: Option[String] = None,
    tlsContext: Option[javax.net.ssl.SSLContext] = None,
    requireTls: Boolean = false) {
  private val server = new ServerSocket(0, 16, InetAddress.getLoopbackAddress)
  private val running = new AtomicBoolean(true)
  val port: Int = server.getLocalPort

  /** REST commands served — lets specs assert a client actually used
    * the restart path instead of skip-reading.
    */
  val restCount = new java.util.concurrent.atomic.AtomicLong(0)

  /** MLSD listings served — lets specs assert a per-file stat stayed
    * on the control channel instead of listing the parent.
    */
  val mlsdCount = new java.util.concurrent.atomic.AtomicLong(0)

  /** Logins accepted — lets specs count the control connections a
    * client opened.
    */
  val loginCount = new java.util.concurrent.atomic.AtomicLong(0)

  /** AUTH TLS upgrades served — lets specs assert the control
    * connection really was upgraded, not silently cleartext.
    */
  val authTlsCount = new java.util.concurrent.atomic.AtomicLong(0)

  /** PROT P data connections served (data-channel TLS wraps). */
  val protDataCount = new java.util.concurrent.atomic.AtomicLong(0)

  private val commands =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()

  /** Commands served with this verb (`CWD`, `RETR`, ...), across all
    * connections — lets specs count a client's round trips.
    */
  def commandCount(verb: String): Long =
    Option(commands.get(verb)).fold(0L)(_.get)

  /** Commands served, every verb. */
  def commandCount: Long = commands.values().stream().mapToLong(_.get).sum

  private val faultIn = new java.util.concurrent.atomic.AtomicLong(-1)

  /** Fault mode: the command after the next `n` (server-wide) is
    * answered `421` and its control connection closed, once — a server
    * going away under a pooled client.
    */
  def fail421After(n: Long): Unit = faultIn.set(n)

  private val dropIn = new java.util.concurrent.atomic.AtomicLong(-1)

  /** Fault mode: the next RETR sends its first `n` bytes, then closes
    * its data connection and answers `426`, once — a data connection
    * dropped mid-transfer.
    */
  def dropDataAfter(n: Long): Unit = dropIn.set(n)

  private val live = java.util.concurrent.ConcurrentHashMap.newKeySet[Socket]()

  /** Control connections open now — lets specs count the connections
    * clients hold, idle ones included.
    */
  def liveConnections: Int = live.size

  private val acceptor = new Thread(() => {
    while (running.get()) {
      try {
        val s = server.accept()
        val t = new Thread(() => handle(s))
        t.setDaemon(true)
        t.start()
      } catch { case NonFatal(_) => () }
    }
  })
  acceptor.setDaemon(true)
  acceptor.start()

  /** Closes every live control connection, as a server restart would. */
  def dropConnections(): Unit =
    live.removeIf { s => try s.close() catch { case NonFatal(_) => () }; true }

  /** Stops accepting and closes every live control connection. */
  def stop(): Unit = { running.set(false); server.close(); dropConnections() }

  private def handle(sock0: Socket): Unit = {
    live.add(sock0)
    try serve(sock0) finally live.remove(sock0)
  }

  private def serve(sock0: Socket): Unit = {
    var sock: Socket = sock0
    var in = new BufferedReader(new InputStreamReader(
      sock.getInputStream, StandardCharsets.UTF_8))
    var out: OutputStream = sock.getOutputStream
    def reply(s: String): Unit = {
      out.write((s + "\r\n").getBytes(StandardCharsets.UTF_8)); out.flush()
    }
    var cwd = "/"
    var dataServer: ServerSocket = null
    var renameFrom: Option[Path] = None
    var restOffset = 0L // set by REST, consumed by the next RETR/STOR
    var tlsActive = false
    var protP = false

    def resolve(p: String): Path = {
      val virtual =
        if (p.startsWith("/")) p
        else if (cwd == "/") s"/$p"
        else s"$cwd/$p"
      val norm = Paths.get(virtual).normalize().toString
      root.resolve(norm.stripPrefix("/")).normalize()
    }

    // accept the data connection; under PROT P wrap it server-side —
    // RFC 4217 data handshakes start when the transfer does, which is
    // exactly when the client calls its secureData
    def openData(): Socket = {
      val d = dataServer.accept()
      if (tlsActive && protP) {
        protDataCount.incrementAndGet()
        val ssl = tlsContext.get.getSocketFactory
          .createSocket(d, null, d.getPort, true)
          .asInstanceOf[javax.net.ssl.SSLSocket]
        ssl.setUseClientMode(false)
        // handshake NOW: an empty listing would otherwise close the
        // socket without ever handshaking (no byte written), and the
        // client's startHandshake would see a bare EOF
        ssl.startHandshake()
        ssl
      } else d
    }

    def mdtm(p: Path): String = {
      val f = new java.text.SimpleDateFormat("yyyyMMddHHmmss")
      f.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
      f.format(new java.util.Date(Files.getLastModifiedTime(p).toMillis))
    }

    reply("220 graft MiniFtpServer ready")
    try {
      var line = in.readLine()
      while (line != null) {
        val sp = line.indexOf(' ')
        val (c, arg) =
          if (sp < 0) (line.toUpperCase, "")
          else (line.take(sp).toUpperCase, line.drop(sp + 1))
        commands.computeIfAbsent(c, _ => new java.util.concurrent.atomic.AtomicLong).incrementAndGet()
        if (faultIn.getAndDecrement() == 0) {
          reply("421 service closing control connection")
          return
        }
        c match {
          case "AUTH" if tlsContext.isDefined &&
              arg.equalsIgnoreCase("TLS") && !tlsActive =>
            reply("234 AUTH TLS ok, proceed with handshake")
            // server side of the in-place upgrade: wrap the accepted
            // socket, wait for the client's ClientHello
            val ssl = tlsContext.get.getSocketFactory
              .createSocket(sock, null, sock.getPort, true)
              .asInstanceOf[javax.net.ssl.SSLSocket]
            ssl.setUseClientMode(false)
            ssl.startHandshake()
            sock = ssl
            in = new BufferedReader(new InputStreamReader(
              ssl.getInputStream, StandardCharsets.UTF_8))
            out = ssl.getOutputStream
            tlsActive = true
            authTlsCount.incrementAndGet()
          case "AUTH" => reply("502 AUTH not supported")
          case "PBSZ" if tlsActive =>
            if (arg == "0") reply("200 PBSZ 0")
            else reply("501 only PBSZ 0 under TLS")
          case "PROT" if tlsActive =>
            arg.toUpperCase match {
              case "P" => protP = true; reply("200 PROT P accepted")
              case "C" => protP = false; reply("200 PROT C accepted")
              case _ => reply("536 only P or C")
            }
          case _ if requireTls && !tlsActive =>
            // a policy-enforcing server refuses everything before TLS
            reply("530 TLS required: issue AUTH TLS first")
          case "USER" => reply("331 password required")
          case "PASS" =>
            if (requiredPassword.forall(_ == arg)) {
              loginCount.incrementAndGet()
              reply("230 logged in")
            }
            else reply("530 Login incorrect")
          case "SYST" => reply("215 UNIX Type: L8")
          case "FEAT" =>
            reply("211-Features:"); reply(" MLSD"); reply(" MDTM"); reply(" REST STREAM")
            if (tlsContext.isDefined) {
              reply(" AUTH TLS"); reply(" PBSZ"); reply(" PROT")
            }
            reply("211 End")
          case "TYPE" => reply("200 ok")
          case "NOOP" => reply("200 ok")
          case "PWD" => reply(s"""257 "$cwd" is cwd""")
          case "CWD" =>
            val t = resolve(arg)
            if (Files.isDirectory(t)) {
              cwd = "/" + root.relativize(t).toString.replace('\\', '/')
              if (cwd == "/.") cwd = "/"
              cwd = if (cwd == "/") "/" else cwd.stripSuffix("/")
              reply("250 ok")
            } else reply("550 not a directory")
          case "CDUP" =>
            cwd = Option(Paths.get(cwd).getParent).map(_.toString).getOrElse("/")
            reply("250 ok")
          case "PASV" =>
            if (dataServer != null) dataServer.close()
            dataServer = new ServerSocket(0, 1, InetAddress.getLoopbackAddress)
            val p = dataServer.getLocalPort
            reply(s"227 Entering Passive Mode (127,0,0,1,${p / 256},${p % 256})")
          case "REST" =>
            arg.toLongOption match {
              case Some(off) if off >= 0 =>
                restOffset = off
                restCount.incrementAndGet()
                reply(s"350 restarting at $off")
              case _ => reply("501 bad restart offset")
            }
          case "RETR" =>
            val t = resolve(arg)
            val off = restOffset; restOffset = 0L
            if (!Files.isRegularFile(t)) reply("550 no such file")
            else {
              reply("150 opening data connection")
              val d = openData()
              // a client that aborts mid-download (REST-reopen seeks do
              // this) breaks the data pipe — a real server replies 426
              // and keeps the control session; dying here would kill
              // every later command on this connection
              val completed =
                try {
                  val in = Files.newInputStream(t)
                  try {
                    var toSkip = off
                    while (toSkip > 0) {
                      val n = in.skip(toSkip)
                      if (n <= 0) toSkip = 0 else toSkip -= n
                    }
                    val cut = dropIn.getAndSet(-1)
                    if (cut < 0) in.transferTo(d.getOutputStream)
                    else d.getOutputStream.write(in.readNBytes(cut.toInt))
                    d.getOutputStream.flush()
                    cut < 0
                  } finally in.close()
                } catch { case NonFatal(_) => false }
                finally { try d.close() catch { case NonFatal(_) => () } }
              if (completed) reply("226 transfer complete")
              else reply("426 transfer aborted")
            }
          case "STOR" =>
            val t = resolve(arg)
            val off = restOffset; restOffset = 0L
            reply("150 ok to send data")
            val d = openData()
            try {
              Files.createDirectories(t.getParent)
              if (off == 0)
                Files.copy(d.getInputStream, t, StandardCopyOption.REPLACE_EXISTING)
              else {
                val raf = new java.io.RandomAccessFile(t.toFile, "rw")
                try {
                  raf.seek(off)
                  val buf = new Array[Byte](65536)
                  val in = d.getInputStream
                  var n = in.read(buf)
                  while (n >= 0) { raf.write(buf, 0, n); n = in.read(buf) }
                  raf.setLength(raf.getFilePointer) // truncate stale tail
                } finally raf.close()
              }
            } finally { try d.close() catch { case NonFatal(_) => () } }
            reply("226 transfer complete")
          case "NLST" =>
            val t = resolve(arg)
            if (!Files.isDirectory(t)) reply("550 not a directory")
            else {
              reply("150 here comes the listing")
              val d = openData()
              val w: OutputStream = d.getOutputStream
              Files.list(t).forEach { p =>
                val prefix = if (arg.isEmpty) "" else arg.stripSuffix("/") + "/"
                w.write((prefix + p.getFileName + "\r\n")
                  .getBytes(StandardCharsets.UTF_8))
              }
              w.flush(); d.close()
              reply("226 done")
            }
          case "MLSD" =>
            mlsdCount.incrementAndGet()
            val t = resolve(arg)
            if (!Files.isDirectory(t)) reply("550 not a directory")
            else {
              reply("150 listing")
              val d = openData()
              val w = d.getOutputStream
              Files.list(t).forEach { p =>
                val typ = if (Files.isDirectory(p)) "dir" else "file"
                val size = if (Files.isRegularFile(p)) Files.size(p) else 0L
                w.write((s"type=$typ;size=$size;modify=${mdtm(p)}; ${p.getFileName}\r\n")
                  .getBytes(StandardCharsets.UTF_8))
              }
              w.flush(); d.close()
              reply("226 done")
            }
          case "SIZE" =>
            val t = resolve(arg)
            if (Files.isRegularFile(t)) reply(s"213 ${Files.size(t)}")
            else reply("550 not a file")
          case "MDTM" =>
            val t = resolve(arg)
            if (Files.exists(t)) reply(s"213 ${mdtm(t)}")
            else reply("550 no such file")
          case "DELE" =>
            val t = resolve(arg)
            if (Files.isRegularFile(t) && Files.deleteIfExists(t)) reply("250 deleted")
            else reply("550 delete failed")
          case "RMD" =>
            val t = resolve(arg)
            if (Files.isDirectory(t) && Files.deleteIfExists(t)) reply("250 removed")
            else reply("550 rmd failed")
          case "MKD" =>
            val t = resolve(arg)
            try { Files.createDirectories(t); reply(s"""257 "$arg" created""") }
            catch { case NonFatal(_) => reply("550 mkd failed") }
          case "RNFR" =>
            val t = resolve(arg)
            if (Files.exists(t)) { renameFrom = Some(t); reply("350 ready") }
            else reply("550 no such file")
          case "RNTO" =>
            renameFrom match {
              case Some(src) =>
                val t = resolve(arg)
                try {
                  Files.createDirectories(t.getParent)
                  Files.move(src, t, StandardCopyOption.REPLACE_EXISTING)
                  reply("250 renamed")
                } catch { case NonFatal(_) => reply("550 rename failed") }
                renameFrom = None
              case None => reply("503 RNFR first")
            }
          case "QUIT" => reply("221 bye"); sock.close(); return
          case _ => reply(s"502 $c not implemented")
        }
        line = in.readLine()
      }
    } catch { case NonFatal(_) => () }
    finally {
      if (dataServer != null) dataServer.close()
      try sock.close() catch { case NonFatal(_) => () }
    }
  }
}

/** Self-signed TLS material for FTPS specs: one keytool-generated
  * localhost keypair per JVM, exposed as a server SSLContext (key
  * material) and a client SSLContext (trusts exactly that cert —
  * full-verification path, no trust-all shortcuts in the happy-path
  * specs) plus the truststore file for `fs.gftps.truststore` tests.
  */
object TlsTestMaterial {
  lazy val (serverContext, clientContext, truststorePath, storePass):
      (javax.net.ssl.SSLContext, javax.net.ssl.SSLContext, String, String) = {
    val dir = Files.createTempDirectory("graft_tls")
    val ks = dir.resolve("server.p12").toString
    val ts = dir.resolve("trust.p12").toString
    val cert = dir.resolve("server.crt").toString
    val pass = "graftpass"
    val keytool = Paths.get(System.getProperty("java.home"), "bin", "keytool")
      .toString
    def run(args: String*): Unit = {
      val p = new ProcessBuilder((keytool +: args): _*)
        .redirectErrorStream(true).start()
      val outText = new String(p.getInputStream.readAllBytes,
        StandardCharsets.UTF_8)
      require(p.waitFor() == 0, s"keytool failed: $outText")
    }
    run("-genkeypair", "-alias", "graft", "-keyalg", "RSA", "-keysize",
      "2048", "-validity", "3650", "-storetype", "PKCS12", "-keystore", ks,
      "-storepass", pass, "-dname", "CN=localhost",
      "-ext", "SAN=dns:localhost,ip:127.0.0.1")
    run("-exportcert", "-alias", "graft", "-keystore", ks,
      "-storepass", pass, "-file", cert)
    run("-importcert", "-noprompt", "-alias", "graft", "-storetype",
      "PKCS12", "-keystore", ts, "-storepass", pass, "-file", cert)
    def load(path: String): java.security.KeyStore = {
      val k = java.security.KeyStore.getInstance("PKCS12")
      val is = Files.newInputStream(Paths.get(path))
      try k.load(is, pass.toCharArray) finally is.close()
      k
    }
    val kmf = javax.net.ssl.KeyManagerFactory.getInstance(
      javax.net.ssl.KeyManagerFactory.getDefaultAlgorithm)
    kmf.init(load(ks), pass.toCharArray)
    val serverCtx = javax.net.ssl.SSLContext.getInstance("TLS")
    serverCtx.init(kmf.getKeyManagers, null, null)
    val tmf = javax.net.ssl.TrustManagerFactory.getInstance(
      javax.net.ssl.TrustManagerFactory.getDefaultAlgorithm)
    tmf.init(load(ts))
    val clientCtx = javax.net.ssl.SSLContext.getInstance("TLS")
    clientCtx.init(null, tmf.getTrustManagers, null)
    (serverCtx, clientCtx, ts, pass)
  }
}
