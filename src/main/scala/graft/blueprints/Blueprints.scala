package graft.blueprints

import org.apache.hadoop.conf.Configuration
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.sources.{FileOps, PathUtils, SerializableConfiguration}
import graft.sources.FileOps.{ErrorCodes, GraftFsError, Transfer}

/** The reference blueprints' unit of use is a CLI job — these four
  * mains mirror them flag for flag (upload_file.py:11-48 argparse),
  * exit with the reference's code taxonomy (exit_codes.py:1-4), and
  * run the transfer itself through [[FileOps]]' per-file bodies:
  *
  * {{{
  * graft.blueprints.Upload \
  *   --source-file-name-match-type regex_match \
  *   --source-file-name '\.csv$' --source-folder-name /data \
  *   --destination-folder-name in --host ftp.example --port 21 \
  *   --username u --password p
  * }}}
  *
  * Credentials come from `--username`/`--password` or, when the flags
  * are omitted, the `FTP_USERNAME`/`FTP_PASSWORD` environment
  * variables. Match semantics follow the reference exactly: upload /
  * move / delete regex-match the FULL path (upload_file.py:147
  * find_all_file_matches), download matches the BASENAME
  * (download_file.py:174 find_matching_files); upload and download
  * enumerate an explicit destination name `name_N.ext` on every
  * regex match (upload_file.py:242-253), move only when more than
  * one file matched (move_file.py:168-173).
  *
  * A regex step makes one dispatch decision ([[Blueprints.regexStep]]).
  * A tree of at most [[FileOps.LocalMaxEntries]] entries whose matched
  * bytes, for a copy, are at most [[FileOps.LocalMaxBytes]] runs on the
  * driver like the reference: the walk lists it over one FS handle,
  * [[FileOps.planLocal]] plans it, and the verb's per-file body acts on
  * it in one call with the session's Hadoop conf. It starts no Spark
  * job. Above the bounds the step is RDD-only (no query plan),
  * distributed end to end, and costs a fixed number of Spark jobs
  * whatever the match count: one per directory level the walk hands to
  * the executors ([[FileOps.walk]]), at most two for the plan
  * ([[FileOps.planMatched]]: a sample and a count, which also decides
  * exit 200), and one act job that copies, renames or deletes over
  * every core; no matched path collects to the driver. Its tasks read
  * the Hadoop conf from one broadcast, freed with the walk's levels when
  * the step ends, whatever its exit.
  *
  * An exact-match step runs on the driver, like the reference's single
  * FTP call (move_file.py:96, delete_file.py:76): a regular-file
  * pre-check ([[FileOps.isFile]], exit 200 when it fails; Move's
  * rename failure is its 202), then the same per-file body, called once
  * with the session's Hadoop conf. It starts no Spark job, and the
  * pre-check and the transfer resolve every path in the same process.
  */
object Blueprints {

  final case class Args(
      matchType: String,
      sourceFileName: String,
      sourceFolderName: String,
      destinationFolderName: String,
      destinationFolderRaw: String,
      destinationFileName: Option[String],
      host: String,
      port: Int,
      username: String,
      password: String,
      retries: Int,
      backoffMs: Long,
      resume: Boolean,
      protocol: String = "ftp",
      tlsInsecure: Boolean = false,
      truststore: Option[String] = None,
      truststorePassword: Option[String] = None)

  /** argparse twin: `--flag value` pairs only, reference flag names.
    * Delete uses `--file-name-match-type` (delete_file.py:29); the
    * other three use `--source-file-name-match-type`.
    */
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k -> v
    }.toMap
    def req(k: String): String = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing required flag $k"))
    val matchType = m.getOrElse("--source-file-name-match-type",
      m.getOrElse("--file-name-match-type",
        throw new IllegalArgumentException(
          "missing required flag --source-file-name-match-type")))
    require(matchType == "exact_match" || matchType == "regex_match",
      s"match type must be exact_match|regex_match, got $matchType")
    // FTPS (RFC 4217) and SFTP (SSH2) — beyond the reference (plain
    // ftplib.FTP), because production credentialed file movement is
    // overwhelmingly one of those two
    val protocol = m.getOrElse("--protocol", "ftp").toLowerCase
    require(protocol == "ftp" || protocol == "ftps" || protocol == "sftp",
      s"--protocol must be ftp|ftps|sftp, got $protocol")
    Args(
      matchType = matchType,
      sourceFileName = req("--source-file-name"),
      sourceFolderName = m.getOrElse("--source-folder-name", ""),
      destinationFolderName =
        PathUtils.cleanFolderName(m.getOrElse("--destination-folder-name", "")),
      destinationFolderRaw = m.getOrElse("--destination-folder-name", ""),
      destinationFileName = m.get("--destination-file-name"),
      host = req("--host"),
      // each protocol's well-known port
      port = m.get("--port").fold(if (protocol == "sftp") 22 else 21)(_.toInt),
      username = m.get("--username")
        .orElse(sys.env.get("FTP_USERNAME")).getOrElse("anonymous"),
      password = m.get("--password")
        .orElse(sys.env.get("FTP_PASSWORD")).getOrElse(""),
      // production-job resilience flags (beyond the reference, which
      // dies on the first transient error): per-file retry count and
      // initial backoff; see FileOps.withRetries for the policy
      retries = m.getOrElse("--retries", "0").toInt,
      backoffMs = m.getOrElse("--backoff-ms", "1000").toLong,
      resume = m.get("--resume").exists(_.toBoolean),
      protocol = protocol,
      tlsInsecure = m.get("--tls-insecure").exists(_.toBoolean),
      truststore = m.get("--truststore"),
      truststorePassword = m.get("--truststore-password"))
  }

  /** Configure the session's gftp connector for this job's server;
    * credentials ride in the Hadoop conf (no URI-encoding pitfalls).
    */
  def ftpUri(spark: SparkSession, a: Args): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val (scheme, impl) = a.protocol match {
      case "ftps" => ("gftps", "graft.sources.ftp.GraftFtpsFileSystem")
      case "sftp" => ("gsftp", "graft.sources.ssh.GraftSftpFileSystem")
      case _ => ("gftp", "graft.sources.ftp.GraftFtpFileSystem")
    }
    conf.set(s"fs.$scheme.impl", impl)
    conf.set(s"fs.$scheme.impl.disable.cache", "true")
    conf.set(s"fs.$scheme.user", a.username)
    conf.set(s"fs.$scheme.password", a.password)
    if (scheme == "gftps") {
      if (a.tlsInsecure) conf.set("fs.gftps.insecure", "true")
      a.truststore.foreach { t =>
        conf.set("fs.gftps.truststore", t)
        conf.set("fs.gftps.truststore.password",
          a.truststorePassword.getOrElse(""))
      }
    }
    s"$scheme://${a.host}:${a.port}"
  }

  /** Shared driver shell: run the blueprint body, map the reference's
    * typed errors to their exit codes, anything else to 1.
    */
  def exitCode(body: => Unit): Int =
    try { body; 0 }
    catch {
      case e: GraftFsError =>
        System.err.println(e.getMessage); e.code
      // a typed error thrown inside a Spark job surfaces wrapped
      case e: Exception =>
        val cause = Iterator.iterate(e.getCause)(_.getCause)
          .takeWhile(_ != null).collectFirst { case g: GraftFsError => g }
        cause match {
          case Some(g) => System.err.println(g.getMessage); g.code
          case None => System.err.println(e.toString); 1
        }
    }

  /** One regex step: walk `root`, plan the paths [[FileOps.matching]]
    * keeps (`a`'s pattern, destination name and `folder`), and run
    * `act`, the verb's per-file body given a Hadoop conf, over the plan.
    * The one dispatch decision: a tree the walk listed whole on the
    * driver (at most `maxEntries` entries) whose matched bytes are at
    * most `maxBytes` is planned on the driver and acted on in one call
    * with the session's conf, and starts no Spark job; any other tree is
    * planned on the executors and acted on in one call per plan
    * partition. The conf is broadcast only when a Spark job needs it,
    * and the broadcast and the walk's levels are freed when the step
    * ends.
    */
  private[blueprints] def regexStep(spark: SparkSession, a: Args, root: String,
      basename: Boolean, folder: String, enumerateAll: Boolean, maxEntries: Long,
      maxBytes: Long)(act: Configuration => Iterator[Transfer] => Unit): Unit = {
    val keep = FileOps.matching(a.sourceFileName, basename)
    val conf = spark.sessionState.newHadoopConf()
    var shipped = Option.empty[Broadcast[SerializableConfiguration]]
    def ship() = shipped.getOrElse {
      val b = FileOps.shipConf(spark)
      shipped = Some(b)
      b
    }
    def distributed(matched: RDD[String]): Unit = FileOps.actOn(FileOps.planMatched(
      matched, a.sourceFileName, folder, a.destinationFileName, enumerateAll), ship())(act)
    try FileOps.walk(spark, root, conf, () => ship(), maxEntries) match {
      case Left(tree) =>
        val matched = tree.filter(keep)
        if (matched.map(_.size).sum <= maxBytes)
          act(conf)(FileOps.planLocal(matched.map(_.path), a.sourceFileName, folder,
            a.destinationFileName, enumerateAll).iterator)
        else distributed(spark.sparkContext.parallelize(matched.map(_.path)))
      case Right(entries) =>
        try distributed(entries.filter(keep).map(_.path))
        finally FileOps.unpersist(entries)
    } finally shipped.foreach(_.destroy())
  }

  private[blueprints] def session(): SparkSession =
    GraftSession.builder(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .getOrCreate()
}

/** One blueprint CLI: its flags parsed by [[Blueprints.parse]], its
  * step run under [[Blueprints.exitCode]].
  */
abstract class Blueprint {

  /** The step, with the regex step's bounds (see [[Blueprints.regexStep]]). */
  protected def step(spark: SparkSession, a: Blueprints.Args, maxEntries: Long,
      maxBytes: Long): Unit

  def run(spark: SparkSession, argv: Array[String]): Int = runBounded(spark, argv)

  /** [[run]] with the regex step's driver-arm bounds; a bound of 0 keeps
    * a regex step over a non-empty tree on the executors.
    */
  def runBounded(spark: SparkSession, argv: Array[String],
      localMaxEntries: Long = FileOps.LocalMaxEntries,
      localMaxBytes: Long = FileOps.LocalMaxBytes): Int =
    Blueprints.exitCode(step(spark, Blueprints.parse(argv), localMaxEntries, localMaxBytes))

  def main(argv: Array[String]): Unit = sys.exit(run(Blueprints.session(), argv))
}

/** local → FTP (upload_file.py). */
object Upload extends Blueprint {
  import Blueprints._

  protected def step(spark: SparkSession, a: Args, maxEntries: Long,
      maxBytes: Long): Unit = {
    val dst = ftpUri(spark, a)
    val srcBase =
      if (a.sourceFolderName.startsWith("/")) a.sourceFolderName
      else PathUtils.combine(System.getProperty("user.dir"), a.sourceFolderName)
    if (a.matchType == "regex_match") {
      regexStep(spark, a, s"file:$srcBase", basename = false, a.destinationFolderName,
          enumerateAll = true, maxEntries, maxBytes) { conf =>
        FileOps.copyFiles(conf, "file:///", dst, a.retries, a.backoffMs, a.resume)
      }
    } else {
      val src = PathUtils.combine(srcBase, a.sourceFileName)
      // missing (or non-regular-file) single source is exit 200
      // like Download/Delete — without the pre-check the copy's
      // FileNotFound surfaces as a generic exit 1 outside the
      // reference taxonomy
      if (!FileOps.isFile(spark, "file:///", src))
        throw GraftFsError(ErrorCodes.NoMatchesFound,
          s"no local file at $src")
      FileOps.copyFiles(spark.sessionState.newHadoopConf(), "file:///", dst,
        a.retries, a.backoffMs, a.resume)(Iterator(Transfer(src,
        PathUtils.determineDestinationFullPath(
          a.destinationFolderName, a.destinationFileName, src))))
    }
  }
}

/** FTP → local (download_file.py). Regex matches the basename. */
object Download extends Blueprint {
  import Blueprints._

  protected def step(spark: SparkSession, a: Args, maxEntries: Long,
      maxBytes: Long): Unit = {
    val src = ftpUri(spark, a)
    val srcFolder = PathUtils.cleanFolderName(a.sourceFolderName)
    // the reference downloads relative to the CWD (download_file.py:
    // 242 os.makedirs of the cleaned relative folder); an absolute
    // --destination-folder-name anchors at the filesystem root instead
    val localBase =
      if (a.destinationFolderRaw.startsWith("/")) PathUtils.normPath(a.destinationFolderRaw)
      else PathUtils.combine(System.getProperty("user.dir"), a.destinationFolderName)
    if (a.matchType == "regex_match") {
      regexStep(spark, a, if (srcFolder.isEmpty) src else s"$src/$srcFolder",
          basename = true, localBase, enumerateAll = true, maxEntries, maxBytes) { conf =>
        FileOps.copyFiles(conf, src, "file:", a.retries, a.backoffMs, a.resume)
      }
    } else {
      val p = PathUtils.combine(srcFolder, a.sourceFileName)
      // the reference maps a failed single download to exit 200
      // (download_file.py:296); a directory is not a file to download
      if (!FileOps.isFile(spark, src, s"/$p"))
        throw GraftFsError(ErrorCodes.NoMatchesFound,
          s"no file at $p on ${a.host}")
      FileOps.copyFiles(spark.sessionState.newHadoopConf(), src, "file:",
        a.retries, a.backoffMs, a.resume)(Iterator(Transfer(s"/$p",
        PathUtils.determineDestinationFullPath(
          localBase, a.destinationFileName, p))))
    }
  }
}

/** FTP-internal rename (move_file.py). */
object Move extends Blueprint {
  import Blueprints._

  protected def step(spark: SparkSession, a: Args, maxEntries: Long,
      maxBytes: Long): Unit = {
    val uri = ftpUri(spark, a)
    val srcFolder = PathUtils.cleanFolderName(a.sourceFolderName)
    if (a.matchType == "regex_match") {
      // move enumerates only on multi-match (move_file.py:168-173); a
      // rename moves no bytes, so only the entry bound applies
      regexStep(spark, a, if (srcFolder.isEmpty) uri else s"$uri/$srcFolder",
          basename = false, a.destinationFolderName, enumerateAll = false, maxEntries,
          Long.MaxValue) { conf => moves =>
        FileOps.moveFiles(conf, uri, a.retries, a.backoffMs)(
          moves.map(t => t.copy(dst = "/" + t.dst)))
      }
    } else {
      val src = "/" + PathUtils.combine(srcFolder, a.sourceFileName)
      val dst = "/" + PathUtils.determineDestinationFullPath(
        a.destinationFolderName, a.destinationFileName, src)
      FileOps.moveFiles(spark.sessionState.newHadoopConf(), uri,
        a.retries, a.backoffMs)(Iterator(Transfer(src, dst)))
    }
  }
}

/** FTP delete (delete_file.py). */
object Delete extends Blueprint {
  import Blueprints._

  protected def step(spark: SparkSession, a: Args, maxEntries: Long,
      maxBytes: Long): Unit = {
    val uri = ftpUri(spark, a)
    val srcFolder = PathUtils.cleanFolderName(a.sourceFolderName)
    if (a.matchType == "regex_match") {
      // the plan's destinations go unused, and a delete moves no bytes,
      // so only the entry bound applies
      regexStep(spark, a, if (srcFolder.isEmpty) uri else s"$uri/$srcFolder",
          basename = false, "", enumerateAll = false, maxEntries, Long.MaxValue) {
        conf => plan => FileOps.deleteFiles(conf, uri)(plan.map(_.src))
      }
    } else {
      val p = "/" + PathUtils.combine(srcFolder, a.sourceFileName)
      // the reference maps a failed single delete to exit 200
      // (delete_file.py:151); a directory is not a file to delete
      if (!FileOps.isFile(spark, uri, p))
        throw GraftFsError(ErrorCodes.NoMatchesFound,
          s"no file at $p on ${a.host}")
      FileOps.deleteFiles(spark.sessionState.newHadoopConf(), uri)(Iterator(p))
    }
  }
}
