package graft.blueprints

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.sources.{FileOps, PathUtils}
import graft.sources.FileOps.{ErrorCodes, GraftFsError, Transfer}

/** The reference blueprints' unit of use is a CLI job — these four
  * mains mirror them flag for flag (upload_file.py:11-48 argparse),
  * exit with the reference's code taxonomy (exit_codes.py:1-4), and
  * run the transfer itself distributed through [[FileOps]]:
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
  * A regex step is RDD-only (no query plan), distributed end to end,
  * and costs a fixed number of Spark jobs whatever the match count:
  * one per directory level of the walk ([[FileOps.walk]]), at most two
  * for the plan ([[FileOps.planMatched]]: a sample and a count, which
  * also decides exit 200), and one act job that copies, renames or
  * deletes over every core; no matched path collects to the driver.
  * Tasks read the Hadoop conf from a broadcast (one per walk and act),
  * freed with the walk's levels when the step ends, whatever its exit.
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
    Args(
      matchType = matchType,
      sourceFileName = req("--source-file-name"),
      sourceFolderName = m.getOrElse("--source-folder-name", ""),
      destinationFolderName =
        PathUtils.cleanFolderName(m.getOrElse("--destination-folder-name", "")),
      destinationFolderRaw = m.getOrElse("--destination-folder-name", ""),
      destinationFileName = m.get("--destination-file-name"),
      host = req("--host"),
      port = m.getOrElse("--port", "21").toInt,
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
      // FTPS (RFC 4217) and SFTP (SSH2) — beyond the reference (plain
      // ftplib.FTP), because production credentialed file movement is
      // overwhelmingly one of those two
      protocol = {
        val p = m.getOrElse("--protocol", "ftp").toLowerCase
        require(p == "ftp" || p == "ftps" || p == "sftp",
          s"--protocol must be ftp|ftps|sftp, got $p")
        p
      },
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

  /** Walk `root`, hand the paths [[FileOps.matching]] keeps to `act`,
    * then free the walk's levels and conf broadcast.
    */
  private[blueprints] def regexStep(spark: SparkSession, root: String, pattern: String,
      basename: Boolean)(act: RDD[String] => Unit): Unit = {
    val conf = FileOps.shipConf(spark)
    try {
      val entries = FileOps.walk(spark, root, conf)
      try act(entries.filter(FileOps.matching(pattern, basename)).map(_.path))
      finally FileOps.unpersist(entries)
    } finally conf.destroy()
  }

  private[blueprints] def session(): SparkSession =
    GraftSession.builder(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .getOrCreate()
}

/** local → FTP (upload_file.py). */
object Upload {
  import Blueprints._

  def run(spark: SparkSession, argv: Array[String]): Int = exitCode {
    val a = parse(argv)
    val dst = ftpUri(spark, a)
    val srcBase =
      if (a.sourceFolderName.startsWith("/")) a.sourceFolderName
      else PathUtils.combine(System.getProperty("user.dir"), a.sourceFolderName)
    if (a.matchType == "regex_match") {
      regexStep(spark, s"file:$srcBase", a.sourceFileName, basename = false) { m =>
        val plan = FileOps.planMatched(m, a.sourceFileName,
          a.destinationFolderName, a.destinationFileName, enumerateAll = true)
        FileOps.bulkCopy(spark, plan, "file:///", dst,
          a.retries, a.backoffMs, a.resume)
      }
    } else {
      val src = PathUtils.combine(srcBase, a.sourceFileName)
      // missing (or non-regular-file) single source is exit 200
      // like Download/Delete — without the pre-check the
      // executor-side FileNotFound surfaces as a generic exit 1
      // outside the reference taxonomy
      if (!FileOps.isFile(spark, "file:///", src))
        throw GraftFsError(ErrorCodes.NoMatchesFound,
          s"no local file at $src")
      val transfers = Seq(Transfer(src,
        PathUtils.determineDestinationFullPath(
          a.destinationFolderName, a.destinationFileName, src)))
      FileOps.bulkCopy(spark, transfers, "file:///", dst,
        retries = a.retries, backoffMs = a.backoffMs, resume = a.resume)
    }
  }

  def main(argv: Array[String]): Unit = sys.exit(run(session(), argv))
}

/** FTP → local (download_file.py). Regex matches the basename. */
object Download {
  import Blueprints._

  def run(spark: SparkSession, argv: Array[String]): Int = exitCode {
    val a = parse(argv)
    val src = ftpUri(spark, a)
    val srcFolder = PathUtils.cleanFolderName(a.sourceFolderName)
    // the reference downloads relative to the CWD (download_file.py:
    // 242 os.makedirs of the cleaned relative folder); an absolute
    // --destination-folder-name anchors at the filesystem root instead
    val localBase =
      if (a.destinationFolderRaw.startsWith("/")) PathUtils.normPath(a.destinationFolderRaw)
      else PathUtils.combine(System.getProperty("user.dir"), a.destinationFolderName)
    if (a.matchType == "regex_match") {
      regexStep(spark, if (srcFolder.isEmpty) src else s"$src/$srcFolder",
          a.sourceFileName, basename = true) { m =>
        val plan = FileOps.planMatched(m, a.sourceFileName, localBase,
          a.destinationFileName, enumerateAll = true)
        FileOps.bulkCopy(spark, plan, src, "file:",
          a.retries, a.backoffMs, a.resume)
      }
    } else {
      val p = PathUtils.combine(srcFolder, a.sourceFileName)
      // the reference maps a failed single download to exit 200
      // (download_file.py:296)
      if (!FileOps.exists(spark, src, s"/$p"))
        throw GraftFsError(ErrorCodes.NoMatchesFound,
          s"no file at $p on ${a.host}")
      val transfers = Seq(Transfer(s"/$p",
        PathUtils.determineDestinationFullPath(
          localBase, a.destinationFileName, p)))
      FileOps.bulkCopy(spark, transfers, src, "file:",
        retries = a.retries, backoffMs = a.backoffMs, resume = a.resume)
    }
  }

  def main(argv: Array[String]): Unit = sys.exit(run(session(), argv))
}

/** FTP-internal rename (move_file.py). */
object Move {
  import Blueprints._

  def run(spark: SparkSession, argv: Array[String]): Int = exitCode {
    val a = parse(argv)
    val uri = ftpUri(spark, a)
    val srcFolder = PathUtils.cleanFolderName(a.sourceFolderName)
    if (a.matchType == "regex_match") {
      regexStep(spark, if (srcFolder.isEmpty) uri else s"$uri/$srcFolder",
          a.sourceFileName, basename = false) { m =>
        // move enumerates only on multi-match (move_file.py:168-173)
        val plan = FileOps.planMatched(m, a.sourceFileName,
          a.destinationFolderName, a.destinationFileName, enumerateAll = false)
        FileOps.bulkMove(spark, uri, plan.map(t => t.copy(dst = "/" + t.dst)),
          retries = a.retries, backoffMs = a.backoffMs)
      }
    } else {
      val src = "/" + PathUtils.combine(srcFolder, a.sourceFileName)
      val dst = "/" + PathUtils.determineDestinationFullPath(
        a.destinationFolderName, a.destinationFileName, src)
      FileOps.withRetries(a.retries, a.backoffMs) { () =>
        FileOps.move(spark, uri, src, dst)
      }
    }
  }

  def main(argv: Array[String]): Unit = sys.exit(run(session(), argv))
}

/** FTP delete (delete_file.py). */
object Delete {
  import Blueprints._

  def run(spark: SparkSession, argv: Array[String]): Int = exitCode {
    val a = parse(argv)
    val uri = ftpUri(spark, a)
    val srcFolder = PathUtils.cleanFolderName(a.sourceFolderName)
    if (a.matchType == "regex_match") {
      regexStep(spark, if (srcFolder.isEmpty) uri else s"$uri/$srcFolder",
          a.sourceFileName, basename = false) { m =>
        // no destination, so the plan is only the count and the spread
        val plan = FileOps.planMatched(m, a.sourceFileName, "", None,
          enumerateAll = false)
        FileOps.bulkDelete(spark, uri, plan.map(_.src))
      }
    } else {
      val p = "/" + PathUtils.combine(srcFolder, a.sourceFileName)
      // the reference maps a failed single delete to exit 200
      // (delete_file.py:151)
      if (!FileOps.exists(spark, uri, p))
        throw GraftFsError(ErrorCodes.NoMatchesFound,
          s"no file at $p on ${a.host}")
      FileOps.bulkDelete(spark, uri, Seq(p))
    }
  }

  def main(argv: Array[String]): Unit = sys.exit(run(session(), argv))
}
