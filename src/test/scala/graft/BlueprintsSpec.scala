package graft

import java.nio.file.Files

import graft.blueprints.{Delete, Download, Move, Upload}
import graft.ftp.MiniFtpServer

/** End-to-end CLI twins of the four reference blueprints, against the
  * embedded FTP server: happy paths move real bytes, failure paths
  * exit with the reference's code taxonomy (exit_codes.py:1-4).
  */
class BlueprintsSpec extends SparkSpec {

  private lazy val ftpRoot = {
    val r = Files.createTempDirectory("graft_bp")
    Files.createDirectories(r.resolve("data/sub"))
    Files.writeString(r.resolve("data/one.csv"), "1,a\n")
    Files.writeString(r.resolve("data/two.csv"), "2,b\n")
    Files.writeString(r.resolve("data/sub/three.csv"), "3,c\n")
    Files.writeString(r.resolve("data/skip.txt"), "no\n")
    r
  }
  private lazy val server = new MiniFtpServer(ftpRoot)

  private def base(extra: String*): Array[String] =
    (Seq("--host", "127.0.0.1", "--port", server.port.toString,
      "--username", "u", "--password", "p") ++ extra).toArray

  test("--retries/--backoff-ms parse with production defaults") {
    val flags = base("--source-file-name-match-type", "exact_match",
      "--source-file-name", "f.csv")
    val a = graft.blueprints.Blueprints.parse(flags)
    assert(a.retries === 0 && a.backoffMs === 1000L)
    val b = graft.blueprints.Blueprints.parse(
      flags ++ Array("--retries", "3", "--backoff-ms", "50"))
    assert(b.retries === 3 && b.backoffMs === 50L)
    // without --port, each protocol dials its well-known port
    val portless = Array("--host", "h", "--source-file-name-match-type",
      "exact_match", "--source-file-name", "f.csv")
    def port(extra: String*) = graft.blueprints.Blueprints.parse(portless ++ extra).port
    assert(port() === 21)
    assert(port("--protocol", "ftps") === 21)
    assert(port("--protocol", "sftp") === 22)
    assert(port("--protocol", "sftp", "--port", "2222") === 2222)
  }

  test("Upload: regex multi-match with enumerated destination names, exit 0") {
    val src = Files.createTempDirectory("bp_up")
    Files.writeString(src.resolve("x.csv"), "x\n")
    Files.writeString(src.resolve("y.csv"), "y\n")
    val code = Upload.run(spark, base(
      "--source-file-name-match-type", "regex_match",
      "--source-file-name", "\\.csv$",
      "--source-folder-name", src.toString,
      "--destination-folder-name", "up/in",
      "--destination-file-name", "out.csv"))
    assert(code === 0)
    assert(Files.readString(ftpRoot.resolve("up/in/out_1.csv")) === "x\n")
    assert(Files.readString(ftpRoot.resolve("up/in/out_2.csv")) === "y\n")
  }

  test("Upload: exact match keeps the source basename, exit 0") {
    val src = Files.createTempDirectory("bp_up1")
    Files.writeString(src.resolve("solo.csv"), "s\n")
    val code = Upload.run(spark, base(
      "--source-file-name-match-type", "exact_match",
      "--source-file-name", "solo.csv",
      "--source-folder-name", src.toString,
      "--destination-folder-name", "up/solo"))
    assert(code === 0)
    assert(Files.readString(ftpRoot.resolve("up/solo/solo.csv")) === "s\n")
  }

  test("Download: regex basename match → local folder, exit 0") {
    val dst = Files.createTempDirectory("bp_dl")
    val code = Download.run(spark, base(
      "--source-file-name-match-type", "regex_match",
      "--source-file-name", "^(one|three)\\.csv$",
      "--source-folder-name", "data",
      "--destination-folder-name", dst.toString))
    assert(code === 0)
    assert(Files.readString(dst.resolve("one.csv")) === "1,a\n")
    assert(Files.readString(dst.resolve("three.csv")) === "3,c\n")
  }

  test("Move: exact match renames on the server, exit 0") {
    Files.writeString(ftpRoot.resolve("data/mv.csv"), "m\n")
    val code = Move.run(spark, base(
      "--source-file-name-match-type", "exact_match",
      "--source-file-name", "mv.csv",
      "--source-folder-name", "data",
      "--destination-folder-name", "moved",
      "--destination-file-name", "mv2.csv"))
    assert(code === 0)
    assert(Files.readString(ftpRoot.resolve("moved/mv2.csv")) === "m\n")
    assert(!Files.exists(ftpRoot.resolve("data/mv.csv")))
  }

  test("Delete: regex match removes all hits, exit 0") {
    Files.writeString(ftpRoot.resolve("data/del1.tmp"), "d\n")
    Files.writeString(ftpRoot.resolve("data/del2.tmp"), "d\n")
    val code = Delete.run(spark, base(
      "--file-name-match-type", "regex_match",
      "--source-file-name", "\\.tmp$",
      "--source-folder-name", "data"))
    assert(code === 0)
    assert(!Files.exists(ftpRoot.resolve("data/del1.tmp")))
    assert(!Files.exists(ftpRoot.resolve("data/del2.tmp")))
  }

  test("job budget: a regex step runs one Spark job per walk level, <= 2 to " +
      "plan and one to act") {
    // depth-2 tree under budget/: a.csv, l1/b.csv, l1/l2/c.csv
    val depth = 2
    Files.createDirectories(ftpRoot.resolve("budget/l1/l2"))
    Seq("budget/a.csv", "budget/l1/b.csv", "budget/l1/l2/c.csv")
      .foreach(f => Files.writeString(ftpRoot.resolve(f), s"$f\n"))
    val sc = spark.sparkContext
    def jobsOf(step: => Int): Int = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      }
      org.apache.spark.graftspec.Listeners.drain(sc)
      sc.addSparkListener(listener)
      try {
        assert(step === 0)
        org.apache.spark.graftspec.Listeners.drain(sc)
        jobs.get()
      } finally sc.removeSparkListener(listener)
    }
    // bound 0 keeps the regex steps on the executors
    val dst = Files.createTempDirectory("bp_budget")
    val download = jobsOf(Download.runBounded(spark, base(
      "--source-file-name-match-type", "regex_match",
      "--source-file-name", "\\.csv$",
      "--source-folder-name", "budget",
      "--destination-folder-name", dst.toString,
      "--destination-file-name", "got.csv"), localMaxEntries = 0))
    assert(download <= depth + 3, s"regex Download ran $download Spark jobs")
    assert((1 to 3).map(i => Files.readString(dst.resolve(s"got_$i.csv"))) ===
      Seq("budget/a.csv\n", "budget/l1/b.csv\n", "budget/l1/l2/c.csv\n"))
    val delete = jobsOf(Delete.runBounded(spark, base(
      "--file-name-match-type", "regex_match",
      "--source-file-name", "\\.csv$",
      "--source-folder-name", "budget"), localMaxEntries = 0))
    assert(delete <= depth + 2, s"regex Delete ran $delete Spark jobs")
    assert(!Files.exists(ftpRoot.resolve("budget/l1/l2/c.csv")))
    // an exact-match step runs its pre-check and its per-file body on
    // the driver: no Spark job
    def exact(extra: String*) = base(Seq("--source-file-name-match-type",
      "exact_match", "--file-name-match-type", "exact_match") ++ extra: _*)
    val src = Files.createTempDirectory("bp_budget_src")
    Files.writeString(src.resolve("e.csv"), "exact\n")
    assert(jobsOf(Upload.run(spark, exact("--source-file-name", "e.csv",
      "--source-folder-name", src.toString, "--destination-folder-name", "budget/ex"))) === 0,
      "exact Upload")
    assert(Files.readString(ftpRoot.resolve("budget/ex/e.csv")) === "exact\n")
    assert(jobsOf(Download.run(spark, exact("--source-file-name", "e.csv",
      "--source-folder-name", "budget/ex", "--destination-folder-name", dst.toString,
      "--destination-file-name", "ex.csv"))) === 0, "exact Download")
    assert(Files.readString(dst.resolve("ex.csv")) === "exact\n")
    assert(jobsOf(Move.run(spark, exact("--source-file-name", "e.csv",
      "--source-folder-name", "budget/ex", "--destination-folder-name", "budget/ex2"))) === 0,
      "exact Move")
    assert(Files.readString(ftpRoot.resolve("budget/ex2/e.csv")) === "exact\n")
    assert(!Files.exists(ftpRoot.resolve("budget/ex/e.csv")))
    assert(jobsOf(Delete.run(spark, exact("--source-file-name", "e.csv",
      "--source-folder-name", "budget/ex2"))) === 0, "exact Delete")
    assert(!Files.exists(ftpRoot.resolve("budget/ex2/e.csv")))
    // under the bounds a regex step walks, plans and acts on the
    // driver: no Spark job either
    Seq("budget/a.csv", "budget/l1/b.csv", "budget/l1/l2/c.csv")
      .foreach(f => Files.writeString(ftpRoot.resolve(f), s"$f\n"))
    def regex(extra: String*) = base(Seq("--source-file-name-match-type",
      "regex_match", "--file-name-match-type", "regex_match") ++ extra: _*)
    val local = Files.createTempDirectory("bp_budget_local")
    assert(jobsOf(Download.run(spark, regex("--source-file-name", "\\.csv$",
      "--source-folder-name", "budget", "--destination-folder-name", local.toString,
      "--destination-file-name", "got.csv"))) === 0, "regex Download")
    assert((1 to 3).map(i => Files.readString(local.resolve(s"got_$i.csv"))) ===
      Seq("budget/a.csv\n", "budget/l1/b.csv\n", "budget/l1/l2/c.csv\n"))
    assert(jobsOf(Upload.run(spark, regex("--source-file-name", "got_[0-9]\\.csv$",
      "--source-folder-name", local.toString, "--destination-folder-name", "budget/up"))) === 0,
      "regex Upload")
    assert(Files.readString(ftpRoot.resolve("budget/up/got_3.csv")) === "budget/l1/l2/c.csv\n")
    assert(jobsOf(Move.run(spark, regex("--source-file-name", "got_[0-9]\\.csv$",
      "--source-folder-name", "budget/up", "--destination-folder-name", "budget/mv"))) === 0,
      "regex Move")
    assert(Files.readString(ftpRoot.resolve("budget/mv/got_1.csv")) === "budget/a.csv\n")
    assert(!Files.exists(ftpRoot.resolve("budget/up/got_1.csv")))
    assert(jobsOf(Delete.run(spark, regex("--source-file-name", "got_[0-9]\\.csv$",
      "--source-folder-name", "budget/mv"))) === 0, "regex Delete")
    assert((1 to 3).forall(i => !Files.exists(ftpRoot.resolve(s"budget/mv/got_$i.csv"))))
  }

  test("a regex step leaves nothing persisted, whatever its exit code") {
    // the job-budget case's depth-2 tree, made afresh
    Files.createDirectories(ftpRoot.resolve("budget/l1/l2"))
    Seq("budget/a.csv", "budget/l1/b.csv", "budget/l1/l2/c.csv")
      .foreach(f => Files.writeString(ftpRoot.resolve(f), s"$f\n"))
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    def regex(pattern: String, extra: String*) = base(Seq(
      "--source-file-name-match-type", "regex_match", "--file-name-match-type",
      "regex_match", "--source-file-name", pattern) ++ extra: _*)
    val dst = Files.createTempDirectory("bp_release")
    // bound 0: the distributed arm, which persists the walk's levels
    def distributed(bp: graft.blueprints.Blueprint, argv: Array[String]) =
      bp.runBounded(spark, argv, localMaxEntries = 0)
    assert(distributed(Download, regex("\\.csv$", "--source-folder-name", "budget",
      "--destination-folder-name", dst.toString)) === 0)
    assert(distributed(Delete, regex("\\.csv$", "--source-folder-name", "budget")) === 0)
    assert(!Files.exists(ftpRoot.resolve("budget/l1/l2/c.csv")))
    assert(distributed(Delete, regex("\\.csv$", "--source-folder-name", "budget")) === 200)
    assert(distributed(Upload, regex(".*", "--source-folder-name", "/definitely/not/here")) ===
      201)
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
      s"steps left RDDs persisted: ${sc.getPersistentRDDs -- before}")
  }

  test("arms agree: every regex blueprint over FTP and SFTP gives the same names, " +
      "bytes, leftovers and exit codes on the driver and on the executors") {
    // the trees hold non-ASCII names, which this JVM's file-name
    // encoding may not map, so the blueprints run in a UTF-8 child JVM
    val work = Files.createTempDirectory("bp_arms")
    val (exit, out) = ChildJvm.run("graft.ArmsAgreeMain", Seq(work.toString),
      env = Map("LC_ALL" -> "C.UTF-8"))
    assert(exit === 0, out.takeRight(4000))
    val encoding = out.linesIterator.collectFirst {
      case l if l.startsWith("arms-encoding ") => l.stripPrefix("arms-encoding ")
    }
    assume(encoding.contains("UTF-8"), s"no UTF-8 locale for file names: $encoding")
    val reports = out.linesIterator.filter(_.startsWith("arms-report ")).map { l =>
      val Array(_, proto, arm, jobs, record) = l.split(" ", 5)
      (proto, arm) -> (jobs.stripPrefix("jobs=").toInt, record)
    }.toMap
    val arms = Seq("driver", "handoff", "bytes", "distributed")
    // every csv, numbered in binary UTF-8 order of its path: U+FFFD
    // before U+1F600, which Java's UTF-16 compareTo reverses
    def numbered(name: String) = Seq("a.csv", "a\\ufffd.csv", "a\\ud83d\\ude00.csv",
      "sub/b.csv", "sub/deep/c.csv", "z/e.csv").zipWithIndex
      .map { case (src, i) => s"${name}_${i + 1}.csv=$src" }.mkString(";")
    val expected = Seq("codes=0,0,0,0,200,201,202", s"up=${numbered("u")}",
      s"dl=${numbered("d")}", s"moved=${numbered("m")}", "deleted_left=",
      "tree_left=skip.txt=skip.txt;sub/deep/d.txt=sub/deep/d.txt").mkString(" ")
    for (proto <- Seq("ftp", "sftp"); arm <- arms) {
      val (jobs, record) = reports.getOrElse((proto, arm),
        fail(s"no $proto $arm report:\n${out.takeRight(4000)}"))
      assert(record === expected, s"$proto $arm")
      if (arm == "driver") assert(jobs === 0, s"$proto driver arm ran Spark jobs")
      else assert(jobs > 0, s"$proto $arm arm ran no Spark job")
    }
  }

  test("exit 3: bad credentials (reference EXIT_CODE_INCORRECT_CREDENTIALS)") {
    val authRoot = Files.createTempDirectory("bp_auth")
    val authServer = new MiniFtpServer(authRoot, requiredPassword = Some("secret"))
    try {
      val code = Download.run(spark, Array(
        "--host", "127.0.0.1", "--port", authServer.port.toString,
        "--username", "u", "--password", "wrong",
        "--source-file-name-match-type", "regex_match",
        "--source-file-name", ".*"))
      assert(code === 3)
    } finally authServer.stop()
  }

  test("exit 200: regex with zero matches (EXIT_CODE_NO_MATCHES_FOUND)") {
    val code = Download.run(spark, base(
      "--source-file-name-match-type", "regex_match",
      "--source-file-name", "\\.nope$",
      "--source-folder-name", "data"))
    assert(code === 200)
    // exact-match single download of a missing file is also 200
    // (download_file.py:296)
    val code2 = Download.run(spark, base(
      "--source-file-name-match-type", "exact_match",
      "--source-file-name", "ghost.csv",
      "--source-folder-name", "data"))
    assert(code2 === 200)
  }

  test("exit 200: exact Download or Delete of a directory, which stays in place") {
    // download_file.py:296 / delete_file.py:151: a single file that is
    // not there to transfer is exit 200, and a directory is not a file
    val dst = Files.createTempDirectory("bp_dir")
    assert(Download.run(spark, base(
      "--source-file-name-match-type", "exact_match",
      "--source-file-name", "sub",
      "--source-folder-name", "data",
      "--destination-folder-name", dst.toString)) === 200)
    assert(!Files.exists(dst.resolve("sub")))
    Files.createDirectories(ftpRoot.resolve("data/empty_dir"))
    assert(Delete.run(spark, base(
      "--file-name-match-type", "exact_match",
      "--source-file-name", "empty_dir",
      "--source-folder-name", "data")) === 200)
    assert(Files.isDirectory(ftpRoot.resolve("data/empty_dir")))
  }

  test("exit 201: invalid source path (EXIT_CODE_INVALID_FILE_PATH)") {
    val code = Upload.run(spark, base(
      "--source-file-name-match-type", "regex_match",
      "--source-file-name", ".*",
      "--source-folder-name", "/definitely/not/here"))
    assert(code === 201)
  }

  test("exit 202: failed move (EXIT_CODE_FTP_MOVE_ERROR)") {
    val code = Move.run(spark, base(
      "--source-file-name-match-type", "exact_match",
      "--source-file-name", "ghost.csv",
      "--source-folder-name", "data",
      "--destination-folder-name", "moved"))
    assert(code === 202)
  }
}

/** Child-JVM body of the arms-agree spec, run under a UTF-8 locale so
  * the trees can hold non-ASCII names. Every regex blueprint runs over
  * FTP and SFTP once per arm, each arm on its own copy of the trees:
  * `driver` (no bound), `handoff` (an entry bound crossed
  * once the root and `sub/` are listed), `bytes` (a byte bound every
  * copy crosses) and `distributed` (bound 0). Prints the file-name
  * encoding, then one `arms-report` line per protocol and arm, with
  * non-ASCII characters escaped.
  */
object ArmsAgreeMain {
  import java.nio.file.{Files, Path}
  import scala.jdk.CollectionConverters._
  import graft.blueprints.Blueprint

  private val Arms = Seq("driver" -> (Long.MaxValue, Long.MaxValue),
    "handoff" -> (7L, Long.MaxValue), "bytes" -> (Long.MaxValue, 0L),
    "distributed" -> (0L, Long.MaxValue))

  // the root lists 6 entries, sub/ 2 more: the hand-off bound 7 is
  // crossed there, with z/ and sub/deep/ still to list
  private val Tree = Seq("a.csv", "a\uFFFD.csv", "a\uD83D\uDE00.csv", "skip.txt",
    "sub/b.csv", "sub/deep/c.csv", "sub/deep/d.txt", "z/e.csv")

  private def escape(s: String) =
    s.flatMap(c => if (c < 128) c.toString else f"\\u${c.toInt}%04x")

  /** `relative-name=content` of every regular file under `dir`. */
  private def files(dir: Path): String =
    if (!Files.isDirectory(dir)) ""
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => s"${escape(dir.relativize(f).toString)}=${Files.readString(f)}")
        .toSeq.sorted.mkString(";")
      finally s.close()
    }

  def main(args: Array[String]): Unit = {
    val work = java.nio.file.Paths.get(args(0))
    println(s"arms-encoding ${System.getProperty("sun.jnu.encoding")}")
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").config("spark.ui.enabled", "false").getOrCreate()
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    })
    val roots = Seq("ftp", "sftp").map(p => p -> Files.createDirectories(work.resolve(p))).toMap
    val ftp = new graft.ftp.MiniFtpServer(roots("ftp"))
    val ssh = new graft.sources.ssh.SshServer(roots("sftp"), Map("u" -> "p"))
    val ports = Map("ftp" -> ftp.port, "sftp" -> ssh.port)
    try for (proto <- Seq("ftp", "sftp"); (arm, (maxEntries, maxBytes)) <- Arms) {
      val root = roots(proto)
      val local = work.resolve(s"local/$proto/$arm")
      Seq(local.resolve("src"), root.resolve(s"$arm/tree")).foreach { dir =>
        Tree.foreach { f =>
          Files.createDirectories(dir.resolve(f).getParent)
          Files.writeString(dir.resolve(f), escape(f))
        }
      }
      def run(bp: Blueprint, extra: String*): Int = bp.runBounded(spark,
        (Seq("--host", "127.0.0.1", "--port", ports(proto).toString, "--username", "u",
          "--password", "p", "--protocol", proto, "--source-file-name-match-type",
          "regex_match", "--file-name-match-type", "regex_match") ++ extra).toArray,
        maxEntries, maxBytes)
      org.apache.spark.graftspec.Listeners.drain(sc)
      val jobs0 = jobs.get()
      val up = run(graft.blueprints.Upload, "--source-file-name", "\\.csv$",
        "--source-folder-name", local.resolve("src").toString,
        "--destination-folder-name", s"$arm/up", "--destination-file-name", "u.csv")
      val dl = run(graft.blueprints.Download, "--source-file-name", "\\.csv$",
        "--source-folder-name", s"$arm/tree", "--destination-folder-name",
        local.resolve("dl").toString, "--destination-file-name", "d.csv")
      val mv = run(graft.blueprints.Move, "--source-file-name", "\\.csv$",
        "--source-folder-name", s"$arm/tree", "--destination-folder-name", s"$arm/moved",
        "--destination-file-name", "m.csv")
      val moved = files(root.resolve(s"$arm/moved"))
      def deleteMoved() = run(graft.blueprints.Delete, "--source-file-name",
        "m_[0-9]+\\.csv$", "--source-folder-name", s"$arm/moved")
      val del = deleteMoved()
      val none = deleteMoved()
      val badPath = run(graft.blueprints.Download, "--source-file-name", ".*",
        "--source-folder-name", s"$arm/nowhere", "--destination-folder-name",
        local.resolve("none").toString)
      // a rename onto the non-empty directory tree/ fails
      val badMove = run(graft.blueprints.Move, "--source-file-name", "skip\\.txt$",
        "--source-folder-name", s"$arm/tree", "--destination-folder-name", arm,
        "--destination-file-name", "tree")
      org.apache.spark.graftspec.Listeners.drain(sc)
      val record = Seq(
        "codes=" + Seq(up, dl, mv, del, none, badPath, badMove).mkString(","),
        "up=" + files(root.resolve(s"$arm/up")), "dl=" + files(local.resolve("dl")),
        "moved=" + moved, "deleted_left=" + files(root.resolve(s"$arm/moved")),
        "tree_left=" + files(root.resolve(s"$arm/tree")))
      println(s"arms-report $proto $arm jobs=${jobs.get() - jobs0} ${record.mkString(" ")}")
    } finally {
      ftp.stop(); ssh.close(); spark.stop()
    }
  }
}
