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
    val dst = Files.createTempDirectory("bp_budget")
    val download = jobsOf(Download.run(spark, base(
      "--source-file-name-match-type", "regex_match",
      "--source-file-name", "\\.csv$",
      "--source-folder-name", "budget",
      "--destination-folder-name", dst.toString,
      "--destination-file-name", "got.csv")))
    assert(download <= depth + 3, s"regex Download ran $download Spark jobs")
    assert((1 to 3).map(i => Files.readString(dst.resolve(s"got_$i.csv"))) ===
      Seq("budget/a.csv\n", "budget/l1/b.csv\n", "budget/l1/l2/c.csv\n"))
    val delete = jobsOf(Delete.run(spark, base(
      "--file-name-match-type", "regex_match",
      "--source-file-name", "\\.csv$",
      "--source-folder-name", "budget")))
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
    assert(Download.run(spark, regex("\\.csv$", "--source-folder-name", "budget",
      "--destination-folder-name", dst.toString)) === 0)
    assert(Delete.run(spark, regex("\\.csv$", "--source-folder-name", "budget")) === 0)
    assert(!Files.exists(ftpRoot.resolve("budget/l1/l2/c.csv")))
    assert(Delete.run(spark, regex("\\.csv$", "--source-folder-name", "budget")) === 200)
    assert(Upload.run(spark, regex(".*", "--source-folder-name", "/definitely/not/here")) ===
      201)
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
      s"steps left RDDs persisted: ${sc.getPersistentRDDs -- before}")
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
