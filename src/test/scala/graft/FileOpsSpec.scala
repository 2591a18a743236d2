package graft

import java.nio.file.{Files, Paths}

import graft.sources.{FileOps, PathUtils}

class PathUtilsSpec extends org.scalatest.funsuite.AnyFunSuite {
  import PathUtils._

  test("cleanFolderName strips and normalizes like the reference") {
    assert(cleanFolderName("") === "")
    assert(cleanFolderName("/a/b/") === "a/b")
    assert(cleanFolderName("a//b") === "a/b")
    assert(cleanFolderName("///") === "")
  }

  test("combine joins folder and file") {
    assert(combine("a/b", "c.txt") === "a/b/c.txt")
    assert(combine("", "c.txt") === "c.txt")
    assert(combine("a//b", "c.txt") === "a/b/c.txt")
  }

  test("enumerateDestinationFileName inserts _N at the first dot") {
    assert(enumerateDestinationFileName("file.csv", 2) === "file_2.csv")
    assert(enumerateDestinationFileName("file.tar.gz", 3) === "file_3.tar.gz")
    assert(enumerateDestinationFileName("file", 4) === "file_4")
  }

  test("determineDestinationFileName: explicit, enumerated, basename") {
    assert(determineDestinationFileName("x/y/z.csv", None) === "z.csv")
    assert(determineDestinationFileName("x/y/z.csv", Some("o.csv")) === "o.csv")
    assert(determineDestinationFileName("x/y/z.csv", Some("o.csv"), Some(2))
      === "o_2.csv")
  }

  test("determineDestinationFullPath composes folder + resolved name") {
    assert(determineDestinationFullPath("/dst/", None, "a/b.csv") === "dst/b.csv")
    assert(determineDestinationFullPath("dst", Some("n.csv"), "a/b.csv",
      Some(3)) === "dst/n_3.csv")
  }
}

class FileOpsSpec extends SparkSpec {

  private def mkTree(): java.nio.file.Path = {
    val root = Files.createTempDirectory("graft_fs")
    Files.createDirectories(root.resolve("sub/inner"))
    Files.writeString(root.resolve("a.csv"), "1,2,3\n")
    Files.writeString(root.resolve("b.txt"), "hello\n")
    Files.writeString(root.resolve("sub/c.csv"), "4,5,6\n")
    Files.writeString(root.resolve("sub/inner/d.csv"), "7,8\n")
    root
  }

  test("listRecursive walks the whole tree with sizes") {
    val root = mkTree()
    val df = FileOps.listRecursive(spark, s"file:$root")
    val files = df.filter("not is_dir").collect()
    assert(files.length === 4)
    assert(df.filter("is_dir").count() === 2)
    val a = files.find(_.getAs[String]("path").endsWith("a.csv")).get
    assert(a.getAs[Long]("size") === 6L)
  }

  test("matchBasename matches the reference's regex-on-basename semantics") {
    val root = mkTree()
    val m = FileOps.matchBasename(
      FileOps.listRecursive(spark, s"file:$root"), "\\.csv$")
    assert(m.count() === 3)
    // basename-only: a pattern matching the folder must not hit
    assert(FileOps.matchBasename(
      FileOps.listRecursive(spark, s"file:$root"), "inner").count() === 0)
    assert(FileOps.matchFullPath(
      FileOps.listRecursive(spark, s"file:$root"), "inner").count() === 1)
    // one rule: the blueprints' RDD path, matchBasename/matchFullPath
    // and Spark's own regexp_like (the rule before the RDD path) agree
    Files.createDirectories(root.resolve("v1.2"))
    Files.writeString(root.resolve("v1.2/e.csv"), "e\n")
    // a non-ASCII name as a listed entry: creating it on disk would
    // depend on the JVM's file-name encoding
    val extra = Seq(FileOps.FileEntry(s"$root/sub/\u00fcber\u540d.csv", 2L, 0L, is_dir = false))
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val manifest = FileOps.listRecursive(spark, s"file:$root").unionAll(extra.toDF())
    def paths(df: org.apache.spark.sql.DataFrame) =
      df.select("path").collect().map(_.getString(0)).sorted.toSeq
    val patterns = Seq(
      "^[a-c]\\.csv$", // anchored
      "inner", // a directory component only
      "v1\\.2", // a dotted directory name
      "\u540d", // a non-ASCII file name
      s"^${java.util.regex.Pattern.quote(root.toString)}/sub/[^/]+$$")
    for (p <- patterns; basename <- Seq(true, false)) {
      val viaRdd = FileOps.walk(spark, s"file:$root").union(spark.sparkContext.parallelize(extra))
        .filter(FileOps.matching(p, basename)).map(_.path).collect().sorted.toSeq
      val subject = if (basename) element_at(split(col("path"), "/"), -1) else col("path")
      assert(viaRdd === paths(manifest.filter(!col("is_dir") &&
        regexp_like(subject, lit(p)))), s"pattern $p, basename $basename")
      assert(viaRdd === paths(if (basename) FileOps.matchBasename(manifest, p)
        else FileOps.matchFullPath(manifest, p)), s"pattern $p, basename $basename")
    }
    assert(paths(FileOps.matchBasename(manifest, "\u540d")) ===
      Seq(s"$root/sub/\u00fcber\u540d.csv"))
    assert(paths(FileOps.matchFullPath(manifest, "v1\\.2")) === Seq(s"$root/v1.2/e.csv"))
    assert(paths(FileOps.matchBasename(manifest, "v1\\.2")).isEmpty)
    // an invalid regex ends a regex blueprint with exit 1, before it
    // touches the destination
    assert(graft.blueprints.Upload.run(spark, Array(
      "--host", "127.0.0.1", "--port", "1", "--username", "u", "--password", "p",
      "--source-file-name-match-type", "regex_match", "--source-file-name", "([",
      "--source-folder-name", root.toString)) === 1)
  }

  test("planTransfers enumerates only on multi-match with explicit name") {
    val t1 = FileOps.planTransfers(Seq("x/a.csv"), "dst", Some("out.csv"))
    assert(t1.map(_.dst) === Seq("dst/out.csv"))
    val t2 = FileOps.planTransfers(Seq("x/a.csv", "y/b.csv"), "dst",
      Some("out.csv"))
    assert(t2.map(_.dst) === Seq("dst/out_1.csv", "dst/out_2.csv"))
    val t3 = FileOps.planTransfers(Seq("x/a.csv", "y/b.csv"), "dst", None)
    assert(t3.map(_.dst) === Seq("dst/a.csv", "dst/b.csv"))
  }

  test("planTransfersDF (distributed, collect-free) preserves planTransfers' " +
      "enumeration semantics") {
    import spark.implicits._
    // U+FFFD sorts BEFORE the surrogate pair of U+1F600 in UTF-8 byte
    // (code point) order, AFTER it in Java's UTF-16 String.compareTo
    val df = Seq("x/b.csv", "x/a\uD83D\uDE00.csv", "x/a.csv", "y/c.csv",
      "x/a\uFFFD.csv").toDF("path")
    def asPairs(p: org.apache.spark.sql.DataFrame) =
      p.collect().map(r => (r.getString(0), r.getString(1))).sortBy(_._1).toSeq
    // explicit name enumerates by GLOBAL PATH-SORTED rank, in Spark's
    // binary UTF-8 string order
    val enumerated = Seq(
      ("x/a.csv", "dst/out_1.csv"), ("x/a\uD83D\uDE00.csv", "dst/out_3.csv"),
      ("x/a\uFFFD.csv", "dst/out_2.csv"), ("x/b.csv", "dst/out_4.csv"),
      ("y/c.csv", "dst/out_5.csv"))
    assert(asPairs(FileOps.planTransfersDF(df, "dst", Some("out.csv"),
      enumerateAll = true)) === enumerated)
    // move semantics (enumerateAll=false): multi-match still enumerates…
    assert(asPairs(FileOps.planTransfersDF(df, "dst", Some("out.csv"),
      enumerateAll = false)) === enumerated)
    // …but a single match keeps the name verbatim
    assert(asPairs(FileOps.planTransfersDF(Seq("x/a.csv").toDF("path"),
      "dst", Some("out.csv"), enumerateAll = false)) ===
      Seq(("x/a.csv", "dst/out.csv")))
    // no explicit name → each source keeps its basename
    assert(asPairs(FileOps.planTransfersDF(df, "dst", None,
      enumerateAll = true)).map(_._2) === Seq("dst/a.csv",
      "dst/a\uD83D\uDE00.csv", "dst/a\uFFFD.csv", "dst/b.csv", "dst/c.csv"))
  }

  test("bulkCopy distributes a regex-matched upload end to end") {
    val root = mkTree()
    val dst = Files.createTempDirectory("graft_dst")
    val matched = FileOps.matchBasename(
      FileOps.listRecursive(spark, s"file:$root"), "\\.csv$")
      .select("path").collect().map(_.getString(0)).toSeq.sorted
    val plan = FileOps.planTransfers(matched, "up", None)
    FileOps.bulkCopy(spark, plan, s"file:$root", s"file:$dst")
    val copied = Files.list(dst.resolve("up")).toArray.map(_.toString).sorted
    assert(copied.map(p => Paths.get(p).getFileName.toString).toSeq
      === Seq("a.csv", "c.csv", "d.csv"))
    assert(Files.readString(dst.resolve("up/a.csv")) === "1,2,3\n")
  }

  test("compactParquet bin-packs many small files into few, content-preserving") {
    import spark.implicits._
    val in = java.nio.file.Files.createTempDirectory("graft_compact_in").toString
    val out = java.nio.file.Files.createTempDirectory("graft_compact").toString + "/packed"
    // 64 tiny files
    (1 to 6400).map(i => (i.toLong, s"row_$i")).toDF("id", "s")
      .repartition(64).write.mode("overwrite").parquet(in)
    def parquetFiles(dir: String) =
      new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(parquetFiles(in).length === 64)
    val target = parquetFiles(in).map(_.length).sum / 4 // aim for ~4 files
    val nOut = graft.sources.FileOps.compactParquet(spark, in, out, target)
    assert(nOut >= 3 && nOut <= 5, s"unexpected output count $nOut")
    assert(parquetFiles(out).length === nOut)
    // every row survives exactly once
    val got = spark.read.parquet(out).as[(Long, String)].collect().sorted
    assert(got.length === 6400)
    assert(got.map(_._1).toSeq === (1L to 6400L))
    // a missing source dir is the reference's invalid-path error
    intercept[graft.sources.FileOps.GraftFsError] {
      graft.sources.FileOps.compactParquet(spark, s"$in/nope", out)
    }
  }

  test("withRetries heals transient errors with backoff, never taxonomy errors") {
    var calls = 0
    val r = FileOps.withRetries(3, 1L) { () =>
      calls += 1
      if (calls < 3) throw new java.io.IOException("flaky") else 42
    }
    assert(r === 42 && calls === 3)
    // exhausted budget rethrows the last transient error
    var calls2 = 0
    intercept[java.io.IOException] {
      FileOps.withRetries(1, 1L) { () =>
        calls2 += 1; throw new java.io.IOException("always")
      }
    }
    assert(calls2 === 2) // initial try + 1 retry
    // deterministic taxonomy outcomes are NOT network weather
    var calls3 = 0
    intercept[FileOps.GraftFsError] {
      FileOps.withRetries(5, 1L) { () =>
        calls3 += 1
        throw FileOps.GraftFsError(FileOps.ErrorCodes.NoMatchesFound, "none")
      }
    }
    assert(calls3 === 1)
  }

  test("move renames and delete removes, through the FS API") {
    val root = mkTree()
    assert(FileOps.move(spark, s"file:$root", s"$root/b.txt",
      s"$root/moved/renamed.txt"))
    assert(Files.exists(root.resolve("moved/renamed.txt")))
    assert(!Files.exists(root.resolve("b.txt")))
    FileOps.bulkDelete(spark, s"file:$root",
      Seq(s"$root/a.csv", s"$root/sub/c.csv"))
    assert(!Files.exists(root.resolve("a.csv")))
    assert(!Files.exists(root.resolve("sub/c.csv")))
  }

  test("reference error taxonomy: 200 no-matches, 201 bad path, 202 move error") {
    val root = mkTree()
    // 200: a matching stage with zero hits
    val hits = FileOps.matchBasename(
      FileOps.listRecursive(spark, s"file:$root"), "\\.nope$")
      .select("path").collect().map(_.getString(0)).toSeq
    val e200 = intercept[FileOps.GraftFsError] {
      FileOps.requireMatches(hits, "\\.nope$")
    }
    assert(e200.code === FileOps.ErrorCodes.NoMatchesFound)
    // 201: listing a source folder that does not exist
    val e201 = intercept[FileOps.GraftFsError] {
      FileOps.listRecursive(spark, s"file:$root/definitely/missing")
    }
    assert(e201.code === FileOps.ErrorCodes.InvalidFilePath)
    // 202: renaming a file that is not there
    val e202 = intercept[FileOps.GraftFsError] {
      FileOps.move(spark, s"file:$root", s"$root/ghost.txt", s"$root/out.txt")
    }
    assert(e202.code === FileOps.ErrorCodes.MoveError)
  }

  test("listRecursive stays distributed: 1e5-file tree, subtree walk " +
      "is an RDD scan, not a driver-collected LocalRelation") {
    val root = Files.createTempDirectory("graft_big")
    (0 until 100).foreach { d =>
      val dir = root.resolve(f"d$d%03d")
      Files.createDirectories(dir)
      (0 until 1000).foreach(i => Files.createFile(dir.resolve(f"f$i%04d")))
    }
    val df = FileOps.listRecursive(spark, s"file:$root")
    // the whole manifest, the root's direct children included, is a
    // distributed RDD scan: no driver-side relation at all
    val locals = df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
    }
    assert(locals.isEmpty, "the manifest holds a driver-side relation")
    val rdds = df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.ExternalRDD[_] => r
    }
    assert(rdds.nonEmpty, "subtree walk did not stay an RDD")
    assert(df.filter("not is_dir").count() === 100000L)
    assert(df.filter("is_dir").count() === 100L)
    // clean up: 100k inodes is real temp-dir pressure
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
      .foreach(Files.deleteIfExists(_))
  }

  test("listRecursive frontier BFS: a deep single-child tree walks as many " +
      "tasks, not one serial subtree recursion") {
    // depth-60 chain, one file per level: the root's fan-out is 1, so
    // the old per-subtree walk did ALL of this in a single task
    val root = Files.createTempDirectory("graft_deep")
    var cur = root
    val depth = 60
    (0 until depth).foreach { d =>
      cur = cur.resolve(s"lvl$d")
      Files.createDirectories(cur)
      Files.writeString(cur.resolve(s"file$d.txt"), "x" * (d + 1))
    }
    val taskCount = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        taskCount.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val df = FileOps.listRecursive(spark, s"file:$root")
      val files = df.filter("not is_dir").collect()
      assert(files.length === depth)
      assert(df.filter("is_dir").count() === depth.toLong)
      assert(files.map(_.getAs[Long]("size")).sum === (1 to depth).sum.toLong)
      // listener events are async — wait for the count to go quiet
      var last = -1
      var spins = 0
      while (taskCount.get() != last && spins < 50) {
        last = taskCount.get(); Thread.sleep(100); spins += 1
      }
      // each BFS level runs its own (parallelizable) stage; a single
      // serial recursion would have been ~1 walk task
      assert(taskCount.get() > depth,
        s"walk ran only ${taskCount.get()} tasks for a $depth-level tree")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("compactParquet sizes nested partitioned layouts, not just flat dirs") {
    import spark.implicits._
    val in = java.nio.file.Files.createTempDirectory("graft_compact_part").toString
    val out = java.nio.file.Files.createTempDirectory("graft_compact_part_out").toString + "/packed"
    // files live under k=… subdirectories — a non-recursive listing
    // sees ZERO data bytes here and would collapse everything to 1 file
    (1 to 6400).map(i => (i.toLong, i % 4, s"row_$i")).toDF("id", "k", "s")
      .repartition(16).write.mode("overwrite").partitionBy("k").parquet(in)
    def bytesUnder(dir: java.io.File): Long =
      dir.listFiles().map { f =>
        if (f.isDirectory) bytesUnder(f)
        else if (f.getName.startsWith("_")) 0L else f.length
      }.sum
    val total = bytesUnder(new java.io.File(in))
    assert(total > 0)
    val nOut = graft.sources.FileOps.compactParquet(spark, in, out, total / 4)
    assert(nOut >= 3 && nOut <= 5,
      s"nested layout mis-sized: nOut=$nOut (non-recursive listing would give 1)")
    val got = spark.read.parquet(out).selectExpr("id").as[Long].collect().sorted
    assert(got.length === 6400 && got.toSeq === (1L to 6400L))
  }

  test("a retried act task writes exactly the planned enumerated names") {
    // task retries need local[N,F]; the shared test session is local[4]
    // (one attempt per task), so the plan and act run in a child JVM
    val src = Files.createTempDirectory("graft_retry_src")
    val dst = Files.createTempDirectory("graft_retry_dst")
    val n = 12 // 3 per partition over 4: the failure lands mid-partition
    (1 to n).foreach(i => Files.writeString(src.resolve(f"s$i%02d.dat"), s"file $i\n"))
    import scala.jdk.CollectionConverters._
    val inherited = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    val opens = inherited.zipWithIndex.flatMap {
      case (a, _) if a.startsWith("--add-opens=") => Seq(a)
      case ("--add-opens", i) => Seq("--add-opens", inherited(i + 1))
      case _ => Nil
    }
    val cmd = Seq(Paths.get(System.getProperty("java.home"), "bin", "java").toString) ++
      opens ++ Seq("-Xmx1g", "-cp", System.getProperty("java.class.path"),
        "graft.PlanRetryMain", src.toString, dst.toString)
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    assert(proc.waitFor() === 0, out.takeRight(4000))
    val report = out.linesIterator.find(_.startsWith("retry-report ")).getOrElse(
      fail(s"no report from the child:\n${out.takeRight(4000)}"))
    assert(report === "retry-report injected=1 failedTasks=1")
    val written = Files.list(dst).iterator().asScala.toSeq
    // nothing missing, duplicated or renumbered: out_N holds the N-th
    // source in path order, retried partition included
    assert(written.map(_.getFileName.toString).sorted ===
      (1 to n).map(i => s"out_$i.dat").sorted)
    (1 to n).foreach { i =>
      assert(Files.readString(dst.resolve(s"out_$i.dat")) === s"file $i\n")
    }
  }

  test("q60 manifest lists the scale dir") {
    val rows = FileOps.q60(spark, sf).collect()
    assert(rows.length === 10) // the ten tables
    assert(rows.forall(!_.getAs[Boolean]("is_dir")))
  }
}

/** Child-JVM body of the task-retry spec: a `local[4,2]` session (one
  * retry per task) plans a regex download with an enumerated name and
  * copies it to a destination whose filesystem fails one copy task,
  * once, on its second file. Prints the injected and failed-task
  * counts.
  */
object PlanRetryMain {
  def main(args: Array[String]): Unit = {
    val Array(src, dst) = args
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4,2]").config("spark.ui.enabled", "false").getOrCreate()
    val sc = spark.sparkContext
    sc.hadoopConfiguration.set("fs.flaky.impl", classOf[FlakyLocalFs].getName)
    sc.hadoopConfiguration.set("fs.flaky.impl.disable.cache", "true")
    val failed = new java.util.concurrent.atomic.AtomicInteger
    sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.reason != org.apache.spark.Success) failed.incrementAndGet()
    })
    val plan = FileOps.planMatched(FileOps.walk(spark, s"file:$src")
      .filter(FileOps.matching("\\.dat$", basename = true)).map(_.path),
      "\\.dat$", dst, Some("out.dat"), enumerateAll = true)
    FileOps.bulkCopy(spark, plan, "file:", "flaky:", 0, 0L, false)
    org.apache.spark.graftspec.Listeners.drain(sc)
    println(s"retry-report injected=${FlakyLocalFs.injected.get} failedTasks=${failed.get}")
    spark.stop()
  }
}

/** Local filesystem under the `flaky:` scheme whose instance fails its
  * second `create` — once per JVM.
  */
class FlakyLocalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  private var creates = 0
  override def getUri: java.net.URI = java.net.URI.create("flaky:///")
  override def getScheme: String = "flaky"
  override def create(f: org.apache.hadoop.fs.Path, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream = {
    creates += 1
    if (creates == 2 && FlakyLocalFs.injected.compareAndSet(0, 1))
      throw new java.io.IOException("injected copy failure")
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object FlakyLocalFs {
  val injected = new java.util.concurrent.atomic.AtomicInteger
}
