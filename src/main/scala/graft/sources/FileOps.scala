package graft.sources

import java.net.URI
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The reference blueprint surface (upload / download / move / delete
  * with exact or regex matching — ftp-blueprints
  * {upload,download,move,delete}_file.py) re-expressed over
  * `org.apache.hadoop.fs.FileSystem`, so one implementation serves
  * file://, hdfs://, s3a://, and graft's own FTP connector. Each verb
  * (copy, move, delete) has one per-file body over an iterator of
  * files and a plain Hadoop conf, opening one FS handle per call; over
  * FTP and SFTP every handle draws on one JVM-wide pool of logins and
  * SSH sessions per server identity ([[ClientFileSystem]]), so the
  * steps of a run, and the runs after it, reuse one connection per
  * remote side, as the reference passes one ftplib client through a
  * whole run.
  * A tree of at most [[LocalMaxEntries]] entries (and, for a copy, at
  * most [[LocalMaxBytes]] matched bytes) is walked, planned and acted
  * on by the driver, in one call of that body and no Spark job, as
  * the reference moves a handful of files in one process. Above the
  * bounds the walk, the plan and the act are distributed: one body
  * call per plan partition, so 1000 executors ⇒ 1000 parallel transfer
  * streams, no driver bottleneck; an exact-match step is one call on
  * the driver.
  */
object FileOps {

  /** The reference's error taxonomy (ftp-blueprints exit_codes.py:1-4)
    * as a typed exception: 3 bad credentials, 200 no matches, 201
    * invalid path, 202 move error. Library callers pattern-match on
    * `code`; a CLI wrapper would `sys.exit(code)`.
    */
  final case class GraftFsError(code: Int, message: String)
      extends RuntimeException(message)
  object ErrorCodes {
    val IncorrectCredentials = 3
    val NoMatchesFound = 200
    val InvalidFilePath = 201
    val MoveError = 202
  }

  /** A matching stage that found nothing is exit-200 in the reference
    * (upload_file.py / download_file.py main flow).
    */
  private def noMatches(pattern: String) =
    GraftFsError(ErrorCodes.NoMatchesFound, s"no files found matching '$pattern'")

  /** Most entries (files and directories) a walk lists on the driver
    * before it hands off to the executors, and so the most a regex
    * step plans and acts on there. Set at the smallest crossover of a
    * regex Upload or Download of n 16 KB files over FTP or SFTP
    * (CHANGES.md has the table; a 4-vCPU VM, `local[4]`; the spec
    * tree's `graft.TransferCrossover` reproduces it): FTP
    * Download, where the driver's serial transfers on one pooled
    * connection cost more than the distributed arm's 3-5 Spark jobs
    * from about 136 files on.
    */
  val LocalMaxEntries = 128L

  /** Most matched bytes a copy streams on the driver: the smallest
    * crossover of a regex Upload or Download of 4 files over FTP or
    * SFTP, measured the same way. SFTP Upload and Download cross
    * between 40 and 48 MB, where one driver SFTP stream no longer
    * beats the executors' parallel streams plus the job latency.
    */
  val LocalMaxBytes = 40L << 20

  case class FileEntry(path: String, size: Long, mtime: Long, is_dir: Boolean)

  /** A new FS handle for `uri`. A `file:` one is a [[LocalFs]]: no
    * checksum wrapper, so no `.crc` sidecars and a plain append.
    */
  private def fs(uri: String, conf: Configuration): FileSystem = {
    val u = new URI(uri)
    if (u.getScheme != "file") FileSystem.newInstance(u, conf)
    else { val f = new LocalFs; f.initialize(u, conf); f }
  }

  /** Hadoop's raw local filesystem with a permission change that starts
    * no process: without the native Hadoop library, `setPermission`
    * (which every `create` runs) forks `chmod`, ~5 ms a file. The mode
    * set is the same, Hadoop's umask-applied one; a filesystem without
    * POSIX modes, or a mode with a sticky bit, takes Hadoop's own path.
    */
  private class LocalFs extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val bits = permission.toShort
      if ((bits & ~0x1ff) != 0) super.setPermission(p, permission)
      else try Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermission.values
        .filter(m => (bits & (0x100 >> m.ordinal)) != 0).toSet.asJava)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }

  private def hadoopConf(spark: SparkSession): Configuration =
    spark.sessionState.newHadoopConf()

  /** The session's Hadoop conf, shipped once to every task that reads it. */
  def shipConf(spark: SparkSession): Broadcast[SerializableConfiguration] =
    spark.sparkContext.broadcast(new SerializableConfiguration(hadoopConf(spark)))

  /** Recursive listing — the Spark-shaped twin of the reference's
    * `find_files_in_directory` walk (download_file.py:138). The driver
    * lists the tree breadth-first, one directory per call over one FS
    * handle, while the entries seen stay at or under `localMaxEntries`;
    * a tree that fits comes back whole (`Left`) and no Spark job ran.
    * The first time the bound is passed the walk hands off (`Right`):
    * the entries listed so far seed the manifest, and the directories
    * not yet listed are the first level of an iterative FRONTIER BFS on
    * the executors. Each level lists its frontier in parallel, one FS
    * handle per task, and the directories it discovers are
    * re-distributed as the next level's frontier, so parallelism is
    * never bounded by the ROOT's fan-out (a root with one giant child
    * directory fans out as soon as that child's children are found) and
    * no walk recurses on a task stack. No directory is listed twice or
    * skipped. The distributed manifest is a plain RDD, never
    * `.collect()`ed and no query plan: at 10⁷–10⁸ files it feeds the
    * plan partition-by-partition. Job budget: exactly one Spark job per
    * distributed level — it lists the level into its persisted RDD and
    * counts the level's directories, and that count both ends the walk
    * and sizes the next frontier. The level tasks read the Hadoop conf
    * from `ship()`, called only at the hand-off (its broadcast must
    * outlive the result). A missing root is exit 201. The manifest is
    * unordered; [[unpersist]] frees its levels.
    */
  def walk(spark: SparkSession, rootUri: String, conf: Configuration,
      ship: () => Broadcast[SerializableConfiguration],
      localMaxEntries: Long): Either[Seq[FileEntry], RDD[FileEntry]] = {
    val listed = ArrayBuffer.empty[FileStatus]
    // unlisted directories as FULL URIs (scheme + authority), so
    // executors reopen the right FileSystem; FileEntry keeps the bare
    // path
    val open = mutable.Queue.empty[String]
    val f = fs(rootUri, conf)
    def list(dir: String): Unit = {
      val sts = f.listStatus(new Path(dir))
      listed ++= sts
      open ++= sts.iterator.filter(_.isDirectory).map(_.getPath.toString)
    }
    try {
      try list(rootUri)
      catch {
        case _: java.io.FileNotFoundException =>
          throw GraftFsError(ErrorCodes.InvalidFilePath,
            s"source path does not exist: $rootUri")
      }
      while (open.nonEmpty && listed.size <= localMaxEntries) list(open.dequeue())
    } finally f.close()
    if (open.isEmpty && listed.size <= localMaxEntries) Left(listed.map(entry).toSeq)
    else Right(walkLevels(spark, rootUri, listed.map(entry).toSeq, open.toSeq, ship()))
  }

  /** [[walk]]'s distributed arm: `seed` plus a frontier BFS from `dirs`. */
  private def walkLevels(spark: SparkSession, rootUri: String, seed: Seq[FileEntry],
      dirs: Seq[String], conf: Broadcast[SerializableConfiguration]): RDD[FileEntry] = {
    val sc = spark.sparkContext
    val width = math.max(1, math.min(64, sc.defaultParallelism))
    val levels = ArrayBuffer.empty[RDD[(String, FileEntry)]]
    var frontier: RDD[String] = sc.parallelize(dirs, math.max(1, math.min(dirs.size, width)))
    var frontierDirs = dirs.size.toLong
    while (frontierDirs > 0) {
      val level = frontier.mapPartitions { paths =>
        val f = fs(rootUri, conf.value.value)
        TaskContext.get().addTaskCompletionListener[Unit](_ => f.close())
        paths.flatMap(p => f.listStatus(new Path(p))).map(st => (st.getPath.toString, entry(st)))
      }.persist(StorageLevel.MEMORY_AND_DISK)
      levels += level
      val nextDirs = level.filter(_._2.is_dir).map(_._1)
      frontierDirs = nextDirs.count() // this level's one job
      // re-spread across tasks so a single hot directory's children
      // parallelize
      frontier = nextDirs.repartition(
        math.max(1L, math.min(frontierDirs, width.toLong)).toInt)
    }
    sc.union(sc.parallelize(seed, 1) +: levels.map(_.map(_._2)).toSeq)
  }

  private def entry(st: FileStatus) = FileEntry(st.getPath.toUri.getPath,
    if (st.isDirectory) 0L else st.getLen, st.getModificationTime, st.isDirectory)

  /** Unpersist the nearest persisted RDDs in `rdd`'s lineage: over a
    * [[walk]], exactly its levels.
    */
  def unpersist(rdd: RDD[_]): Unit =
    if (rdd.getStorageLevel != StorageLevel.NONE) rdd.unpersist(blocking = false)
    else rdd.dependencies.foreach(d => unpersist(d.rdd))

  /** [[walk]] as a DataFrame (path, size, mtime, is_dir): a local
    * relation when the tree fits under `localMaxEntries`, else a
    * DataFrame over the walk's RDDs, whose persisted levels live as long
    * as the DataFrame is reachable; nothing here unpersists them.
    */
  def listRecursive(spark: SparkSession, rootUri: String,
      localMaxEntries: Long = LocalMaxEntries): DataFrame = {
    import spark.implicits._
    walk(spark, rootUri, hadoopConf(spark), () => shipConf(spark), localMaxEntries)
      .fold(_.toDF(), _.toDF())
  }

  /** The one regex match rule over a manifest: regular files whose
    * basename (download_file.py:174) or full path (upload_file.py:147)
    * the pattern FINDS — Java `Pattern.find`, which is exactly what
    * `regexp_like` runs. The pattern compiles here, on the driver.
    */
  def matching(pattern: String, basename: Boolean): FileEntry => Boolean = {
    val re = java.util.regex.Pattern.compile(pattern)
    e => !e.is_dir && re.matcher(
      if (basename) e.path.substring(e.path.lastIndexOf('/') + 1) else e.path).find()
  }

  /** [[matching]] on the basename, over a [[listRecursive]] manifest. */
  def matchBasename(manifest: DataFrame, pattern: String): DataFrame = {
    import manifest.sparkSession.implicits._
    manifest.as[FileEntry].filter(matching(pattern, basename = true)).toDF()
  }

  /** Transfer spec: one source file → one destination path. */
  case class Transfer(src: String, dst: String)

  /** The blueprints' transfer plan over the matched paths. Both arms
    * ([[planMatched]] on the executors, [[planLocal]] on the driver)
    * order by [[utf8Order]] and name by [[transfer]]. With an explicit
    * destination name every file is numbered `name_N.ext` by its
    * GLOBAL PATH-SORTED rank in Spark's string order (binary UTF-8,
    * which is code point order, not Java's UTF-16 `compareTo`). With
    * `enumerateAll` (upload/download regex semantics,
    * upload_file.py:242-253) every match is numbered, otherwise (move,
    * move_file.py:168-173) only when more than one matched. Without a
    * name each source keeps its basename. Exit-200 when nothing matched.
    */
  private implicit val utf8Order: Ordering[Array[Byte]] =
    (x, y) => java.util.Arrays.compareUnsigned(x, y)

  private def utf8(p: String) = p.getBytes(StandardCharsets.UTF_8)

  /** The plan's entry for `p`, the `rank`-th (from 1) matched path in
    * [[utf8Order]] of `total`; without a name the rank is unused.
    */
  private def transfer(folder: String, name: Option[String], enumerateAll: Boolean,
      total: Long)(p: String, rank: Long): Transfer =
    Transfer(p, PathUtils.determineDestinationFullPath(folder, name, p,
      if (enumerateAll || total > 1) Some(rank.toInt) else None))

  /** The transfer plan on the driver, over matched paths it holds. */
  def planLocal(matched: Seq[String], pattern: String, destinationFolder: String,
      destinationFileName: Option[String], enumerateAll: Boolean): Seq[Transfer] = {
    if (matched.isEmpty) throw noMatches(pattern)
    val named = transfer(destinationFolder, destinationFileName, enumerateAll,
      matched.size) _
    matched.sortBy(utf8).zipWithIndex.map { case (p, i) => named(p, i + 1L) }
  }

  /** The transfer plan on the executors, in a fixed number of Spark
    * jobs whatever the match count; the matched paths never collect to
    * the driver. With a name, two jobs: the range partitioner's sample,
    * then one count per sorted partition, from which the driver derives
    * each partition's rank offset and the match total. Without one,
    * order is irrelevant: one count job, then a round-robin spread.
    *
    * Either way the plan has about min(matches, defaultParallelism)
    * partitions, so the act job that consumes it uses every core, and
    * it reads the shuffle output the count job already wrote. The
    * range bounds are fixed in the plan, so a retried act task reads
    * the same partition in the same order and writes the same names.
    */
  def planMatched(matched: RDD[String], pattern: String,
      destinationFolder: String, destinationFileName: Option[String],
      enumerateAll: Boolean): RDD[Transfer] = {
    val (plan, total) =
      transferPlan(matched, destinationFolder, destinationFileName, enumerateAll)
    if (total == 0) throw noMatches(pattern)
    plan
  }

  /** [[planMatched]] over a manifest's `path` column, as a (src, dst)
    * DataFrame, without the exit-200 check.
    */
  def planTransfersDF(matched: DataFrame, destinationFolder: String,
      destinationFileName: Option[String],
      enumerateAll: Boolean): DataFrame =
    matched.sparkSession.createDataFrame(transferPlan(matched.select(col("path"))
      .rdd.map(_.getString(0)), destinationFolder, destinationFileName, enumerateAll)._1)

  private def transferPlan(paths: RDD[String], folder: String,
      name: Option[String], enumerateAll: Boolean): (RDD[Transfer], Long) = {
    val width = paths.sparkContext.defaultParallelism
    name match {
      case None =>
        val total = paths.count()
        val named = transfer(folder, None, enumerateAll, total) _
        (paths.repartition(math.max(1L, math.min(total, width.toLong)).toInt)
          .map(named(_, 0L)), total)
      case some =>
        val sorted = paths.map(p => (utf8(p), p)).sortByKey(numPartitions = width)
        val offsets = sorted.mapPartitions(it => Iterator(it.size.toLong))
          .collect().scanLeft(0L)(_ + _)
        val named = transfer(folder, some, enumerateAll, offsets.last) _
        (sorted.mapPartitionsWithIndex { (i, it) =>
          it.zipWithIndex.map { case ((_, p), j) => named(p, offsets(i) + j + 1) }
        }, offsets.last)
    }
  }

  /** Ceiling for one backoff sleep: the doubling stops here, so a
    * large --retries keeps retrying at 30 s intervals instead of
    * overflowing the shift (backoffMs << 54 goes negative and
    * Thread.sleep throws) or sleeping for days.
    */
  val MaxBackoffMs = 30000L

  /** Retry a transient-failure-prone action up to `attempts` extra
    * times with exponential backoff (backoffMs, 2×, 4×, …). Typed
    * [[GraftFsError]]s are NEVER retried — the reference's taxonomy
    * codes (bad credentials, no matches, bad paths) are deterministic
    * job outcomes, not network weather; retrying them would only
    * delay the correct exit code. The production transfer-job twin of
    * the blueprint CLIs' `--retries/--backoff-ms` flags.
    */
  def withRetries[A](attempts: Int, backoffMs: Long)(f: () => A): A = {
    var attempt = 0
    var lastErr: Throwable = null
    while (attempt <= attempts) {
      try return f()
      catch {
        case e: GraftFsError => throw e
        case scala.util.control.NonFatal(e) =>
          lastErr = e
          if (attempt < attempts)
            Thread.sleep(math.min(
              backoffMs << math.min(attempt, 20), MaxBackoffMs))
          attempt += 1
      }
    }
    throw lastErr
  }

  /** The copy body: streams each transfer's bytes between any two
    * Hadoop filesystems over one source FS + one destination FS.
    * `dstUriPrefix` anchors relative destinations (e.g.
    * "file:/tmp/out" or "gftp://host:21"). No per-file parent probe:
    * `create` makes missing parents (the Hadoop FileSystem contract,
    * which the FTP/SFTP adapters honour on the connection that writes
    * the file).
    *
    * `retries` re-runs an individual FILE's copy on transient errors
    * (fresh source/destination streams each attempt; `create`
    * overwrites, so a half-written destination is replaced, making
    * per-file retry idempotent). The FS handles are per-call; a
    * connection that failed is closed, never pooled, so the retry runs
    * on a fresh one.
    *
    * `resume = true` picks transfers up where they died instead of
    * restarting: a destination already at the source's size is
    * skipped, a shorter one is completed by seeking the source to the
    * destination length and APPENDING the tail — over gftp both sides
    * are REST offsets (O(1) positioning), so a retried 10 GB transfer
    * that failed at 9 GB moves 1 GB, not 10. Combined with `retries`,
    * each attempt re-probes the sizes and continues from wherever the
    * previous attempt stopped.
    */
  def copyFiles(conf: Configuration, srcUriPrefix: String, dstUriPrefix: String,
      retries: Int, backoffMs: Long, resume: Boolean)(
      transfers: Iterator[Transfer]): Unit = if (transfers.hasNext) {
    // a bare-scheme prefix ("file:") needs a root path to be a URI
    def asUri(p: String) = if (p.endsWith(":")) p + "/" else p
    val sfs = fs(asUri(srcUriPrefix), conf)
    val dfs = fs(asUri(dstUriPrefix), conf)
    try transfers.foreach { t =>
      // absolute destinations append directly to the scheme/root
      val joined = if (t.dst.startsWith("/")) s"$dstUriPrefix${t.dst}"
        else s"$dstUriPrefix/${t.dst}"
      val dst = new Path(joined.replaceAll("(?<!:)//+", "/"))
      withRetries(retries, backoffMs) { () =>
        // resume probe: sizes re-checked on every attempt, so a
        // retry continues from wherever the last attempt died
        val dstLen =
          if (!resume) -1L
          else try {
            val s = dfs.getFileStatus(dst)
            if (s.isFile) s.getLen else -1L
          } catch { case _: java.io.FileNotFoundException => -1L }
        val srcLen =
          if (dstLen > 0) sfs.getFileStatus(new Path(t.src)).getLen
          else -1L
        if (dstLen > 0 && dstLen == srcLen) () // already complete
        else if (dstLen > 0 && dstLen < srcLen) {
          val in = sfs.open(new Path(t.src))
          try {
            in.seek(dstLen) // REST offset over gftp, O(1)
            val out = dfs.append(dst)
            try org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, false)
            finally out.close()
          } finally in.close()
        } else {
          val in = sfs.open(new Path(t.src))
          try {
            val out = dfs.create(dst, true)
            try org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, false)
            finally out.close()
          } finally in.close()
        }
      }
    } finally { sfs.close(); dfs.close() }
  }

  /** A verb's per-file `body` ([[copyFiles]], [[moveFiles]],
    * [[deleteFiles]]) over a distributed plan ([[planMatched]]): one act
    * job, one body call per plan partition, each with the Hadoop conf
    * from `conf`.
    */
  def actOn(plan: RDD[Transfer], conf: Broadcast[SerializableConfiguration])(
      body: Configuration => Iterator[Transfer] => Unit): Unit =
    plan.foreachPartition(it => body(conf.value.value)(it))

  /** Small-file compaction — the table-maintenance pass a data lake
    * runs continuously: a directory of many small parquet files is
    * rewritten as ceil(totalBytes / targetBytes) right-sized files.
    * At 100 TB this is what keeps scans from dying of open-file
    * overhead (a 10⁶-file table at 100 KB/file costs 10⁶ S3 GETs and
    * 10⁶ footer parses per query; the same bytes in 128 MB files cost
    * ~800) and keeps each input split a full row group.
    *
    * Shape: output count from FS metadata (one driver listing of the
    * target dir only — no data read), then one distributed
    * read→repartition→write; `repartition` round-robins rows so the
    * output files are uniformly sized regardless of input skew.
    * Returns the output file count.
    */
  def compactParquet(spark: SparkSession, inDir: String, outDir: String,
      targetBytes: Long = 128L << 20): Int = {
    val f = fs(inDir, hadoopConf(spark))
    val totalBytes =
      try {
        // recursive: a partitioned/nested layout (files under key=
        // subdirectories) must size ALL its data files, or nOut
        // collapses to 1 regardless of actual size
        val it = f.listFiles(new Path(inDir), true)
        var sum = 0L
        while (it.hasNext) {
          val st = it.next()
          // Spark's own rule for data files: no `_` or `.` prefix
          // (markers, `.crc` sidecars)
          val name = st.getPath.getName
          if (!name.startsWith("_") && !name.startsWith(".")) sum += st.getLen
        }
        sum
      }
      catch {
        case _: java.io.FileNotFoundException =>
          throw GraftFsError(ErrorCodes.InvalidFilePath,
            s"source path does not exist: $inDir")
      }
      finally f.close()
    val nOut = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    spark.read.parquet(inDir)
      .repartition(nOut)
      .write.mode("overwrite").parquet(outDir)
    nOut
  }

  /** True only for an existing REGULAR FILE — the pre-check for
    * single-file transfers and deletes, where a directory passing a
    * bare exists() probe would still fail downstream with a
    * non-taxonomy error, or be removed.
    */
  def isFile(spark: SparkSession, uri: String, path: String): Boolean = {
    val f = fs(uri, hadoopConf(spark))
    try f.getFileStatus(new Path(path)).isFile
    catch { case _: java.io.FileNotFoundException => false }
    finally f.close()
  }

  /** The move (rename) body — move_file.py:96: one FS handle, parent
    * dirs auto-created, and a failed rename throws the reference's
    * exit-202 taxonomy error (move_file.py:102). Transient errors
    * retry per file; the 202 itself never retries ([[withRetries]]'
    * taxonomy contract).
    */
  def moveFiles(conf: Configuration, uri: String, retries: Int,
      backoffMs: Long)(moves: Iterator[Transfer]): Unit = {
    val f = fs(uri, conf)
    // rename does not make parents; make each one once per call
    val made = scala.collection.mutable.HashSet.empty[Path]
    try moves.foreach { case Transfer(src, dst) =>
      withRetries(retries, backoffMs) { () =>
        val dstPath = new Path(dst)
        val parent = dstPath.getParent
        if (parent != null && !made(parent)) { f.mkdirs(parent); made += parent }
        // some FileSystem impls signal a missing source by exception,
        // others by returning false — both are the reference's exit-202
        val renamed =
          try f.rename(new Path(src), dstPath)
          catch { case _: java.io.FileNotFoundException => false }
        if (!renamed)
          throw GraftFsError(ErrorCodes.MoveError,
            s"could not move $src -> $dst")
      }
    } finally f.close()
  }

  /** The delete body — delete_file.py:76: one FS handle, one
    * non-recursive delete per path.
    */
  def deleteFiles(conf: Configuration, uri: String)(paths: Iterator[String]): Unit = {
    val f = fs(uri, conf)
    try paths.foreach(p => f.delete(new Path(p), false))
    finally f.close()
  }

  /** q60: file manifest of a scale-factor directory, paths relativized
    * for determinism. Rows-only (no portable SQL oracle for fs walks).
    */
  def q60(spark: SparkSession, dir: String): DataFrame =
    listRecursive(spark, s"file:$dir")
      .withColumn("path", regexp_replace(col("path"), lit(s"^$dir/?"), lit("")))
      .filter(col("path") =!= "")
      .orderBy(col("path"))
}

/** Minimal serializable wrapper for a Hadoop Configuration (the
  * standard Spark trick — Configuration itself is not Serializable).
  */
class SerializableConfiguration(@transient var value: Configuration)
    extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}
