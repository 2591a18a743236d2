package graft.sources

import java.net.URI
import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The reference blueprint surface (upload / download / move / delete
  * with exact or regex matching — ftp-blueprints
  * {upload,download,move,delete}_file.py) re-expressed over
  * `org.apache.hadoop.fs.FileSystem`, so one implementation serves
  * file://, hdfs://, s3a://, and graft's own FTP connector, and every
  * bulk operation distributes over Spark executors (one FS connection
  * per partition — 1000 executors ⇒ 1000 parallel transfer streams,
  * no driver bottleneck).
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

  /** Guard: a matching stage that found nothing is exit-200 in the
    * reference (upload_file.py / download_file.py main flow).
    */
  def requireMatches(matched: Seq[String], pattern: String): Seq[String] =
    if (matched.isEmpty) throw noMatches(pattern) else matched

  private def noMatches(pattern: String) =
    GraftFsError(ErrorCodes.NoMatchesFound, s"no files found matching '$pattern'")

  case class FileEntry(path: String, size: Long, mtime: Long, is_dir: Boolean)

  private def fs(uri: String, conf: Configuration): FileSystem = {
    val f = FileSystem.newInstance(new URI(uri), conf)
    // no .crc sidecars from ChecksumFileSystem wrappers (local fs)
    f.setWriteChecksum(false)
    f.setVerifyChecksum(false)
    f
  }

  private def hadoopConf(spark: SparkSession): Configuration =
    spark.sessionState.newHadoopConf()

  /** The session's Hadoop conf, shipped once to every task that reads it. */
  def shipConf(spark: SparkSession): Broadcast[SerializableConfiguration] =
    spark.sparkContext.broadcast(new SerializableConfiguration(hadoopConf(spark)))

  /** Recursive listing — the Spark-shaped twin of the reference's
    * `find_files_in_directory` walk (download_file.py:138). Only the
    * root's direct children are listed on the driver (bounded by the
    * root's fan-out); everything below walks on the executors as an
    * iterative FRONTIER BFS: each level lists exactly one directory
    * depth in parallel, and the directories it discovers are
    * re-distributed as the next level's frontier. Unlike a per-subtree
    * recursive walk, parallelism is never bounded by the ROOT's
    * fan-out — a root with one giant child directory still fans out as
    * soon as that child's children are discovered (and no walk
    * recurses on a task stack, so a 10⁴-deep tree can't overflow it).
    * The result STAYS distributed and is a plain RDD, never
    * `.collect()`ed and no query plan: at 10⁷–10⁸ files it feeds the
    * plan partition-by-partition, and a blueprint step pays no Catalyst
    * planning. Job budget: exactly one Spark job per directory level
    * below the root — it lists the level into its persisted RDD and
    * counts the level's directories, and that count both ends the walk
    * and sizes the next frontier. The level tasks read the Hadoop conf
    * from one broadcast (the caller's `conf`, which must outlive the
    * result). The manifest is unordered; [[unpersist]] frees its levels.
    */
  def walk(spark: SparkSession, rootUri: String): RDD[FileEntry] =
    walk(spark, rootUri, shipConf(spark))

  def walk(spark: SparkSession, rootUri: String,
      conf: Broadcast[SerializableConfiguration]): RDD[FileEntry] = {
    val root = fs(rootUri, conf.value.value)
    val top: Seq[FileStatus] =
      try root.listStatus(new Path(rootUri)).toSeq
      catch {
        case _: java.io.FileNotFoundException =>
          throw GraftFsError(ErrorCodes.InvalidFilePath,
            s"source path does not exist: $rootUri")
      }
      finally root.close()
    val sc = spark.sparkContext
    val width = math.max(1, math.min(64, sc.defaultParallelism))
    val levels = scala.collection.mutable.ArrayBuffer.empty[RDD[(String, FileEntry)]]
    // frontier carries FULL URIs (scheme + authority) so executors can
    // reopen the right FileSystem; FileEntry keeps the bare path
    val dirs = top.filter(_.isDirectory).map(_.getPath.toString)
    var frontier: RDD[String] =
      sc.parallelize(dirs, math.max(1, math.min(dirs.size, 64)))
    var frontierDirs = dirs.size.toLong
    while (frontierDirs > 0) {
      val level = frontier.mapPartitions { paths =>
        paths.flatMap { p =>
          val f = FileSystem.newInstance(new URI(p), conf.value.value)
          try f.listStatus(new Path(p)).map(st => (st.getPath.toString, entry(st)))
          finally f.close()
        }
      }.persist(StorageLevel.MEMORY_AND_DISK)
      levels += level
      val nextDirs = level.filter(_._2.is_dir).map(_._1)
      frontierDirs = nextDirs.count() // this level's one job
      // re-spread across tasks so a single hot directory's children
      // parallelize
      frontier = nextDirs.repartition(
        math.max(1L, math.min(frontierDirs, width.toLong)).toInt)
    }
    sc.union(sc.parallelize(top.map(entry), 1) +: levels.map(_.map(_._2)).toSeq)
  }

  private def entry(st: FileStatus) = FileEntry(st.getPath.toUri.getPath,
    if (st.isDirectory) 0L else st.getLen, st.getModificationTime, st.isDirectory)

  /** Unpersist the nearest persisted RDDs in `rdd`'s lineage: over a
    * [[walk]], exactly its levels.
    */
  def unpersist(rdd: RDD[_]): Unit =
    if (rdd.getStorageLevel != StorageLevel.NONE) rdd.unpersist(blocking = false)
    else rdd.dependencies.foreach(d => unpersist(d.rdd))

  /** [[walk]] as a DataFrame (path, size, mtime, is_dir): the
    * manifest is a DataFrame over the walk's RDDs. Its persisted
    * levels live as long as the DataFrame is reachable; nothing here
    * unpersists them.
    */
  def listRecursive(spark: SparkSession, rootUri: String): DataFrame = {
    import spark.implicits._
    walk(spark, rootUri).toDF()
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

  private def matchDF(manifest: DataFrame, rule: FileEntry => Boolean): DataFrame = {
    import manifest.sparkSession.implicits._
    manifest.as[FileEntry].filter(rule).toDF()
  }

  /** [[matching]] on the basename, over a [[listRecursive]] manifest. */
  def matchBasename(manifest: DataFrame, pattern: String): DataFrame =
    matchDF(manifest, matching(pattern, basename = true))

  /** [[matching]] on the full path, over a [[listRecursive]] manifest. */
  def matchFullPath(manifest: DataFrame, pattern: String): DataFrame =
    matchDF(manifest, matching(pattern, basename = false))

  /** Transfer spec: one source file → one destination path. */
  case class Transfer(src: String, dst: String)

  /** Plan destination names for a set of matched sources: explicit
    * destination name is enumerated `name_N.ext` on multi-match
    * (upload_file.py:242-253), otherwise each source keeps its
    * basename under the destination folder.
    */
  def planTransfers(
      sources: Seq[String],
      destinationFolder: String,
      destinationFileName: Option[String]): Seq[Transfer] = {
    val multi = sources.lengthCompare(1) > 0
    sources.zipWithIndex.map { case (src, i) =>
      Transfer(src, PathUtils.determineDestinationFullPath(
        destinationFolder, destinationFileName, src,
        if (multi && destinationFileName.isDefined) Some(i + 1) else None))
    }
  }

  /** The blueprints' transfer plan over the matched paths, in a
    * fixed number of Spark jobs whatever the match count; the matched
    * paths never collect to the driver. Exit-200 when nothing matched.
    *
    * With an explicit destination name every file is numbered
    * `name_N.ext` by its GLOBAL PATH-SORTED rank in Spark's string
    * order (binary UTF-8, which is code point order, not Java's UTF-16
    * `compareTo`). Two jobs: the range partitioner's sample, then one
    * count per sorted partition, from which the driver derives each
    * partition's rank offset and the match total. With `enumerateAll`
    * (upload/download regex semantics, upload_file.py:242-253) every
    * match is numbered, otherwise (move, move_file.py:168-173) only
    * when more than one matched. Without a name each source keeps its
    * basename, so order is irrelevant: one count job, then a
    * round-robin spread.
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
        (paths.repartition(math.max(1L, math.min(total, width.toLong)).toInt)
          .map(p => Transfer(p,
            PathUtils.determineDestinationFullPath(folder, None, p))), total)
      case some =>
        implicit val utf8Order: Ordering[Array[Byte]] =
          (x, y) => java.util.Arrays.compareUnsigned(x, y)
        val sorted = paths.map(p => (p.getBytes(StandardCharsets.UTF_8), p))
          .sortByKey(numPartitions = width)
        val offsets = sorted.mapPartitions(it => Iterator(it.size.toLong))
          .collect().scanLeft(0L)(_ + _)
        val total = offsets.last
        val numbered = enumerateAll || total > 1
        (sorted.mapPartitionsWithIndex { (i, it) =>
          it.zipWithIndex.map { case ((_, p), j) =>
            Transfer(p, PathUtils.determineDestinationFullPath(folder, some,
              p, if (numbered) Some((offsets(i) + j + 1).toInt) else None))
          }
        }, total)
    }
  }

  /** Retry a transient-failure-prone action up to `attempts` extra
    * times with exponential backoff (backoffMs, 2×, 4×, …). Typed
    * [[GraftFsError]]s are NEVER retried — the reference's taxonomy
    * codes (bad credentials, no matches, bad paths) are deterministic
    * job outcomes, not network weather; retrying them would only
    * delay the correct exit code. The production transfer-job twin of
    * the blueprint CLIs' `--retries/--backoff-ms` flags.
    */
  /** Ceiling for one backoff sleep: the doubling stops here, so a
    * large --retries keeps retrying at 30 s intervals instead of
    * overflowing the shift (backoffMs << 54 goes negative and
    * Thread.sleep throws) or sleeping for days.
    */
  val MaxBackoffMs = 30000L

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

  /** Distributed bulk copy between any two Hadoop filesystems: the
    * transfer list is partitioned across executors; each partition
    * opens one source FS + one destination FS and streams bytes.
    * `dstUriPrefix` anchors relative destinations (e.g.
    * "file:/tmp/out" or "gftp://host:21").
    *
    * `retries` re-runs an individual FILE's copy on transient errors
    * (fresh source/destination streams each attempt; `create`
    * overwrites, so a half-written destination is replaced, making
    * per-file retry idempotent). The FS handles are per-partition; a
    * connection-level failure surfaces on the next stream open and is
    * retried the same way.
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
  def bulkCopy(
      spark: SparkSession,
      transfers: Seq[Transfer],
      srcUriPrefix: String,
      dstUriPrefix: String,
      parallelism: Int = 32,
      retries: Int = 0,
      backoffMs: Long = 1000L,
      resume: Boolean = false): Unit =
    if (transfers.nonEmpty)
      bulkCopy(spark, spark.sparkContext.parallelize(transfers,
        math.min(transfers.size, parallelism)), srcUriPrefix, dstUriPrefix,
        retries, backoffMs, resume)

  /** [[bulkCopy]] over a distributed plan ([[planMatched]]): one act
    * job, one task per plan partition.
    */
  def bulkCopy(spark: SparkSession, plan: RDD[Transfer],
      srcUriPrefix: String, dstUriPrefix: String, retries: Int,
      backoffMs: Long, resume: Boolean): Unit =
    withConf(spark)(conf => plan.foreachPartition(copyPartition(conf,
      srcUriPrefix, dstUriPrefix, retries, backoffMs, resume)))

  /** One act job over a conf broadcast, destroyed when the job ends. */
  private def withConf(spark: SparkSession)(
      job: Broadcast[SerializableConfiguration] => Unit): Unit = {
    val conf = shipConf(spark)
    try job(conf) finally conf.destroy()
  }

  /** One executor partition of a bulk copy: one source FS + one
    * destination FS, streamed byte copies with per-file retry/resume.
    * No per-file parent probe: `create` makes missing parents (the
    * Hadoop FileSystem contract, which the FTP/SFTP adapters honour on
    * the connection that writes the file).
    */
  private def copyPartition(
      conf: Broadcast[SerializableConfiguration],
      srcUriPrefix: String,
      dstUriPrefix: String,
      retries: Int,
      backoffMs: Long,
      resume: Boolean)(it: Iterator[Transfer]): Unit = if (it.hasNext) {
        // a bare-scheme prefix ("file:") needs a root path to be a URI
        def asUri(p: String) = new URI(if (p.endsWith(":")) p + "/" else p)
        val sfs = FileSystem.newInstance(asUri(srcUriPrefix), conf.value.value)
        val dfs = FileSystem.newInstance(asUri(dstUriPrefix), conf.value.value)
        sfs.setVerifyChecksum(false)
        dfs.setWriteChecksum(false)
        try it.foreach { t =>
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
                // ChecksumFileSystem (local) can't append; its raw fs can
                val afs = dfs match {
                  case c: org.apache.hadoop.fs.ChecksumFileSystem =>
                    c.getRawFileSystem
                  case f => f
                }
                val out = afs.append(dst)
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
          if (!st.getPath.getName.startsWith("_")) sum += st.getLen
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

  /** Existence probe through any registered FS (driver-side, one
    * metadata call — the CLI twins' pre-check for single-file ops).
    */
  def exists(spark: SparkSession, uri: String, path: String): Boolean = {
    val f = fs(uri, hadoopConf(spark))
    try f.exists(new Path(path)) finally f.close()
  }

  /** True only for an existing REGULAR FILE — the pre-check for
    * single-file transfers, where a directory passing a bare exists()
    * probe would still fail downstream with a non-taxonomy error.
    */
  def isFile(spark: SparkSession, uri: String, path: String): Boolean = {
    val f = fs(uri, hadoopConf(spark))
    try f.getFileStatus(new Path(path)).isFile
    catch { case _: java.io.FileNotFoundException => false }
    finally f.close()
  }

  /** Single-file move (rename) — move_file.py:96; a failed rename is
    * the reference's exit-202 condition (move_file.py:102).
    */
  def move(spark: SparkSession, uri: String, src: String, dst: String): Boolean = {
    val f = fs(uri, hadoopConf(spark))
    try {
      val dstPath = new Path(dst)
      val parent = dstPath.getParent
      if (parent != null && !f.exists(parent)) f.mkdirs(parent)
      // some FileSystem impls signal a missing source by exception,
      // others by returning false — both are the reference's exit-202
      val renamed =
        try f.rename(new Path(src), dstPath)
        catch { case _: java.io.FileNotFoundException => false }
      if (!renamed)
        throw GraftFsError(ErrorCodes.MoveError,
          s"could not move $src -> $dst")
      true
    } finally f.close()
  }

  /** Distributed bulk move (rename) over a (src, dst) plan — the
    * manifest path for the Move blueprint's regex flow: one FS handle
    * per partition, parent dirs auto-created (move_file.py:96), a
    * failed rename throws the reference's exit-202 taxonomy error
    * (surfaces through the Spark job to the CLI shell). Transient
    * errors retry per file; the 202 itself never retries
    * ([[withRetries]]' taxonomy contract).
    */
  def bulkMove(spark: SparkSession, uri: String, moves: RDD[Transfer],
      retries: Int = 0, backoffMs: Long = 1000L): Unit =
    withConf(spark)(conf => moves.foreachPartition { it =>
      val f = FileSystem.newInstance(new URI(uri), conf.value.value)
      // rename does not make parents; make each one once per partition
      val made = scala.collection.mutable.HashSet.empty[Path]
      try it.foreach { case Transfer(src, dst) =>
        withRetries(retries, backoffMs) { () =>
          val dstPath = new Path(dst)
          val parent = dstPath.getParent
          if (parent != null && !made(parent)) { f.mkdirs(parent); made += parent }
          val renamed =
            try f.rename(new Path(src), dstPath)
            catch { case _: java.io.FileNotFoundException => false }
          if (!renamed)
            throw GraftFsError(ErrorCodes.MoveError,
              s"could not move $src -> $dst")
        }
      } finally f.close()
    })

  /** Bulk delete, distributed — delete_file.py:76. */
  def bulkDelete(spark: SparkSession, uri: String, paths: Seq[String],
      parallelism: Int = 32): Unit =
    if (paths.nonEmpty)
      bulkDelete(spark, uri,
        spark.sparkContext.parallelize(paths, math.min(paths.size, parallelism)))

  /** [[bulkDelete]] over distributed paths: one job, one FS handle per
    * partition.
    */
  def bulkDelete(spark: SparkSession, uri: String, paths: RDD[String]): Unit =
    withConf(spark)(conf => paths.foreachPartition { it =>
      val f = FileSystem.newInstance(new URI(uri), conf.value.value)
      f.setWriteChecksum(false); f.setVerifyChecksum(false)
      try it.foreach(p => f.delete(new Path(p), false))
      finally f.close()
    })

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
