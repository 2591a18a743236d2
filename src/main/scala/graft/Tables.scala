package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loads the driver-generated parquet tables from a scale-factor dir.
  *
  * Every operator in graft takes `(SparkSession, sfDir)` and pulls its
  * inputs through here so the scan always goes through the DataFrame
  * reader (predicate/projection pushdown, vectorized parquet).
  *
  * Schema memo: parquet schema inference reads footers in a Spark job,
  * so [[apply]] infers a table's schema once per (session, path,
  * [[versionStamp]], parquet inference confs) and hands it to the reader
  * afterwards — a repeated read starts no job. Rewriting the table
  * changes its stamp and so misses the memo; entries are held by
  * [[SessionCaches]] and evicted with the rest of the session's entries
  * when its SparkContext stops. `events` keeps its own path.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir) else {
      val path = s"$dir/$name.parquet"
      val confs = InferenceConfs.map(spark.conf.getOption(_).orNull).mkString(",")
      val schema = SessionCaches.memo(spark,
          s"schema ${versionStamp(spark, dir, name)} $confs", path) {
        spark.read.parquet(path).schema
      }
      spark.read.schema(schema).parquet(path)
    }

  // session confs the inferred parquet schema depends on
  private val InferenceConfs = Seq("spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp", "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong")

  /** Fan a narrow projection out to full core parallelism before
    * CPU-heavy per-row work (shingling, hashing, tokenization). On a
    * real cluster the scan arrives pre-split (many files / row
    * groups), but a single-row-group file gives Spark exactly one
    * input partition — and then the expensive map work runs on one
    * thread while 31 idle. Only call this on a projection that's
    * already narrow: the shuffle moves just the columns the map needs.
    */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Cheap content-version stamp for `dir/name.parquet`: an
    * order-independent hash of every data file's (name, length,
    * mtime), from one driver-side filesystem LISTING — no data scan,
    * no Spark job. Session-lifetime dispatch caches (q34's corpus
    * size, the IVF cell count) key on this, so REPLACING the data
    * under a dir invalidates them automatically — the same
    * metadata-versioning contract Spark's own FileStatusCache uses.
    * Collision would need a rewrite that preserves every file name,
    * byte length, and ms-mtime — not a practical replace.
    */
  def versionStamp(spark: SparkSession, dir: String, name: String): Long = {
    val path = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(path)) return 0L
    def mix(z0: Long): Long = { // splitmix64 finalizer
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    var acc = 0L
    val it = fs.listFiles(path, true)
    while (it.hasNext) {
      val st = it.next()
      acc ^= mix(st.getPath.getName.hashCode.toLong * 1000003L ^
        st.getLen * 31L ^ st.getModificationTime)
    }
    acc
  }

  /** events.ts is parquet TIMESTAMP(NANOS), which Spark's vectorized
    * reader rejects. Read nanos as long and floor-divide to micros —
    * identical to DuckDB's ns→µs truncation, so oracle compares stay
    * exact.
    */
  private def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$dir/events.parquet")
    // spec-written events tables carry a real TIMESTAMP already —
    // only the driver-generated TIMESTAMP(NANOS) arrives as long
    if (df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      df.withColumn("ts",
        org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts DIV 1000")))
    else df
  }
}
