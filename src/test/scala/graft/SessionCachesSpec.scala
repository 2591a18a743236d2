package graft

/** The session-cache registry's contracts: stable UUID keys per live
  * session, eviction + temp sweeping on context stop, the
  * build-seconds ledger the bench's honest accounting reads, and the
  * pin rule every cache fill materializes its relation by.
  */
class SessionCachesSpec extends SparkSpec {

  test("getOrBuild: one build per (session, kind, dir); ledger accrues per dir") {
    var builds = 0
    val dir = s"/spec/dir/${java.util.UUID.randomUUID()}"
    def get() = SessionCaches.getOrBuild(spark, "spec-kind", dir) {
      builds += 1; Thread.sleep(5); java.lang.Integer.valueOf(builds)
    }
    val a = get(); val b = get()
    assert(builds === 1 && (a eq b), "build ran more than once")
    val ledger0 = SessionCaches.buildSecondsFor(dir)
    assert(ledger0 > 0.0, "build seconds not recorded")
    // a DIFFERENT session (same context) builds its own entry and
    // accrues more ledger for the same dir
    val other = spark.newSession()
    SessionCaches.getOrBuild(other, "spec-kind", dir) {
      builds += 1; Thread.sleep(5); java.lang.Integer.valueOf(builds)
    }
    assert(builds === 2, "sessions must not share entries")
    assert(SessionCaches.buildSecondsFor(dir) > ledger0)
    // unrelated dir: zero
    assert(SessionCaches.buildSecondsFor(dir + "-none") === 0.0)
  }

  test("evictContext: entries dropped, registered temps deleted from disk") {
    val dir = s"/spec/dir/${java.util.UUID.randomUUID()}"
    var builds = 0
    def get() = SessionCaches.getOrBuild(spark, "spec-evict", dir) {
      builds += 1; java.lang.Integer.valueOf(builds)
    }
    get()
    val tmp = java.nio.file.Files.createTempDirectory("graft-spec-temp")
    java.nio.file.Files.writeString(tmp.resolve("part-0"), "x")
    SessionCaches.registerTemp(spark, tmp.toString)
    // evicting the session's context clears the entry (a re-get
    // rebuilds) and sweeps the temp dir recursively
    SessionCaches.evictContext(spark.sparkContext)
    assert(!java.nio.file.Files.exists(tmp), "temp dir not swept")
    get()
    assert(builds === 2, "entry survived eviction")
    // eviction is per-context: evicting a FOREIGN context (the null
    // sentinel — no entry is owned by it) must not touch the rebuilt
    // entry (round 14 — this block used to just re-run get() without
    // any foreign eviction, leaving the scoping contract untested)
    SessionCaches.evictContext(null)
    get()
    assert(builds === 2, "foreign eviction dropped another context's entry")
  }

  test("getOrBuild: build runs outside the map lock — a slow build blocks neither an unrelated key nor a nested getOrBuild") {
    val dir = s"/spec/dir/${java.util.UUID.randomUUID()}"
    // nested: a build that itself calls getOrBuild for ANOTHER key
    // (the old computeIfAbsent risked IllegalStateException
    // "recursive update" when the keys hashed to one bin)
    val outer = SessionCaches.getOrBuild(spark, "spec-outer", dir) {
      val inner = SessionCaches.getOrBuild(spark, "spec-inner", dir) {
        java.lang.Integer.valueOf(7)
      }
      java.lang.Integer.valueOf(inner.intValue() + 1)
    }
    assert(outer.intValue() === 8)
    // concurrent: thread A holds a build open on key A; key B must
    // complete while A is still building (bounded wait, not forever)
    val started = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val a = new Thread(() => {
      SessionCaches.getOrBuild(spark, "spec-slow", dir) {
        started.countDown()
        release.await(30, java.util.concurrent.TimeUnit.SECONDS)
        java.lang.Integer.valueOf(1)
      }: Unit
    })
    a.start()
    assert(started.await(10, java.util.concurrent.TimeUnit.SECONDS))
    try {
      val done = new java.util.concurrent.CountDownLatch(1)
      val b = new Thread(() => {
        SessionCaches.getOrBuild(spark, "spec-fast", dir) {
          java.lang.Integer.valueOf(2)
        }
        done.countDown()
      })
      b.start()
      assert(done.await(10, java.util.concurrent.TimeUnit.SECONDS),
        "an unrelated key blocked behind a slow build")
    } finally { release.countDown(); a.join(30000) }
  }

  test("getOrBuild: a throwing build is retried by the next caller") {
    val dir = s"/spec/dir/${java.util.UUID.randomUUID()}"
    var attempts = 0
    def get() = SessionCaches.getOrBuild(spark, "spec-throw", dir) {
      attempts += 1
      if (attempts == 1) sys.error("first build dies")
      java.lang.Integer.valueOf(attempts)
    }
    intercept[RuntimeException] { get() }
    assert(get().intValue() === 2, "failed build poisoned the entry")
    assert(get().intValue() === 2, "retry was not cached")
  }

  test("pin rule: a checkpoint at the default bound; at bound 0 a parquet temp with the same rows, swept on context stop") {
    // the one keep-or-spill branch every cache fill (tri, wsym,
    // ccLabels, verdicts, tiers-N) goes through; the fills run far
    // below the default bound, so this is where the spill arm is run
    import spark.implicits._
    val df = (1L to 500L).map(i => (i, i * 7 % 13)).toDF("k", "v")
    def plan(d: org.apache.spark.sql.DataFrame) = d.queryExecution.executedPlan.toString
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect().map(_.toSeq).toSet
    val (held, n) = SessionCaches.pinCounted(df, "spec-pin")
    assert(n === 500L)
    assert(plan(held).contains("ExistingRDD") && !plan(held).contains("FileScan parquet"),
      s"default bound did not keep the checkpoint:\n${plan(held)}")
    val base = java.nio.file.Files.createTempDirectory("graft-spec-pin")
    def temps() = Option(base.toFile.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("graft-spec-pin-"))
    spark.conf.set("graft.tmpDir", base.toString)
    try {
      val (spilled, m) = SessionCaches.pinCounted(df, "spec-pin", bound = 0L)
      val byRows = SessionCaches.pinByRows(df, 500L, "spec-pin", bound = 0L)
      assert(m === 500L)
      for (d <- Seq(spilled, byRows)) {
        assert(plan(d).contains("FileScan parquet"),
          s"bound 0 did not read back a parquet temp:\n${plan(d)}")
        assert(rows(d) === rows(held))
      }
      assert(temps().size === 2, s"temps: ${temps().mkString(", ")}")
    } finally spark.conf.unset("graft.tmpDir")
    SessionCaches.evictContext(spark.sparkContext)
    assert(temps().isEmpty, s"temps not swept: ${temps().mkString(", ")}")
    base.toFile.delete(): Unit
  }
}
