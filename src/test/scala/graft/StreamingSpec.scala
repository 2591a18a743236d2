package graft

import org.apache.spark.sql.streaming.Trigger
import graft.operators.{Events, Relational}
import graft.streaming.EventStreams

class StreamingSpec extends SparkSpec {

  test("streaming windowed counts match the batch q50 aggregation") {
    val q = EventStreams.windowedCounts(spark, sf).writeStream
      .outputMode("append").format("memory").queryName("win_out")
      .trigger(Trigger.ProcessingTime("1 second")).start()
    try { q.processAllAvailable() } finally q.stop()
    // append mode only emits windows sealed by the watermark; every
    // emitted row must match the batch result exactly
    val got = spark.sql(
      "SELECT hour_start, event_type, n_events, total_value FROM win_out")
      .collect().map(_.toSeq).toSet
    val want = Events.q50(spark, sf)
      .select("hour_start", "event_type", "n_events", "total_value")
      .collect().map(_.toSeq).toSet
    assert(got.nonEmpty, "watermark sealed no windows")
    assert(got.subsetOf(want))
  }

  test("foreachBatch parquet sink lands exactly the emitted windows") {
    val out = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val q = EventStreams.windowedCounts(spark, sf).writeStream
      .outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        // idempotent-per-epoch sink shape: in production the batch id
        // keys an overwrite target (partition/table txn) for
        // exactly-once; append suffices for the single-run assertion
        df.write.mode("append").parquet(out)
      }
      .start()
    try { q.processAllAvailable() } finally q.stop()
    val got = spark.read.parquet(out)
      .select("hour_start", "event_type", "n_events", "total_value")
      .collect().map(_.toSeq).toSet
    val want = Events.q50(spark, sf)
      .select("hour_start", "event_type", "n_events", "total_value")
      .collect().map(_.toSeq).toSet
    assert(got.nonEmpty, "sink received no rows")
    assert(got.subsetOf(want))
  }

  test("streaming anomaly flags sealed windows against the static baseline and catch a planted spike") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 48 quiet hours of 2 events, hour 24 spikes to 50: with mean 3
    // and std sqrt(47) over the 48 baseline hours, the spike z-scores
    // (50-3)/sqrt(47) ≈ 6.9 and every quiet hour ≈ -0.15
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z")
    val rows = (for {
      h <- 0 until 48
      i <- 0 until (if (h == 24) 50 else 2)
    } yield (h * 100L + i,
      java.sql.Timestamp.from(base.plusSeconds(h * 3600L + i * 60L)),
      i.toLong, "click", 1.0)).toSeq
    val tmp = java.nio.file.Files.createTempDirectory("graft_anom").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.parquet(s"$tmp/events.parquet")
    val q = EventStreams.anomalyFlags(spark, tmp).writeStream
      .outputMode("append").format("memory").queryName("anom_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val got = spark.sql(
      "SELECT hour_start, n_events, z, anomaly FROM anom_out").collect()
    assert(got.nonEmpty, "watermark sealed no windows")
    // driver-side recomputation with the same formula and the same
    // exact-integer inputs — doubles must agree bitwise
    val k = 48.0; val s1 = 2.0 * 47 + 50; val s2 = 4.0 * 47 + 2500
    val mean = s1 / k
    val std = math.sqrt(s2 / k - mean * mean)
    got.foreach { r =>
      val n = r.getAs[Long]("n_events").toDouble
      val z = (n - mean) / std
      assert(r.getAs[Double]("z") === z)
      assert(r.getAs[Boolean]("anomaly") === (math.abs(z) > 3))
    }
    // exactly the spike hour is flagged among sealed windows
    val flagged = got.filter(_.getAs[Boolean]("anomaly"))
      .map(_.getAs[java.sql.Timestamp]("hour_start").toInstant)
    assert(flagged.toSeq ===
      Seq(base.plusSeconds(24 * 3600L)), s"flagged: ${flagged.toSeq}")
  }

  test("streaming outlier guardrail flags exactly the planted extremes, stateless, broadcast") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 100 uniform values 0..99 per fence math: p25=24.75, p75=74.25,
    // IQR=49.5 → fences [-49.5, 148.5]; plant 3 extremes outside them
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z")
    val normal = (0 until 100).map(i => (i.toLong,
      java.sql.Timestamp.from(base.plusSeconds(i * 60L)),
      i.toLong, "click", i.toDouble))
    val extremes = Seq(
      (900L, java.sql.Timestamp.from(base.plusSeconds(9000L)), 1L, "click", 1000.0),
      (901L, java.sql.Timestamp.from(base.plusSeconds(9060L)), 2L, "click", -500.0),
      (902L, java.sql.Timestamp.from(base.plusSeconds(9120L)), 3L, "click", 149.0))
    val tmp = java.nio.file.Files.createTempDirectory("graft_guard").toString
    (normal ++ extremes).toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.parquet(s"$tmp/events.parquet")
    val q = EventStreams.outlierFlags(spark, tmp).writeStream
      .outputMode("append").format("memory").queryName("guard_out").start()
    try {
      q.processAllAvailable()
      val plan = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
        s"fences not broadcast:\n$plan")
      // lighter than even the windowed detector: NO state at all
      assert(q.lastProgress.stateOperators.isEmpty ||
        q.lastProgress.stateOperators.forall(_.numRowsTotal == 0L),
        "guardrail must keep no state")
    } finally q.stop()
    val got = spark.sql("SELECT event_id, is_outlier FROM guard_out")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got.size === 103, "per-row verdicts: every event exactly once")
    // exactly the planted extremes flag; 149.0 sits INSIDE the fence
    assert(got.filter(_._2).keySet === Set(900L, 901L))
    // and the whole verdict column equals the batch twin bit-for-bit
    val want = EventStreams.outlierFlagsOn(
        Tables(spark, tmp, "events"), EventStreams.tukeyFences(spark, tmp))
      .collect().map(r => r.getAs[Long]("event_id") ->
        r.getAs[Boolean]("is_outlier")).toMap
    assert(got === want)
  }

  test("streaming dup-span coverage scores arriving docs against the corpus gram sketch") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val corpusDir = java.nio.file.Files.createTempDirectory("graft_dspan_c").toString
    val streamDir = java.nio.file.Files.createTempDirectory("graft_dspan_s").toString
    // corpus: two docs over disjoint vocabularies
    val corpusText = "a1 a2 a3 a4 a5 a6 a7 a8"
    Seq((1L, corpusText, "en", "web"),
        (2L, "b1 b2 b3 b4 b5 b6 b7 b8", "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$corpusDir/documents.parquet")
    // fpp 1e-6 so a false positive can't flake the exact fractions
    val bloom = graft.operators.Curation.corpusGramBloom(spark, corpusDir, 1e-6)
    // arriving: exact clone (coverage 1), novel doc (coverage 0),
    // half-copy — 8 tokens = 4 gram positions, only the first gram
    // ("a1..a5") is fully corpus-resident → coverage 1/4
    Seq((10L, corpusText, "en", "web"),
        (11L, "z1 z2 z3 z4 z5 z6 z7 z8", "en", "web"),
        (12L, "a1 a2 a3 a4 a5 z6 z7 z8", "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$streamDir/documents.parquet")
    val src = graft.streaming.DocStreams.source(spark,
      s"$streamDir/documents.parquet", s"$streamDir/documents*.parquet")
    drainStateless(graft.streaming.DocStreams.dupSpanOn(spark, src, bloom),
      "dspan_out", "dup-span")
    val got = spark.sql(
      "SELECT doc_id, n_grams, dup_grams, dup_frac, flagged FROM dspan_out")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))).toMap
    assert(got(10L) === ((4L, 4L, 1.0, true)), s"clone: ${got(10L)}")
    assert(got(11L) === ((4L, 0L, 0.0, false)), s"novel: ${got(11L)}")
    assert(got(12L) === ((4L, 1L, 0.25, false)), s"half-copy: ${got(12L)}")
  }

  test("streaming cut spans emit the planted duplicated intervals with exact positions, stateless") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val corpusDir = java.nio.file.Files.createTempDirectory("graft_cut_c").toString
    val streamDir = java.nio.file.Files.createTempDirectory("graft_cut_s").toString
    val run = (1 to 14).map(i => s"dup$i").mkString(" ")
    Seq((1L, s"c0 c1 $run c2 c3"),
        (2L, (1 to 30).map(i => s"k$i").mkString(" ")))
      .toDF("doc_id", "text")
      .write.parquet(s"$corpusDir/documents.parquet")
    // fpp 1e-6: spurious islands can't flake the exact positions
    val bloom = graft.operators.Curation.corpusGramBloom(spark, corpusDir, 1e-6)
    Seq(
      // carries the corpus run at token positions 3..16 → one island:
      // duplicated window starts 3..12, end = 12 + 4
      (10L, s"z0 z1 $run z2 z3 z4"),
      // novel text: no island
      (11L, (1 to 25).map(i => s"n$i").mkString(" ")))
      .toDF("doc_id", "text")
      .write.parquet(s"$streamDir/documents.parquet")
    val src = graft.streaming.DocStreams.source(spark,
      s"$streamDir/documents.parquet", s"$streamDir/documents*.parquet")
    drainStateless(graft.streaming.DocStreams.cutSpanOn(spark, src, bloom),
      "cut_out", "cut-span")
    val got = spark.sql(
      "SELECT doc_id, start_pos, end_pos, span_tokens FROM cut_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(got.toSet === Set((10L, 3L, 16L, 14L)),
      s"streamed spans: ${got.toSeq}")
  }

  test("streaming minhash near-dup screen flags corpus clones, passes novel docs, stateless") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val corpusDir = java.nio.file.Files.createTempDirectory("graft_ndup_c").toString
    val streamDir = java.nio.file.Files.createTempDirectory("graft_ndup_s").toString
    val corpusText = (1 to 40).map(i => s"w$i").mkString(" ")
    Seq((1L, corpusText, "en", "web"),
        (2L, (1 to 40).map(i => s"x$i").mkString(" "), "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$corpusDir/documents.parquet")
    // fpp 1e-6: a band false positive can't flake the exact counts
    val bloom = graft.operators.Dedup.bandBucketBloom(spark, corpusDir, 1e-6)
    Seq(
      // exact clone: every band key equals doc 1's → 16/16 hits
      (10L, corpusText, "en", "web"),
      // novel vocabulary: no shingle overlap → 0 hits w.h.p.
      (11L, (1 to 40).map(i => s"z$i").mkString(" "), "en", "web"),
      // two tokens: no shingles → no signature, never flagged
      (12L, "only two", "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$streamDir/documents.parquet")
    val src = graft.streaming.DocStreams.source(spark,
      s"$streamDir/documents.parquet", s"$streamDir/documents*.parquet")
    drainStateless(graft.streaming.DocStreams.nearDupOn(spark, src, bloom),
      "ndup_out", "near-dup")
    val got = spark.sql(
      "SELECT doc_id, n_bands, bands_hit, near_dup FROM ndup_out")
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getBoolean(3))).toMap
    assert(got(10L) === ((16, 16, true)), s"clone: ${got(10L)}")
    assert(got(11L) === ((16, 0, false)), s"novel: ${got(11L)}")
    assert(got(12L) === ((0, 0, false)), s"no-shingle: ${got(12L)}")
  }

  test("streaming BPE tokenize equals batch q98 on the same docs, stateless") {
    import org.apache.spark.sql.functions._
    // nightly artifact: merges trained on the standing corpus
    val merges = graft.operators.Bpe.trainCached(spark, sf, 30)
    val batch = graft.operators.Bpe.q98(spark, sf).collect()
      .map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val src = graft.streaming.DocStreams.source(spark,
      s"$sf/documents.parquet", s"$sf/documents*.parquet")
    drainStateless(graft.operators.Bpe.tokenizeOn(src, merges),
      "tok_out", "tokenize")
    val live = spark.sql(
      "SELECT doc_id, n_words, n_tokens, n_distinct_tokens, " +
        "tokens_per_word FROM tok_out")
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(live.keySet === batch.keySet)
    live.foreach { case (id, row) =>
      assert(row === batch(id), s"doc $id diverges from batch q98")
    }
    assert(live.size > 100, s"only ${live.size} docs compared")
  }

  test("streaming BM25 tagging equals the un-truncated batch scorer bit-for-bit, stateless") {
    import org.apache.spark.sql.functions._
    import graft.operators.Search
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    // nightly artifact: the PERSISTED index is the single source of
    // truth — stats derive from it (round-9; the persistLm → loadLm →
    // scoreOn lifecycle shape), not from a second corpus scan
    val idxDir = java.nio.file.Files
      .createTempDirectory("graft_bmidx_stream").toString + "/bm"
    Search.buildBmIndex(spark, sf, idxDir)
    val stats = Search.bmStatsFromIndex(spark, idxDir)
    // index-derived stats equal the bootstrap corpus-scan form exactly
    assert(stats === Search.bmStatsOf(docs),
      "index-derived BmStats diverge from the corpus-derived form")
    // batch reference WITHOUT top-k truncation: every (doc, query)
    // score the Catalyst expression tree produces
    val batch = Search.bm25On(docs, Search.SearchQueries, Int.MaxValue)
      .collect().map(r => (r.getLong(2), r.getLong(0)) -> r.getDouble(3))
      .toMap
    val src = graft.streaming.DocStreams.source(spark,
      s"$sf/documents.parquet", s"$sf/documents*.parquet")
    drainStateless(graft.streaming.DocStreams.searchOn(spark, src, stats),
      "search_out", "search")
    val live = spark.sql("SELECT query_id, doc_id, score FROM search_out")
      .collect().map(r => (r.getLong(1), r.getLong(0)) -> r.getDouble(2))
      .toMap
    assert(live.keySet === batch.keySet)
    live.foreach { case (k, s) =>
      assert(s === batch(k), s"(doc, query) $k diverges from batch")
    }
    assert(live.size > 500, s"only ${live.size} pairs compared")
  }

  test("streaming dense RAG tagging equals the batch chunk scorer bit-for-bit, stateless") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    // batch reference: the un-truncated chunk × query cosine relation
    val batch = graft.operators.Rag.scoreAllChunks(docs)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getDouble(3))
      .toMap
    val src = graft.streaming.DocStreams.source(spark,
      s"$sf/documents.parquet", s"$sf/documents*.parquet")
    drainStateless(graft.operators.Rag.scoreAllChunks(src),
      "rag_out", "dense tagging")
    val live = spark.sql(
      "SELECT doc_id, chunk_id, query_id, cosine FROM rag_out")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getDouble(3))
      .toMap
    assert(live.keySet === batch.keySet)
    live.foreach { case (k, c) =>
      assert(java.lang.Double.doubleToRawLongBits(c) ===
        java.lang.Double.doubleToRawLongBits(batch(k)),
        s"(doc, chunk, query) $k diverges from batch")
    }
    assert(live.size > 1000, s"only ${live.size} triples compared")
  }

  test("streaming perplexity equals the batch broadcast arm bit-for-bit, stateless") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    // nightly artifact: persist the count table, load it compact
    val lmDir = java.nio.file.Files
      .createTempDirectory("graft_lm").toString
    graft.operators.Perplexity.persistLm(docs, s"$lmDir/lm.parquet")
    val lm = graft.operators.Perplexity.loadLm(spark, s"$lmDir/lm.parquet")
    val batch = graft.operators.Perplexity.perplexityOn(docs, docs)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double]))).toMap
    val src = graft.streaming.DocStreams.source(spark,
      s"$sf/documents.parquet", s"$sf/documents*.parquet")
    drainStateless(graft.operators.Perplexity.scoreOn(src, lm),
      "ppl_out", "perplexity")
    val live = spark.sql("SELECT doc_id, n_scored, ppl FROM ppl_out")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double]))).toMap
    // bit-equal (=== on doubles): the stream runs the broadcast
    // arm's own scoreOn
    assert(live.keySet === batch.keySet)
    live.foreach { case (id, v) =>
      assert(v === batch(id), s"doc $id diverges from batch scoring")
    }
    assert(live.size > 100, s"only ${live.size} docs compared")
  }

  test("streaming quality filter equals the batch apply bit-for-bit, stateless") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // nightly artifact: train, persist, load — the qc_lifecycle path
    val qcDir = java.nio.file.Files
      .createTempDirectory("graft_qc_live").toString
    val trained = graft.operators.QualityFilter.trainQc(docs)
    graft.operators.QualityFilter.persistQc(spark, trained, s"$qcDir/model")
    val model = graft.operators.QualityFilter.loadQc(spark, s"$qcDir/model")
    val batch = graft.operators.QualityFilter.qcOn(docs, model)
      .collect().map(r =>
        r.getLong(0) -> (r.getDouble(1), r.getBoolean(2))).toMap
    val src = graft.streaming.DocStreams.source(spark,
      s"$sf/documents.parquet", s"$sf/documents*.parquet")
    drainStateless(graft.operators.QualityFilter.qcOn(src, model),
      "qc_out", "quality-filter")
    val live = spark.sql("SELECT doc_id, score, kept FROM qc_out")
      .collect().map(r =>
        r.getLong(0) -> (r.getDouble(1), r.getBoolean(2))).toMap
    assert(live.keySet === batch.keySet)
    // bit-equal (=== on doubles): the stream runs the batch qcOn
    live.foreach { case (id, v) =>
      assert(v === batch(id), s"doc $id diverges from batch scoring")
    }
    assert(live.size > 100, s"only ${live.size} docs compared")
  }

  test("streaming dedup-within-watermark keeps every unique event id") {
    val q = EventStreams.dedupedEvents(spark, sf).writeStream
      .outputMode("append").format("memory").queryName("dedup_out").start()
    try { q.processAllAvailable() } finally q.stop()
    val got = spark.sql("SELECT event_id FROM dedup_out").collect()
      .map(_.getLong(0))
    val want = spark.read.parquet(s"$sf/events.parquet")
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(got.length === got.toSet.size, "emitted duplicate ids")
    assert(got.toSet === want)
  }

  test("stream-static enrichment matches the batch join, broadcasts, and keeps no state") {
    val q = EventStreams.enrichedEvents(spark, sf).writeStream
      .outputMode("append").format("memory").queryName("enrich_out").start()
    try {
      q.processAllAvailable()
      // the micro-batch plan must broadcast the dimension — a
      // shuffled stream side would be the wrong shape at scale
      val plan = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
        s"dimension not broadcast:\n$plan")
      // stateless: no stateful operator rows in progress
      assert(q.lastProgress.stateOperators.isEmpty ||
        q.lastProgress.stateOperators.forall(_.numRowsTotal == 0L),
        "enrichment join must keep no state")
    } finally q.stop()
    val got = spark.sql(
      "SELECT event_id, lifetime_purchases, lifetime_value FROM enrich_out")
      .collect().map(_.toSeq).toSet
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    val events = Tables(spark, sf, "events")
    val dim = events.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("lp"),
        sum(col("value").cast(DecimalType(18, 4))).cast("double").as("lv"))
    val want = events.join(dim, Seq("user_id"), "left")
      .select(col("event_id"),
        coalesce(col("lp"), lit(0L)), coalesce(col("lv"), lit(0.0)))
      .collect().map(_.toSeq).toSet
    assert(got === want)
  }

  test("stream-stream interval join matches the batch join") {
    val q = EventStreams.purchaseAttribution(spark, sf).writeStream
      .outputMode("append").format("memory").queryName("attr_out").start()
    try { q.processAllAvailable() } finally q.stop()
    val got = spark.sql(
      "SELECT purchase_id, click_id FROM attr_out")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ev = Tables(spark, sf, "events")
    val want = ev.filter("event_type = 'purchase'")
      .select(org.apache.spark.sql.functions.col("user_id"),
        org.apache.spark.sql.functions.col("ts").as("pts"),
        org.apache.spark.sql.functions.col("event_id").as("pid"))
      .join(ev.filter("event_type = 'click'")
        .selectExpr("user_id AS cu", "ts AS cts", "event_id AS cid"),
        org.apache.spark.sql.functions.expr(
          "user_id = cu AND cts >= pts - INTERVAL 30 MINUTES AND cts <= pts"))
      .select("pid", "cid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.nonEmpty, "batch twin found no pairs")
    assert(got === want)
  }

  test("stateful streaming sessionize emits q18's closed sessions") {
    val q = EventStreams.sessionize(spark, sf).writeStream
      .outputMode("append").format("memory").queryName("sess_out")
      .start()
    try { q.processAllAvailable() } finally q.stop()
    val got = spark.sql(
      "SELECT user_id, n_events, start_us, end_us FROM sess_out")
      .collect().map(_.toSeq).toSet
    val want = Relational.q18(spark, sf)
      .selectExpr("user_id", "n_events", "unix_micros(session_start)",
        "unix_micros(session_end)")
      .collect().map(_.toSeq).toSet
    assert(got.nonEmpty, "no sessions emitted")
    // every emitted (closed) session must exist in the batch result;
    // open/last sessions may be withheld by the watermark
    assert(got.subsetOf(want), s"streaming-only sessions: ${got.diff(want).take(3)}")
  }
}
