package graft

import org.apache.spark.sql.functions._
import graft.operators.Bpe

class BpeSpec extends SparkSpec {

  test("distributed BPE training is bit-equal to the single-machine reference") {
    val got = Bpe.q97(spark, sf).collect().map { r =>
      (r.getAs[Long]("rank"), r.getAs[String]("left"),
        r.getAs[String]("right"), r.getAs[String]("merged"),
        r.getAs[Long]("pair_count"))
    }.toSeq
    assert(got.nonEmpty)
    // reference: same word-frequency table, no Spark anywhere
    val wordFreq = Tables(spark, sf, "documents")
      .select(explode(split(trim(col("text")), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("f"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = Bpe.referenceTrain(wordFreq, 30)
    assert(got === want, "distributed merges diverged from reference")
    // merges actually compose: later rounds must merge multi-char
    // symbols built by earlier rounds
    assert(got.exists { case (_, l, r, _, _) =>
      (l.length > 1 && l != Bpe.Eow) || (r.length > 1 && r != Bpe.Eow)
    }, "no merge ever consumed a previously-merged symbol")
    // ranks are 0..n-1 and counts never increase out of order wildly
    assert(got.map(_._1) === got.indices.map(_.toLong))
  }

  test("1000 merges: incremental local trainer is bit-equal to the from-scratch " +
      "reference and the forced-distributed loop, in bounded wall-clock") {
    import spark.implicits._
    val wordFreq = Tables(spark, sf, "documents")
      .select(explode(split(trim(col("text")), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("f"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val symSeqs = wordFreq.toSeq.map { case (w, f) =>
      ((w.map(_.toString): Seq[String]) :+ Bpe.Eow, f)
    }
    // the realistic-vocab path: 1000 merges in-process — NOT 1000
    // sequential Spark jobs — over the vocab-sized table
    val nBig = 1000
    val t0 = System.nanoTime()
    val local = Bpe.localTrain(symSeqs, nBig)
    val localSecs = (System.nanoTime() - t0) / 1e9
    info(f"local training: ${local.size} merges in $localSecs%.2f s")
    assert(localSecs < 60.0, f"local merge loop took $localSecs%.1f s")
    // bit-equal to the O(rounds × vocab) from-scratch reference —
    // this is what makes the incremental pair-count/posting
    // bookkeeping (including reappearing pairs) trustworthy
    val ref = Bpe.referenceTrain(wordFreq, nBig)
    assert(local.size === ref.size)
    assert(local === ref, "incremental local trainer diverged from reference")
    // and the distributed per-round loop (forced, below the dispatch)
    // learns the same prefix of the merge sequence
    val ds = spark.createDataset(symSeqs)
    assert(Bpe.trainDistributed(ds, 40) === ref.take(40),
      "distributed loop diverged from the local path")
  }

  test("32k merges (production vocabulary scale): bounded wall-clock, stable 1k prefix, " +
      "reference-equal head, table round-trips through the tokenizer") {
    // synthetic Zipf vocabulary with enough symbol mass to sustain a
    // production-scale merge count (measured yield on random text is
    // ~0.45 merges per symbol; 12k words × ~9.5 chars ≈ 114k symbols
    // ⇒ ~51k sustainable merges, comfortably > 32k)
    val rng = new scala.util.Random(13)
    val letters = "abcdefghijklmnopqrstuvwxyz"
    val vocab: Map[String, Long] = (0 until 12000).map { i =>
      val len = 7 + rng.nextInt(6)
      val w = (0 until len).map(_ => letters(rng.nextInt(26))).mkString
      w -> math.max(1L, 10000L / (i + 1))
    }.toMap
    val symSeqs = vocab.toSeq.map { case (w, f) =>
      ((w.map(_.toString): Seq[String]) :+ Bpe.Eow, f)
    }
    val n = 32000
    val t0 = System.nanoTime()
    val table = Bpe.localTrain(symSeqs, n)
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"32k-merge training: ${table.size} merges in $secs%.1f s")
    assert(table.size === n,
      s"vocabulary exhausted at ${table.size} of $n merges")
    assert(secs < 300.0, f"merge loop took $secs%.1f s")
    // ranks are a contiguous 0.. sequence and merges are unique
    assert(table.map(_._1) === (0L until n.toLong))
    assert(table.map(t => (t._2, t._3)).distinct.size === n,
      "a pair was merged twice")
    // prefix stability: deeper training never rewrites the head —
    // this is what makes incremental pair-count bookkeeping
    // trustworthy at production depth
    assert(Bpe.localTrain(symSeqs, 1000) === table.take(1000))
    // head bit-equal to the O(rounds×vocab) from-scratch reference
    assert(Bpe.referenceTrain(vocab, 200) === table.take(200))
    // the 32k-entry table round-trips through the tokenizer over a
    // document stream: losslessness and count consistency on docs
    // drawn from the trained vocabulary
    import spark.implicits._
    val sample = vocab.keys.toSeq.sorted.take(60)
    val streamDir = java.nio.file.Files.createTempDirectory("graft_bpe32k").toString
    sample.grouped(12).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
      .toSeq.toDF("doc_id", "text")
      .write.parquet(s"$streamDir/documents.parquet")
    val src = graft.streaming.DocStreams.source(spark,
      s"$streamDir/documents.parquet", s"$streamDir/documents*.parquet")
    drainStateless(Bpe.tokenizeOn(src, table), "tok32k_out", "tokenize")
    val toked = spark.sql("SELECT doc_id, n_words, n_tokens FROM tok32k_out")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2))).toMap
    sample.grouped(12).zipWithIndex.foreach { case (ws, i) =>
      val (nWords, nTok) = toked(i.toLong)
      assert(nWords === ws.length)
      val direct = ws.map(w => Bpe.encodeWord(w, table)).toSeq
      assert(nTok === direct.map(_.length.toLong).sum)
      // lossless: tokens concatenate back to the word + sentinel
      ws.zip(direct).foreach { case (w, toks) =>
        assert(toks.mkString === w + Bpe.Eow)
      }
    }
  }

  /** Independent greedy encoder: repeatedly merge the lowest-rank
    * adjacent pair present — the textbook BPE inference formulation,
    * structurally different from encodeWord's rank-order sweep.
    */
  private def greedyEncode(word: String,
      ranks: Map[(String, String), (Long, String)]): Seq[String] = {
    var syms: Vector[String] = word.map(_.toString).toVector :+ Bpe.Eow
    var done = false
    while (!done && syms.length > 1) {
      val best = syms.sliding(2).zipWithIndex
        .flatMap { case (p, i) =>
          ranks.get((p(0), p(1))).map { case (rk, m) => (rk, i, m) } }
        .minByOption(t => (t._1, t._2))
      best match {
        case Some((_, i, m)) =>
          syms = (syms.take(i) :+ m) ++ syms.drop(i + 2)
        case None => done = true
      }
    }
    syms
  }

  test("q98 encoding is lossless, memo-consistent, and equals the greedy lowest-rank encoder") {
    val merges = Bpe.trainCached(spark, sf, 30)
    val ranks = merges.map { case (rk, l, r, m, _) => (l, r) -> (rk, m) }.toMap
    // every corpus word: rank-order sweep == greedy lowest-rank, and
    // concatenating tokens reproduces word + sentinel (losslessness)
    val words = Tables(spark, sf, "documents")
      .select(explode(split(trim(col("text")), "\\s+")).as("w"))
      .filter(length(col("w")) > 0).distinct()
      .collect().map(_.getString(0))
    assert(words.nonEmpty)
    words.foreach { w =>
      val enc = Bpe.encodeWord(w, merges)
      assert(enc.mkString("") === w + Bpe.Eow, s"lossy encode of '$w'")
      assert(enc === greedyEncode(w, ranks),
        s"rank-order and greedy encodings diverge on '$w'")
    }
    // per-doc stats agree with a driver-side recount
    val rows = Bpe.q98(spark, sf).collect()
    assert(rows.nonEmpty)
    val texts = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { r =>
      val ws = texts(r.getAs[Long]("doc_id")).trim
        .split("\\s+").filter(_.nonEmpty)
      val toks = ws.flatMap(w => Bpe.encodeWord(w, merges))
      assert(r.getAs[Long]("n_words") === ws.length.toLong)
      assert(r.getAs[Long]("n_tokens") === toks.length.toLong)
      assert(r.getAs[Long]("n_distinct_tokens") === toks.distinct.length.toLong)
      assert(r.getAs[Double]("tokens_per_word") ===
        toks.length.toDouble / ws.length)
    }
    // the vocabulary must actually compress: fewer tokens than chars
    val totTok = rows.map(_.getAs[Long]("n_tokens")).sum
    val totChar = texts.values.map(_.count(!_.isWhitespace).toLong).sum
    assert(totTok < totChar, "BPE vocabulary bought no compression")
  }
}
