package graft

import org.apache.spark.sql.functions._

import graft.operators.LangId

/** The trained lang-id lifecycle: planted exactness against an
  * INDEPENDENT brute-force NB (own normalization, own log
  * arithmetic), bit-identical retrain and persist/load round-trip,
  * stream == batch, and the production claim — the trained model
  * beats both the q22 fixed heuristic and the majority class on the
  * corpus it trained on.
  */
class LangIdSpec extends SparkSpec {

  /** Brute-force reference NB, written independently of the operator:
    * returns (langs sorted, per-doc scores by lang) for a corpus of
    * (id, lang, text), with the same Laplace/fixed-point definitions.
    */
  private def bruteScores(corpus: Seq[(Long, String, String)],
      topGrams: Int = LangId.TopGrams)
      : (Seq[String], Map[Long, Map[String, Long]]) = {
    def gramsOf(t: String): Seq[String] = {
      val s = t.toLowerCase.trim.replaceAll("\\s+", " ")
      if (s.isEmpty) Seq.empty
      else if (s.length < 3) Seq(s)
      else (0 to s.length - 3).map(i => s.substring(i, i + 3))
    }
    val langs = corpus.map(_._2).distinct.sorted
    val counts = scala.collection.mutable.Map
      .empty[(String, String), Long].withDefaultValue(0L)
    corpus.foreach { case (_, l, t) =>
      gramsOf(t).foreach(g => counts((l, g)) += 1) }
    val v = counts.keys.map(_._2).toSet.size.toLong
    val tot = langs.map(l =>
      l -> counts.collect { case ((ll, _), c) if ll == l => c }.sum).toMap
    val nd = corpus.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    def sc(x: Double) = math.floor(1e6 * x).toLong
    // per-lang top-K model grams by (count desc, gram asc)
    val kept: Map[String, Set[String]] = langs.map { l =>
      l -> counts.collect { case ((ll, g), c) if ll == l => (g, c) }
        .toSeq.sortBy { case (g, c) => (-c, g) }.take(topGrams)
        .map(_._1).toSet
    }.toMap
    // a gram is IN the model if any lang kept it; langs that did not
    // keep it score their unseen floor for it
    val modelGrams = kept.values.flatten.toSet
    val unseen = langs.map(l =>
      l -> sc(-StrictMath.log((tot(l) + v).toDouble))).toMap
    val prior = langs.map(l =>
      l -> sc(StrictMath.log(nd(l).toDouble / corpus.size.toDouble))).toMap
    def weight(l: String, g: String): Long =
      if (modelGrams(g) && kept(l)(g))
        sc(StrictMath.log((counts((l, g)) + 1).toDouble) -
          StrictMath.log((tot(l) + v).toDouble))
      else unseen(l)
    val scores = corpus.map { case (id, _, t) =>
      id -> langs.map { l =>
        l -> (prior(l) + gramsOf(t).groupBy(identity).map {
          case (g, os) => os.size.toLong * weight(l, g) }.sum)
      }.toMap
    }.toMap
    (langs, scores)
  }

  private def writeDocs(corpus: Seq[(Long, String, String)]): String = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_lid").toString
    corpus.toDF("doc_id", "lang", "text")
      .withColumn("source", lit("s")).withColumn("n_chars", length(col("text")))
      .write.parquet(s"$tmp/documents.parquet")
    tmp
  }

  test("planted corpus: engine predictions and margins equal an independent brute-force NB; disjoint alphabets classify perfectly") {
    // two languages with disjoint character inventories plus one with
    // overlap, so both the clean-separation and the tie-machinery
    // paths run
    val corpus = Seq(
      (1L, "aa", "abba abab baab abba"),
      (2L, "aa", "abab abba bbaa"),
      (3L, "aa", "baba abba abab baba"),
      (4L, "zz", "zyzzy zzyz yzzy zyzy"),
      (5L, "zz", "yzyz zyzz zzyy"),
      (6L, "mm", "abba zyzy mxm abab"),
      (7L, "mm", "mxm wvw abba zzyz"))
    val tmp = writeDocs(corpus)
    val model = LangId.trainLangId(Tables(spark, tmp, "documents"))
    val got = LangId.langIdOn(Tables(spark, tmp, "documents"), model)
      .collect().map(r => r.getLong(0) ->
        (r.getString(2), r.getInt(3), r.getLong(4))).toMap
    val (langs, ref) = bruteScores(corpus)
    assert(model.langs.toSeq === langs)
    corpus.foreach { case (id, lang, _) =>
      val scores = ref(id)
      val best = langs.minBy(l => (-scores(l), l))
      val margin =
        scores(best) - (scores - best).values.max
      assert(got(id)._1 === best, s"doc $id pred")
      assert(got(id)._3 === margin, s"doc $id margin")
      assert(got(id)._2 === (if (best == lang) 1 else 0))
    }
    // the disjoint-alphabet docs classify perfectly with real margin
    Seq(1L, 2L, 3L).foreach(id => assert(got(id)._1 === "aa"))
    Seq(4L, 5L).foreach(id => assert(got(id)._1 === "zz"))
    (1L to 5L).foreach(id => assert(got(id)._3 > 0L))
    // unlabelled docs (no `lang` column) score the same, with `lang`
    // and `correct` null
    val unlabelled = LangId.langIdOn(
        Tables(spark, tmp, "documents").drop("lang"), model)
      .collect().map(r => r.getLong(0) ->
        (r.isNullAt(1), r.getString(2), r.isNullAt(3), r.getLong(4))).toMap
    assert(unlabelled.keySet === got.keySet)
    got.foreach { case (id, (pred, _, margin)) =>
      assert(unlabelled(id) === ((true, pred, true, margin)), s"doc $id unlabelled")
    }
  }

  test("retrain is bit-identical; persist/load round-trips the exact model; predictions unchanged") {
    val docs = Tables(spark, sf, "documents")
    val a = LangId.trainLangId(docs)
    val b = LangId.trainLangId(docs)
    assert(a.langs.toSeq === b.langs.toSeq)
    assert(a.prior.toSeq === b.prior.toSeq)
    assert(a.unseen.toSeq === b.unseen.toSeq)
    assert(a.grams.keySet === b.grams.keySet)
    a.grams.foreach { case (g, ws) =>
      assert(ws.toSeq === b.grams(g).toSeq, s"gram $g") }
    val dir = java.nio.file.Files.createTempDirectory("graft_lidp").toString
    LangId.persistLangId(spark, a, s"$dir/model")
    val c = LangId.loadLangId(spark, s"$dir/model")
    assert(c.langs.toSeq === a.langs.toSeq)
    assert(c.prior.toSeq === a.prior.toSeq)
    assert(c.unseen.toSeq === a.unseen.toSeq)
    assert(c.grams.keySet === a.grams.keySet)
    c.grams.foreach { case (g, ws) =>
      assert(ws.toSeq === a.grams(g).toSeq, s"gram $g") }
    val pa = LangId.langIdOn(docs, a).collect().map(_.toSeq).toSeq
    val pc = LangId.langIdOn(docs, c).collect().map(_.toSeq).toSeq
    assert(pa === pc)
  }

  test("streaming lang-id equals the batch apply bit-for-bit, stateless") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft_lids").toString
    LangId.persistLangId(spark, LangId.trainLangId(docs), s"$dir/model")
    val model = LangId.loadLangId(spark, s"$dir/model")
    val batch = LangId.langIdOn(docs, model).collect()
      .map(r => r.getLong(0) -> (r.getString(2), r.getLong(4))).toMap
    val src = graft.streaming.DocStreams.source(spark,
      s"$sf/documents.parquet", s"$sf/documents*.parquet")
    drainStateless(LangId.langIdOn(src, model), "lid_out", "lang-id")
    val live = spark.sql("SELECT doc_id, pred_lang, margin FROM lid_out")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2))).toMap
    assert(live.keySet === batch.keySet)
    live.foreach { case (id, v) =>
      assert(v === batch(id), s"doc $id diverges from batch") }
  }

  test("the trained model beats the q22 fixed heuristic and the majority class on its training corpus") {
    val rows = LangId.q134(spark, sf).collect()
    val acc = rows.map(_.getInt(3)).sum.toDouble / rows.length
    val q22acc = graft.operators.TextAnalysis.q22(spark, sf)
      .agg(avg("correct")).collect().head.getDouble(0)
    val majority = rows.groupBy(_.getString(1))
      .values.map(_.length).max.toDouble / rows.length
    assert(acc > q22acc,
      f"trained $acc%.3f did not beat the heuristic $q22acc%.3f")
    assert(acc > majority,
      f"trained $acc%.3f did not beat majority $majority%.3f")
  }
}
