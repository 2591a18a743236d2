package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression

/** graft's SQL functions. [[all]] is the one list of them: both the
  * per-session [[register]] and the `spark.sql.extensions` hook
  * ([[graft.GraftExtensions]]) are built from it.
  */
object GraftFunctions {

  /** `(name, implementing expression class, builder)` per function. */
  val all: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("fingerprint64", classOf[Fingerprint64], e => Fingerprint64(e.head)),
    ("dot_d", classOf[DotProductD], e => DotProductD(e(0), e(1))),
    ("heavy_hitters", classOf[HeavyHitters],
      e => HeavyHitters(e(0), e(1)).toAggregateExpression()),
    ("nfc_normalize", classOf[NfcNormalize], e => NfcNormalize(e.head)),
    ("collect_capped", classOf[CollectCapped],
      e => CollectCapped(e(0), e(1)).toAggregateExpression()))

  /** Idempotently registers graft's SQL functions on a session. */
  def register(spark: SparkSession): Unit =
    all.foreach { case (name, _, build) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, build, "built-in")
    }
}
