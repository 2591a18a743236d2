package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit rolling polynomial document fingerprint (Karp–Rabin style):
  * `h = h * B + byte` over the UTF-8 bytes, B = 1000003 (the prime
  * CPython uses for string hashing). A native Catalyst expression with
  * codegen so it stays inside whole-stage codegen in dedup pipelines —
  * the reference's closest analogue is content-addressed file matching
  * (ftp-blueprints upload_file.py:147 matches by name only; graft
  * fingerprints by content).
  */
case class Fingerprint64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes() = {
    if (child.dataType.isInstanceOf[StringType])
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(s"fingerprint64 needs STRING, got ${child.dataType}")
  }

  override def nullSafeEval(v: Any): Any =
    java.lang.Long.valueOf(
      Fingerprint64.hash(v.asInstanceOf[UTF8String].getBytes))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val b = ctx.freshName("bytes")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      s"""
         |byte[] $b = $c.getBytes();
         |long $h = 1125899906842597L;
         |for (int $i = 0; $i < $b.length; $i++) {
         |  $h = $h * 1000003L + $b[$i];
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Fingerprint64 =
    copy(child = c)
}

object Fingerprint64 {
  /** The hash shared by interpreted eval, codegen (same formula
    * inlined in [[Fingerprint64.doGenCode]]), and Scala closures.
    */
  private[graft] def hash(bytes: Array[Byte]): Long = {
    var h = 1125899906842597L // seed
    var i = 0
    while (i < bytes.length) { h = h * 1000003L + bytes(i); i += 1 }
    h
  }

  /** Scala twin of the `fingerprint64` expression — bit-identical
    * over the same string (spec-asserted), so a closure-side key and
    * a column-side key always join. */
  def of(s: String): Long =
    hash(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
}
