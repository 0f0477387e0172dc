package graft.functions

import java.text.Normalizer
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization as a native codegen'd expression — the
  * canonical-composition pass every dedup/fingerprint pipeline needs
  * BEFORE hashing: "café" composed and "cafe" + U+0301 decomposed are
  * byte-different md5 inputs for the same rendered text, so un-
  * normalized corpora leak visually-identical duplicates past every
  * exact and shingle stage. Spark ships no normalizer (the usual
  * answer is a Scala UDF — interpreted, opaque to codegen); this
  * wraps `java.text.Normalizer` (ICU-equivalent canonical composition
  * per Unicode TR15 — the SAME normalization DuckDB's
  * `nfc_normalize` implements, which is what makes the oracle
  * replay possible). Fast path: `Normalizer.isNormalized` short-
  * circuits the (overwhelmingly common) already-NFC row without
  * allocating. */
case class NfcNormalizeExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"nfc_normalize needs string, got ${child.dataType}")

  override protected def nullSafeEval(input: Any): Any =
    NfcNormalizeExpr.normalize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.NfcNormalizeExpr.normalize($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NfcNormalizeExpr {
  val Name = "graft_nfc_normalize"

  def normalize(s: UTF8String): UTF8String = {
    val str = s.toString
    if (Normalizer.isNormalized(str, Normalizer.Form.NFC)) s
    else UTF8String.fromString(Normalizer.normalize(str, Normalizer.Form.NFC))
  }

  def register(spark: SparkSession): Unit =
    NativeFunctions.register(spark, Name)

  def of(c: Column): Column = call_function(Name, c)
}
