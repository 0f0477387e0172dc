package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, LongType}

/** Fixed-point log₂ in pure 64-bit integer arithmetic — the primitive
  * that lifts the engine's "no libm" rule from 1-bit-granularity
  * surprisal (bitlen) to 16 fractional bits, cross-engine EXACT by
  * construction: normalize the input's mantissa to 32 bits, then 16
  * rounds of the classic shift-and-square ("each squaring doubles the
  * exponent, so the overflow bit of m² IS the next fraction bit").
  * Every intermediate is integer (the m² wrap is handled unsigned in
  * the JVM and via HUGEINT in the DuckDB replay), so both engines
  * produce the identical quantized value — unlike `ln`/`log`, whose
  * last ulp is libm-dependent. Error ≤ 2⁻¹⁶ of a bit plus mantissa
  * truncation below 2⁻³², more than enough for log-probability scores
  * (Naive Bayes weights, entropy, surprisal).
  *
  * Input must be ≥ 1 (counts); returns ⌊log₂(x)·2¹⁶⌋-ish (truncated
  * mantissa, truncated fraction — deterministic, documented). */
case class Log2FixedExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"log2_fixed needs long, got ${child.dataType}")

  override protected def nullSafeEval(input: Any): Any =
    Log2FixedExpr.log2q(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.Log2FixedExpr.log2q($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Log2FixedExpr {
  val Name = "graft_log2_fixed"
  val FracBits = 16

  /** ⌊log₂(x)⌋·2¹⁶ + 16 fraction bits from shift-and-square. x ≥ 1. */
  def log2q(x: Long): Long = {
    require(x >= 1, s"log2_fixed needs x >= 1, got $x")
    val bl = 64 - java.lang.Long.numberOfLeadingZeros(x)
    var m = if (bl <= 32) x << (32 - bl) else x >>> (bl - 32)
    var frac = 0L
    var i = 0
    while (i < FracBits) {
      val m2 = m * m // wraps: unsigned [2^62, 2^64)
      if (m2 < 0) { // unsigned m2 >= 2^63: exponent doubled past 1
        frac = (frac << 1) | 1L
        m = m2 >>> 32
      } else {
        frac = frac << 1
        m = m2 >>> 31
      }
      i += 1
    }
    ((bl - 1).toLong << FracBits) | frac
  }

  def register(spark: SparkSession): Unit =
    NativeFunctions.register(spark, Name)

  def of(c: Column): Column = call_function(Name, c)
}
