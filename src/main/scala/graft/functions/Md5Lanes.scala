package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, LongType}

/** All four 32-bit md5 lanes of one digest as `array<long>`, in one
  * native expression.
  *
  * The minhash pipeline's composable form — `conv(substring(md5(x),
  * 8i+1, 8), 16, 10)` per lane — materializes a 32-char hex string and
  * then runs FOUR string-radix conversions per digest per shingle; a
  * stage-split probe put the signature stage at 5.9 s of a 7.3 s
  * minhash run (10×, local[32]) with the md5 itself only ~0.2 s — the
  * cost is ~56 M conv/substring calls, not the hashing. This
  * expression digests the bytes once and reads the four big-endian
  * unsigned 32-bit lanes directly, bit-identical to the hex form and
  * to the DuckDB oracle's `('0x' || substr(md5(s), 8i+1, 8))::BIGINT`
  * reconstruction (lanes of one digest are independent PRF outputs —
  * standard digest splitting, see Dedup.minhashSignatures).
  */
case class Md5LanesExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"md5_lanes needs binary, got ${child.dataType}")

  override protected def nullSafeEval(input: Any): Any =
    Md5LanesExpr.lanes(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.Md5LanesExpr.lanes($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5LanesExpr {
  val Name = "graft_md5_lanes"

  /** The four big-endian unsigned 32-bit lanes of md5(bytes), each in
    * [0, 2^32) — lane i = digest bytes [4i, 4i+4). */
  def lanes(bytes: Array[Byte]): ArrayData = {
    val d = Md5Hash64Expr.digest(bytes)
    val out = new Array[Long](4)
    var i = 0
    while (i < 4) {
      out(i) = ((d(4 * i) & 0xFFL) << 24) | ((d(4 * i + 1) & 0xFFL) << 16) |
        ((d(4 * i + 2) & 0xFFL) << 8) | (d(4 * i + 3) & 0xFFL)
      i += 1
    }
    new GenericArrayData(out)
  }

  def register(spark: SparkSession): Unit =
    NativeFunctions.register(spark, Name)

  def of(c: Column): Column = call_function(Name, c)
}
