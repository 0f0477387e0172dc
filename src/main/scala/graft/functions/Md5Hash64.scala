package graft.functions

import java.security.MessageDigest
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** First 64 bits of md5 as a signed long (big-endian), in one native
  * expression.
  *
  * The composable form — `conv(substring(md5(x), 1, 8), 16, 10)` twice,
  * shifted and or-ed — materializes a 32-char hex string and parses it
  * back per row; in the simhash pipeline that path is the hot loop
  * (one hash per shingle, ~100× the document count). This expression
  * digests the bytes directly and reads the first 8 digest bytes,
  * identical bit-for-bit to the hex form and to the DuckDB oracle's
  * `('0x' || substr(md5(s), 1, 8))::BIGINT` reconstruction.
  */
case class Md5Hash64Expr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"md5_hash64 needs binary, got ${child.dataType}")

  override protected def nullSafeEval(input: Any): Any =
    Md5Hash64Expr.hash(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.Md5Hash64Expr.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5Hash64Expr {
  val Name = "graft_md5_hash64"

  // MessageDigest is not thread-safe; one instance per executor thread
  private val digests = ThreadLocal.withInitial[MessageDigest](() =>
    MessageDigest.getInstance("MD5"))

  /** Raw 16-byte md5 digest (thread-local MessageDigest) — shared by
    * the digest-direct expressions ([[hash]], [[Md5LanesExpr]]). */
  private[functions] def digest(bytes: Array[Byte]): Array[Byte] = {
    val md = digests.get()
    md.reset()
    md.digest(bytes)
  }

  /** First 8 md5 digest bytes, big-endian signed long. */
  def hash(bytes: Array[Byte]): Long = {
    val d = digest(bytes)
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xFFL); i += 1 }
    h
  }

  def register(spark: SparkSession): Unit =
    NativeFunctions.register(spark, Name)

  def of(c: Column): Column = call_function(Name, c)
}
