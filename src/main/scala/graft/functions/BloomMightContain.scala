package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType, LongType}
import org.apache.spark.util.sketch.BloomFilter

/** `graft_bloom_might_contain(h, filter)` — membership probe of a
  * serialized [[org.apache.spark.util.sketch.BloomFilter]] against a
  * 64-bit key. `filter` must be a foldable binary (the serialized
  * sketch travels inside the plan as an ordinary literal, so plan
  * canonicalization/equality work unchanged); it is deserialized once
  * per expression instance, not per row.
  *
  * This is the scan-side pruning lever for "small-ish set vs huge
  * table" membership at fleet scale: build the filter from the small
  * side on the driver (bounded, like every reference scalar pull),
  * then prune the 100 TB side DURING ITS SCAN — rows that cannot
  * match never reach the join's shuffle or build/probe. False
  * positives only widen the candidate set (the exact join afterwards
  * removes them); false negatives are impossible — so results are
  * exactly those of the unpruned join, which is what keeps operators
  * built on it oracle-checkable. Same pattern as Catalyst's own
  * runtime bloom-filter join pruning, available here as an explicit,
  * composable operator.
  */
case class BloomMightContainExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"bloom_might_contain needs a long key, got ${left.dataType}")
    else if (right.dataType != BinaryType || !right.foldable)
      TypeCheckResult.TypeCheckFailure(
        "bloom_might_contain needs a foldable binary filter")
    else if (right.eval() == null)
      // a NULL literal would otherwise pass analysis and NPE when
      // codegen forces the lazy deserialization below — reject it
      // while the error can still carry a usable message
      TypeCheckResult.TypeCheckFailure(
        "bloom_might_contain filter is NULL — build the filter before planning")
    else TypeCheckResult.TypeCheckSuccess

  // deserialized once per expression instance; BloomFilter reads are
  // thread-safe (the backing bit array is only read after construction)
  @transient private lazy val bloom: BloomFilter = {
    val bytes = right.eval()
    require(bytes != null, "bloom_might_contain: filter literal is NULL")
    BloomFilter.readFrom(
      new ByteArrayInputStream(bytes.asInstanceOf[Array[Byte]]))
  }

  override protected def nullSafeEval(key: Any, filterBytes: Any): Any =
    bloom.mightContainLong(key.asInstanceOf[Long])

  /** Direct kernel probe for property tests. */
  private[graft] def probe(key: Long): Boolean = bloom.mightContainLong(key)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloom", bloom,
      classOf[BloomFilter].getName)
    // the right child is a foldable binary literal — its generated code
    // is a constant reference load, so letting defineCodeGen evaluate
    // both children costs nothing per row
    defineCodeGen(ctx, ev, (key, _) => s"$ref.mightContainLong($key)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object BloomMightContainExpr {
  val Name = "graft_bloom_might_contain"

  def register(spark: SparkSession): Unit =
    NativeFunctions.register(spark, Name)

  /** Column form over an already-built filter. */
  def of(key: Column, filter: BloomFilter): Column = {
    val out = new ByteArrayOutputStream()
    filter.writeTo(out)
    call_function(Name, key, lit(out.toByteArray))
  }

  /** Expression form used in tests for canonicalization checks. */
  private[graft] def expr(key: Expression, bytes: Array[Byte]): Expression =
    BloomMightContainExpr(key, Literal(bytes, BinaryType))
}
