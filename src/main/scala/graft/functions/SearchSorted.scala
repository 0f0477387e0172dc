package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Upper-bound binary search: index of the first element of the sorted
  * double array `left` that is strictly greater than `right` (= the
  * array length when no element is). The bound-assignment primitive —
  * "which bucket/frame does this value fall before" resolves in
  * O(log n) per row instead of the O(n·rows) intermediate a theta join
  * against the bounds table would materialize. The array is typically a
  * broadcast-literal of driver-collected bounds.
  */
case class SearchSortedExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult =
    if ((left.dataType == ArrayType(DoubleType, false) ||
         left.dataType == ArrayType(DoubleType, true)) &&
        right.dataType == DoubleType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"search_sorted needs (array<double>, double), got (${left.dataType}, ${right.dataType})")

  override protected def nullSafeEval(arr: Any, v: Any): Any =
    SearchSortedExpr.upperBound(arr.asInstanceOf[ArrayData], v.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, v) =>
      s"graft.functions.SearchSortedExpr.upperBound($a, $v)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SearchSortedExpr {
  val Name = "graft_search_sorted"

  /** First index with arr(i) > v, else arr length. */
  def upperBound(arr: ArrayData, v: Double): Int = {
    var lo = 0
    var hi = arr.numElements()
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (arr.getDouble(mid) > v) hi = mid else lo = mid + 1
    }
    lo
  }

  def register(spark: SparkSession): Unit =
    NativeFunctions.register(spark, Name)

  def of(sortedArr: Column, value: Column): Column =
    call_function(Name, sortedArr, value)
}
