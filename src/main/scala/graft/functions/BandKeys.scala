package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, lit, typedlit}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** All hyperplane-LSH band keys of one embedding in a single native
  * expression: key_b = Σ_r [v · plane_{b·rpb+r} > 0] · 2^r.
  *
  * The composable form builds bands × rowsPerBand separate
  * [[DotProduct]]/when/add expression trees (384 at the 32×12 gate
  * config) — Catalyst compiles that projection into one enormous
  * generated method whose compile time alone dominates the banding
  * stage (measured ~2.0 s of a 2.7 s warm near-dup run at sf0.1,
  * where the raw arithmetic is ~130M multiplies ≈ tens of ms). One
  * expression with an internal loop keeps the generated code a few
  * lines regardless of plane count. The plane matrix rides along as a
  * structural `Seq` (so semantically-equal plans stay equal) and is
  * flattened to a primitive array once per executor thread.
  */
case class BandKeysExpr(child: Expression, planes: Seq[Seq[Double]],
                        rowsPerBand: Int)
    extends UnaryExpression {

  require(rowsPerBand > 0 && rowsPerBand < 32 &&
    planes.nonEmpty && planes.length % rowsPerBand == 0,
    s"need 0 < rowsPerBand < 32 dividing ${planes.length} planes")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == ArrayType(DoubleType, false) ||
        child.dataType == ArrayType(DoubleType, true))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"band_keys needs array<double>, got ${child.dataType}")

  // one flat primitive copy per expression instance (thread-safe: read-only)
  @transient private lazy val flat: Array[Double] = planes.flatten.toArray
  @transient private lazy val dim: Int = planes.head.length

  override protected def nullSafeEval(input: Any): Any =
    BandKeysExpr.compute(input.asInstanceOf[ArrayData], flat, dim, rowsPerBand)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ps = ctx.addReferenceObj("bandPlanes", flat, "double[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.BandKeysExpr.compute($c, $ps, $dim, $rowsPerBand)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BandKeysExpr {
  val Name = "graft_band_keys"

  /** Band keys for one vector. `flat` holds the planes row-major
    * (plane p starts at p·dim); dots fold left-to-right like
    * [[DotProduct]], so sign decisions are bit-identical to the
    * composable form and to the DuckDB oracle's list_dot_product. */
  def compute(arr: ArrayData, flat: Array[Double], dim: Int,
              rowsPerBand: Int): ArrayData = {
    val nPlanes = flat.length / dim
    val n = math.min(arr.numElements(), dim)
    val keys = new Array[Int](nPlanes / rowsPerBand)
    var p = 0
    while (p < nPlanes) {
      var s = 0.0
      val off = p * dim
      var i = 0
      while (i < n) { s += arr.getDouble(i) * flat(off + i); i += 1 }
      if (s > 0) keys(p / rowsPerBand) |= 1 << (p % rowsPerBand)
      p += 1
    }
    new GenericArrayData(keys)
  }

  /** Registry builder: planes arrive as a foldable array<array<double>>
    * literal (one plan object however many planes), rowsPerBand as an
    * int literal. */
  def register(spark: SparkSession): Unit =
    NativeFunctions.register(spark, Name)

  private[graft] def fromExprs(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 3, "band_keys(emb, planes, rowsPerBand)")
    require(exprs(1).foldable && exprs(2).foldable,
      "band_keys planes and rowsPerBand must be literals")
    val planes = exprs(1).eval() match {
      case a: ArrayData =>
        a.toObjectArray(ArrayType(DoubleType)).toSeq.map {
          case inner: ArrayData => inner.toDoubleArray().toSeq
          case other => throw new IllegalArgumentException(
            s"band_keys planes must be array<array<double>>, got $other")
        }
      case other => throw new IllegalArgumentException(
        s"band_keys planes must be an array literal, got $other")
    }
    // compute() flattens row-major with dim = head length — ragged
    // planes would silently misalign every subsequent offset
    require(planes.nonEmpty && planes.head.nonEmpty &&
      planes.forall(_.length == planes.head.length),
      "band_keys planes must be non-empty, non-degenerate and uniformly sized")
    val rpb = exprs(2).eval() match {
      case i: Int => i
      case other => throw new IllegalArgumentException(
        s"band_keys rowsPerBand must be an int literal, got $other")
    }
    BandKeysExpr(exprs(0), planes, rpb)
  }

  def of(emb: Column, planes: Array[Array[Double]], rowsPerBand: Int): Column =
    call_function(Name, emb,
      typedlit(planes.map(_.toSeq).toSeq), lit(rowsPerBand))
}
