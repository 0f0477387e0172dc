package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}

/** Native expressions for product-quantization encode + LUT build.
  *
  * The composed-Column forms (`pqCodes`, the per-query LUT array) are
  * m·k inlined dot products — ~1,500 expression nodes at m=16, k=16.
  * The DATA cost is trivial, but every query pays Catalyst analysis,
  * optimization and Janino compilation of that tree: measured 5–6 s of
  * wall-clock per retrieval row on a 2,000-row corpus, i.e. ~all plan
  * overhead. These expressions collapse the tree to ONE node holding
  * the trained model as a nested-array literal child — constant-size
  * plans however large m·k, and a tight codegen'd loop at execution
  * (the [[DotProduct]] argument, applied to the whole encode step).
  *
  * Numeric contract (bit-identical to the composed form and to the
  * DuckDB oracle replay): index-ordered dot accumulation, assignment
  * by the monotone surrogate 2·x·c − |c|² with ties to the lowest
  * code, LUT entries ⌊dot·quant + 0.5⌋ as exact longs.
  */

/** pq_codes(emb, codebooks) → array<int>: per-subspace nearest-
  * centroid ids. codebooks: array<array<array<double>>> (m × k ×
  * subDim), a literal in practice. */
case class PqCodesExpr(emb: Expression, cbs: Expression)
    extends BinaryExpression {

  override def left: Expression = emb
  override def right: Expression = cbs
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = {
    val embOk = emb.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    val cbsOk = cbs.dataType match {
      case ArrayType(ArrayType(ArrayType(DoubleType, _), _), _) => true
      case _ => false
    }
    if (embOk && cbsOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"pq_codes needs (array<double>, array<array<array<double>>>), " +
        s"got (${emb.dataType}, ${cbs.dataType})")
  }

  override protected def nullSafeEval(e: Any, c: Any): Any = {
    val v = e.asInstanceOf[ArrayData]
    val books = c.asInstanceOf[ArrayData]
    val m = books.numElements()
    val codes = new Array[Int](m)
    var s = 0
    while (s < m) {
      val book = books.getArray(s)
      val k = book.numElements()
      val subDim = if (k == 0) 0 else book.getArray(0).numElements()
      var best = Double.NegativeInfinity
      var bestIdx = 0
      var cc = 0
      while (cc < k) {
        val cen = book.getArray(cc)
        val lim = math.min(subDim, math.max(0, v.numElements() - s * subDim))
        var dot = 0.0
        var ns = 0.0
        var i = 0
        while (i < subDim) {
          val cv = cen.getDouble(i)
          if (i < lim) dot += v.getDouble(s * subDim + i) * cv
          ns += cv * cv
          i += 1
        }
        val score = dot * 2.0 - ns
        if (score > best) { best = score; bestIdx = cc }
        cc += 1
      }
      codes(s) = bestIdx
      s += 1
    }
    new GenericArrayData(codes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (e, c) => {
      val s = ctx.freshName("s")
      val m = ctx.freshName("m")
      val codes = ctx.freshName("codes")
      val book = ctx.freshName("book")
      val kk = ctx.freshName("k")
      val subDim = ctx.freshName("subDim")
      val best = ctx.freshName("best")
      val bestIdx = ctx.freshName("bestIdx")
      val cc = ctx.freshName("cc")
      val cen = ctx.freshName("cen")
      val lim = ctx.freshName("lim")
      val dot = ctx.freshName("dot")
      val ns = ctx.freshName("ns")
      val i = ctx.freshName("i")
      val cv = ctx.freshName("cv")
      val score = ctx.freshName("score")
      s"""
         |int $m = $c.numElements();
         |int[] $codes = new int[$m];
         |for (int $s = 0; $s < $m; $s++) {
         |  org.apache.spark.sql.catalyst.util.ArrayData $book = $c.getArray($s);
         |  int $kk = $book.numElements();
         |  int $subDim = $kk == 0 ? 0 : $book.getArray(0).numElements();
         |  double $best = Double.NEGATIVE_INFINITY;
         |  int $bestIdx = 0;
         |  for (int $cc = 0; $cc < $kk; $cc++) {
         |    org.apache.spark.sql.catalyst.util.ArrayData $cen = $book.getArray($cc);
         |    int $lim = java.lang.Math.min($subDim,
         |      java.lang.Math.max(0, $e.numElements() - $s * $subDim));
         |    double $dot = 0.0;
         |    double $ns = 0.0;
         |    for (int $i = 0; $i < $subDim; $i++) {
         |      double $cv = $cen.getDouble($i);
         |      if ($i < $lim) $dot += $e.getDouble($s * $subDim + $i) * $cv;
         |      $ns += $cv * $cv;
         |    }
         |    double $score = $dot * 2.0 - $ns;
         |    if ($score > $best) { $best = $score; $bestIdx = $cc; }
         |  }
         |  $codes[$s] = $bestIdx;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($codes);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(emb = newLeft, cbs = newRight)
}

/** pq_luts(q_emb, codebooks, quant) → array<array<long>>: the per-
  * query ADC lookup tables, luts[s][c] = ⌊dot(q_sub, cen)·quant + 0.5⌋
  * — m·k exact integers, built once per query row and broadcast with
  * it; [[AdcScore]] consumes them per candidate. */
case class PqLutsExpr(emb: Expression, cbs: Expression, quant: Expression)
    extends TernaryExpression {

  override def first: Expression = emb
  override def second: Expression = cbs
  override def third: Expression = quant
  override def dataType: DataType =
    ArrayType(ArrayType(LongType, containsNull = false), containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = {
    val embOk = emb.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    val cbsOk = cbs.dataType match {
      case ArrayType(ArrayType(ArrayType(DoubleType, _), _), _) => true
      case _ => false
    }
    if (embOk && cbsOk && quant.dataType == DoubleType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"pq_luts needs (array<double>, array<array<array<double>>>, " +
        s"double), got (${emb.dataType}, ${cbs.dataType}, ${quant.dataType})")
  }

  override protected def nullSafeEval(e: Any, c: Any, q: Any): Any = {
    val v = e.asInstanceOf[ArrayData]
    val books = c.asInstanceOf[ArrayData]
    val qv = q.asInstanceOf[Double]
    val m = books.numElements()
    val rows = new Array[Any](m)
    var s = 0
    while (s < m) {
      val book = books.getArray(s)
      val k = book.numElements()
      val subDim = if (k == 0) 0 else book.getArray(0).numElements()
      val lut = new Array[Long](k)
      var cc = 0
      while (cc < k) {
        val cen = book.getArray(cc)
        val lim = math.min(subDim, math.max(0, v.numElements() - s * subDim))
        var dot = 0.0
        var i = 0
        while (i < lim) {
          dot += v.getDouble(s * subDim + i) * cen.getDouble(i)
          i += 1
        }
        lut(cc) = math.floor(dot * qv + 0.5).toLong
        cc += 1
      }
      rows(s) = new GenericArrayData(lut)
      s += 1
    }
    new GenericArrayData(rows)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (e, c, q) => {
      val s = ctx.freshName("s")
      val m = ctx.freshName("m")
      val rows = ctx.freshName("rows")
      val book = ctx.freshName("book")
      val kk = ctx.freshName("k")
      val subDim = ctx.freshName("subDim")
      val lut = ctx.freshName("lut")
      val cc = ctx.freshName("cc")
      val cen = ctx.freshName("cen")
      val lim = ctx.freshName("lim")
      val dot = ctx.freshName("dot")
      val i = ctx.freshName("i")
      s"""
         |int $m = $c.numElements();
         |Object[] $rows = new Object[$m];
         |for (int $s = 0; $s < $m; $s++) {
         |  org.apache.spark.sql.catalyst.util.ArrayData $book = $c.getArray($s);
         |  int $kk = $book.numElements();
         |  int $subDim = $kk == 0 ? 0 : $book.getArray(0).numElements();
         |  long[] $lut = new long[$kk];
         |  for (int $cc = 0; $cc < $kk; $cc++) {
         |    org.apache.spark.sql.catalyst.util.ArrayData $cen = $book.getArray($cc);
         |    int $lim = java.lang.Math.min($subDim,
         |      java.lang.Math.max(0, $e.numElements() - $s * $subDim));
         |    double $dot = 0.0;
         |    for (int $i = 0; $i < $lim; $i++) {
         |      $dot += $e.getDouble($s * $subDim + $i) * $cen.getDouble($i);
         |    }
         |    $lut[$cc] = (long) java.lang.Math.floor($dot * $q + 0.5);
         |  }
         |  $rows[$s] = new org.apache.spark.sql.catalyst.util.GenericArrayData($lut);
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($rows);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(emb = newFirst, cbs = newSecond, quant = newThird)
}

object PqFunctions {
  val CodesName = "graft_pq_codes"
  val LutsName = "graft_pq_luts"

  def register(spark: SparkSession): Unit =
    NativeFunctions.register(spark, CodesName, LutsName)

  def codes(emb: Column, cbs: Column): Column =
    call_function(CodesName, emb, cbs)

  def luts(emb: Column, cbs: Column, quant: Column): Column =
    call_function(LutsName, emb, cbs, quant)
}
