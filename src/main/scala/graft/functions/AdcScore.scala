package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Native Catalyst expression for PQ asymmetric-distance (ADC) scoring —
  * the hot loop of [[graft.llm.Similarity.pqTopK]] / `ivfPqTopK`.
  *
  * A candidate's ADC score is Σ_s luts[s][codes[s]] — m lookup-table
  * reads and an exact integer sum, evaluated once per (query,
  * candidate) pair inside a join. As `aggregate(sequence(0, m-1), …)`
  * that sum is two interpreted higher-order functions per row (the
  * same shape [[DotProduct]] replaced for exact dots; observed 14.9 s
  * of a 1.3 s-mean benchmark row). This is the preference-order-(b)
  * fix: a whole-stage-codegen'd tight loop over the codes array with
  * left-to-right accumulation — exact long addition, associative, so
  * the result is bit-identical to the fold and to the DuckDB oracle's
  * list-indexing sum.
  *
  * Input: codes array<int> (one centroid index per subspace, 0-based),
  * luts array<array<long>> (per-subspace lookup tables, broadcast with
  * the query row). Output: long.
  */
case class AdcScore(codes: Expression, luts: Expression)
    extends BinaryExpression {

  override def left: Expression = codes
  override def right: Expression = luts
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = {
    val codesOk = codes.dataType match {
      case ArrayType(IntegerType, _) => true
      case _ => false
    }
    val lutsOk = luts.dataType match {
      case ArrayType(ArrayType(LongType, _), _) => true
      case _ => false
    }
    if (codesOk && lutsOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"adc_score needs (array<int>, array<array<bigint>>), got " +
        s"(${codes.dataType}, ${luts.dataType})")
  }

  override def nullable: Boolean = true

  // a codes/luts arity mismatch or an out-of-range code means the
  // candidate was encoded under a DIFFERENT model than the query's
  // LUTs — the composed element_at fold returned NULL there, and a
  // silent partial sum would rank candidates on garbage; keep the
  // NULL contract.
  override protected def nullSafeEval(c: Any, l: Any): Any = {
    val cs = c.asInstanceOf[ArrayData]
    val ls = l.asInstanceOf[ArrayData]
    val m = cs.numElements()
    if (m != ls.numElements()) return null
    var s = 0L
    var i = 0
    while (i < m) {
      val lut = ls.getArray(i)
      val code = cs.getInt(i)
      if (code < 0 || code >= lut.numElements()) return null
      s += lut.getLong(code)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, l) => {
      val i = ctx.freshName("i")
      val m = ctx.freshName("m")
      val acc = ctx.freshName("acc")
      val lut = ctx.freshName("lut")
      val code = ctx.freshName("code")
      s"""
         |int $m = $c.numElements();
         |if ($m != $l.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $m && !${ev.isNull}; $i++) {
         |    org.apache.spark.sql.catalyst.util.ArrayData $lut = $l.getArray($i);
         |    int $code = $c.getInt($i);
         |    if ($code < 0 || $code >= $lut.numElements()) {
         |      ${ev.isNull} = true;
         |    } else {
         |      $acc += $lut.getLong($code);
         |    }
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(codes = newLeft, luts = newRight)
}

object AdcScore {
  val Name = "graft_adc"

  /** Idempotently register in the session's function registry (the
    * Spark-4-clean Column-from-Expression path, as [[VectorFunctions]]). */
  def register(spark: SparkSession): Unit =
    NativeFunctions.register(spark, Name)

  /** adc(codes, luts) = Σ_s luts[s][codes[s]] — codegen'd LUT sum. */
  def of(codes: Column, luts: Column): Column =
    call_function(Name, codes, luts)
}
