package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression

/** Every public graft native function as one (SQL name, builder)
  * table — the single source both registration paths read: each
  * function object's `register(spark)` (programmatic sessions) and
  * [[graft.GraftExtensions]] (`spark.sql.extensions`, pure-SQL
  * sessions), so a function added here is reachable both ways.
  * `graft_dv_select` stays out: it resolves per-query scan handles and
  * the lake registers it itself ([[DvRowSelect]]). */
object NativeFunctions {

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    (VectorFunctions.DotName, e => DotProduct(e(0), e(1))),
    (Md5Hash64Expr.Name, e => Md5Hash64Expr(e.head)),
    (SearchSortedExpr.Name, e => SearchSortedExpr(e(0), e(1))),
    (SimhashAgg.Name, e => SimhashAgg(e.head).toAggregateExpression()),
    (Md5LanesExpr.Name, e => Md5LanesExpr(e.head)),
    (BandKeysExpr.Name, e => BandKeysExpr.fromExprs(e)),
    (BloomMightContainExpr.Name, e => BloomMightContainExpr(e(0), e(1))),
    (HllAgg.Name, e => HllAgg(e.head).toAggregateExpression()),
    (NfcNormalizeExpr.Name, e => NfcNormalizeExpr(e.head)),
    (Log2FixedExpr.Name, e => Log2FixedExpr(e.head)),
    (AdcScore.Name, e => AdcScore(e(0), e(1))),
    (PqFunctions.CodesName, e => PqCodesExpr(e(0), e(1))),
    (PqFunctions.LutsName, e => PqLutsExpr(e(0), e(1), e(2))),
    (CleanTextExpr.Name, e => CleanTextExpr(e.head)))

  private lazy val byName = builders.toMap

  /** Register the named functions in `spark`'s session catalog. */
  def register(spark: SparkSession, names: String*): Unit =
    names.foreach(n => spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(n, byName(n), "built-in"))
}
