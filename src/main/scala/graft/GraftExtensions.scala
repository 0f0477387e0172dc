package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Cluster-wide deployment surface for the graft custom expressions.
  *
  * `--conf spark.sql.extensions=graft.GraftExtensions` attaches every
  * native function to each session's catalog at session build time —
  * the standard way a cluster operator ships a library so that pure-SQL
  * users (spark-sql, Thrift server, notebooks) can call every
  * function of [[graft.functions.NativeFunctions]] (`graft_dot`,
  * `graft_md5_hash64`, `graft_clean_text`, …) without touching the
  * Scala API. The per-object `register(spark)` calls remain for
  * programmatic sessions; both read the same builder table, so the
  * two paths cannot drift apart.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.functions.NativeFunctions.builders.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), builder))
    }
    // the lake's SQL maintenance + history TVFs (table_history,
    // graft_snapshot, graft_compact, graft_vacuum) and the strategy
    // that defers their side effects to execution
    graft.sources.LakeMaintenance.descriptions
      .foreach(ext.injectTableFunction)
    ext.injectPlannerStrategy(_ =>
      graft.sources.LakeMaintenanceStrategy)
  }
}
