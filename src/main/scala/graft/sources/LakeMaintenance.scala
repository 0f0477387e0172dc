package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression, ExpressionInfo, GenericInternalRow}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType, StringType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

import graft.v3.Lake

/** The lake's SQL maintenance + history surface: table-valued
  * functions a PURE-SQL operator (spark-sql, Thrift server, notebook)
  * calls to run the table lifecycle the catalog otherwise only
  * exposes through the Scala API — the published formats ship these
  * as `VACUUM` / `OPTIMIZE` statements or procedure calls; this Spark
  * version has no ProcedureCatalog, so they're TVFs, the standard
  * extension point that needs no parser changes:
  *
  *  - `table_history('cat.tbl')` → (version, commit_ts, operation,
  *    is_delta) from the RETAINED commit log ([[Lake.commitHistory]];
  *    the `#ts`/`#op` headers) — what an operator reads before
  *    deciding what to pin or vacuum;
  *  - `graft_snapshot('cat.tbl')` → (version) — pin the current
  *    manifest commit ([[Lake.snapshot]]) for later `VERSION AS OF`
  *    reads; the pin adds no commit, and holds the commit log until
  *    vacuum expires it;
  *  - `graft_compact('cat.tbl', targetBytes)` → (chains_rewritten) —
  *    bin-pack small files ([[Lake.compact]], retained);
  *  - `graft_vacuum('cat.tbl', keepLast)` → (manifests_deleted,
  *    files_deleted, bytes_freed) — expire all but the newest
  *    `keepLast` pins (`manifests_deleted` counts them), releasing
  *    their hold on the commit log, and GC retained files nothing
  *    references any more ([[Lake.vacuum]]);
  *  - `table_changes('cat.tbl', from, to)` → the commit-grain batch
  *    CDC feed ([[Lake.changesBetweenCommits]]), a pure read returning
  *    the feed's own distributed plan;
  *  - `graft_detail('cat.tbl')` → (version, num_files, size_bytes,
  *    num_partitions, num_snapshots) from one manifest fold — the
  *    `DESCRIBE DETAIL` shape an operator reads before sizing
  *    maintenance.
  *
  * Execution timing matters: the side effect runs at EXECUTION, not
  * analysis — the TVF builder only constructs a logical leaf, and
  * [[LakeMaintenanceStrategy]] plans it into a one-shot exec node, so
  * `EXPLAIN SELECT * FROM graft_vacuum(…)` vacuums nothing.
  *
  * Deployment: `spark.sql.extensions=graft.GraftExtensions` (cluster
  * conf) or [[LakeMaintenance.register]] (programmatic sessions) —
  * same builders, one source of truth. The target lake resolves from
  * the session conf the catalog itself uses
  * (`spark.sql.catalog.<cat>.root`), reusing the initialized
  * catalog's warm Lake when one exists. */
object LakeMaintenance {

  /** (name, arg signature hint, output schema, runner, extra-arg
    * spec: one char per argument after the table ref — 'n' numeric,
    * 's' string). */
  private[sources] case class Fn(
      name: String,
      usage: String,
      output: Seq[(String, org.apache.spark.sql.types.DataType)],
      run: (Lake, String, Seq[Any]) => Seq[Seq[Any]],
      argSpec: String)

  private def num(args: Seq[Any], i: Int): Long =
    args(i).asInstanceOf[Long]
  private def str(args: Seq[Any], i: Int): String =
    args(i).asInstanceOf[String]

  private val fns: Seq[Fn] = Seq(
    Fn("table_history", "table_history('catalog.table')",
      Seq("version" -> LongType, "commit_ts" -> TimestampType,
        "operation" -> StringType, "is_delta" -> BooleanType),
      (lake, t, _) => lake.commitHistory(t).map { case (v, ts, op, d) =>
        Seq(v, ts.map(_ * 1000L).orNull,
          UTF8String.fromString(op), d)
      }, argSpec = ""),
    Fn("graft_snapshot", "graft_snapshot('catalog.table')",
      Seq("version" -> LongType),
      (lake, t, _) => Seq(Seq(lake.snapshot(t))), argSpec = ""),
    Fn("graft_compact", "graft_compact('catalog.table', targetBytes)",
      Seq("chains_rewritten" -> LongType),
      (lake, t, args) =>
        Seq(Seq(lake.compact(t, num(args, 0), retain = true).toLong)),
      argSpec = "n"),
    Fn("graft_cluster_compact",
      "graft_cluster_compact('catalog.table', targetBytes, 'col1,col2')",
      Seq("chains_rewritten" -> LongType),
      (lake, t, args) => {
        // empty column list -> the table's write.layout property
        // drives the rewrite (z-order), same as the Scala API
        val cols = str(args, 1).split(',').map(_.trim)
          .filter(_.nonEmpty).toSeq
        Seq(Seq(lake.clusterCompact(t, num(args, 0), clusterBy = cols,
          retain = true).toLong))
      }, argSpec = "ns"),
    Fn("graft_vacuum", "graft_vacuum('catalog.table', keepLast)",
      Seq("manifests_deleted" -> LongType,
        "files_deleted" -> LongType, "bytes_freed" -> LongType),
      (lake, t, args) => {
        // clamp before narrowing: num() hands back the SQL literal as
        // a Long, and a bare .toInt would WRAP a keep-everything value
        // like 4294967297 to 1 - turning an operator's "keep all"
        // intent into near-total snapshot expiry plus file GC
        val keepLast = math.min(num(args, 0), Int.MaxValue.toLong).toInt
        require(keepLast >= 0,
          s"graft_vacuum: keepLast must be >= 0 (got ${num(args, 0)})")
        val st = lake.vacuum(t, keepLast)
        Seq(Seq(st.manifestsDeleted.toLong, st.filesDeleted.toLong,
          st.bytesFreed))
      }, argSpec = "n"),
    Fn("graft_restore", "graft_restore('catalog.table', snapshotVersion)",
      Seq("files_unretired" -> LongType, "files_retired" -> LongType),
      // RESTORE TABLE ... VERSION AS OF: one manifest transaction
      // making the current state exactly the pinned snapshot's -
      // rewritten-away files move back from the retention area,
      // current-only files retire (Lake.restoreTable; loud when the
      // snapshot is missing or vacuum-invalidated)
      (lake, t, args) => {
        val (un, ret) = lake.restoreTable(t, num(args, 0))
        Seq(Seq(un.toLong, ret.toLong))
      }, argSpec = "n"),
    Fn("graft_analyze", "graft_analyze('catalog.table')",
      Seq("files_analyzed" -> LongType),
      // backfill per-file data-skipping stats for files committed
      // before stats existed (adoption/upgrade) or before a
      // stats.columns change - new commits warm their own stats
      (lake, t, _) => Seq(Seq(lake.analyzeTable(t))), argSpec = ""),
    Fn("graft_mv_refresh", "graft_mv_refresh('catalog.view')",
      Seq("mode" -> StringType, "from_version" -> LongType,
        "to_version" -> LongType),
      // bring a materialized view up to its source's latest commit
      // (Lake.refreshMaterializedView: full on first load or a broken
      // change window, incremental otherwise, noop when current)
      (lake, t, _) => {
        val r = lake.refreshMaterializedView(t)
        Seq(Seq(UTF8String.fromString(r.mode), r.fromVersion,
          r.toVersion))
      }, argSpec = ""),
    Fn("graft_detail", "graft_detail('catalog.table')",
      Seq("version" -> LongType, "num_files" -> LongType,
        "size_bytes" -> LongType, "num_partitions" -> LongType,
        "num_snapshots" -> LongType),
      (lake, t, _) => {
        // one manifest fold, zero data access - DESCRIBE DETAIL's lake
        // shape: what an operator reads before sizing a compaction or
        // deciding what to vacuum
        val inv = lake.fileInventory(t)
        val v = lake.latestCommitVersion(t).getOrElse(0L)
        Seq(Seq(v, inv.size.toLong, inv.map(_._3).sum,
          inv.map(_._1).distinct.size.toLong,
          lake.snapshotVersions(t).size.toLong))
      }, argSpec = ""))

  private[sources] def runFn(name: String, lake: Lake, table: String,
                             args: Seq[Any]): Seq[Seq[Any]] = {
    // loud on a missing table for EVERY maintenance/history function:
    // a fabricated all-zeros detail row (or empty history) for a typo
    // is indistinguishable from a real empty table
    if (!lake.exists(table) && !lake.hasManifest(table) &&
        !lake.hasSchema(table))
      throw new IllegalArgumentException(
        s"$name: no such lake table '$table' under ${lake.root}")
    fns.find(_.name == name).getOrElse(throw new IllegalStateException(
      s"unknown maintenance function $name")).run(lake, table, args)
  }

  private def evalConst(name: String, usage: String, e: Expression,
                        what: String): Any = {
    require(e.foldable,
      s"$name: $what must be a literal ($usage); got ${e.sql}")
    e.eval(InternalRow.empty)
  }

  private def parseArgs(name: String, usage: String, argSpec: String,
                        exprs: Seq[Expression]): (String, String, Seq[Any]) = {
    require(exprs.length == 1 + argSpec.length,
      s"$name takes ${1 + argSpec.length} argument(s): $usage")
    val ref = Option(evalConst(name, usage, exprs.head, "the table name"))
      .map(_.toString)
      .getOrElse(throw new IllegalArgumentException(
        s"$name: the table name is null ($usage)"))
    val parts = ref.split('.')
    require(parts.length == 2 && parts.forall(_.nonEmpty),
      s"$name: '$ref' is not a 'catalog.table' reference ($usage)")
    val args = exprs.tail.zip(argSpec).zipWithIndex.map {
      case ((e, kind), i) =>
        val v = evalConst(name, usage, e, s"argument ${i + 2}")
        (kind, v) match {
          case ('n', n: Number) => n.longValue(): Any
          case ('s', s: UTF8String) => s.toString: Any
          case ('s', s: String) => s: Any
          case _ => throw new IllegalArgumentException(
            s"$name: argument ${i + 2} must be " +
              s"${if (kind == 'n') "numeric" else "a string"} ($usage); " +
              s"got $v")
        }
    }
    (parts(0), parts(1), args)
  }

  private def buildNode(fn: Fn, exprs: Seq[Expression]): LogicalPlan = {
    val (cat, tbl, args) = parseArgs(fn.name, fn.usage, fn.argSpec, exprs)
    LakeMaintenanceNode(fn.name, cat, tbl, args,
      fn.output.map { case (n, t) => AttributeReference(n, t)() })
  }

  /** `table_changes('cat.tbl', fromVersion, toVersion)` — the batch
    * CDC feed ([[Lake.changesBetweenCommits]]: commit-grain,
    * rewrite-aware, rows tagged `_change_type`/`_commit_version`) as
    * a table function, the published formats' SQL shape. Unlike the
    * maintenance TVFs this is a pure READ: the builder returns the
    * feed's resolved plan directly — there is no side effect to defer
    * to execution. */
  private def changesBuilder(exprs: Seq[Expression]): LogicalPlan = {
    val usage = "table_changes('catalog.table', fromVersion, toVersion" +
      "[, 'key1,key2'])"
    // optional 4th argument = the table's keys -> ROW-GRAIN enrichment
    // (update_preimage/postimage pairs instead of whole-file
    // delete+insert churn; Lake.changesBetweenCommitsEnriched)
    val spec = if (exprs.length == 4) "nns" else "nn"
    val (cat, tbl, args) = parseArgs("table_changes", usage, spec, exprs)
    val spark = SparkSession.active
    val lake = lakeFor(spark, cat)
    val df =
      if (exprs.length == 4)
        lake.changesBetweenCommitsEnriched(tbl,
          args(0).asInstanceOf[Long], args(1).asInstanceOf[Long],
          args(2).asInstanceOf[String].split(',')
            .map(_.trim).filter(_.nonEmpty).toSeq)
      else lake.changesBetweenCommits(tbl,
        args(0).asInstanceOf[Long], args(1).asInstanceOf[Long])
    df.queryExecution.analyzed
  }

  private[graft] def descriptions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => LogicalPlan)] =
    fns.map { fn =>
      (FunctionIdentifier(fn.name),
        new ExpressionInfo(LakeMaintenance.getClass.getName, fn.name),
        (exprs: Seq[Expression]) => buildNode(fn, exprs))
    } :+ ((FunctionIdentifier("table_changes"),
      new ExpressionInfo(LakeMaintenance.getClass.getName, "table_changes"),
      (exprs: Seq[Expression]) => changesBuilder(exprs)))

  /** Programmatic twin of the `spark.sql.extensions` path: attach the
    * TVFs + their planning strategy to an EXISTING session. */
  def register(spark: SparkSession): Unit = {
    descriptions.foreach { case (id, info, builder) =>
      spark.sessionState.tableFunctionRegistry
        .registerFunction(id, info, builder)
    }
    ensureStrategy(spark)
  }

  private[graft] def ensureStrategy(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies
        .contains(LakeMaintenanceStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ LakeMaintenanceStrategy

  /** The Lake serving `catalog` in this session: the initialized
    * catalog instance's warm Lake when the catalog has served a query,
    * else a fresh one over the conf'd root — loud when the catalog
    * isn't configured at all. */
  private[sources] def lakeFor(spark: SparkSession,
                               catalog: String): Lake =
    LakeCatalog.instance(catalog).flatMap(_.lakeForSession(spark))
      .getOrElse {
      val key = s"spark.sql.catalog.$catalog.root"
      val root = spark.conf.getOption(key).getOrElse(
        throw new IllegalArgumentException(
          s"'$catalog' is not a configured lake catalog (no $key)"))
      new Lake(spark, root)
    }
}

/** Logical leaf for one maintenance call — carries everything needed
  * to run at execution. Stats are nominal: the output is a handful of
  * driver-computed rows. */
private[graft] case class LakeMaintenanceNode(
    fn: String, catalog: String, table: String, args: Seq[Any],
    output: Seq[Attribute]) extends LeafNode {
  override def computeStats(): Statistics = Statistics(sizeInBytes = 64)
}

private[graft] object LakeMaintenanceStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: LakeMaintenanceNode => LakeMaintenanceExec(n) :: Nil
    case _ => Nil
  }
}

/** One-shot physical node: runs the maintenance call once on the
  * driver (all four are manifest transactions / commit-log reads —
  * driver-side by nature) and returns its summary rows. */
private[graft] case class LakeMaintenanceExec(node: LakeMaintenanceNode)
  extends SparkPlan with LeafExecNode {

  override def output: Seq[Attribute] = node.output

  // lazy: whichever of executeCollect/doExecute runs first performs
  // the side effect exactly once
  private lazy val result: Array[InternalRow] = {
    val spark = org.apache.spark.sql.SparkSession.active
    val lake = LakeMaintenance.lakeFor(spark, node.catalog)
    LakeMaintenance.runFn(node.fn, lake, node.table, node.args)
      .map(vals => new GenericInternalRow(vals.toArray): InternalRow)
      .toArray
  }

  override def executeCollect(): Array[InternalRow] = result

  // downstream operators (take/limit, codegen) consume UnsafeRow;
  // project the generic rows before they leave this node
  override protected def doExecute()
      : org.apache.spark.rdd.RDD[InternalRow] = {
    val types = output.map(_.dataType)
    sparkContext.parallelize(result.toIndexedSeq, 1)
      .mapPartitions { it =>
        val proj = org.apache.spark.sql.catalyst.expressions
          .UnsafeProjection.create(types.toArray)
        it.map(r => proj(r).copy())
      }
  }
}
