package graft.sources

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.plans.ManifestPartitioningIndex
import graft.v3.Lake

/** The lake's pure-SQL surface: a DataSourceV2 [[TableCatalog]] whose
  * tables plan through the manifest-served
  * [[graft.plans.ManifestPartitioningIndex]] — `SELECT … FROM
  * lake.nfp` costs ZERO driver filesystem listings, and Spark's native
  * time-travel syntax `VERSION AS OF v` replays a pinned snapshot
  * ([[graft.v3.Lake.readAt]]'s live/retired resolution). Register:
  *
  * {{{
  *   spark.sql.catalog.lake      = graft.sources.LakeCatalog
  *   spark.sql.catalog.lake.root = /path/to/lake
  * }}}
  *
  * Reads plus the writes that ARE lake transactions: `INSERT INTO`
  * routes through [[graft.v3.Lake.append]] (staged write, commit
  * lock, versioned manifest publish — see [[LakeTable]]); `CREATE
  * TABLE` / CTAS through [[graft.v3.Lake.createTable]] (schema
  * registry + empty manifest v1); `DELETE FROM` through
  * [[graft.v3.Lake.deleteWhere]] (copy-on-write file rewrite, with
  * `chain_name`-equality predicates downgraded to the metadata-only
  * [[graft.v3.Lake.dropChain]]); `DROP TABLE` through
  * [[graft.v3.Lake.dropTable]]; additive `ALTER TABLE ADD COLUMN` /
  * widening `ALTER COLUMN TYPE` through
  * [[graft.v3.Lake.evolveSchema]]. Time travel: `VERSION AS OF`
  * replays a pinned snapshot id; `TIMESTAMP AS OF` resolves the
  * commit log's `#ts` headers to the version current at that
  * wall-clock. `UPDATE` / `MERGE INTO` run as group-based
  * copy-on-write rewrites through [[LakeRowLevelOperation]] (runtime
  * group filtering narrows them to the matched partitions; the
  * commit is one retained manifest transaction). Everything the
  * lake's transactional model has no SQL shape for — `renameTable`,
  * column drops/renames/narrowing, `INSERT OVERWRITE` — refuses
  * loudly and points at the Lake API. Each `loadTable` binds the
  * THEN-current manifest version: a SQL query is a consistent
  * snapshot read, exactly like the Scala `lake.read`. */
class LakeCatalog extends TableCatalog {

  private var catalogName: String = _
  private var root: String = _

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog '$name' needs spark.sql.catalog.$name.root"))
    LakeCatalog.register(name, this)
    LakeCatalog.ensureTruncateStrategy()
  }

  override def name(): String = catalogName

  /** One Lake per catalog instance (Spark builds one catalog instance
    * per session): keeps the manifest fold cache warm across queries
    * without a static session-keyed map that would pin every session
    * and its folded caches forever. */
  @volatile private var cached: (SparkSession, Lake) = _
  private def lake: Lake = {
    val s = SparkSession.active
    val c = cached
    if (c != null && (c._1 eq s)) c._2
    else { val l = new Lake(s, root); cached = (s, l); l }
  }

  /** Test seam: the Lake this catalog is currently serving from. */
  private[graft] def currentLake: Option[Lake] =
    Option(cached).map(_._2)

  /** The cached Lake only if it was built FOR `s` — a maintenance TVF
    * running on a different session must not reuse a Lake whose reads
    * are bound to another (possibly stopped) session. */
  private[graft] def lakeForSession(s: SparkSession): Option[Lake] =
    Option(cached).filter(_._1 eq s).map(_._2)

  /** The lake is flat (one directory per table): accept the empty
    * namespace and a cosmetic `default`. */
  private def tableOf(ident: Identifier): String = {
    val ns = ident.namespace()
    if (!(ns.isEmpty || ns.sameElements(Array("default"))))
      throw new NoSuchTableException(ident)
    ident.name()
  }

  override def listTables(namespace: Array[String]): Array[Identifier] =
    lake.manifestTables
      .map(t => Identifier.of(namespace, t)).toArray

  override def loadTable(ident: Identifier): Table =
    load(ident, None)

  /** `VERSION AS OF v`: Spark routes the literal here. */
  override def loadTable(ident: Identifier, version: String): Table =
    load(ident, Some(try version.toLong catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"VERSION AS OF '$version' on ${ident.name()}: lake versions " +
          "are the numeric snapshot ids Lake.snapshot returns")
    }))

  /** `TIMESTAMP AS OF ts`: Spark hands the instant as MICROseconds
    * since epoch; it resolves against the commit log's `#ts` headers
    * to the manifest version current at that wall-clock
    * ([[graft.v3.Lake.versionAtTimestamp]] — latest commit ≤ ts,
    * loud refusal for pre-history instants), and the pinned file set
    * resolves live-or-retired exactly like `VERSION AS OF`. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val t = tableOf(ident)
    if (!lake.exists(t) && !lake.hasManifest(t) && !lake.hasSchema(t))
      throw new NoSuchTableException(ident)
    val tsMillis = Math.floorDiv(timestamp, 1000000L) * 1000L +
      Math.floorDiv(Math.floorMod(timestamp, 1000000L), 1000L)
    atCommit(t, lake.versionAtTimestamp(t, tsMillis))
  }

  /** A pinned read: the table as of retained commit `v`, through that
    * commit's deletion vectors. */
  private def atCommit(t: String, v: Long, what: String = ""): Table =
    table(t, lake.entriesAtCommit(t, v, what), dv = lake.dvMapAtCommit(t, v))

  private def load(ident: Identifier, version: Option[Long]): Table = {
    val t = tableOf(ident)
    if (!lake.exists(t) && !lake.hasManifest(t) && !lake.hasSchema(t))
      throw new NoSuchTableException(ident)
    version match {
      case Some(v) => atCommit(t, lake.pinnedCommit(t, v), s"snapshot v$v")
      case None => lake.currentEntriesKeyed(t) match {
        // manifest-backed: the (incarnation, version) identity rides
        // along so LakeTable can serve its scan index from the
        // per-version cache instead of rebuilding it per query
        case Some((inc, v, entries)) =>
          table(t, entries, cacheKey = Some((inc, v)),
            dv = lake.dvMapAtCommit(t, v))
        case None => table(t, lake.currentEntries(t))
      }
    }
  }

  /** A [[LakeTable]] over an explicit entry set; `cacheKey` carries
    * the manifest (incarnation, version) identity when the entries
    * came from the CURRENT manifest (index cacheable); `dv` the
    * deletion vectors current for that entry set (empty = the DSv2
    * fast path). */
  private def table(t: String, entries: Seq[(String, Long)],
                    cacheKey: Option[(String, Long)] = None,
                    dv: Map[String, graft.v3.Dv.Ref] = Map.empty)
      : Table = {
    // manifest-backed tables are chain_name-laid-out by the adoption
    // contract (requireLakeLayout); a manifest-LESS foreign table may
    // not be — serve it UNPARTITIONED (chain_name read from the file
    // data, the same semantics lake.read's listing fallback has)
    // instead of failing at plan time with a partition-parse error
    val partCols =
      if (entries.forall(_._1.contains("/chain_name="))) Seq("chain_name")
      else Seq.empty[String]
    new LakeTable(s"$catalogName.$t", SparkSession.active, lake, t,
      new Path(s"$root/$t"), entries, lake.effectiveSchema(t),
      partCols, cacheKey, dv)
  }

  override def tableExists(ident: Identifier): Boolean =
    try {
      val t = tableOf(ident)
      lake.exists(t) || lake.hasManifest(t) || lake.hasSchema(t)
    } catch { case _: NoSuchTableException => false }

  override def dropTable(ident: Identifier): Boolean =
    try lake.dropTable(tableOf(ident))
    catch { case _: NoSuchTableException => false }

  /** `CREATE TABLE` (and CTAS — Spark calls this then appends through
    * [[LakeTable]]'s write path) maps onto [[graft.v3.Lake.createTable]]:
    * schema committed to the registry, an EMPTY manifest v1 published,
    * so the new table is immediately manifest-served. Constraints that
    * have no lake shape refuse loudly: partitioning other than the
    * contract's `PARTITIONED BY (chain_name)` (or none — implied), a
    * custom LOCATION (tables live under the lake root), a non-parquet
    * provider. Column nullability is coerced to nullable — the lake's
    * columns are nullable by construction (schema evolution reads
    * pre-evolution files as null), and CTAS infers non-null from
    * literals, so refusing would reject most CTAS queries for a
    * constraint the lake never enforces. */
  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    val t = tableOf(ident)
    if (tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(ident)
    partitions.foreach { tr =>
      val ok = tr.name == "identity" && tr.references.length == 1 &&
        tr.references.head.fieldNames.sameElements(Array("chain_name"))
      if (!ok) throw new UnsupportedOperationException(
        s"PARTITIONED BY ${tr.describe} has no lake shape - lake " +
          "tables are hive-partitioned by chain_name (declare " +
          "PARTITIONED BY (chain_name) or nothing; it is implied)")
    }
    val provider = Option(properties.get(TableCatalog.PROP_PROVIDER))
    if (!provider.forall(p => p.equalsIgnoreCase("parquet") ||
        p.equalsIgnoreCase("lake")))
      throw new UnsupportedOperationException(
        s"USING ${provider.get} has no lake shape - lake tables are " +
          "parquet (declare USING parquet or nothing)")
    if (properties.containsKey(TableCatalog.PROP_LOCATION) &&
        !properties.containsKey(TableCatalog.PROP_IS_MANAGED_LOCATION))
      throw new UnsupportedOperationException(
        s"LOCATION has no lake shape - table $t lives under the " +
          s"lake root ($root/$t)")
    val lakeSchema = StructType(schema.fields.map(_.copy(nullable = true)))
    lake.createTable(t, lakeSchema)
    // user table properties ride the lake's versioned property
    // registry (write.bloom.columns etc. take effect on first write);
    // Spark's reserved/bookkeeping keys are not table state
    import scala.jdk.CollectionConverters._
    val user = properties.asScala.filterNot { case (k, _) =>
      LakeCatalog.reservedProps.contains(k) || k.startsWith("option.")
    }.toMap
    if (user.nonEmpty) lake.setTableProperties(t, user)
    loadTable(ident)
  }

  /** `ALTER TABLE … ADD COLUMN` / type-widening `ALTER COLUMN … TYPE`
    * map onto [[graft.v3.Lake.evolveSchema]] — they ARE the lake's
    * additive-only evolution model, and evolveSchema enforces it
    * (drops, renames and narrowing fail loudly there, with the
    * model's reasoning). `SET/UNSET TBLPROPERTIES` map onto the lake's
    * versioned property registry ([[graft.v3.Lake.setTableProperties]]
    * — `write.bloom.columns`, `write.layout` etc. take effect on the
    * next write/maintenance pass). Anything else has no lake shape →
    * refuse. */
  override def alterTable(ident: Identifier,
                          changes: TableChange*): Table = {
    val t = tableOf(ident)
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val props = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // reserved keys REFUSE here (SET LOCATION / SET OWNER / provider
    // arrive as SetProperty in this Spark version): silently dropping
    // them would report success for a no-op DDL, breaking the
    // catalog's everything-without-a-lake-shape-refuses-loudly
    // contract. createTable FILTERS the same keys instead because its
    // property map carries engine bookkeeping alongside user intent.
    def guardKey(k: String): String = {
      if (LakeCatalog.reservedProps.contains(k) || k.startsWith("option."))
        throw new UnsupportedOperationException(
          s"ALTER TABLE ... ('$k') has no lake shape - lake tables " +
            "live under the lake root as parquet with lake-managed " +
            "bookkeeping; only user table properties are settable")
      k
    }
    val schemaChanges = changes.filter {
      case set: TableChange.SetProperty =>
        props.put(guardKey(set.property), set.value); false
      case rm: TableChange.RemoveProperty =>
        props.put(guardKey(rm.property), null); false
      case _ => true
    }
    // schema changes VALIDATE AND APPLY FIRST (the fold and
    // evolveSchema hold every refusal), properties after - so a mixed
    // ALTER that dies on an unsupported schema change has not already
    // committed a property version the failed statement keeps
    if (schemaChanges.isEmpty) {
      if (props.nonEmpty) lake.setTableProperties(t, props.toMap)
      return loadTable(ident)
    }
    val next = schemaChanges.foldLeft(lake.effectiveSchema(t)) { (schema, ch) =>
      ch match {
        case add: TableChange.AddColumn =>
          require(add.fieldNames.length == 1,
            "lake tables have no nested columns to add into")
          // refuse what evolution can't honor rather than silently
          // rewriting the DDL: every pre-evolution file reads the new
          // column as null, so NOT NULL is a lie the first SELECT
          // would expose; position is cosmetic but a silent reorder
          // still isn't what the user wrote
          if (!add.isNullable) throw new UnsupportedOperationException(
            s"ADD COLUMN ${add.fieldNames.head} NOT NULL has no lake " +
              "shape - pre-evolution files read the column as null, " +
              "so added columns are nullable by construction")
          if (add.position != null) throw new UnsupportedOperationException(
            s"ADD COLUMN ${add.fieldNames.head} with a position has " +
              "no lake shape - evolution appends columns")
          StructType(schema.fields :+ org.apache.spark.sql.types
            .StructField(add.fieldNames.head, add.dataType,
              nullable = true))
        case up: TableChange.UpdateColumnType =>
          require(up.fieldNames.length == 1,
            "lake tables have no nested columns to retype")
          if (!schema.fieldNames.contains(up.fieldNames.head))
            throw new IllegalArgumentException(
              s"ALTER COLUMN ${up.fieldNames.head}: no such column on " +
                s"$t (have: ${schema.fieldNames.mkString(", ")})")
          StructType(schema.fields.map(f =>
            if (f.name == up.fieldNames.head)
              f.copy(dataType = up.newDataType) else f))
        case other => throw new UnsupportedOperationException(
          s"ALTER ${other.getClass.getSimpleName} has no lake shape - " +
            "only additive ADD COLUMN and widening ALTER COLUMN TYPE " +
            "map onto the lake's schema evolution")
      }
    }
    lake.evolveSchema(t, next)
    if (props.nonEmpty) lake.setTableProperties(t, props.toMap)
    loadTable(ident)
  }

  override def renameTable(oldIdent: Identifier,
                           newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "lake tables cannot be renamed through SQL")
}

object LakeCatalog {
  /** Spark's reserved / engine-bookkeeping property keys — not table
    * state; filtered from the lake's versioned property registry by
    * BOTH createTable and alterTable. */
  private[sources] val reservedProps: Set[String] = {
    import org.apache.spark.sql.connector.catalog.TableCatalog
    Set(TableCatalog.PROP_PROVIDER, TableCatalog.PROP_LOCATION,
      TableCatalog.PROP_IS_MANAGED_LOCATION, TableCatalog.PROP_OWNER,
      TableCatalog.PROP_EXTERNAL, "transient_lastDdlTime")
  }

  /** Test seam: initialized catalog instances by NAME, so specs and
    * graded rows assert zero-listing plans on exactly the Lake THEIR
    * catalog serves from — a single last-instance handle would race
    * any other catalog initialization in the JVM. Bounded by
    * OLDEST-entry eviction past 64 names (insertion-ordered; a
    * clear-all here once dropped every live seam whenever the 65th
    * catalog of a JVM initialized). */
  private val byName =
    new java.util.concurrent.ConcurrentHashMap[String, LakeCatalog]()
  private val byNameOrder =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private def register(name: String, cat: LakeCatalog): Unit =
    // synchronized: the map put and the queue reposition must be one
    // unit, or two threads re-registering a name race into duplicate
    // queue entries and the eviction can drop a live catalog's seam.
    // Catalog initialization is rare driver-side work; contention nil.
    byNameOrder.synchronized {
      // re-registration refreshes the name's queue position: a name
      // that keeps its original slot would be evicted as "oldest"
      // while actively serving (a just-re-initialized catalog losing
      // its seam to the 65th distinct name)
      if (byName.put(name, cat) != null) byNameOrder.remove(name)
      byNameOrder.add(name)
      while (byName.size > 64) {
        val oldest = byNameOrder.poll()
        if (oldest == null) return
        byName.remove(oldest)
      }
    }
  private[graft] def instance(name: String): Option[LakeCatalog] =
    Option(byName.get(name))

  /** Register [[LakeTruncateStrategy]] with the active session, once
    * (via `spark.experimental.extraStrategies`, the sanctioned runtime
    * extension point, so pure-conf catalog users need no session
    * extensions). Every SQL row-level command plans through standard
    * machinery EXCEPT the bare `DELETE FROM t` (no WHERE): the
    * analyzer deliberately keeps it as `DeleteFromTable(rel, true)`
    * for `TruncatableTable`s, and Spark's built-in planning for that
    * node requires the scan as the command's DIRECT child — but every
    * file-based DSv2 scan emits partition columns last, so on a
    * chain_name-first schema the optimizer's reordering Project makes
    * built-in planning die with an internal error. One shape, one
    * 20-line shim. */
  private[sources] def ensureTruncateStrategy(): Unit =
    try {
      val s = SparkSession.active
      if (!s.experimental.extraStrategies.contains(LakeTruncateStrategy))
        s.experimental.extraStrategies =
          s.experimental.extraStrategies :+ LakeTruncateStrategy
    } catch { case _: IllegalStateException => () /* no active session */ }
}

/** Plans the bare `DELETE FROM <lake table>` (no WHERE — SQL
  * truncate): finds the [[LakeTable]] at the command's leaf (through
  * whatever Project/alias the optimizer wrapped the scan in) and runs
  * the metadata-only retained truncate. Conditional deletes never
  * reach this strategy (the analyzer rewrites them row-level or the
  * optimizer downgrades them to delete-with-filters); non-lake tables
  * fall through untouched. */
object LakeTruncateStrategy
  extends org.apache.spark.sql.execution.SparkStrategy {
  import org.apache.spark.sql.catalyst.expressions.Literal
  import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable, LogicalPlan}
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
  import org.apache.spark.sql.types.BooleanType

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case DeleteFromTable(child, Literal(true, BooleanType)) =>
      child.collectLeaves().collectFirst {
        case r: DataSourceV2ScanRelation
            if r.relation.table.isInstanceOf[LakeTable] =>
          r.relation.table.asInstanceOf[LakeTable]
        case r: DataSourceV2Relation if r.table.isInstanceOf[LakeTable] =>
          r.table.asInstanceOf[LakeTable]
      } match {
        case Some(t) => LakeTruncateExec(t) :: Nil
        case None => Nil
      }
    case _ => Nil
  }
}

/** One-shot physical node for the SQL truncate: runs the
  * metadata-only manifest transaction once, returns no rows. */
private[graft] case class LakeTruncateExec(table: LakeTable)
  extends org.apache.spark.sql.execution.SparkPlan
  with org.apache.spark.sql.execution.LeafExecNode {

  private lazy val done: Unit = {
    table.deleteWhere(
      Array.empty[org.apache.spark.sql.sources.Filter])
  }

  override def output
      : Seq[org.apache.spark.sql.catalyst.expressions.Attribute] = Nil

  override def executeCollect()
      : Array[org.apache.spark.sql.catalyst.InternalRow] = {
    done; Array.empty
  }

  override protected def doExecute()
      : org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] = {
    done; sparkContext.emptyRDD
  }
}

/** One lake table bound to a fixed manifest version: schema from the
  * lake's schema registry, scan built by Spark's own DSv2 parquet
  * machinery over the manifest-served index (predicate pushdown,
  * column pruning, partition pruning — all from metadata).
  *
  * `INSERT INTO` is supported and routes through
  * [[graft.v3.Lake.append]] — a full manifest TRANSACTION (staged
  * write, commit lock, versioned publish), so a SQL append is as
  * atomic and as invisible-on-crash as the Scala API's. `INSERT
  * OVERWRITE` refuses: overwrite is a retention decision the lake
  * expresses through upsert/compact/retention, not a sink mode. */
private[graft] class LakeTable(
    tableName: String,
    spark: SparkSession,
    lake: Lake,
    lakeTable: String,
    tableDir: Path,
    entries: Seq[(String, Long)],
    tableSchema: StructType,
    partCols: Seq[String],
    cacheKey: Option[(String, Long)] = None,
    dv: Map[String, graft.v3.Dv.Ref] = Map.empty) extends Table
    with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  override def name(): String = tableName

  /** SQL `UPDATE` / `MERGE INTO` (and the untranslatable-`DELETE`
    * fallback): group-based copy-on-write through
    * [[LakeRowLevelOperation]] — Spark rewrites the command into a
    * ReplaceData plan over this operation's scan/write pair; runtime
    * group filtering narrows the rewrite to the partitions holding
    * matched rows, and the commit is one manifest transaction
    * (retained, optimistic-concurrency protected). Translatable
    * DELETEs never reach this path — Spark's metadata-only rule
    * downgrades them to [[deleteWhere]] first.
    *
    * DELETION-VECTOR tables MATERIALIZE first: the group-based
    * machinery reads raw files and would resurrect DV'd rows into the
    * rewritten output. [[graft.v3.Lake.materializeDvs]] is a
    * rewrite-only commit (row-identical, CDC-invisible), so the
    * operation then plans over the materialized — logically
    * identical — state; a vector added between the materialize and
    * this operation's own commit aborts loudly (replaceStaged's
    * expects-no-vector check). */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    val (entriesRL, cacheKeyRL) =
      if (dv.isEmpty) (entries, cacheKey)
      else {
        lake.materializeDvs(lakeTable)
        lake.currentEntriesKeyed(lakeTable) match {
          case Some((inc, v, es)) => (es, Some((inc, v)))
          case None => (lake.currentEntries(lakeTable), None)
        }
      }
    val op = new LakeRowLevelOperation(spark, lake, lakeTable, tableDir,
      entriesRL, tableSchema, partCols, info.command, cacheKeyRL)
    () => op
  }

  /** SQL `DELETE FROM` — three lake shapes, cheapest first:
    *  - no filters (Spark's TRUNCATE default routes here too) →
    *    [[graft.v3.Lake.truncateTable]], one metadata-only manifest
    *    transaction;
    *  - a single `chain_name = v` / `chain_name IN (…)` →
    *    [[graft.v3.Lake.dropChain]], a metadata-only partition drop;
    *  - anything else → [[graft.v3.Lake.deleteWhereRetrying]], the
    *    copy-on-write rewrite of exactly the files holding matches.
    * All three RETAIN the removed files (retention area), so pinned
    * `VERSION AS OF` / `TIMESTAMP AS OF` reads taken before the
    * delete stay readable until vacuum — the published formats'
    * delete-then-VACUUM lifecycle, which is the right default for a
    * SQL surface that has no `retain` parameter to pass. */
  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter])
      : Unit = {
    import org.apache.spark.sql.sources.{AlwaysTrue, EqualTo, In}
    filters match {
      // no WHERE clause arrives as AlwaysTrue (or an empty array from
      // Spark's TRUNCATE default) - both are the metadata-only truncate
      case fs1 if fs1.forall(_.isInstanceOf[AlwaysTrue]) =>
        lake.truncateTable(lakeTable, retain = true); ()
      case Array(EqualTo("chain_name", v: String)) =>
        lake.dropChain(lakeTable, v, retain = true); ()
      case Array(In("chain_name", vs)) if vs.forall(_.isInstanceOf[String]) =>
        // ONE manifest transaction for the whole IN list: per-value
        // commits would expose partially-deleted state to concurrent
        // readers and leave a failed statement half-applied
        lake.dropChains(lakeTable,
          vs.map(_.asInstanceOf[String]).toSeq, retain = true); ()
      case fs0 =>
        val cond = fs0.map(f => LakeTable.filterColumn(f).getOrElse(
          throw new UnsupportedOperationException(
            s"DELETE predicate $f has no lake delete shape")))
          .reduce(_ && _)
        lake.deleteWhereRetrying(lakeTable, cond, retain = true); ()
    }
  }

  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    filters.forall(f => LakeTable.filterColumn(f).isDefined)

  override def schema(): StructType = tableSchema

  /** The lake's versioned table properties — `SHOW TBLPROPERTIES`
    * reads these. Cached for the table instance's life (Spark calls
    * `properties()` repeatedly during analysis; one registry read is
    * enough — instances are minted per loadTable, so staleness is
    * unchanged). */
  private lazy val cachedProperties: util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    lake.tableProperties(lakeTable).foreach { case (k, v) => m.put(k, v) }
    m.put(TableCatalog.PROP_PROVIDER, "parquet")
    java.util.Collections.unmodifiableMap(m)
  }

  override def properties(): util.Map[String, String] = cachedProperties

  override def partitioning(): Array[Transform] =
    partCols.map(Expressions.identity).toArray

  override def capabilities(): util.Set[TableCapability] = {
    val s = new util.HashSet[TableCapability]()
    s.add(TableCapability.BATCH_READ)
    s.add(TableCapability.V1_BATCH_WRITE)
    s
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = {
    // DELETION-VECTOR tables fall back to a V1Scan over the lake's
    // own DV-aware plan (the stock DSv2 parquet scan cannot filter
    // rows by position): pushed filters prune inside it (and Spark
    // re-applies them above — none are reported handled), required
    // columns project inside it. DV-free tables — the overwhelming
    // common case — keep the cached-index DSv2 path byte-identically.
    if (dv.nonEmpty)
      return new DvFallbackScanBuilder(spark, tableSchema,
        () => lake.scanEntriesWithDv(lakeTable, entries, tableSchema, dv))
    val partSchema =
      StructType(tableSchema.fields.filter(f => partCols.contains(f.name)))
    // the index is immutable per manifest version (a version IS a
    // fixed file set), but Spark calls newScanBuilder per QUERY —
    // rebuilding 10⁶ synthetic FileStatus + the partition spec each
    // time cost 7 s/query at a million files (ManifestProbe
    // dsv2_plan_pruned_warm), so current-manifest loads serve it from
    // the per-(root, table, incarnation, version, schema) cache. A
    // cache miss one-or-a-few DELTA commits past a cached version
    // PATCHES the cached index forward (O(batch), shared FileStatus
    // arrays for untouched dirs) instead of rebuilding O(files) —
    // ~3 s per commit at 10⁶ entries otherwise (ManifestProbe
    // dsv2_plan_after_commit); the patched result is trusted only if
    // its (count, bytes) fingerprint matches the manifest's own entry
    // set, else full rebuild. Pinned loads (VERSION/TIMESTAMP AS OF)
    // build fresh: their entries mix live and retired locations that
    // retirement can still move under a cached index.
    val index = cacheKey match {
      case Some((inc, v)) =>
        LakeTable.cachedIndex(lake.root, lakeTable, inc, v, tableSchema,
          () => {
            val patched = LakeTable
              .earlierIndex(lake.root, lakeTable, inc, v, tableSchema)
              .flatMap { case (w, prev) =>
                lake.commitDeltasAbs(lakeTable, inc, w, v).map(_.foldLeft(
                  prev) { case (idx, (adds, rms)) => idx.patched(adds, rms) })
              }
              .filter(_.fingerprint ==
                ((entries.size.toLong, entries.map(_._2).sum)))
            patched.getOrElse(new ManifestPartitioningIndex(spark,
              tableDir, entries, partSchema,
              stats = Some(lake.statsProvider(lakeTable))))
          })
      case None =>
        new ManifestPartitioningIndex(spark, tableDir, entries, partSchema,
          stats = Some(lake.statsProvider(lakeTable)))
    }
    val dataSchema =
      StructType(tableSchema.fields.filterNot(f => partCols.contains(f.name)))
    new MetadataAggScanBuilder(
      ParquetScanBuilder(spark, index, tableSchema, dataSchema, options),
      serveAgg,
      wrap = {
        // dynamic file pruning: joins against this table hand their
        // build-side key values to the scan at execution, pruning
        // partitions (chain_name) and stats-covered files before any
        // task schedules (RuntimeSkippingScan)
        case p: org.apache.spark.sql.execution.datasources.v2.parquet
            .ParquetScan =>
          new RuntimeSkippingScan(p, tableSchema, partCols.toSet,
            lake.statsColumns(lakeTable).toSet)
        case s => s
      })
  }

  /** Serve a bare (no GROUP BY, no filters — the builder gates that)
    * COUNT(*)/MIN/MAX aggregation straight from manifest + sidecar
    * metadata: Some((schema, row)) = the final answer, zero scan
    * tasks; None = some fact is missing (partial stats, vectors under
    * MIN/MAX, exotic function) → ordinary scan. */
  private def serveAgg(agg: org.apache.spark.sql.connector.expressions
      .aggregate.Aggregation)
      : Option[(StructType, org.apache.spark.sql.catalyst.InternalRow)] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    import org.apache.spark.sql.types.{LongType, StructField}
    if (agg.groupByExpressions.nonEmpty) return None
    if (agg.aggregateExpressions.isEmpty) return None
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        Some(r.fieldNames.head)
      case _ => None
    }
    val fields = Seq.newBuilder[StructField]
    val values = Seq.newBuilder[Any]
    // VERSION-BOUND serving: answers come from the entry set + dv map
    // THIS table instance was loaded with, never from a refetched
    // current state — a pinned `VERSION AS OF` (or a load raced by a
    // newer commit) must aggregate its own snapshot. Pinned loads over
    // retired files simply miss sidecar entries (keyed by live path)
    // and fall back to the scan — conservative, never wrong.
    agg.aggregateExpressions.foreach {
      case _: CountStar =>
        lake.metadataRowCountFor(lakeTable, entries, dv) match {
          case Some(n) =>
            fields += StructField("count(*)", LongType, nullable = false)
            values += n
          case None => return None
        }
      case m: Min => colOf(m.column) match {
        case Some(c) =>
          lake.metadataBoundsFor(lakeTable, entries, dv, c) match {
            case Some((lo, _)) =>
              fields += StructField(s"min($c)", tableSchema(c).dataType)
              values += lo
            case None => return None
          }
        case None => return None
      }
      case m: Max => colOf(m.column) match {
        case Some(c) =>
          lake.metadataBoundsFor(lakeTable, entries, dv, c) match {
            case Some((_, hi)) =>
              fields += StructField(s"max($c)", tableSchema(c).dataType)
              values += hi
            case None => return None
          }
        case None => return None
      }
      case _ => return None
    }
    Some((StructType(fields.result()),
      org.apache.spark.sql.catalyst.InternalRow.fromSeq(values.result())))
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.Write =
        v1Write
    }

  private def v1Write: V1Write = new V1Write {
      override def toInsertableRelation: InsertableRelation =
        (data: org.apache.spark.sql.DataFrame, overwrite: Boolean) => {
          if (overwrite) throw new UnsupportedOperationException(
            s"INSERT OVERWRITE on lake table $tableName is not " +
              "supported - rewrites are lake transactions " +
              "(upsert/compact/retention), not a sink mode")
          lake.append(data.select(
            tableSchema.fieldNames.toSeq.map(org.apache.spark.sql
              .functions.col): _*), lakeTable)
        }
    }
}

/** Spark's own parquet scan builder plus METADATA-ONLY aggregate
  * serving: a bare `SELECT count(*) / min(c) / max(c) FROM t` (no
  * WHERE, no GROUP BY) answers from the manifest + stats sidecar as a
  * [[org.apache.spark.sql.connector.read.LocalScan]] — literally zero
  * scan tasks, the Delta/Iceberg answer-from-metadata fast path —
  * whenever every live file carries the needed fact; anything missing
  * falls through to the stock parquet scan (and its own footer-level
  * aggregate pushdown, when enabled). Filters disarm the
  * interception: a filtered aggregate needs the rows. */
private[graft] class MetadataAggScanBuilder(
    delegate: ParquetScanBuilder,
    serve: org.apache.spark.sql.connector.expressions.aggregate.Aggregation
      => Option[(StructType, org.apache.spark.sql.catalyst.InternalRow)],
    wrap: org.apache.spark.sql.connector.read.Scan
      => org.apache.spark.sql.connector.read.Scan = identity)
  extends ScanBuilder
  with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
  with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
  with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private var sawFilters = false
  private var served
      : Option[(StructType, org.apache.spark.sql.catalyst.InternalRow)] =
    None

  override def pushFilters(
      filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    if (filters.nonEmpty) sawFilters = true
    delegate.pushFilters(filters)
  }

  override def pushedFilters()
      : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    delegate.pushedFilters

  override def pruneColumns(requiredSchema: StructType): Unit =
    delegate.pruneColumns(requiredSchema)

  override def pushAggregation(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate
        .Aggregation): Boolean = {
    served = if (sawFilters) None else serve(aggregation)
    served.isDefined || delegate.pushAggregation(aggregation)
  }

  override def supportCompletePushDown(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate
        .Aggregation): Boolean =
    served.isDefined || delegate.supportCompletePushDown(aggregation)

  override def build(): org.apache.spark.sql.connector.read.Scan =
    served match {
      case Some((schema, row)) =>
        new org.apache.spark.sql.connector.read.LocalScan {
          override def rows(): Array[org.apache.spark.sql.catalyst
            .InternalRow] = Array(row)
          override def readSchema(): StructType = schema
          override def description(): String = "LakeMetadataAggScan"
        }
      case None => wrap(delegate.build())
    }
}

/** The DV-bearing table's scan: a DSv2 [[ScanBuilder]] wrapping the
  * lake's own DV-aware DataFrame plan behind Spark's `V1Scan` bridge.
  * Pushed filters translate back to Columns and prune INSIDE the plan
  * (partition pruning + data skipping engage there); none are
  * reported handled, so Spark re-applies them above — idempotent, so
  * an untranslatable filter costs pruning, never correctness. Column
  * pruning projects inside. The inner plan is Spark's own parquet
  * scan plus the codegen'd position filter on exactly the DV'd files
  * — the V1 bridge relays its InternalRows without conversion. */
private[graft] class DvFallbackScanBuilder(
    spark: SparkSession,
    tableSchema: StructType,
    buildDf: () => org.apache.spark.sql.DataFrame)
  extends ScanBuilder
  with org.apache.spark.sql.connector.read.SupportsPushDownFilters
  with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {

  private var required: StructType = tableSchema
  private var pushed: Array[org.apache.spark.sql.sources.Filter] =
    Array.empty

  override def pushFilters(
      filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    pushed = filters
    filters // all residual: Spark re-applies every one above the scan
  }

  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
    Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): org.apache.spark.sql.connector.read.Scan =
    new org.apache.spark.sql.connector.read.V1Scan {
      override def readSchema(): StructType = required
      override def toV1TableScan[T <: org.apache.spark.sql.sources
          .BaseRelation with org.apache.spark.sql.sources.TableScan](
          context: org.apache.spark.sql.SQLContext): T =
        new org.apache.spark.sql.sources.BaseRelation
          with org.apache.spark.sql.sources.TableScan {
          override def sqlContext: org.apache.spark.sql.SQLContext =
            context
          override def schema: StructType = required
          override def needConversion: Boolean = false
          override def buildScan()
              : org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
            import org.apache.spark.sql.functions.col
            val df0 = buildDf()
            val filtered = pushed.flatMap(LakeTable.filterColumn)
              .foldLeft(df0)(_.filter(_))
            filtered.select(required.fieldNames.toSeq.map(col): _*)
              .queryExecution.toRdd
              .asInstanceOf[org.apache.spark.rdd
                .RDD[org.apache.spark.sql.Row]]
          }
        }.asInstanceOf[T]
      override def description(): String = "LakeDvFallbackScan"
    }
}

private[graft] object LakeTable {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, lit, not}
  import org.apache.spark.sql.sources._

  /** Scan indexes for CURRENT manifest versions, keyed by (lake root,
    * table, incarnation, version, schema) — the DSv2 twin of
    * [[graft.v3.Lake]]'s relation cache, with the same purge rule:
    * inserting a version evicts the table's other versions, dead
    * incarnations and evolved-away schemas, so a long-lived session
    * holds ONE index per table. */
  private val indexCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String, String, Long, StructType), ManifestPartitioningIndex]()

  private[sources] def cachedIndex(root: String, table: String,
      inc: String, v: Long, schema: StructType,
      build: () => ManifestPartitioningIndex): ManifestPartitioningIndex = {
    val key = (root, table, inc, v, schema)
    Option(indexCache.get(key)).getOrElse {
      val idx = build()
      indexCache.put(key, idx)
      indexCache.keySet.removeIf(k => k._1 == root && k._2 == table &&
        (k._3 != inc || k._4 < v || (k._4 == v && k._5 != schema)))
      idx
    }
  }

  /** The newest cached index of this table OLDER than `v` (same
    * incarnation + schema) — the patch base for the incremental
    * per-commit index update. Eviction keeps at most one version per
    * table, so this is a bounded scan of a small map. */
  private[sources] def earlierIndex(root: String, table: String,
      inc: String, v: Long, schema: StructType)
      : Option[(Long, ManifestPartitioningIndex)] = {
    import scala.jdk.CollectionConverters._
    indexCache.entrySet().asScala
      .filter(e => e.getKey._1 == root && e.getKey._2 == table &&
        e.getKey._3 == inc && e.getKey._4 < v && e.getKey._5 == schema)
      .maxByOption(_.getKey._4)
      .map(e => (e.getKey._4, e.getValue))
  }

  /** The V1 filter algebra Spark hands `SupportsDelete`, translated
    * back to a Catalyst predicate for [[graft.v3.Lake.deleteWhere]]'s
    * copy-on-write scan. None = untranslatable (`canDeleteWhere`
    * refuses, and Spark surfaces its standard error instead of a
    * half-applied delete). */
  private[sources] def filterColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case And(l, r) =>
      for { lc <- filterColumn(l); rc <- filterColumn(r) } yield lc && rc
    case Or(l, r) =>
      for { lc <- filterColumn(l); rc <- filterColumn(r) } yield lc || rc
    case Not(c) => filterColumn(c).map(not)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case StringContains(a, v) => Some(col(a).contains(v))
    case _: AlwaysTrue => Some(lit(true))
    case _: AlwaysFalse => Some(lit(false))
    case _ => None
  }
}
