package v3bench

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.llm.{Curation, Dedup}
import graft.v3.{Lake, Pool, Schemas, Swap}
import graft.v3.ingest.{Connector, Ingest, ParquetFixtureConnector}

/** One workload: set-up (generation, lake build, warm-up), a fixed list
  * of operations per round, and the checks of every answer. */
trait Workload {
  /** Builds everything the rounds read; rep numbers the set-up repetition. */
  def setup(rep: Int): Unit
  def warmup(): Unit
  /** One pass over the workload's fixed operation list. */
  def round(i: Int): Unit
  /** Untimed work after a round: end-of-round checks, clean-up. */
  def afterRound(i: Int): Unit = ()
  /** Lakes whose public counters the traced rounds read. */
  def lakes: Seq[Lake]
  /** Workload-specific figures for the report (name -> value, unit). */
  def extra(traced: Boolean): Seq[(String, Double, String)] = Seq.empty
}

object Frames {
  private def ts(ms: Long) = new Timestamp(ms)

  def factory(spark: SparkSession, ev: Gen.Events): DataFrame =
    spark.createDataFrame(ev.pools.map { p =>
      Row(p.chain, ts(Gen.Genesis - (Gen.FirstBlock - p.createdBlock) * Gen.BlockMs),
        p.createdBlock, p.address.take(42) + "f" * 24, 0L, p.token0, p.token1,
        Gen.Fee.toString, Gen.TickSpacing.toString, p.address)
    }.asJava, Schemas.factory)

  def initialize(spark: SparkSession, ev: Gen.Events): DataFrame =
    spark.createDataFrame(ev.pools.map { p =>
      val first = ev.swapsByPool.get((p.chain, p.address)).flatMap(_.headOption)
      val tick = first.map(_.tick).getOrElse(0L)
      Row(p.chain, p.address, ts(Gen.Genesis - (Gen.FirstBlock - p.createdBlock) * Gen.BlockMs),
        p.createdBlock, 1L, 1L, p.token0 + "0" * 24, Gen.sqrtX96(tick), tick.toString,
        p.address, p.token1, "1000000000", "90000")
    }.asJava, Schemas.initialize)

  def swapRow(s: Gen.SwapRow): Row =
    Row(s.chain, s.address, s.ts, s.block, s.hash, s.log, s.amount0, s.amount1,
      s.sqrtX96, s.liquidity, s.tick.toString, s.hash.substring(2, 42),
      s.hash.substring(24, 64), s.hash.substring(10, 50), s.hash.substring(5, 45),
      s.tx, s.gasPrice.toString, s.gasUsed.toString, "0")

  def swaps(spark: SparkSession, rows: Seq[Gen.SwapRow]): DataFrame =
    spark.createDataFrame(rows.map(swapRow).asJava, Schemas.swaps)

  def mintBurns(spark: SparkSession, rows: Seq[Gen.MbRow]): DataFrame =
    spark.createDataFrame(rows.map { m =>
      Row(m.chain, m.address, m.ts, m.block, m.hash, m.log, m.amount.toString,
        (m.amount / 7).toString, (m.amount / 5).toString, m.owner,
        m.tickLower.toString, m.tickUpper.toString, m.typ.toLong,
        m.owner, m.hash.substring(3, 43), m.tx, "1000000000", "150000", "0")
    }.asJava, Schemas.mintBurn)
}

object Check {
  def relClose(got: Double, exp: Double, tol: Double = 1e-9): Boolean =
    if (exp == 0.0) math.abs(got) < tol
    else math.abs(got - exp) / math.abs(exp) < tol

  /** Ticks equal, liquidity within `tol` relative. */
  def liq(got: Seq[(Long, Double)], exp: Seq[(Long, Double)]): Boolean =
    got.length == exp.length && got.zip(exp).forall { case ((gt, gl), (et, el)) =>
      gt == et && relClose(gl, el) }

  def swap(got: Swap.SwapResult, exp: Swap.SwapResult): Boolean =
    relClose(got.amountOut, exp.amountOut) && relClose(got.sqrtPriceLast, exp.sqrtPriceLast)

  def series(rows: Array[Row], exp: Map[Long, (Long, Option[Long])]): Boolean =
    rows.length == exp.size && rows.forall { r =>
      val t = r.getTimestamp(r.fieldIndex("block_timestamp")).getTime
      val tick = r.get(r.fieldIndex("tick")) match {
        case null => None
        case v => Some(v.toString.toDouble.toLong)
      }
      exp.get(t).contains((r.getLong(r.fieldIndex("block_number")), tick))
    }
}

/** Read-only lake; a seeded sequence of pool sessions through `Pool`. */
final class PoolSession(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private var ev: Gen.Events = _
  private var lake: Lake = _
  def lakes: Seq[Lake] = Seq(lake)

  def setup(rep: Int): Unit = {
    ev = Gen.events(ctx.seed, Seq("ethereum", "arbitrum"), 4, 6000)
    lake = new Lake(spark, ctx.dir(s"lake-$rep"))
    lake.append(Frames.factory(spark, ev), Schemas.FactoryPoolCreated)
    lake.append(Frames.initialize(spark, ev), Schemas.PoolInitializeEvents)
    lake.append(Frames.swaps(spark, ev.swaps), Schemas.PoolSwapEvents)
    lake.append(Frames.mintBurns(spark, ev.mbs), Schemas.PoolMintBurnEvents)
  }

  def warmup(): Unit = session(new java.util.SplittableRandom(ctx.seed + 99), 0)

  def round(i: Int): Unit = session(new java.util.SplittableRandom(ctx.seed * 1000 + i), i)

  private def session(r: java.util.SplittableRandom, i: Int): Unit = {
    val spec = ev.pools((i * 3 + ctx.seed.toInt.abs) % ev.pools.size)
    val (chain, addr) = (spec.chain, spec.address)
    val ss = ev.swapsByPool((chain, addr))
    def asOf() = ss(10 + r.nextInt(ss.size - 10)).block + 0.5
    val pool = ctx.op("v3.pool.open") {
      val p = new Pool(spark, lake, addr, chain)
      p.ts; p.swaps; p.mintBurns; p
    }(_ => true)
    pool.foreach { p =>
      Seq.fill(2)(asOf()).foreach { a =>
        ctx.op("v3.pool.asof")(p.getPriceAt(a))(
          _.map(_.toString) == Gen.swapBefore(ev, chain, addr, a).map(_.sqrtX96))
      }
      val at = asOf()
      ctx.op("v3.pool.asof")(p.getTickAt(at))(
        _ == Gen.swapBefore(ev, chain, addr, at).map(_.tick))
      val la = asOf()
      ctx.op("v3.pool.liq")(p.createLiq(la).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)(
        Check.liq(_, Gen.poolLiquidityAt(ev, chain, addr, la)))
      val sa = asOf()
      val (ticks, inRange) = Gen.swapState(ev, chain, addr, sa)
      def call() = Swap.Calldata(sa, if (r.nextBoolean()) spec.token0 else spec.token1,
        math.pow(10, 5 + r.nextInt(4)) * (1 + r.nextInt(9)))
      val cold = call()
      ctx.op("v3.pool.swap_cold")(p.swapIn(cold, warn = false))(
        Check.swap(_, Swap.swapIn(cold, ticks, inRange, spec.token1, Gen.Fee)))
      Seq.fill(2)(call()).foreach { c =>
        ctx.op("v3.pool.swap_memo")(p.swapIn(c, warn = false))(
          Check.swap(_, Swap.swapIn(c, ticks, inRange, spec.token1, Gen.Fee)))
      }
      val start = ss(r.nextInt(ss.size / 2)).ts
      ctx.op("v3.pool.series")(p.getPriceSeries(start, "6h").collect())(
        Check.series(_, Gen.priceSeries(ev, chain, addr, start.getTime, 6 * 3600000L)))
      ctx.op("v3.pool.series")(p.getPriceSeries(start, "1d", gas = true).collect())(
        Check.series(_, Gen.priceSeries(ev, chain, addr, start.getTime, 24 * 3600000L)))
      p.unpersistCaches()
    }
  }
}

/** `Connector` that delegates and times each call from outside. */
final class TimedConnector(inner: Connector, ctx: Ctx) extends Connector {
  def minMaxBlock(table: String, pool: String, chain: String): Option[(Long, Long)] =
    ctx.tracer.span("v3.ingest.connector")(inner.minMaxBlock(table, pool, chain))
  def findSegment(table: String, maxBlock: Long, minBlock: Long, pool: String,
                  chain: String, tgtMaxRows: Long): Long =
    ctx.tracer.span("v3.ingest.connector")(
      inner.findSegment(table, maxBlock, minBlock, pool, chain, tgtMaxRows))
  def read(table: String, maxBlock: Long, minBlock: Long, pool: String, chain: String): DataFrame =
    ctx.tracer.span("v3.ingest.connector")(inner.read(table, maxBlock, minBlock, pool, chain))
}

/** Incremental ingest from a generated "remote warehouse" into a fresh
  * lake per round, then a correction upsert, a delete, a CDC stream,
  * compaction and vacuum, with a read-after-write check after each
  * commit. */
final class LakeIngest(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private var ev: Gen.Events = _
  private var fixture: String = _
  private var tranches: String = _
  private var late: Seq[Gen.SwapRow] = _
  private var lateKeys: Set[(String, String, Long)] = _
  private var corrections: Seq[Gen.SwapRow] = _
  private var cdc: Seq[Seq[(Gen.SwapRow, Boolean)]] = _
  private var deletePool: (String, String) = _
  private var deleteRange: (Long, Long) = _
  private var current: Lake = _
  private var fixtureBytes = 0L
  private var ingestRows = 0L
  private var ingestSec = 0.0
  private var segments = 0L
  private var storedBytes = 0L
  def lakes: Seq[Lake] = Option(current).toSeq
  private val Chains = Seq("ethereum")
  private val SwapKeys = Seq("chain_name", "transaction_hash", "log_index")
  private val CdcSchema = org.apache.spark.sql.types.StructType(Schemas.swaps.fields :+
    org.apache.spark.sql.types.StructField("__del", org.apache.spark.sql.types.BooleanType))

  def setup(rep: Int): Unit = {
    ev = Gen.events(ctx.seed, Chains, 3, 3000)
    val r = new java.util.SplittableRandom(ctx.seed + 7)
    // the last swaps of each chain arrive late, as a direct append
    val lastBlock = Chains.map(c => c -> ev.blockRange(c)._2).toMap
    val (remote, lateRows) = ev.swaps.partition(s => s.block < lastBlock(s.chain) - 400)
    late = lateRows
    lateKeys = late.map(key).toSet
    fixture = ctx.dir(s"warehouse-$rep")
    Frames.swaps(spark, remote).write.parquet(s"$fixture/${Schemas.PoolSwapEvents}/example.parquet")
    Frames.mintBurns(spark, ev.mbs).write.parquet(s"$fixture/${Schemas.PoolMintBurnEvents}/example.parquet")
    // input bytes: the warehouse plus the directly appended rows, as parquet
    val direct = ctx.dir(s"direct-$rep")
    Frames.factory(spark, ev).write.parquet(s"$direct/factory")
    Frames.initialize(spark, ev).write.parquet(s"$direct/initialize")
    Frames.swaps(spark, late).write.parquet(s"$direct/late")
    fixtureBytes = Ctx.parquetBytes(Path.of(fixture)) + Ctx.parquetBytes(Path.of(direct))
    def pick(n: Int) = Seq.fill(n)(remote(r.nextInt(remote.size))).distinctBy(s => (s.chain, s.hash, s.log))
    corrections = pick(30).map(s => s.copy(gasPrice = s.gasPrice + 1 + r.nextLong(1000L)))
    val p = ev.pools(r.nextInt(ev.pools.size))
    deletePool = (p.chain, p.address)
    val (lo, hi) = ev.blockRange(p.chain)
    val from = lo + r.nextLong(hi - lo - 2000)
    deleteRange = (from, from + 600)
    // two CDC tranches: gas corrections, tombstones and new swaps,
    // at most one change per key in a tranche
    var nextBlock = ev.swaps.map(_.block).max + 10
    cdc = (0 until 2).map { _ =>
      val upd = pick(12).map(s => (s.copy(gasPrice = s.gasPrice + 5000 + r.nextLong(1000L)), false))
      val del = pick(6).filterNot(d => upd.exists(u => u._1.hash == d.hash)).map(s => (s, true))
      val ins = (0 until 6).map { k =>
        val base = ev.swapsByPool((p.chain, p.address)).last
        nextBlock += 1 + r.nextInt(3)
        (base.copy(block = nextBlock, tx = k.toLong, log = 1L, tick = base.tick + k,
          sqrtX96 = Gen.sqrtX96(base.tick + k), hash = f"0x${nextBlock}%064x"), false)
      }
      upd ++ del ++ ins
    }
    tranches = ctx.dir(s"cdc-$rep")
    cdc.zipWithIndex.foreach { case (t, k) =>
      val dir = s"$tranches/t$k"
      spark.createDataFrame(t.map { case (s, d) => Row.fromSeq(Frames.swapRow(s).toSeq :+ d) }.asJava,
        CdcSchema).coalesce(1).write.parquet(dir)
      // pinned, increasing mtimes: maxFilesPerTrigger = 1 replays the
      // tranches in order, one micro-batch each
      val f = Files.list(Path.of(dir)).iterator.asScala.find(_.toString.endsWith(".parquet")).get
      Files.move(f, Path.of(tranches, s"t$k.parquet"))
      Path.of(tranches, s"t$k.parquet").toFile.setLastModified(1600000000000L + k * 60000L)
      Ctx.deleteTree(Path.of(dir))
    }
  }

  /** One round on a throwaway lake without the read-after-write checks:
    * every write path and the stream run once before timing. */
  def warmup(): Unit = { warming = true; round(1000); warming = false }
  private var warming = false

  private def key(s: Gen.SwapRow) = (s.chain, s.hash, s.log)

  def round(i: Int): Unit = {
    val lake = new Lake(spark, ctx.dir(s"round-$i"))
    current = lake
    val r = new java.util.SplittableRandom(ctx.seed * 1000 + i)
    val expected = mutable.LinkedHashMap.empty[(String, String, Long), Gen.SwapRow]
    val conn = new TimedConnector(new ParquetFixtureConnector(spark, fixture), ctx)

    def readAfterWrite(): Unit = if (!warming) {
      val n = expected.size.toLong
      ctx.op("v3.lake.read")(ctx.tracer.span("v3.lake.read.call")(lake.read(Schemas.PoolSwapEvents)).count())(_ == n)
      val live = ev.pools.filter(p => expected.valuesIterator.exists(_.address == p.address))
      val spec = live(r.nextInt(live.size))
      val rows = expected.valuesIterator.filter(s => s.chain == spec.chain && s.address == spec.address).toIndexedSeq
      if (rows.size > 20) {
        val sorted = rows.map(_.asOf).sorted
        val a = sorted(10 + r.nextInt(sorted.size - 10)) + 0.00001
        val want = rows.filter(_.asOf < a).maxByOption(_.asOf).map(_.sqrtX96)
        val pool = ctx.op("v3.pool.open") {
          val p = new Pool(spark, lake, spec.address, spec.chain); p.swaps; p
        }(_ => true)
        pool.foreach { p =>
          ctx.op("v3.pool.asof")(p.getPriceAt(a))(_.map(_.toString) == want)
          p.unpersistCaches()
        }
      }
    }

    // the pool registry arrives by direct appends; the event tables by
    // incremental ingest in segments
    ctx.write("v3.lake.append", lake)(lake.append(Frames.factory(spark, ev), Schemas.FactoryPoolCreated))
    ctx.write("v3.lake.append", lake)(lake.append(Frames.initialize(spark, ev), Schemas.PoolInitializeEvents))
    Chains.foreach { chain =>
      val t0 = System.nanoTime
      ctx.op("v3.ingest.update")(Ingest.updateTables(lake, conn,
        ev.pools.find(_.chain == chain).get.address, chain,
        tables = Seq(Schemas.PoolSwapEvents, Schemas.PoolMintBurnEvents), tgtMaxRows = 1300L))(_ => true)
        .filter(_ => ctx.recording).foreach { reps =>
          ingestSec += (System.nanoTime - t0) / 1e9
          ingestRows += reps.map(_.rows).sum
          segments += reps.map(_.segments).sum
        }
      ev.swaps.filter(s => s.chain == chain && !lateKeys(key(s))).foreach(s => expected(key(s)) = s)
      readAfterWrite()
    }
    // pruned SQL reads through LakeCatalog over the segment files
    val catalog = s"v3b_${ctx.seed.abs}_$i"
    spark.conf.set(s"spark.sql.catalog.$catalog", "graft.sources.LakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$catalog.root", lake.root)
    Chains.foreach { chain =>
      val (clo, chi) = ev.blockRange(chain)
      val from = clo + r.nextLong(chi - clo - 1500)
      val to = from + 1000
      val in = expected.valuesIterator.filter(s => s.chain == chain && s.block >= from && s.block <= to).toSeq
      val files = if (ctx.tracer.enabled) lake.fileInventory(Schemas.PoolSwapEvents).size else 0
      ctx.op("sources.sql") {
        val df = spark.sql(
          s"""SELECT count(*) AS n, sum(cast(tick AS BIGINT)) AS s
             |FROM $catalog.${Schemas.PoolSwapEvents}
             |WHERE chain_name = '$chain' AND block_number BETWEEN $from AND $to""".stripMargin)
        val row = df.collect().head
        ctx.scanned(df, files)
        (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
      }(_ == ((in.size.toLong, in.map(_.tick).sum)))
    }
    ctx.write("v3.lake.append", lake)(lake.append(Frames.swaps(spark, late), Schemas.PoolSwapEvents))
    late.foreach(s => expected(key(s)) = s)
    readAfterWrite()

    ctx.write("v3.lake.upsert", lake)(lake.upsert(Frames.swaps(spark, corrections),
      Schemas.PoolSwapEvents, SwapKeys))
    corrections.foreach(s => expected(key(s)) = s)
    readAfterWrite()

    val (dc, da) = deletePool
    val (from, to) = deleteRange
    ctx.write("v3.lake.delete", lake)(lake.deleteWhere(Schemas.PoolSwapEvents,
      col("chain_name") === dc && col("address") === da && col("block_number").between(from, to)))
    expected.filterInPlace { case (_, s) => !(s.chain == dc && s.address == da && s.block >= from && s.block <= to) }
    readAfterWrite()

    ctx.write("streaming.cdc", lake) {
      val q = graft.streaming.Streaming.upsertStream(
        graft.streaming.Streaming.fileStream(spark, tranches, CdcSchema, maxFilesPerTrigger = 1),
        lake, Schemas.PoolSwapEvents, SwapKeys, Seq("block_number", "log_index"), "__del",
        ctx.dir(s"ck-$i")).trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally if (q.isActive) q.stop()
    }
    cdc.foreach(_.foreach { case (s, del) => if (del) expected.remove(key(s)) else expected(key(s)) = s })
    readAfterWrite()

    ctx.write("v3.lake.compact", lake)(lake.compact(Schemas.PoolSwapEvents, 128L << 20))
    readAfterWrite()
    // vacuum deletes unreferenced files and publishes no table version
    ctx.write("v3.lake.vacuum", lake)(lake.vacuum(Schemas.PoolSwapEvents, keepLast = 1))

    val got = lake.read(Schemas.PoolSwapEvents)
      .select(col("chain_name"), col("transaction_hash"), col("log_index"), col("gas_price"),
        col("sqrtPriceX96"))
    finalRows = (got, expected.toMap)
  }

  private var finalRows: (DataFrame, Map[(String, String, Long), Gen.SwapRow]) = _

  override def afterRound(i: Int): Unit = {
    val (got, expected) = finalRows
    ctx.verify("final lake rows equal the expected state") {
      val rows = got.collect()
      rows.length == expected.size && rows.forall { x =>
        expected.get((x.getString(0), x.getString(1), x.getLong(2))).exists(s =>
          s.gasPrice.toString == x.getString(3) && s.sqrtX96 == x.getString(4)) }
    }
    storedBytes = Ctx.treeBytes(Path.of(current.root))
  }

  override def extra(traced: Boolean): Seq[(String, Double, String)] = Seq(
    ("ingest_rows_per_s", if (ingestSec > 0) ingestRows / ingestSec else 0.0, "1/s"),
    ("stored_bytes_per_input_byte", storedBytes.toDouble / fixtureBytes, "ratio"),
    ("ingest_segments", segments.toDouble, "count"),
    ("ingest_rows", ingestRows.toDouble, "count"))
}

/** Near-dup curation under both pair sources plus the audit, over a
  * seeded corpus with planted exact and near copies. */
final class CorpusCuration(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private var corpus: Gen.Corpus = _
  private var path: String = _
  private var docs = 0L
  private var docSec = 0.0
  def lakes: Seq[Lake] = Seq.empty

  def setup(rep: Int): Unit = {
    corpus = Gen.corpus(ctx.seed, 300, 60, 60)
    path = ctx.dir(s"corpus-$rep")
    spark.createDataFrame(corpus.docs).toDF("id", "text").write.parquet(path)
  }

  def warmup(): Unit = {
    val df = spark.read.parquet(path).limit(100)
    Curation.pipelineNearDup(df, "text", "id").count()
    Curation.pipelineNearDup(df, "text", "id", pairSource = Curation.lshPairSource()).count()
    Curation.audit(df, "text", "id").count()
  }

  private def timedDocs[T](f: => T): T = {
    val t0 = System.nanoTime
    val out = f
    docSec += (System.nanoTime - t0) / 1e9
    docs += corpus.docs.size
    out
  }

  def round(i: Int): Unit = {
    val df = spark.read.parquet(path)
    val keep = corpus.baseIds
    def same(what: String)(got: Set[Long]): Boolean = {
      if (got != keep) System.err.println(s"[v3bench] $what: ${(keep -- got).size} originals lost, " +
        s"${(got -- keep).size} copies kept, e.g. ${(got -- keep).take(3)}")
      got == keep
    }
    ctx.op("llm.neardup_default")(timedDocs(
      Curation.pipelineNearDup(df, "text", "id").select("id").collect().map(_.getLong(0)).toSet))(
      same("neardup_default"))
    ctx.op("llm.neardup_lsh")(timedDocs(
      Curation.pipelineNearDup(df, "text", "id", pairSource = Curation.lshPairSource())
        .select("id").collect().map(_.getLong(0)).toSet))(same("neardup_lsh"))
    ctx.op("llm.audit")(timedDocs(Curation.audit(df, "text", "id")
      .select("id", "keep", "dup_of", "survived", "reasons").collect())) { rows =>
      val bad = rows.filterNot { x =>
        val id = x.getLong(0)
        val exact = corpus.exactCopies(id)
        x.getBoolean(1) && x.getBoolean(3) == !exact &&
          (if (exact) !x.isNullAt(2) && x.getLong(2) == corpus.originalOf(id) else x.isNullAt(2))
      }
      if (bad.nonEmpty) System.err.println(s"[v3bench] audit: ${bad.length} wrong rows, e.g. ${bad.take(3).mkString(" ")}")
      rows.length == corpus.docs.size && bad.isEmpty
    }
  }

  override def extra(traced: Boolean): Seq[(String, Double, String)] = {
    val base = Seq(("docs_per_s", if (docSec > 0) docs / docSec else 0.0, "1/s"))
    if (!traced) base
    else {
      // pair-source yield, measured once after the timed phase on the
      // exact survivors (the input the fuzzy stage sees)
      val df = spark.read.parquet(path).filter(!col("id").isin(corpus.exactCopies.toSeq: _*))
      val sh = Dedup.shinglesFromToks(Dedup.tokenize(df, "text", "id"), "id", 5)
      val cand = Dedup.lshCandidatePairs(Dedup.minhashSignatures(sh, "id", 8), "id", 4, 2).count()
      val kept = Curation.lshPairSource()(df, "text", "id").count()
      base ++ Seq(("llm.candidate_pairs", cand.toDouble, "count"),
        ("llm.kept_pairs", kept.toDouble, "count"),
        ("llm.pair_yield", if (cand > 0) kept.toDouble / cand else 0.0, "ratio"))
    }
  }
}
