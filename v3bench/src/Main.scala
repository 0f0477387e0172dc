package v3bench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.v3.{Lake, Schemas}

/** What the workloads share: the session, the seed, the work directory,
  * op timing, answer checks and (in traced rounds) spans. */
final class Ctx(val spark: SparkSession, val seed: Long, work: Path) {
  val tracer = new Tracer(spark)
  /** Op samples are kept only while the timed phase runs. */
  var recording = false
  val samples = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  var attempted = 0L
  var failed = 0L
  /** (files scanned, files in table) per pruned SQL read (traced rounds). */
  val sqlScans = ArrayBuffer.empty[(Long, Long)]
  /** Files added / removed per lake write op (traced rounds). */
  val fileChurn = ArrayBuffer.empty[(Int, Int)]

  def dir(name: String): String = work.resolve(name).toString

  private def fail(what: String, e: Throwable): Unit = {
    failed += 1
    System.err.println(s"[v3bench] FAILED $what" + Option(e).fold("")(x => s": $x"))
    if (e != null) e.printStackTrace()
  }

  /** Runs one user operation, times it, and checks its answer; a thrown
    * error or a wrong answer counts as a failed op. */
  def op[T](kind: String)(f: => T)(ok: T => Boolean): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime
    val out = try Some(tracer.span(kind)(f)) catch { case e: Throwable => fail(kind, e); None }
    val ms = (System.nanoTime - t0) / 1e6
    out.filter { v =>
      if (recording) samples.getOrElseUpdate(kind, ArrayBuffer.empty) += ms
      val good = try ok(v) catch { case e: Throwable => fail(s"$kind check", e); return None }
      if (!good) fail(s"$kind: wrong answer", null)
      good
    }
  }

  /** A lake write op; traced rounds also record its file churn. */
  def write[T](kind: String, lake: Lake)(f: => T): Option[T] = {
    def files() = if (tracer.enabled) lake.fileInventory(Schemas.PoolSwapEvents).map(_._2).toSet
                  else Set.empty[String]
    val before = files()
    val out = op(kind)(f)(_ => true)
    if (tracer.enabled) {
      val after = files()
      fileChurn += (((after -- before).size, (before -- after).size))
    }
    out
  }

  /** An end-of-round check that is not itself a timed op. */
  def verify(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val good = try ok catch { case e: Throwable => fail(what, e); return }
    if (!good) fail(what, null)
  }

  /** Files and bytes a finished query read, from its executed plan. */
  def scanned(df: DataFrame, inTable: Int): Unit = if (tracer.enabled) {
    val helper = new AdaptiveSparkPlanHelper {}
    val files = helper.collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputPartitions.collect {
          case p: org.apache.spark.sql.execution.datasources.FilePartition => p.files.length.toLong
        }.sum
    }.sum
    sqlScans += ((files, inTable.toLong))
  }
}

object Ctx {
  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  def parquetBytes(p: Path): Long =
    Files.walk(p).iterator.asScala
      .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
      .map(Files.size).sum

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    Files.walk(p).iterator.asScala.toSeq.reverse.foreach(f => Files.deleteIfExists(f))
  }
}

object Main {
  val SetupReps = 3
  val TailSamples = 10

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: Path, spans: Option[Path])

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Path.of(need("work")), m.get("spans").map(Path.of(_)))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least `TailSamples` samples above it:
    * (value, percentile), or None when there are too few samples. */
  def tail(xs: Seq[Double]): Option[(Double, Int)] = {
    val s = xs.sorted
    val i = s.size - TailSamples - 1
    if (i < 0) None else Some((s(i), (100.0 * (i + 1) / s.size).floor.toInt))
  }

  private def vmHwmMb(): Double =
    Files.readAllLines(Path.of("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)

  def session(work: Path, cpus: Int): SparkSession = {
    val s = graft.fs.FastLocalFs.configure(SparkSession.builder())
      .master(s"local[$cpus]")
      .appName("v3bench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("checkpoints").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    Files.createDirectories(o.work)
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = session(o.work, cpus)
    val sessionS = (System.currentTimeMillis - jvmStart) / 1e3
    val ctx = new Ctx(spark, o.seed, o.work)
    val wl: Workload = o.workload match {
      case "pool_session" => new PoolSession(ctx)
      case "lake_ingest" => new LakeIngest(ctx)
      case "corpus_curation" => new CorpusCuration(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up: generation and lake build, repeated (the last repetition's
    // state is the one the rounds read), then one warm-up
    val setupReps = (0 until SetupReps).map { rep =>
      val t0 = System.nanoTime
      wl.setup(rep)
      (System.nanoTime - t0) / 1e9
    }
    val w0 = System.nanoTime
    wl.warmup()
    val warmupS = (System.nanoTime - w0) / 1e9
    val setupS = sessionS + median(setupReps) + warmupS

    // timed phase: whole rounds of the fixed op list until the time is
    // up, and no round that would end past 1.5 x the time; a traced run
    // alternates untraced and traced rounds, at least three, so that a
    // traced round can be compared with an untraced one that follows it
    val counters = new Counters(spark)
    val roundS = ArrayBuffer.empty[(Double, Boolean)]
    // public lake counters: listings, footer reads, bloom reads, commits
    def lakeCounters(l: Lake) = Array(l.listCalls.get, l.footerReads.get, l.bloomReads.get,
      Schemas.allTables.map(t => l.latestCommitVersion(t).getOrElse(0L)).sum)
    val deltas = Array.fill(5)(0L) // the four above + partitioning-index builds
    val fsDelta = Array.fill(2)(0L)
    val minRounds = if (o.trace) 3 else 1
    val phaseStart = System.nanoTime
    ctx.recording = true
    var i = 0
    def elapsed = (System.nanoTime - phaseStart) / 1e9
    while (i < minRounds ||
        (elapsed < o.seconds && elapsed + roundS.last._1 < 1.5 * o.seconds)) {
      val traced = o.trace && i % 2 == 1
      val before = if (traced) wl.lakes.map(l => (l, lakeCounters(l))) else Nil
      val builds0 = graft.plans.ManifestPartitioningIndex.builds.get
      val fs0 = FsStats.snapshot()
      if (traced) { counters.attach(); ctx.tracer.enabled = true }
      val t0 = System.nanoTime
      wl.round(i)
      val dt = (System.nanoTime - t0) / 1e9
      if (traced) {
        ctx.tracer.enabled = false
        counters.detach()
        val fs1 = FsStats.snapshot()
        fsDelta.indices.foreach(k => fsDelta(k) += fs1(k) - fs0(k))
        deltas(4) += graft.plans.ManifestPartitioningIndex.builds.get - builds0
        // a lake the round created starts from zero
        wl.lakes.foreach { l =>
          val c0 = before.find(_._1 eq l).map(_._2).getOrElse(Array.fill(4)(0L))
          val c1 = lakeCounters(l)
          (0 until 4).foreach(k => deltas(k) += c1(k) - c0(k))
        }
      }
      roundS += ((dt, traced))
      ctx.recording = false
      wl.afterRound(i)
      ctx.recording = true
      i += 1
    }
    ctx.recording = false
    val traced = roundS.count(_._2)
    // live heap after a full collection: what the session retains. Two
    // collections a second apart: the first lets Spark's ContextCleaner
    // and asynchronous unpersists drop what nothing references any more
    System.gc()
    Thread.sleep(1000)
    System.gc()
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    val heapLiveMb = mem.getHeapMemoryUsage.getUsed / 1048576.0

    // ---- figures -------------------------------------------------------
    val p50 = ctx.samples.map { case (k, v) => k -> median(v.toSeq) }
    // memo-hit swapIn and vacuum launch no Spark job: their few-ms times
    // jitter by 2x and would swamp a geometric mean
    val kinds = ctx.samples.keys.filterNot(Set("v3.pool.swap_memo", "v3.lake.vacuum")).toSeq
    val opP50 = math.exp(kinds.map(k => math.log(p50(k))).sum / kinds.size)
    val wallS = median(roundS.filterNot(_._2).map(_._1).toSeq)
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("wall_s", wallS, "s"),
      ("op_p50_ms", opP50, "ms"),
      ("heap_live_mb", heapLiveMb, "MB"))

    def samplesOf(ks: String*) = ks.flatMap(k => ctx.samples.getOrElse(k, Nil))
    def countOf(ks: String*) = samplesOf(ks: _*).size
    def p50Of(ks: String*) = { val s = samplesOf(ks: _*); if (s.isEmpty) 0.0 else median(s) }
    def tailOf(ks: String*) = tail(samplesOf(ks: _*)).map(_._1).getOrElse(0.0)
    val commitKinds = Seq("v3.lake.append", "v3.lake.upsert", "v3.lake.delete",
      "v3.lake.compact", "v3.lake.vacuum")
    val extra = wl.extra(o.trace) ++ (if (!o.trace) Nil else wl.lakes.lastOption.toSeq.flatMap { l =>
      Seq(("live_files", Schemas.allTables.map(t => l.fileInventory(t).size).sum.toDouble, "count"),
        ("stored_bytes", Ctx.treeBytes(Path.of(l.root)).toDouble, "bytes"))
    })
    def extraOf(n: String) = extra.find(_._1 == n).map(_._2).getOrElse(0.0)
    // per-operation figures: reported in every run, 0 where the workload
    // does not run the operation
    val opFigures = Seq(
      ("pool_open_p50_ms", p50Of("v3.pool.open"), "ms"),
      ("asof_p50_ms", p50Of("v3.pool.asof"), "ms"),
      ("asof_tail_ms", tailOf("v3.pool.asof"), "ms"),
      ("liq_p50_ms", p50Of("v3.pool.liq"), "ms"),
      ("swap_cold_p50_ms", p50Of("v3.pool.swap_cold"), "ms"),
      ("series_p50_ms", p50Of("v3.pool.series"), "ms"),
      ("commit_p50_ms", p50Of(commitKinds: _*), "ms"),
      ("commit_tail_ms", tailOf(commitKinds: _*), "ms"),
      ("ingest_rows_per_s", extraOf("ingest_rows_per_s"), "1/s"),
      ("stored_bytes_per_input_byte", extraOf("stored_bytes_per_input_byte"), "ratio"),
      ("docs_per_s", extraOf("docs_per_s"), "1/s"),
      ("fail_ratio", ctx.failed.toDouble / math.max(1L, ctx.attempted), "ratio"),
      ("rss_peak_mb", vmHwmMb(), "MB"))

    // sample count behind each timing figure
    val samplesFor = Map(
      "setup_s" -> setupReps.size, "wall_s" -> roundS.count(!_._2),
      "op_p50_ms" -> countOf(kinds: _*), "pool_open_p50_ms" -> countOf("v3.pool.open"),
      "asof_p50_ms" -> countOf("v3.pool.asof"), "asof_tail_ms" -> countOf("v3.pool.asof"),
      "liq_p50_ms" -> countOf("v3.pool.liq"), "swap_cold_p50_ms" -> countOf("v3.pool.swap_cold"),
      "series_p50_ms" -> countOf("v3.pool.series"), "commit_p50_ms" -> countOf(commitKinds: _*),
      "commit_tail_ms" -> countOf(commitKinds: _*))
    val layers: Seq[(String, Double, String)] =
      if (!o.trace) Seq.empty
      else Layers.compute(ctx, counters, traced, deltas, fsDelta, extra, roundS.toSeq) ++ opFigures

    o.spans.foreach { p =>
      Files.createDirectories(p.getParent)
      Files.writeString(p, ctx.tracer.toJson)
    }

    val metrics = if (o.trace) layers else e2e
    val report = Json.obj(
      "workload" -> Json.str(o.workload), "seed" -> Json.num(o.seed.toDouble),
      "trace" -> Json.bool(o.trace), "rounds" -> Json.num(roundS.size.toDouble),
      "traced_rounds" -> Json.num(traced.toDouble),
      "round_s" -> Json.arr(roundS.map(r => Json.num(r._1)).toSeq),
      "session_s" -> Json.num(sessionS),
      "setup_reps_s" -> Json.arr(setupReps.map(Json.num)),
      "warmup_s" -> Json.num(warmupS),
      "ops" -> Json.obj(ctx.samples.toSeq.map { case (k, v) =>
        k -> Json.obj(Seq("n" -> Json.num(v.size.toDouble), "p50_ms" -> Json.num(median(v.toSeq))) ++
          tail(v.toSeq).toSeq.flatMap { case (t, pct) =>
            Seq("tail_ms" -> Json.num(t), "tail_pct" -> Json.num(pct.toDouble)) }: _*)
      }: _*),
      "figures" -> Json.obj((e2e ++ opFigures ++ extra).map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)) ++
          samplesFor.get(n).map(c => "samples" -> Json.num(c.toDouble)): _*) }: _*))
    val result = Json.obj(
      "correct" -> Json.bool(ctx.failed == 0),
      "attempted" -> Json.int(ctx.attempted),
      "failed" -> Json.int(ctx.failed),
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u)) }: _*))
    println("V3BENCH_REPORT " + report)
    println("V3BENCH_RESULT " + result)
    System.out.flush()
    spark.stop()
    // non-daemon helper threads must not keep the JVM alive
    System.exit(0)
  }
}

/** Per-layer figures from the traced rounds, normalised per traced round. */
object Layers {
  def compute(ctx: Ctx, c: Counters, traced: Int, lake: Array[Long], fs: Array[Long],
              extra: Seq[(String, Double, String)], rounds: Seq[(Double, Boolean)])
      : Seq[(String, Double, String)] = {
    val t = ctx.tracer
    val per = math.max(1, traced).toDouble
    val spans = t.spans.toSeq
    val top = spans.filter(_.parent == -1)
    val jobsByOp = c.jobSpans.toSeq.groupBy(_._3)
    // driver gap: op wall time not covered by any of its jobs
    val gapMs = top.map { s =>
      val iv = jobsByOp.getOrElse(s.id, Nil).map { case (a, b, _) =>
        (math.max(a, s.startMs), math.min(b, s.endMs)) }.filter(x => x._2 > x._1).sortBy(_._1)
      var covered = 0L; var end = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a >= end) { covered += b - a; end = b }
        else if (b > end) { covered += b - end; end = b } }
      math.max(0.0, s.ms - covered)
    }.sum
    def named(n: String) = spans.filter(_.name == n)
    def jobsOf(ss: Seq[t.Span]) = ss.map(s => jobsByOp.getOrElse(s.id, Nil).size).sum
    val poolOps = Seq("open", "asof", "liq", "swap_cold", "series")
    val pool = poolOps.flatMap { o =>
      val ss = named(s"v3.pool.$o")
      Seq((s"v3.pool.calls.$o", ss.size / per, "count"),
        (s"v3.pool.jobs_per_call.$o", if (ss.isEmpty) 0.0 else jobsOf(ss).toDouble / ss.size, "count"),
        (s"v3.pool.self_ms.$o", if (ss.isEmpty) 0.0 else Main.median(ss.map(t.selfMs)), "ms"))
    }
    val swaps = named("v3.pool.swap_cold") ++ named("v3.pool.swap_memo")
    val memoHit = if (swaps.isEmpty) 0.0
      else swaps.count(s => jobsByOp.getOrElse(s.id, Nil).isEmpty).toDouble / swaps.size
    def sumMs(n: String) = named(n).map(_.ms).sum / per
    val writes = Seq("append", "upsert", "delete", "compact", "vacuum").flatMap { w =>
      Seq((s"v3.lake.${w}_ms", sumMs(s"v3.lake.$w"), "ms"),
        (s"v3.lake.${w}_calls", named(s"v3.lake.$w").size / per, "count"))
    }
    val ingest = named("v3.ingest.update")
    val connectorMs = sumMs("v3.ingest.connector")
    val sql = named("sources.sql")
    val scanned = ctx.sqlScans.map(_._1).sum.toDouble
    val inTable = ctx.sqlScans.map(_._2).sum.toDouble
    val batchP50 = if (c.batchMs.isEmpty) 0.0 else Main.median(c.batchMs.toSeq)
    val llm = Seq("neardup_default", "neardup_lsh", "audit").map { s =>
      val ss = named(s"llm.$s")
      (s"llm.${s}_ms", if (ss.isEmpty) 0.0 else Main.median(ss.map(_.ms)), "ms")
    }
    def ex(n: String) = extra.find(_._1 == n).map(_._2).getOrElse(0.0)
    // the first round still pays warm-up left-overs: not a baseline
    val untraced = rounds.drop(1).filterNot(_._2).map(_._1)
    val tracedS = rounds.filter(_._2).map(_._1)
    Seq(
      ("spark.jobs", c.jobs.get / per, "count"),
      ("spark.stages", c.stages.get / per, "count"),
      ("spark.tasks", c.tasks.get / per, "count"),
      ("spark.task_ms", c.taskMs.get / per, "ms"),
      ("spark.plan_ms", c.planMs.get / per, "ms"),
      ("spark.driver_gap_ms", gapMs / per, "ms"),
      ("spark.shuffle_read_bytes", c.shuffleRead.get / per, "bytes"),
      ("spark.shuffle_write_bytes", c.shuffleWrite.get / per, "bytes"),
      ("spark.spill_bytes", c.spill.get / per, "bytes"),
      ("spark.gc_ms", c.gcMs.get / per, "ms")) ++
    pool ++ Seq(("v3.pool.swap_memo_hit_ratio", memoHit, "ratio")) ++
    Seq(
      ("v3.lake.read_calls", named("v3.lake.read.call").size / per, "count"),
      ("v3.lake.read_ms", sumMs("v3.lake.read.call"), "ms"),
      ("v3.lake.list_calls", lake(0) / per, "count"),
      ("v3.lake.footer_reads", lake(1) / per, "count"),
      ("v3.lake.bloom_reads", lake(2) / per, "count")) ++
    writes ++ Seq(
      ("v3.lake.commits", lake(3) / per, "count"),
      ("v3.lake.files_added", ctx.fileChurn.map(_._1).sum / per, "count"),
      ("v3.lake.files_removed", ctx.fileChurn.map(_._2).sum / per, "count"),
      ("v3.lake.live_files", ex("live_files"), "count"),
      ("v3.lake.stored_bytes", ex("stored_bytes"), "bytes"),
      ("v3.ingest.segments", ex("ingest_segments") / rounds.size, "count"),
      ("v3.ingest.rows", ex("ingest_rows") / rounds.size, "count"),
      ("v3.ingest.connector_ms", connectorMs, "ms"),
      ("v3.ingest.loop_ms", ingest.map(_.ms).sum / per - connectorMs, "ms"),
      ("plans.files_scanned", c.filesScanned.get / per, "count"),
      ("plans.files_in_table", if (ctx.sqlScans.isEmpty) 0.0 else inTable / ctx.sqlScans.size, "count"),
      ("plans.file_skip_ratio",
        if (inTable == 0) 0.0 else 1.0 - scanned / inTable, "ratio"),
      ("plans.bytes_scanned", c.bytesScanned.get / per, "bytes"),
      ("plans.partitioning_index_builds", lake(4) / per, "count"),
      ("sources.sql_calls", sql.size / per, "count"),
      ("sources.sql_ms", sql.map(_.ms).sum / per, "ms"),
      ("streaming.batches", c.batches.get / per, "count"),
      ("streaming.batch_p50_ms", batchP50, "ms"),
      ("streaming.rows_per_batch", if (c.batches.get == 0) 0.0 else c.batchRows.get.toDouble / c.batches.get, "count"),
      ("streaming.plan_ms", c.streamPlanMs.get / per, "ms")) ++
    llm ++ Seq(
      ("llm.candidate_pairs", ex("llm.candidate_pairs"), "count"),
      ("llm.kept_pairs", ex("llm.kept_pairs"), "count"),
      ("llm.pair_yield", ex("llm.pair_yield"), "ratio"),
      ("fs.bytes_read", fs(0) / per, "bytes"),
      ("fs.bytes_written", fs(1) / per, "bytes"),
      ("trace.overhead_s",
        if (untraced.isEmpty || tracedS.isEmpty) 0.0 else Main.median(tracedS) - Main.median(untraced), "s"))
  }
}

/** Minimal JSON rendering for the result lines. */
object Json {
  final case class J(s: String) { override def toString: String = s }
  def str(s: String): J = J("\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\"")
  def num(d: Double): J = J(if (d.isNaN || d.isInfinite) "null" else d.toString)
  def bool(b: Boolean): J = J(b.toString)
  def int(n: Long): J = J(n.toString)
  def arr(xs: Seq[J]): J = J(xs.mkString("[", ",", "]"))
  def obj(kv: (String, J)*): J = J(kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}"))
}
