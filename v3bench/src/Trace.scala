package v3bench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded by the benchmark around each call into a layer, kept
  * in memory and written when the run ends. A span's `op` is the id of
  * its top-level span; Spark jobs are attributed to that op through a
  * local property, which the stream thread inherits from the op that
  * started the query. */
final class Tracer(spark: SparkSession) {
  final case class Span(id: Int, parent: Int, op: Int, name: String,
                        startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  @volatile var enabled = false
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  private var currentOp = -1

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      if (parent == -1) {
        currentOp = id
        spark.sparkContext.setLocalProperty(Tracer.OpKey, id.toString)
      }
      val op = currentOp
      stack = id :: stack
      val (t0, w0) = (System.nanoTime, System.currentTimeMillis)
      try f
      finally {
        stack = stack.tail
        spans += Span(id, parent, op, name, t0, System.nanoTime, w0, System.currentTimeMillis)
        if (parent == -1) spark.sparkContext.setLocalProperty(Tracer.OpKey, null)
      }
    }

  /** Self time: duration minus the part covered by direct children. */
  def selfMs(s: Span): Double = {
    val kids = spans.iterator.filter(_.parent == s.id).map(_.ms).sum
    s.ms - kids
  }

  def toJson: String = spans.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Tracer { val OpKey = "v3bench.op" }

/** Counts from Spark's public listener interfaces and Hadoop's
  * `FileSystem.Statistics`, attached only while a traced round runs. */
final class Counters(spark: SparkSession) {
  val jobs, stages, tasks, taskMs, gcMs, shuffleRead, shuffleWrite, spill = new AtomicLong
  val planMs, filesScanned, bytesScanned = new AtomicLong
  val batches, batchRows = new AtomicLong
  val batchMs = ArrayBuffer.empty[Double]
  val streamPlanMs = new AtomicLong
  /** (job start ms, job end ms, op id) */
  val jobSpans = ArrayBuffer.empty[(Long, Long, Int)]
  private val jobStart = scala.collection.concurrent.TrieMap.empty[Int, (Long, Int)]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.OpKey)))
        .map(_.toInt).getOrElse(-1)
      jobStart(e.jobId) = (e.time, op)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobStart.remove(e.jobId).foreach { case (t0, op) =>
        jobSpans.synchronized { jobSpans += ((t0, e.time, op)) } }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        taskMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private val queryListener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      planMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
      val plan: SparkPlan = qe.executedPlan
      collectWithSubqueries(plan) {
        case s: FileSourceScanExec =>
          (s.metrics.get("numFiles").map(_.value).getOrElse(0L),
            s.metrics.get("filesSize").map(_.value).getOrElse(0L))
        case b: BatchScanExec =>
          val files = b.inputPartitions.collect { case p: FilePartition => p.files.toSeq }.flatten
          (files.size.toLong, files.map(_.length).sum)
      }.foreach { case (n, bytes) =>
        filesScanned.addAndGet(n); bytesScanned.addAndGet(bytes) }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        batches.incrementAndGet()
        batchRows.addAndGet(p.numInputRows)
        val d = p.durationMs.asScala
        batchMs.synchronized { batchMs += d.get("triggerExecution").map(_.toDouble).getOrElse(0.0) }
        streamPlanMs.addAndGet(d.get("queryPlanning").map(_.longValue).getOrElse(0L))
      }
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Detach after the listener buses drained what the round posted. */
  def detach(): Unit = {
    Thread.sleep(300)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }
}

/** Bytes read and written, from Hadoop `FileSystem.Statistics` summed
  * over every `file:` instance. (The local file system does not count
  * read or write operations, so those stay unreported.) */
object FsStats {
  def snapshot(): Array[Long] = {
    val fs = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    val afs = org.apache.hadoop.fs.FileContext.getAllStatistics.asScala
      .collect { case (u, s) if u.getScheme == "file" => s }
    val all = fs ++ afs
    Array(all.map(_.getBytesRead).sum, all.map(_.getBytesWritten).sum)
  }
}
