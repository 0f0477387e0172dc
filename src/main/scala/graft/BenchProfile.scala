package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Measurement aid for the optimization rounds (guide §1): `runMain
  * graft.BenchProfile <name> [sfDir] [reps]` runs one registry query
  * through the bench's noop-sink protocol with a SparkListener
  * attached, then prints, for the LAST rep:
  *   - every Spark job (duration, #tasks, aggregate task time, the
  *     job group/description or callsite) sorted by duration,
  *   - the sum of job wall-time vs the query's wall-time — the gap is
  *     DRIVER-side work (manifest folds, footer reads, fs ops, plan
  *     time), which no task metric shows (guide §7.3).
  * Where a lifecycle row runs dozens of sub-second jobs, the job list
  * is the phase breakdown the Spark UI would give us if it were on. */
object BenchProfile {
  private case class Job(id: Int, start: Long, var end: Long = 0L,
                         var tasks: Int = 0, var taskMs: Long = 0L,
                         desc: String)

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = Session.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    @volatile var record = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (record) {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("?")
        jobs.put(e.jobId, Job(e.jobId, e.time, desc = desc))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    }
    spark.sparkContext.addSparkListener(listener)
    val fn = SparkEntry.queries(name)
    // in-process sampling profiler for the MAIN thread (driver-side
    // work): 20 ms wall sampling of the top ~25 frames during the last
    // rep; attach-based jstack is unavailable in the sandbox.
    val mainThread = Thread.currentThread()
    val samples = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Array[StackTraceElement])]()
    @volatile var sampling = false
    // streamed rows do their per-batch work on the stream-execution
    // thread, not main — sample it too when present (thread discovery
    // re-runs each tick; stream threads are born mid-rep)
    val streamSamples = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Array[StackTraceElement])]()
    val sampler = new Thread(() => {
      while (!Thread.interrupted()) {
        if (sampling) {
          val st = mainThread.getStackTrace
          if (st.nonEmpty) samples.add((System.currentTimeMillis(), st.take(40)))
          import scala.jdk.CollectionConverters._
          Thread.getAllStackTraces.asScala.foreach { case (t, stt) =>
            if (t.getName.startsWith("stream execution thread") && stt.nonEmpty)
              streamSamples.add((System.currentTimeMillis(), stt.take(40)))
          }
        }
        try Thread.sleep(20) catch { case _: InterruptedException => return }
      }
    }, "graft-sampler")
    sampler.setDaemon(true)
    sampler.start()
    val times = (1 to reps).map { i =>
      if (i == reps) { jobs.clear(); record = true; sampling = true }
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan // analyze + optimize + plan (pre-AQE)
      val t2 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t3 = System.nanoTime()
      if (i == reps) println(
        f"phase build=${(t1 - t0) / 1e9}%.3fs plan=${(t2 - t1) / 1e9}%.3fs " +
          f"exec=${(t3 - t2) / 1e9}%.3fs")
      (t3 - t0) / 1e9
    }
    record = false
    sampling = false
    sampler.interrupt()
    spark.sparkContext.removeSparkListener(listener)
    Thread.sleep(300) // let the listener bus drain
    import scala.jdk.CollectionConverters._
    val js = jobs.values.asScala.toSeq.sortBy(j => -(j.end - j.start))
    val totalJobMs = js.map(j => math.max(0L, j.end - j.start)).sum
    println(f"query=$name reps=${times.map(t => f"$t%.2f").mkString(",")}")
    println(f"jobs=${js.size} sumJobWall=${totalJobMs / 1000.0}%.2fs " +
      f"lastRepWall=${times.last}%.2fs driverGap=${times.last - totalJobMs / 1000.0}%.2fs")
    js.take(40).foreach { j =>
      println(f"  ${(j.end - j.start) / 1000.0}%7.3fs job=${j.id}%4d  ${j.desc.take(140)}")
    }
    // aggregate by description for the many-small-jobs shape
    println("-- by description --")
    js.groupBy(_.desc).map { case (d, g) =>
      (g.map(j => math.max(0L, j.end - j.start)).sum, g.size, d)
    }.toSeq.sortBy(-_._1).take(25).foreach { case (ms, n, d) =>
      println(f"  ${ms / 1000.0}%7.3fs x$n%-4d $d".take(160))
    }
    // driver-side sampling summary: top graft/spark frames by sample
    // count (20 ms/sample), skipping pure JDK noise frames
    import scala.jdk.CollectionConverters._
    val stamped = samples.asScala.toSeq
    val all = stamped.map(_._2)
    println(s"-- main-thread samples: ${all.size} (x20ms) --")
    def interesting(f: StackTraceElement): Boolean = {
      val c = f.getClassName
      c.startsWith("graft.") || c.startsWith("org.apache.spark.sql") ||
        c.startsWith("org.apache.parquet") || c.startsWith("org.apache.hadoop")
    }
    // leaf-most interesting frame per sample = where driver time goes
    all.flatMap(_.find(interesting))
      .groupBy(f => s"${f.getClassName}.${f.getMethodName}").toSeq
      .map { case (k, g) => (g.size, k) }.toSeq.sortBy(-_._1).take(30)
      .foreach { case (n, k) => println(f"  $n%5d  $k") }
    // the driver GAP itself: samples whose timestamp falls OUTSIDE every
    // recorded job window — this is where jobs=N sumJobWall vs wall diverge
    val windows = js.map(j => (j.start, if (j.end > 0) j.end else Long.MaxValue))
    val gapSamples = stamped.filter { case (t, _) =>
      !windows.exists { case (s, e) => t >= s && t <= e } }.map(_._2)
    println(s"-- BETWEEN-JOB (driver gap) samples: ${gapSamples.size} (x20ms); top signatures --")
    def sig(st: Array[StackTraceElement]): String = {
      val ints = st.filter(interesting).take(2)
      val picked = if (ints.nonEmpty) ints else st.take(2)
      picked.map(f => s"${f.getClassName.split('.').last}.${f.getMethodName}")
        .mkString(" <- ")
    }
    gapSamples.groupBy(sig).toSeq.map { case (k, g) => (g.size, k) }
      .toSeq.sortBy(-_._1).take(25)
      .foreach { case (n, k) => println(f"  $n%5d  ${k.take(220)}") }
    println("-- BETWEEN-JOB full stacks, first 4 distinct --")
    gapSamples.distinctBy(sig).take(4).foreach { st =>
      st.take(28).foreach(f => println(s"    $f")); println("    ----")
    }
    // stream-execution-thread attribution (streamed rows): leaf-most
    // interesting frame + between-job signatures, same protocol
    val sAll = streamSamples.asScala.toSeq
    if (sAll.nonEmpty) {
      println(s"-- STREAM-THREAD samples: ${sAll.size} (x20ms) --")
      sAll.flatMap(_._2.find(interesting))
        .groupBy(f => s"${f.getClassName}.${f.getMethodName}").toSeq
        .map { case (k, g) => (g.size, k) }.sortBy(-_._1).take(25)
        .foreach { case (n, k) => println(f"  $n%5d  $k") }
      val sGap = sAll.filter { case (t, _) =>
        !windows.exists { case (s0, e) => t >= s0 && t <= e } }.map(_._2)
      println(s"-- STREAM-THREAD between-job samples: ${sGap.size}; top signatures --")
      sGap.groupBy(sig).toSeq.map { case (k, g) => (g.size, k) }
        .sortBy(-_._1).take(20)
        .foreach { case (n, k) => println(f"  $n%5d  ${k.take(220)}") }
      println("-- STREAM-THREAD between-job full stacks, first 4 distinct --")
      sGap.distinctBy(sig).take(4).foreach { st =>
        st.take(26).foreach(f => println(s"    $f")); println("    ----")
      }
    }
    // full stacks for the fs/Shell hotspots (who forks `chmod`/`ls`?)
    val hotPat = sys.env.getOrElse("SPARK_GRAFT_STACK_PAT", "Shell|deleteImpl")
    val hot = all.filter(_.exists(f =>
      s"${f.getClassName}.${f.getMethodName}".matches(s".*($hotPat).*")))
    println(s"-- full stacks matching [$hotPat]: ${hot.size} samples, first 3 --")
    hot.take(3).foreach { st =>
      st.take(25).foreach(f => println(s"    $f")); println("    ----")
    }
    // and the top graft-frame (anywhere in stack) attribution
    println("-- graft frames anywhere in stack --")
    all.flatMap(_.find(f => f.getClassName.startsWith("graft.")))
      .groupBy(f => s"${f.getClassName}.${f.getMethodName}:${f.getLineNumber}").toSeq
      .map { case (k, g) => (g.size, k) }.toSeq.sortBy(-_._1).take(30)
      .foreach { case (n, k) => println(f"  $n%5d  $k") }
    spark.stop()
  }
}
