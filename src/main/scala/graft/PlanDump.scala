package graft

/** Measurement aid for the optimization rounds (guide §1.1/§7.2):
  * `runMain graft.PlanDump <outDir> [sfDir] [names]` writes each
  * registry query's `.explain("formatted")` physical plan to
  * `<outDir>/<name>_<suffix>.txt` (suffix from SPARK_GRAFT_PLAN_SUFFIX,
  * default "before") plus a one-line-per-query `_summary.tsv` with
  * Exchange / SortMergeJoin / BroadcastHashJoin / Scan counts, so plan
  * claims in OPTIMIZATION_r*.md are checkable without running Spark.
  *
  * NOTE: registry entries with lifecycle side effects (lake builds,
  * streaming drains) RUN those side effects when the DataFrame is
  * constructed; the dumped plan is the final read. Their cost structure
  * is measured with BenchOne + job descriptions instead. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val names: Seq[String] =
      if (args.length > 2) args(2).split(",").toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
    val spark = Session.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val summary = new StringBuilder
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val line = try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
          plan.getBytes("UTF-8"))
        def c(p: String) = p.r.findAllIn(plan).length
        s"$name\texchanges=${c("(?m)^\\(\\d+\\) Exchange")}\t" +
          s"smj=${c("(?m)^\\(\\d+\\) SortMergeJoin")}\t" +
          s"bhj=${c("(?m)^\\(\\d+\\) BroadcastHashJoin")}\t" +
          s"shj=${c("(?m)^\\(\\d+\\) ShuffledHashJoin")}\t" +
          s"scans=${c("(?m)^\\(\\d+\\) Scan")}\t" +
          s"codegenSpans=${c("WholeStageCodegen")}"
      } catch { case e: Throwable =>
        s"$name\tERROR=${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(120).replace('\n', ' ')}"
      }
      summary.append(line).append('\n')
      println(line)
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outDir, s"_summary_$suffix.tsv"),
      summary.toString.getBytes("UTF-8"))
    spark.stop()
  }
}
