package graft

/** Single-query bench/plan probe: `runMain graft.BenchOne <name> [sfDir]
  * [reps]` times one registry query through the same noop-sink protocol
  * as [[Bench]] and prints each rep (first rep = cold, rest = warm), so
  * a regression can be attributed to plan vs JVM warmup without paying
  * for the whole suite. Add `SPARK_GRAFT_EXPLAIN=1` to dump the
  * formatted physical plan. */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = Session.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.queries(name)
    if (sys.env.contains("SPARK_GRAFT_EXPLAIN"))
      fn(spark, sfDir).explain("formatted")
    val times = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    println(s"""{"query":"$name","sf":"$sfDir","reps":${
      times.map(t => f"$t%.3f").mkString("[", ",", "]")},"min":${
      f"${times.min}%.3f"}}""")
    spark.stop()
  }
}
