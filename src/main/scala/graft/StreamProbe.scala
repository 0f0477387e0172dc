package graft

import org.apache.spark.sql.functions._

/** Streaming-floor diagnostic: `runMain graft.StreamProbe [sfDir]`
  * measures (a) the bare AvailableNow 3-micro-batch passthrough floor
  * (offset/commit logs + trigger scheduling + a trivial addBatch) and
  * (b) the real trigram-index pipeline per batch, printing Spark's own
  * per-batch durationMs splits. This attributes the streamed bench
  * rows' wall-clock: everything above the passthrough floor is
  * pipeline work (per-batch shuffle + partitioned sink write), not
  * setup — the evidence behind BASELINE.md's streamed-row floors. */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val spark = Session.local(32)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("probe").toString

    def stamp(dir: String): Unit =
      new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
        .zipWithIndex.foreach { case (f, i) =>
          f.setLastModified(1600000000000L + i * 60000L)
        }

    (0 to 2).foreach { i =>
      Seq((i.toLong, s"t $i")).toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(s"$base/tiny")
    }
    stamp(s"$base/tiny")
    val tinySchema = spark.read.parquet(s"$base/tiny").schema

    def passthrough(tag: String): Unit = {
      val t0 = System.nanoTime()
      val src = spark.readStream.schema(tinySchema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/tiny")
      val q = src.writeStream.format("parquet")
        .option("path", s"$base/out-$tag")
        .option("checkpointLocation", s"$base/ck-$tag")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      println(f"$tag passthrough 3-batch: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      q.recentProgress.foreach(p => println(s"  batch ${p.batchId}: ${p.durationMs}"))
    }

    def trigram(tag: String): Unit = {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val sd = s"$base/docsrc"
      if (!new java.io.File(sd).exists()) {
        (0 to 2).foreach { i =>
          docs.filter(pmod(col("doc_id"), lit(3)) === i)
            .coalesce(1).write.mode("append").parquet(sd)
        }
        stamp(sd)
      }
      val t0 = System.nanoTime()
      val st = graft.streaming.Streaming.fileStream(spark, sd, docs.schema, 1)
      val q = graft.streaming.Streaming.trigramIndexStream(st, "text",
        "doc_id", s"$base/tri-$tag", s"$base/trick-$tag").start()
      q.awaitTermination()
      println(f"$tag trigram 3-batch: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      q.recentProgress.foreach(p => println(s"  batch ${p.batchId}: ${p.durationMs}"))
    }

    passthrough("cold"); passthrough("warm")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    trigram("cold"); trigram("warm")
    spark.stop()
  }
}
