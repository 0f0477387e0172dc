package graft.fs

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The async dead-tree disposal must keep every visible contract the
  * synchronous deletes had: dropTable's paths are GONE when the call
  * returns, a recreate starts clean, and the physical purge actually
  * reclaims the bytes (drain seam). */
class AsyncPurgeSpec extends AnyFunSuite with graft.SparkSpec {

  test("submit + drain physically deletes a tree") {
    val base = java.nio.file.Files.createTempDirectory("purge")
    val f = base.resolve("x/y/z.txt")
    java.nio.file.Files.createDirectories(f.getParent)
    java.nio.file.Files.write(f, "bytes".getBytes)
    AsyncPurge.submit(() => {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(base)
      try walk.iterator().asScala.toSeq
        .sortBy(-_.getNameCount)
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    })
    AsyncPurge.drain(10000L)
    // the worker may have raced drain to the same task; either way the
    // tree must be gone promptly
    val deadline = System.currentTimeMillis() + 10000
    while (java.nio.file.Files.exists(base) &&
      System.currentTimeMillis() < deadline) Thread.sleep(20)
    assert(!java.nio.file.Files.exists(base))
  }

  test("drain waits for a task the worker dequeued and is still running") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val running = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    @volatile var finished = false
    AsyncPurge.submit(() => {
      running.countDown()
      release.await(30, TimeUnit.SECONDS)
      finished = true
    })
    // the worker holds the task: the queue is empty from here on
    assert(running.await(10, TimeUnit.SECONDS), "worker never ran the task")
    val drained = new CountDownLatch(1)
    val drainer = new Thread(() => { AsyncPurge.drain(20000L); drained.countDown() })
    drainer.start()
    assert(!drained.await(300, TimeUnit.MILLISECONDS),
      "drain returned while the worker was still running a dequeued task")
    release.countDown()
    assert(drained.await(10, TimeUnit.SECONDS), "drain never returned")
    assert(finished, "drain returned before the in-flight task finished")
    drainer.join()
  }

  test("dropTable: paths gone on return, recreate clean, trash purged") {
    import graft.v3.{Lake, Schemas}
    val root = java.nio.file.Files.createTempDirectory("droplake").toString
    val lake = new Lake(spark, root)
    val df = spark.range(0, 50)
      .select(lit("ethereum").as("chain_name"), lit("n").as("name"),
        concat(lit("0x"), col("id").cast("string")).as("transaction_hash"),
        col("id").as("block_number"), lit(0).as("tx_index"),
        lit("0xu").as("from_address"), lit("1").as("amount"),
        col("id").cast("string").as("amount0"), lit("2").as("amount1"),
        lit("3").as("tokenId"), pmod(col("id"), lit(7)).as("log_index"))
    lake.append(df, Schemas.Nfp)
    assert(lake.read(Schemas.Nfp).count() == 50)
    assert(lake.dropTable(Schemas.Nfp))
    // contract: the visible paths are gone the moment dropTable returns
    val f = new java.io.File(s"$root/${Schemas.Nfp}")
    assert(!f.exists(), "table dir must be gone synchronously")
    assert(!new java.io.File(s"$root/_manifest/${Schemas.Nfp}").exists())
    assert(!new java.io.File(s"$root/_filestats/${Schemas.Nfp}").exists())
    // a recreate sees a clean slate
    lake.append(df.limit(7), Schemas.Nfp)
    assert(lake.read(Schemas.Nfp).count() == 7)
    // the physical purge reclaims the renamed trees
    AsyncPurge.drain(10000L)
    val deadline = System.currentTimeMillis() + 10000
    def trashEntries() = Option(new java.io.File(s"$root/.trash").list())
      .map(_.length).getOrElse(0)
    while (trashEntries() > 0 &&
      System.currentTimeMillis() < deadline) Thread.sleep(20)
    assert(trashEntries() == 0, "trash must be swept")
    lake.dropTable(Schemas.Nfp)
  }
}
