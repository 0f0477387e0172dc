package graft.v3

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The change-feed surfaces: commit-grain CDC (`changesBetweenCommits`
  * — rewrite-aware, ordered, version-tagged), the snapshot diff's
  * dataChange=false churn guard, single-commit multi-chain drops, and
  * the operator-facing commit history. */
class LakeChangesSpec extends SparkSpec {

  private def rows(ids: Seq[Int], chain: String = "ethereum",
                   amt: Int => String = i => s"$i") = {
    import spark.implicits._
    ids.map { i =>
      (chain, "IncreaseLiquidity", f"0xtx$i%05d", 1000L + i, 0L,
        "0xu1", amt(i), s"${i * 10}", s"${i * 100}", s"$i", i % 7L)
    }.toDF("chain_name", "name", "transaction_hash", "block_number",
      "tx_index", "from_address", "amount", "amount0", "amount1",
      "tokenId", "log_index")
  }

  private def key(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select(col("_change_type"), col("transaction_hash"), col("amount"))
      .collect().map(r => s"${r.getString(0)}|${r.getString(1)}|${r.getString(2)}")
      .toSeq.sorted

  test("commit-grain feed replays appends and upserts in order and equals the snapshot diff") {
    val root = Files.createTempDirectory("lake-cdc").toString
    val lake = new Lake(spark, root)
    (0 until 3).foreach(j =>
      lake.append(rows(j * 10 until (j + 1) * 10).coalesce(1), Schemas.Nfp))
    val c1 = lake.latestCommitVersion(Schemas.Nfp).get
    val v1 = lake.snapshot(Schemas.Nfp)
    // the whole history from commit 0: three insert waves, tagged with
    // their committing versions in order
    val full = lake.changesBetweenCommits(Schemas.Nfp, 0L, c1)
    assert(full.filter(col("_change_type") === "insert").count() == 30L)
    assert(full.filter(col("_change_type") === "delete").count() == 0L)
    val versions = full.select(col("_commit_version")).distinct()
      .collect().map(_.getLong(0)).sorted
    assert(versions.length == 3 && versions.last == c1,
      s"expected three distinct committing versions, got ${versions.toSeq}")
    // a retained upsert (updates + inserts): its commit surfaces the
    // touched files' pre-rows as deletes and post-rows as inserts —
    // exactly the snapshot diff over the same boundary
    lake.upsert(rows(0 until 30, amt = i => s"u$i").coalesce(1),
      Schemas.Nfp, Seq("chain_name", "transaction_hash"), retain = true)
    val c2 = lake.latestCommitVersion(Schemas.Nfp).get
    val v2 = lake.snapshot(Schemas.Nfp)
    val feed = lake.changesBetweenCommits(Schemas.Nfp, c1, c2)
    val diff = lake.tableChanges(Schemas.Nfp, v1, v2)
    assert(key(feed) == key(diff),
      "commit-grain feed diverged from the snapshot diff over the same boundary")
  }

  test("enriched feed: update pre/postimage pairs, unchanged rewritten rows emit NOTHING, appends/drops pass through") {
    val root = Files.createTempDirectory("lake-cdc-enr").toString
    val lake = new Lake(spark, root)
    val keys = Seq("chain_name", "transaction_hash")
    lake.append(rows(0 until 20).coalesce(1), Schemas.Nfp)
    val c0 = lake.latestCommitVersion(Schemas.Nfp).get
    // one upsert commit: update 3 keys, delete 2, insert 2 new —
    // the file rewrite drags all 20 rows through delete+insert at
    // file grain; enriched must shrink that to exactly 3 pairs + 2 +
    // 2 and drop the 13 unchanged rewritten rows
    val upd = rows(Seq(1, 5, 9), amt = i => s"u$i")
      .withColumn("_del", lit(false))
    val del = rows(Seq(2, 6)).withColumn("_del", lit(true))
    val ins = rows(Seq(100, 101)).withColumn("_del", lit(false))
    lake.upsert(upd.unionByName(del).unionByName(ins), Schemas.Nfp,
      keys, deleteCol = Some("_del"), retain = true)
    val c1 = lake.latestCommitVersion(Schemas.Nfp).get
    val enr = lake.changesBetweenCommitsEnriched(Schemas.Nfp, c0, c1, keys)
    val got = enr.select(col("_change_type"), col("transaction_hash"),
      col("amount")).collect()
      .map(r => s"${r.getString(0)}|${r.getString(1)}|${r.getString(2)}")
      .toSeq.sorted
    val want = (Seq(1, 5, 9).flatMap(i => Seq(
      f"update_preimage|0xtx$i%05d|$i", f"update_postimage|0xtx$i%05d|u$i")) ++
      Seq(2, 6).map(i => f"delete|0xtx$i%05d|$i") ++
      Seq(100, 101).map(i => f"insert|0xtx$i%05d|$i")).sorted
    assert(got == want, s"enriched feed diverged:\n$got\nvs\n$want")
    // the file-grain feed over the same boundary carries the churn
    // the enrichment removed: 20 pre-rows out + 20 post-rows in
    // (20 − 2 deleted + 2 inserted) vs the enriched feed's 10
    assert(lake.changesBetweenCommits(Schemas.Nfp, c0, c1).count() == 40L)
    // append + chain-drop commits pass through without a join
    lake.append(rows(200 until 205, chain = "base").coalesce(1), Schemas.Nfp)
    lake.dropChain(Schemas.Nfp, "base", retain = true)
    val c3 = lake.latestCommitVersion(Schemas.Nfp).get
    val tail = lake.changesBetweenCommitsEnriched(Schemas.Nfp, c1, c3, keys)
    assert(tail.filter(col("_change_type") === "insert").count() == 5L)
    assert(tail.filter(col("_change_type") === "delete").count() == 5L)
    assert(tail.filter(col("_change_type").startsWith("update")).count() == 0L)
    // unknown key columns refuse loudly
    val e = intercept[IllegalArgumentException] {
      lake.changesBetweenCommitsEnriched(Schemas.Nfp, c0, c1,
        Seq("chain_name", "nope"))
    }
    assert(e.getMessage.contains("nope"), e.getMessage)
  }

  test("rewrite-only commits contribute nothing; the snapshot diff refuses across them") {
    val root = Files.createTempDirectory("lake-cdc2").toString
    val lake = new Lake(spark, root)
    (0 until 3).foreach(j =>
      lake.append(rows(j * 10 until (j + 1) * 10).coalesce(1), Schemas.Nfp))
    val c1 = lake.latestCommitVersion(Schemas.Nfp).get
    val v1 = lake.snapshot(Schemas.Nfp)
    // compaction: swaps every file, changes no row (dataChange=false)
    assert(lake.compact(Schemas.Nfp, targetBytes = 1L << 26,
      retain = true) > 0)
    val c2 = lake.latestCommitVersion(Schemas.Nfp).get
    val v2 = lake.snapshot(Schemas.Nfp)
    assert(c2 > c1)
    // the commit-grain feed excludes the swap entirely
    assert(lake.changesBetweenCommits(Schemas.Nfp, c1, c2).count() == 0L,
      "a compaction's file swap leaked into the change feed")
    // the file-set snapshot diff CANNOT exclude it - it must refuse
    // loudly instead of surfacing 30 unchanged rows as delete+insert
    val e = intercept[IllegalArgumentException] {
      lake.tableChanges(Schemas.Nfp, v1, v2).count()
    }
    assert(e.getMessage.contains("compaction/clustering"),
      s"wrong refusal: ${e.getMessage}")
    // a data change AFTER the rewrite still flows through the feed
    lake.append(rows(100 until 105).coalesce(1), Schemas.Nfp)
    val c3 = lake.latestCommitVersion(Schemas.Nfp).get
    val after = lake.changesBetweenCommits(Schemas.Nfp, c1, c3)
    assert(after.filter(col("_change_type") === "insert").count() == 5L &&
      after.filter(col("_change_type") === "delete").count() == 0L)
  }

  test("the churn guard is side-aware: a post-compaction data change diffs fine") {
    val root = Files.createTempDirectory("lake-cdc2b").toString
    val lake = new Lake(spark, root)
    (0 until 3).foreach(j =>
      lake.append(rows(j * 10 until (j + 1) * 10).coalesce(1), Schemas.Nfp))
    assert(lake.compact(Schemas.Nfp, targetBytes = 1L << 26,
      retain = true) > 0)
    // BOTH snapshots taken AFTER the compaction: the rewrite's output
    // file sits on this diff's REMOVED side (the upsert replaced it,
    // with real row changes) - a side-blind guard matching the union
    // of everything any retained rewrite touched refused this forever
    val v1 = lake.snapshot(Schemas.Nfp)
    lake.upsert(rows(0 until 5, amt = i => s"u$i").coalesce(1),
      Schemas.Nfp, Seq("chain_name", "transaction_hash"), retain = true)
    val v2 = lake.snapshot(Schemas.Nfp)
    val diff = lake.tableChanges(Schemas.Nfp, v1, v2)
    assert(diff.filter(col("_change_type") === "insert")
      .filter(col("amount").startsWith("u")).count() == 5L,
      "the post-compaction upsert's changes are missing from the diff")
    // and a diff genuinely straddling the NEXT rewrite still refuses
    assert(lake.compact(Schemas.Nfp, targetBytes = 1L << 26,
      retain = true) > 0)
    val v3 = lake.snapshot(Schemas.Nfp)
    val e = intercept[IllegalArgumentException] {
      lake.tableChanges(Schemas.Nfp, v2, v3).count()
    }
    assert(e.getMessage.contains("compaction/clustering"), e.getMessage)
  }

  test("expired commit history refuses loudly instead of silently skipping") {
    val root = Files.createTempDirectory("lake-cdc3").toString
    val lake = new Lake(spark, root)
    // a tight retention floor so 40 synthetic commits actually expire
    // history (the default 48-commit floor exists precisely so
    // consumers don't lose history this fast)
    lake.setTableProperties(Schemas.Nfp,
      Map("manifest.minRetainedCommits" -> "8"))
    lake.append(rows(0 until 10).coalesce(1), Schemas.Nfp)
    val c1 = lake.latestCommitVersion(Schemas.Nfp).get
    // roll the commit log past the retention cut so version c1's
    // successors expire (synthetic no-op commits: the manifest
    // machinery is what's under test, not the data path)
    val entries = Seq.empty[(String, Long)]
    val cur = new Lake(spark, root)
    (0 until 40).foreach { _ =>
      val inv = cur.fileInventory(Schemas.Nfp)
        .map(e => (e._2.substring(e._2.indexOf("chain_name=")), e._3))
      cur.publishSynthetic(Schemas.Nfp, inv,
        delta = Some((entries, Set.empty[String])))
    }
    val cN = cur.latestCommitVersion(Schemas.Nfp).get
    val e = intercept[IllegalArgumentException] {
      cur.changesBetweenCommits(Schemas.Nfp, c1, cN).count()
    }
    assert(e.getMessage.contains("expired by") ||
      e.getMessage.contains("retention"), s"wrong refusal: ${e.getMessage}")
  }

  test("a pin holds its compaction in the log: the diff refuses through the churn guard") {
    val root = Files.createTempDirectory("lake-cdc5").toString
    val lake = new Lake(spark, root)
    // tight floor: without the pin, the rewrite commit would expire
    lake.setTableProperties(Schemas.Nfp,
      Map("manifest.minRetainedCommits" -> "8"))
    (0 until 3).foreach(j =>
      lake.append(rows(j * 10 until (j + 1) * 10).coalesce(1), Schemas.Nfp))
    val v1 = lake.snapshot(Schemas.Nfp)
    val c1 = lake.latestCommitVersion(Schemas.Nfp).get
    // a RETAINED compaction: both snapshot sides stay resolvable from
    // the retention area
    assert(lake.compact(Schemas.Nfp, targetBytes = 1L << 26,
      retain = true) > 0)
    // roll the log well past the floor
    val cur = new Lake(spark, root)
    (0 until 40).foreach { _ =>
      val inv = cur.fileInventory(Schemas.Nfp)
        .map(e => (e._2.substring(e._2.indexOf("chain_name=")), e._3))
      cur.publishSynthetic(Schemas.Nfp, inv,
        delta = Some((Seq.empty, Set.empty[String])))
    }
    val v2 = cur.snapshot(Schemas.Nfp)
    // the pin kept the compaction commit in the log, so the churn
    // guard sees the rewrite: the diff refuses instead of emitting all
    // 30 unchanged rows as delete+insert pairs
    assert(cur.commitHistory(Schemas.Nfp).head._1 <= c1)
    val e = intercept[IllegalArgumentException] {
      cur.tableChanges(Schemas.Nfp, v1, v2).count()
    }
    assert(e.getMessage.contains("compaction/clustering"), e.getMessage)
  }

  test("changesBetweenCommits with expectedIncarnation refuses after dropTable+recreate") {
    val root = Files.createTempDirectory("lake-cdc6").toString
    val lake = new Lake(spark, root)
    lake.append(rows(0 until 10).coalesce(1), Schemas.Nfp)
    val inc0 = lake.currentIncarnation(Schemas.Nfp).get
    val c0 = lake.latestCommitVersion(Schemas.Nfp).get
    lake.dropTable(Schemas.Nfp)
    lake.append(rows(100 until 120).coalesce(1), Schemas.Nfp)
    lake.append(rows(120 until 130).coalesce(1), Schemas.Nfp)
    val cN = lake.latestCommitVersion(Schemas.Nfp).get
    // version math alone cannot catch this (the new log reached cN >
    // c0); the stored incarnation does
    val e = intercept[IllegalArgumentException] {
      lake.changesBetweenCommits(Schemas.Nfp, c0, cN, Some(inc0)).count()
    }
    assert(e.getMessage.contains("dropped and recreated"), e.getMessage)
    // matching incarnation passes
    val incNew = lake.currentIncarnation(Schemas.Nfp).get
    assert(lake.changesBetweenCommits(Schemas.Nfp, c0, cN, Some(incNew))
      .count() > 0L)
  }

  test("dropChains removes several chains in ONE commit; retained files keep pins readable") {
    val root = Files.createTempDirectory("lake-cdc4").toString
    val lake = new Lake(spark, root)
    lake.append(rows(0 until 10).coalesce(1), Schemas.Nfp)
    lake.append(rows(10 until 20, chain = "base").coalesce(1), Schemas.Nfp)
    lake.append(rows(20 until 30, chain = "arbitrum").coalesce(1),
      Schemas.Nfp)
    val v1 = lake.snapshot(Schemas.Nfp)
    val c0 = lake.latestCommitVersion(Schemas.Nfp).get
    assert(lake.dropChains(Schemas.Nfp, Seq("base", "arbitrum"),
      retain = true))
    // atomicity: exactly ONE manifest commit for the whole statement
    assert(lake.latestCommitVersion(Schemas.Nfp).get == c0 + 1,
      "a multi-chain drop committed more than once")
    assert(lake.read(Schemas.Nfp).select("chain_name").distinct()
      .collect().map(_.getString(0)).toSeq == Seq("ethereum"))
    // retention ran after publish (removeReplaced ordering): the
    // pre-drop pinned snapshot still replays all three chains
    assert(lake.readAt(Schemas.Nfp, v1).count() == 30L)
    // the feed surfaces the drop as deletes of the two chains' rows
    val feed = lake.changesBetweenCommits(Schemas.Nfp, c0, c0 + 1)
    assert(feed.filter(col("_change_type") === "delete").count() == 20L &&
      feed.filter(col("_change_type") === "insert").count() == 0L)
    // dropping chains that don't exist is a no-op, not a commit
    assert(!lake.dropChains(Schemas.Nfp, Seq("nope", "nada")))
    assert(lake.latestCommitVersion(Schemas.Nfp).get == c0 + 1)
  }

  test("commitHistory lists (version, wall-clock, operation) for the retained log") {
    val root = Files.createTempDirectory("lake-cdc5").toString
    val lake = new Lake(spark, root)
    lake.append(rows(0 until 10).coalesce(1), Schemas.Nfp)
    lake.append(rows(10 until 20, chain = "base").coalesce(1), Schemas.Nfp)
    lake.append(rows(20 until 30, chain = "arbitrum").coalesce(1),
      Schemas.Nfp)
    lake.upsert(rows(0 until 3, amt = i => s"u$i").coalesce(1),
      Schemas.Nfp, Seq("chain_name", "transaction_hash"))
    lake.dropChain(Schemas.Nfp, "base")
    val hist = lake.commitHistory(Schemas.Nfp)
    assert(hist.map(_._3) ==
      Seq("append", "append", "append", "upsert", "dropChain"),
      s"operation sequence diverged: ${hist.map(_._3)}")
    assert(hist.map(_._1) == hist.map(_._1).sorted &&
      hist.forall(_._2.exists(_ > 0L)),
      "versions must ascend and every commit must carry a wall-clock")
  }
}
