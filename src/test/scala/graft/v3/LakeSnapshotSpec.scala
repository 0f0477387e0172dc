package graft.v3

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Time travel by pins on the commit log: a snapshot pins a manifest
  * commit, a pinned read reproduces its file set bit-for-bit while
  * appends keep landing, the pin holds the log until vacuum expires
  * it, and an invalidated snapshot (compaction rewrote its files
  * without retention) fails loudly instead of returning a partial
  * corpus. */
class LakeSnapshotSpec extends SparkSpec {

  private def rows(from: Int, until: Int) = {
    import spark.implicits._
    (from until until).map { i =>
      ("ethereum", "IncreaseLiquidity", s"0xtx$i", 1000L + i, 0L,
        "0xu1", s"$i", s"${i * 10}", s"${i * 100}", s"$i", 7L)
    }.toDF("chain_name", "name", "transaction_hash", "block_number",
      "tx_index", "from_address", "amount", "amount0", "amount1",
      "tokenId", "log_index")
  }

  test("restoreTable makes the current state EXACTLY the pinned snapshot; CDC sees the diff; later pins survive") {
    import java.nio.file.Files
    val root = Files.createTempDirectory("lake-restore").toString
    val lake = new Lake(spark, root)
    def rows(ids: Seq[Int], amt: Int => String = i => s"$i") = {
      import spark.implicits._
      ids.map { i =>
        ("ethereum", "IncreaseLiquidity", f"0xrr$i%05d", 1000L + i, 0L,
          "0xu1", amt(i), s"${i * 10}", s"${i * 100}", s"$i", i % 7L)
      }.toDF("chain_name", "name", "transaction_hash", "block_number",
        "tx_index", "from_address", "amount", "amount0", "amount1",
        "tokenId", "log_index")
    }
    lake.append(rows(0 until 20).coalesce(1), Schemas.Nfp)
    val snap = lake.snapshot(Schemas.Nfp)
    val want = lake.read(Schemas.Nfp)
      .select("transaction_hash", "amount").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    // mutate: retained upsert (updates 3, inserts 2) + a fresh append
    val batch = rows(Seq(1, 5, 9), amt = i => s"u$i")
      .unionByName(rows(Seq(100, 101)))
    lake.upsert(batch, Schemas.Nfp,
      Seq("chain_name", "transaction_hash"), retain = true)
    lake.append(rows(200 until 205).coalesce(1), Schemas.Nfp)
    val snapAfter = lake.snapshot(Schemas.Nfp)
    val cBefore = lake.latestCommitVersion(Schemas.Nfp).get
    // RESTORE: state must equal the pin bit-for-bit
    val (unretired, retired) = lake.restoreTable(Schemas.Nfp, snap)
    assert(unretired >= 1 && retired >= 2,
      s"unexpected restore shape: +$unretired / -$retired")
    val got = lake.read(Schemas.Nfp)
      .select("transaction_hash", "amount").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == want, "restored state diverged from the pin")
    // the restore commit is DATA-CHANGING: the feed carries its diff
    val cAfter = lake.latestCommitVersion(Schemas.Nfp).get
    val feed = lake.changesBetweenCommits(Schemas.Nfp, cBefore, cAfter)
    assert(feed.filter(col("_change_type") === "insert").count() > 0)
    assert(feed.filter(col("_change_type") === "delete").count() > 0)
    // the POST-mutation pin still reads exactly (its files retired)
    val after = lake.readAt(Schemas.Nfp, snapAfter)
      .select("transaction_hash", "amount").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(after.size == 27 && after("0xrr00001") == "u1" &&
      after.contains("0xrr00200"), s"post-mutation pin lost: ${after.size}")
    // restore to a MISSING snapshot refuses loudly
    val e = intercept[IllegalArgumentException](
      lake.restoreTable(Schemas.Nfp, 999L))
    assert(e.getMessage.contains("no snapshot"), e.getMessage)
    // idempotent-ish: restoring to the now-current pin changes nothing
    val snap2 = lake.snapshot(Schemas.Nfp)
    val (u2, r2) = lake.restoreTable(Schemas.Nfp, snap2)
    assert(u2 == 0 && r2 == 0)
    assert(lake.read(Schemas.Nfp).count() == 20L)
  }

  test("snapshots pin exact file sets; pinned reads survive later appends") {
    val lake = new Lake(spark,
      Files.createTempDirectory("lake-snap").toString)
    lake.append(rows(0, 40), Schemas.Nfp)
    val v1 = lake.snapshot(Schemas.Nfp)
    lake.append(rows(40, 100), Schemas.Nfp)
    val v2 = lake.snapshot(Schemas.Nfp)
    assert(lake.snapshotVersions(Schemas.Nfp) == Seq(v1, v2))
    assert(v1 == 1L && v2 == 2L)
    // v1 sees only the first append, however much landed after it
    assert(lake.readAt(Schemas.Nfp, v1).count() == 40L)
    assert(lake.readAt(Schemas.Nfp, v2).count() == 100L)
    assert(lake.read(Schemas.Nfp).count() == 100L)
    // the pinned read is exact, not just a count: same rows as the
    // live table was at commit time
    val v1Keys = lake.readAt(Schemas.Nfp, v1)
      .select("transaction_hash").collect().map(_.getString(0)).toSet
    assert(v1Keys == (0 until 40).map(i => s"0xtx$i").toSet)
    // partition pruning still applies through the pinned scan
    assert(lake.readAt(Schemas.Nfp, v1)
      .filter(col("chain_name") === "nochain").count() == 0L)
  }

  test("readSince returns exactly the rows appended after a snapshot") {
    val lake = new Lake(spark,
      Files.createTempDirectory("lake-since").toString)
    lake.append(rows(0, 30), Schemas.Nfp)
    val v1 = lake.snapshot(Schemas.Nfp)
    lake.append(rows(30, 45), Schemas.Nfp)
    val v2 = lake.snapshot(Schemas.Nfp)
    lake.append(rows(45, 50), Schemas.Nfp)
    // since v1, up to v2: the middle wave only
    val mid = lake.readSince(Schemas.Nfp, v1, upTo = Some(v2))
      .select("transaction_hash").collect().map(_.getString(0)).toSet
    assert(mid == (30 until 45).map(i => s"0xtx$i").toSet)
    // since v2, open-ended: everything after the last snapshot
    val tail = lake.readSince(Schemas.Nfp, v2)
      .select("transaction_hash").collect().map(_.getString(0)).toSet
    assert(tail == (45 until 50).map(i => s"0xtx$i").toSet)
    // nothing new -> typed empty frame
    assert(lake.readSince(Schemas.Nfp, v2, upTo = Some(v2)).count() == 0L)
    // compaction between base and now -> loud failure, not stale rows
    assert(lake.compact(Schemas.Nfp, targetBytes = 1L << 30) >= 1)
    val e = intercept[IllegalArgumentException](
      lake.readSince(Schemas.Nfp, v1))
    assert(e.getMessage.contains("compaction"))
  }

  test("compaction invalidates older snapshots loudly, never partially") {
    val lake = new Lake(spark,
      Files.createTempDirectory("lake-snap2").toString)
    // many small appends -> many small files worth compacting
    (0 until 6).foreach(i => lake.append(rows(i * 10, i * 10 + 10),
      Schemas.Nfp))
    val v1 = lake.snapshot(Schemas.Nfp)
    assert(lake.compact(Schemas.Nfp, targetBytes = 1L << 30) >= 1)
    // the live read still sees every row
    assert(lake.read(Schemas.Nfp).count() == 60L)
    // the pinned read names its missing files instead of under-reading
    val e = intercept[IllegalArgumentException](
      lake.readAt(Schemas.Nfp, v1).count())
    assert(e.getMessage.contains("invalidated"))
    // a fresh snapshot over the compacted files works
    val v2 = lake.snapshot(Schemas.Nfp)
    assert(lake.readAt(Schemas.Nfp, v2).count() == 60L)
  }

  test("commit race: committed versions are skipped, a half-written " +
      "or anchorless pin is never readable") {
    val lake = new Lake(spark,
      Files.createTempDirectory("lake-snap4").toString)
    lake.append(rows(0, 10), Schemas.Nfp)
    val v1 = lake.snapshot(Schemas.Nfp)
    assert(v1 == 1L)
    // a writer that crashed mid-pin leaves only its temp file (the body
    // never reached the final name): v2 must not read back as a
    // (possibly torn) snapshot
    val snapDir = new java.io.File(
      lake.root, s"_snapshots/${Schemas.Nfp}")
    java.nio.file.Files.write(
      new java.io.File(snapDir, f".v${2L}%09d-tmp-123").toPath,
      "partial/garbage".getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException](
      lake.readAt(Schemas.Nfp, 2L))
    assert(e.getMessage.contains("no snapshot"))
    // the number was never committed: the next pin takes it
    assert(lake.snapshot(Schemas.Nfp) == 2L)
    val v3 = lake.snapshot(Schemas.Nfp)
    assert(v3 == 3L)
    Seq(v1, 2L, v3).foreach(v => assert(lake.readAt(Schemas.Nfp, v).count() == 10L))
    // a COMMITTED pin by another writer is skipped, never overwritten;
    // planted empty, it carries no commit anchor and refuses loudly
    val vf = new java.io.File(snapDir, f"v${4L}%09d.txt")
    java.nio.file.Files.write(vf.toPath, Array.empty[Byte])
    val v5 = lake.snapshot(Schemas.Nfp)
    assert(v5 == 5L)
    assert(vf.length() == 0L, "foreign committed pin was not preserved verbatim")
    val e4 = intercept[IllegalArgumentException](
      lake.readAt(Schemas.Nfp, 4L))
    assert(e4.getMessage.contains("no snapshot"), e4.getMessage)
    // vacuum sweeps the crashed writer's temp (age-based: 0 ms marks
    // everything stale) without touching committed pins
    lake.vacuum(Schemas.Nfp, keepLast = 10, staleCommitMs = 0L)
    val left = Option(snapDir.listFiles()).toSeq.flatten.map(_.getName)
    assert(!left.exists(_.contains("-tmp-")),
      s"stale commit leftovers survived vacuum: $left")
    assert(lake.snapshotVersions(Schemas.Nfp) == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("a pin holds the log through compaction, vacuum and 24 commits; " +
      "once expired, the next checkpoint cuts past it") {
    val root = Files.createTempDirectory("lake-snap-hold").toString
    val lake = new Lake(spark, root)
    spark.conf.set("spark.sql.catalog.snap_hold",
      classOf[graft.sources.LakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.snap_hold.root", root)
    // the tightest floor: only the pin keeps old commits alive
    lake.setTableProperties(Schemas.Nfp,
      Map("manifest.minRetainedCommits" -> "1"))
    (0 until 3).foreach(j =>
      lake.append(rows(j * 10, (j + 1) * 10).coalesce(1), Schemas.Nfp))
    // two metadata-only checkpoints cut the log past the appends, so
    // after the rewrite-only compaction below only the pin's own fold
    // keeps the original files from vacuum
    (0 until 2).foreach(_ => lake.refreshManifest(Schemas.Nfp))
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select("transaction_hash").collect().map(_.getString(0)).toSet
    val want = (0 until 30).map(i => s"0xtx$i").toSet
    val pin = lake.snapshot(Schemas.Nfp)
    val pinCommit = lake.latestCommitVersion(Schemas.Nfp).get
    assert(lake.compact(Schemas.Nfp, targetBytes = 1L << 30,
      retain = true) >= 1)
    assert(lake.vacuum(Schemas.Nfp, keepLast = 1).manifestsDeleted == 0)
    (0 until 24).foreach(i =>
      lake.append(rows(100 + i, 101 + i).coalesce(1), Schemas.Nfp))
    val history = lake.commitHistory(Schemas.Nfp)
    assert(history.exists { case (v, _, _, d) => !d && v > pinCommit + 1 },
      s"no checkpoint was published after the pin: $history")
    assert(history.head._1 <= pinCommit,
      s"retention cut past the live pin's commit v$pinCommit: $history")
    assert(keys(lake.readAt(Schemas.Nfp, pin)) == want)
    assert(keys(spark.sql(
      s"SELECT transaction_hash FROM snap_hold.${Schemas.Nfp} " +
        s"VERSION AS OF $pin")) == want)
    lake.restoreTable(Schemas.Nfp, pin)
    assert(keys(lake.read(Schemas.Nfp)) == want)
    // expire the pin: the next checkpoint may cut past its commit
    assert(lake.vacuum(Schemas.Nfp, keepLast = 0).manifestsDeleted == 1)
    lake.refreshManifest(Schemas.Nfp)
    lake.refreshManifest(Schemas.Nfp)
    val after = lake.commitHistory(Schemas.Nfp).map(_._1)
    assert(after.head > pinCommit,
      s"the log still holds expired pin v$pin's commit: $after")
    val e = intercept[IllegalArgumentException](lake.readAt(Schemas.Nfp, pin))
    assert(e.getMessage.contains("no snapshot"), e.getMessage)
  }

  test("version numbers are never reused after vacuum - stale handles fail loudly") {
    val lake = new Lake(spark,
      Files.createTempDirectory("lake-snap5").toString)
    lake.append(rows(0, 10), Schemas.Nfp)
    val v1 = lake.snapshot(Schemas.Nfp)
    lake.append(rows(10, 20), Schemas.Nfp)
    val v2 = lake.snapshot(Schemas.Nfp)
    assert((v1, v2) == ((1L, 2L)))
    // a consumer stores v2, then ALL manifests are vacuumed away
    val vs = lake.vacuum(Schemas.Nfp, keepLast = 0)
    assert(vs.manifestsDeleted == 2)
    // new snapshots must NOT recycle the numbers: the stored handle
    // has to fail loudly, never silently resolve to a new snapshot
    val v3 = lake.snapshot(Schemas.Nfp)
    assert(v3 == 3L, s"vacuumed version numbers were recycled: got $v3")
    val e = intercept[IllegalArgumentException](
      lake.readAt(Schemas.Nfp, v2))
    assert(e.getMessage.contains("no snapshot"))
    assert(lake.readAt(Schemas.Nfp, v3).count() == 20L)
  }

  test("snapshot numbers survive dropTable+recreate - stale handles fail loudly") {
    val lake = new Lake(spark,
      Files.createTempDirectory("lake-snap-drop").toString)
    lake.append(rows(0, 10), Schemas.Nfp)
    val v1 = lake.snapshot(Schemas.Nfp)
    lake.append(rows(10, 20), Schemas.Nfp)
    val v2 = lake.snapshot(Schemas.Nfp)
    assert(Seq(v1, v2) == Seq(1L, 2L))
    // drop + recreate: the OLD handles must never silently resolve to
    // the new table's snapshots under recycled numbers - the
    // high-water mark survives the drop
    lake.dropTable(Schemas.Nfp)
    lake.append(rows(100, 120), Schemas.Nfp)
    val v3 = lake.snapshot(Schemas.Nfp)
    assert(v3 == 3L, s"recreate recycled snapshot numbering (got v$v3)")
    val e = intercept[IllegalArgumentException] {
      lake.readAt(Schemas.Nfp, v2).count()
    }
    assert(e.getMessage.contains("no snapshot"), e.getMessage)
    assert(lake.readAt(Schemas.Nfp, v3).count() == 20L)
  }

  test("empty-table snapshot reads back as a typed empty frame") {
    val lake = new Lake(spark,
      Files.createTempDirectory("lake-snap3").toString)
    lake.append(rows(0, 1), Schemas.Nfp)
    // drop the chain then snapshot: inventory is empty
    lake.dropChain(Schemas.Nfp, "ethereum")
    val v = lake.snapshot(Schemas.Nfp)
    val df = lake.readAt(Schemas.Nfp, v)
    assert(df.count() == 0L)
    assert(df.schema.fieldNames.toSet == Schemas.nfp.fieldNames.toSet)
  }
}
