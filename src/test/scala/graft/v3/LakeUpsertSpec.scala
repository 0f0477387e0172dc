package graft.v3

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Keyed upsert (CDC apply): replace / insert / delete semantics,
  * partition-bounded rewrites, and the unique-per-key guard. */
class LakeUpsertSpec extends SparkSpec {

  private def rows(ids: Seq[Int], chain: String = "ethereum",
                   amt: Int => String = i => s"$i") = {
    import spark.implicits._
    ids.map { i =>
      (chain, "IncreaseLiquidity", s"0xtx$i", 1000L + i, 0L,
        "0xu1", amt(i), s"${i * 10}", s"${i * 100}", s"$i", 7L)
    }.toDF("chain_name", "name", "transaction_hash", "block_number",
      "tx_index", "from_address", "amount", "amount0", "amount1",
      "tokenId", "log_index")
  }

  test("upsert replaces, inserts, deletes; untouched chains never rewritten") {
    val lake = new Lake(spark, Files.createTempDirectory("lake-up").toString)
    lake.append(rows(0 until 20), Schemas.Nfp)
    lake.append(rows(100 until 110, chain = "base"), Schemas.Nfp)
    val baseFiles = lake.fileInventory(Schemas.Nfp)
      .filter(_._1 == "base").map(_._2).toSet
    // batch: update keys 0-4 (amount bumped), insert 20-24, delete 5-9
    val batch = rows(0 until 5, amt = i => s"updated$i")
      .withColumn("__del", lit(false))
      .unionByName(rows(20 until 25).withColumn("__del", lit(false)))
      .unionByName(rows(5 until 10).withColumn("__del", lit(true)))
    lake.upsert(batch, Schemas.Nfp, Seq("chain_name", "transaction_hash"),
      deleteCol = Some("__del"))
    val eth = lake.read(Schemas.Nfp)
      .filter(col("chain_name") === "ethereum")
      .select("transaction_hash", "amount")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(eth.size == 20, s"expected 20 eth rows, got ${eth.size}")
    (0 until 5).foreach(i => assert(eth(s"0xtx$i") == s"updated$i"))
    (5 until 10).foreach(i => assert(!eth.contains(s"0xtx$i")))
    (10 until 20).foreach(i => assert(eth(s"0xtx$i") == s"$i"))
    (20 until 25).foreach(i => assert(eth(s"0xtx$i") == s"$i"))
    // base partition untouched byte-for-byte (same files)
    val baseAfter = lake.fileInventory(Schemas.Nfp)
      .filter(_._1 == "base").map(_._2).toSet
    assert(baseAfter == baseFiles, "untouched chain partition was rewritten")
  }

  test("deleting a chain's every row drops its partition directory") {
    val lake = new Lake(spark, Files.createTempDirectory("lake-up2").toString)
    lake.append(rows(0 until 3, chain = "base"), Schemas.Nfp)
    lake.append(rows(10 until 13), Schemas.Nfp)
    val batch = rows(0 until 3, chain = "base")
      .withColumn("__del", lit(true))
    lake.upsert(batch, Schemas.Nfp, Seq("chain_name", "transaction_hash"),
      deleteCol = Some("__del"))
    assert(lake.read(Schemas.Nfp)
      .filter(col("chain_name") === "base").count() == 0L)
    assert(lake.read(Schemas.Nfp).count() == 3L)
    assert(!lake.fileInventory(Schemas.Nfp).exists(_._1 == "base"))
  }

  test("NULL deleteCol means not-a-tombstone, never a silent delete") {
    import spark.implicits._
    val lake = new Lake(spark, Files.createTempDirectory("lake-up4").toString)
    lake.append(rows(0 until 3), Schemas.Nfp)
    // a change file written before __del existed: the column reads back
    // as typed nulls (the SchemaEvolutionSpec case)
    val batch = rows(Seq(1), amt = _ => "updated1")
      .withColumn("__del", lit(null).cast("boolean"))
    lake.upsert(batch, Schemas.Nfp, Seq("chain_name", "transaction_hash"),
      deleteCol = Some("__del"))
    val state = lake.read(Schemas.Nfp)
      .select("transaction_hash", "amount")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(state.size == 3, "NULL __del row vanished - silent delete")
    assert(state("0xtx1") == "updated1")
  }

  test("a batch with two versions of one key fails fast") {
    val lake = new Lake(spark, Files.createTempDirectory("lake-up3").toString)
    lake.append(rows(0 until 2), Schemas.Nfp)
    val dup = rows(Seq(1, 1))
    val e = intercept[IllegalArgumentException](
      lake.upsert(dup, Schemas.Nfp, Seq("chain_name", "transaction_hash")))
    assert(e.getMessage.contains("lastPerKey"))
  }

  test("keys without the partition column fail fast") {
    val lake = new Lake(spark, Files.createTempDirectory("lake-up5").toString)
    lake.append(rows(0 until 2), Schemas.Nfp)
    val e = intercept[IllegalArgumentException](
      lake.upsert(rows(Seq(1)), Schemas.Nfp, Seq("transaction_hash")))
    assert(e.getMessage.contains("chain_name"))
  }

  private def pref(ids: Seq[Int], prefix: String,
                   amt: Int => String = i => s"$i") = {
    import spark.implicits._
    ids.map { i =>
      ("ethereum", "IncreaseLiquidity", s"$prefix$i", 1000L + i, 0L,
        "0xu1", amt(i), s"${i * 10}", s"${i * 100}", s"$i", 7L)
    }.toDF("chain_name", "name", "transaction_hash", "block_number",
      "tx_index", "from_address", "amount", "amount0", "amount1",
      "tokenId", "log_index")
  }

  private def md5s(lake: Lake): Map[String, String] =
    lake.fileInventory(Schemas.Nfp).map { case (_, p, _) =>
      val bytes = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(new java.net.URI(
          if (p.startsWith("file:")) p else s"file://$p")))
      p -> java.security.MessageDigest.getInstance("MD5").digest(bytes)
        .map("%02x".format(_)).mkString
    }.toMap

  test("file-grain COW: untouched files in a TOUCHED chain stay byte-identical") {
    val lake = new Lake(spark, Files.createTempDirectory("lake-up6").toString)
    // three one-file segments with disjoint footer key ranges
    lake.append(pref(0 until 10, "0xaa").coalesce(1), Schemas.Nfp)
    lake.append(pref(0 until 10, "0xbb").coalesce(1), Schemas.Nfp)
    lake.append(pref(0 until 10, "0xcc").coalesce(1), Schemas.Nfp)
    val before = md5s(lake)
    assert(before.size == 3, s"expected 3 files, got ${before.size}")
    // batch hits only the 0xbb segment's range
    val batch = pref(Seq(3, 7), "0xbb", amt = i => s"updated$i")
    val stats = lake.upsert(batch, Schemas.Nfp,
      Seq("chain_name", "transaction_hash"))
    assert(stats.chainFiles == 3 && stats.touchedFiles == 1,
      s"expected 1 of 3 files touched, got $stats")
    val after = md5s(lake)
    // the two untouched segments: same paths, same bytes
    val keptBefore = before.filter { case (p, _) => after.contains(p) }
    assert(keptBefore.size == 2,
      s"expected exactly 2 surviving original files, got ${keptBefore.size}")
    keptBefore.foreach { case (p, h) =>
      assert(after(p) == h, s"untouched file rewritten: $p") }
    // semantics intact
    val state = lake.read(Schemas.Nfp)
      .select("transaction_hash", "amount")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(state.size == 30)
    assert(state("0xbb3") == "updated3" && state("0xbb7") == "updated7")
    assert(state("0xbb4") == "4" && state("0xaa3") == "3" &&
      state("0xcc7") == "7")
  }

  test("insert-only batch outside every file's key range touches zero files") {
    val lake = new Lake(spark, Files.createTempDirectory("lake-up7").toString)
    lake.append(pref(0 until 10, "0xaa").coalesce(1), Schemas.Nfp)
    lake.append(pref(0 until 10, "0xbb").coalesce(1), Schemas.Nfp)
    val before = md5s(lake)
    val stats = lake.upsert(pref(0 until 5, "0xzz"), Schemas.Nfp,
      Seq("chain_name", "transaction_hash"))
    assert(stats.touchedFiles == 0,
      s"pure insert should touch no files, got $stats")
    val after = md5s(lake)
    before.foreach { case (p, h) =>
      assert(after.get(p).contains(h), s"original file changed: $p") }
    assert(lake.read(Schemas.Nfp).count() == 25L)
  }

  test("file-grain COW prunes on INTEGRAL key ranges too (long footer stats)") {
    val lake = new Lake(spark, Files.createTempDirectory("lake-upl").toString)
    // three one-file segments with disjoint block_number ranges; the
    // key is (chain_name, block_number) — exercises the Long-stats
    // branch of the footer pruning (the string branch is covered above)
    def blockSeg(lo: Int, hi: Int) = {
      import spark.implicits._
      (lo until hi).map { i =>
        ("ethereum", "IncreaseLiquidity", s"0xtx$i", i.toLong, 0L,
          "0xu1", s"$i", s"${i * 10}", s"${i * 100}", s"$i", 7L)
      }.toDF("chain_name", "name", "transaction_hash", "block_number",
        "tx_index", "from_address", "amount", "amount0", "amount1",
        "tokenId", "log_index")
    }
    lake.append(blockSeg(0, 100).coalesce(1), Schemas.Nfp)
    lake.append(blockSeg(1000, 1100).coalesce(1), Schemas.Nfp)
    lake.append(blockSeg(2000, 2100).coalesce(1), Schemas.Nfp)
    // batch keys sit inside the middle segment's range, INCLUDING the
    // exact range boundaries (min=1000, max=1099 must count as inside)
    val batch = blockSeg(1000, 1001)
      .unionByName(blockSeg(1050, 1051))
      .unionByName(blockSeg(1099, 1100))
      .withColumn("amount", lit("updated"))
    val stats = lake.upsert(batch, Schemas.Nfp,
      Seq("chain_name", "block_number"))
    assert(stats.chainFiles == 3 && stats.touchedFiles == 1,
      s"expected 1 of 3 files touched via long stats, got $stats")
    val state = lake.read(Schemas.Nfp)
      .select("block_number", "amount")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(state.size == 300)
    assert(state(1000L) == "updated" && state(1050L) == "updated" &&
      state(1099L) == "updated")
    assert(state(1001L) == "1001" && state(0L) == "0" &&
      state(2099L) == "2099")
  }

  test("upsert invalidates older snapshots loudly, naming upsert") {
    val lake = new Lake(spark, Files.createTempDirectory("lake-up8").toString)
    lake.append(pref(0 until 10, "0xaa").coalesce(1), Schemas.Nfp)
    val v1 = lake.snapshot(Schemas.Nfp)
    lake.append(pref(0 until 10, "0xbb").coalesce(1), Schemas.Nfp)
    val v2 = lake.snapshot(Schemas.Nfp)
    // upsert rewrites the 0xaa file that BOTH manifests name — the
    // "rewritten files look new" hazard for readSince(v1 → v2)
    lake.upsert(pref(Seq(3), "0xaa", amt = _ => "upd"), Schemas.Nfp,
      Seq("chain_name", "transaction_hash"))
    val e1 = intercept[IllegalArgumentException](
      lake.readAt(Schemas.Nfp, v1))
    assert(e1.getMessage.contains("upsert"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      lake.readSince(Schemas.Nfp, v1, Some(v2)))
    assert(e2.getMessage.contains("upsert"), e2.getMessage)
    // a snapshot taken AFTER the upsert is a clean base again
    val v3 = lake.snapshot(Schemas.Nfp)
    lake.append(pref(0 until 3, "0xdd").coalesce(1), Schemas.Nfp)
    assert(lake.readSince(Schemas.Nfp, v3).count() == 3L)
  }

  test("chain values with Hive-escaped characters upsert correctly end to end") {
    val lake = new Lake(spark, Files.createTempDirectory("lake-esc").toString)
    // "eip155:1" writes as the partition dir chain_name=eip155%3A1 —
    // every value↔directory comparison must cross the escaping
    val esc = rows(0 until 10, chain = "eip155:1")
    lake.append(esc.coalesce(1), Schemas.Nfp)
    lake.append(rows(0 until 5).coalesce(1), Schemas.Nfp)
    val batch = rows(Seq(3), chain = "eip155:1", amt = _ => "upd")
      .withColumn("__del", lit(false))
      .unionByName(rows(Seq(7), chain = "eip155:1")
        .withColumn("__del", lit(true)))
    val st = lake.upsert(batch, Schemas.Nfp,
      Seq("chain_name", "transaction_hash"), deleteCol = Some("__del"))
    assert(st.chainFiles == 1 && st.touchedFiles == 1,
      s"escaped chain's file was not planned: $st")
    val state = lake.read(Schemas.Nfp)
      .filter(col("chain_name") === "eip155:1")
      .select("transaction_hash", "amount")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(state.size == 9, s"escaped-chain merge landed wrong: $state")
    assert(state("0xtx3") == "upd" && !state.contains("0xtx7"))
    assert(lake.read(Schemas.Nfp).count() == 14L)
    // deleting every row of the escaped chain drops its directory
    val wipe = rows((0 until 10).filterNot(_ == 7), chain = "eip155:1",
      amt = _ => "x").withColumn("__del", lit(true))
    lake.upsert(wipe, Schemas.Nfp, Seq("chain_name", "transaction_hash"),
      deleteCol = Some("__del"))
    assert(!lake.fileInventory(Schemas.Nfp).exists(_._1 == "eip155:1"))
    assert(lake.dropChain(Schemas.Nfp, "eip155:1") == false)
  }

  test("a batch row with a null data key fails fast") {
    val lake = new Lake(spark, Files.createTempDirectory("lake-nk").toString)
    lake.append(rows(0 until 3), Schemas.Nfp)
    val batch = rows(Seq(1))
      .withColumn("transaction_hash", lit(null).cast("string"))
    val e = intercept[IllegalArgumentException](
      lake.upsert(batch, Schemas.Nfp,
        Seq("chain_name", "transaction_hash")))
    assert(e.getMessage.contains("null"), e.getMessage)
  }

  test("retain-mode upsert keeps pre-rewrite snapshots readable; vacuum expires them") {
    val lake = new Lake(spark, Files.createTempDirectory("lake-ret").toString)
    lake.append(pref(0 until 10, "0xaa").coalesce(1), Schemas.Nfp)
    lake.append(pref(0 until 10, "0xbb").coalesce(1), Schemas.Nfp)
    val v1 = lake.snapshot(Schemas.Nfp)
    // rewrite the 0xaa file with retention: update 2 keys, delete 1
    val batch = pref(Seq(3, 7), "0xaa", amt = i => s"upd$i")
      .withColumn("__del", lit(false))
      .unionByName(pref(Seq(5), "0xaa").withColumn("__del", lit(true)))
    val st = lake.upsert(batch, Schemas.Nfp,
      Seq("chain_name", "transaction_hash"), deleteCol = Some("__del"),
      retain = true)
    assert(st.touchedFiles == 1)
    // the pinned read still reproduces the PRE-upsert corpus exactly
    val atV1 = lake.readAt(Schemas.Nfp, v1)
      .select("transaction_hash", "amount")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(atV1.size == 20)
    assert(atV1("0xaa3") == "3" && atV1("0xaa5") == "5" &&
      atV1("0xaa7") == "7")
    // the live read carries the merge
    val live = lake.read(Schemas.Nfp)
      .select("transaction_hash", "amount")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(live.size == 19)
    assert(live("0xaa3") == "upd3" && !live.contains("0xaa5"))
    // incremental reads stay invalid after a rewrite even with
    // retention (the live table is no longer a superset of the base)
    val e = intercept[IllegalArgumentException](
      lake.readSince(Schemas.Nfp, v1))
    assert(e.getMessage.contains("retention cannot restore"))
    // a later snapshot + vacuum keeping only it: v1 expires, but the
    // upsert-retired file stays pinned by the retained COMMIT LOG (an
    // in-window CDC consumer replays it — r16 lifecycle); rolling the
    // window frees it
    val v2 = lake.snapshot(Schemas.Nfp)
    val vs = lake.vacuum(Schemas.Nfp, keepLast = 1)
    assert(vs.manifestsDeleted == 1 && vs.filesDeleted == 0,
      s"in-window vacuum must keep commit-log-pinned files: $vs")
    lake.setTableProperties(Schemas.Nfp,
      Map("manifest.minRetainedCommits" -> "1"))
    (0 until 3).foreach(_ => lake.refreshManifest(Schemas.Nfp))
    val vsRolled = lake.vacuum(Schemas.Nfp, keepLast = 1)
    assert(vsRolled.filesDeleted == 1 && vsRolled.bytesFreed > 0L,
      s"window rolled: unexpected vacuum stats: $vsRolled")
    val e2 = intercept[IllegalArgumentException](
      lake.readAt(Schemas.Nfp, v1))
    assert(e2.getMessage.contains("no snapshot"))
    assert(lake.readAt(Schemas.Nfp, v2).count() == 19L)
    assert(lake.snapshotVersions(Schemas.Nfp) == Seq(v2))
  }

  test("retain-mode compact keeps pinned reads working through the rewrite") {
    val lake = new Lake(spark, Files.createTempDirectory("lake-ret2").toString)
    (0 until 4).foreach(i =>
      lake.append(pref(i * 10 until i * 10 + 10, "0xaa").coalesce(1),
        Schemas.Nfp))
    val v1 = lake.snapshot(Schemas.Nfp)
    assert(lake.compact(Schemas.Nfp, targetBytes = 1L << 30,
      retain = true) >= 1)
    // live read sees the compacted files; the pinned read resolves the
    // originals from the retention area — identical rows either way
    assert(lake.read(Schemas.Nfp).count() == 40L)
    val atV1 = lake.readAt(Schemas.Nfp, v1)
    assert(atV1.count() == 40L)
    assert(atV1.select("transaction_hash").distinct().count() == 40L)
    // vacuum keeping v1 frees nothing (every retired file is pinned)
    val vs = lake.vacuum(Schemas.Nfp, keepLast = 1)
    assert(vs.filesDeleted == 0 && vs.manifestsDeleted == 0)
    assert(lake.readAt(Schemas.Nfp, v1).count() == 40L)
    // expiring the pin releases its hold on the commit log, but frees
    // nothing yet: the appends that added the compacted-away originals
    // are still retained (r16 lifecycle)
    val vs1 = lake.vacuum(Schemas.Nfp, keepLast = 0)
    assert(vs1.manifestsDeleted == 1 && vs1.filesDeleted == 0,
      s"unexpected vacuum stats: $vs1")
    // rolling the CDC window now cuts past those appends: vacuum then
    // frees all four
    lake.setTableProperties(Schemas.Nfp,
      Map("manifest.minRetainedCommits" -> "1"))
    (0 until 3).foreach(_ => lake.refreshManifest(Schemas.Nfp))
    val vs2 = lake.vacuum(Schemas.Nfp, keepLast = 0)
    assert(vs2.manifestsDeleted == 0 && vs2.filesDeleted == 4,
      s"unexpected vacuum stats: $vs2")
  }

  test("an upsert that touches no existing file leaves old snapshots valid") {
    val lake = new Lake(spark, Files.createTempDirectory("lake-up9").toString)
    lake.append(pref(0 until 10, "0xaa").coalesce(1), Schemas.Nfp)
    val v1 = lake.snapshot(Schemas.Nfp)
    lake.upsert(pref(0 until 5, "0xzz"), Schemas.Nfp,
      Seq("chain_name", "transaction_hash"))
    // pure insert: v1's files all still exist; the pinned read and the
    // incremental read both still work, and readSince sees the inserts
    assert(lake.readAt(Schemas.Nfp, v1).count() == 10L)
    assert(lake.readSince(Schemas.Nfp, v1).count() == 5L)
  }
}
