package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.store.{ConsolidatedStore, StoreLog, StoreMerge, StoreRepair}

/** Crash recovery of the copy-on-write swap ([[graft.store.StoreRepair]]):
  * each test reproduces one die-inside-the-window state by hand-editing
  * the directory, then asserts repair returns the store to its last
  * commit — bytes, log and its stats all agreeing.
  */
class StoreRepairSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tmp(): String =
    Files.createTempDirectory("graft-repair").toString + "/t"

  private def bh = graft.etl.BackupHistoryDerivation
    .canonicalFrame(spark, TestSpark.sf).drop("LogID")

  private def build(): String = {
    val path = tmp()
    ConsolidatedStore.append(spark, path, bh.filter(col("database_name") < "db2"))
    ConsolidatedStore.append(spark, path, bh.filter(col("database_name") >= "db2"))
    path
  }

  private def parquets(path: String): Seq[String] =
    new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSeq

  test("clean store: repair is a no-op") {
    val path = build()
    val before = ConsolidatedStore.read(spark, path).count()
    val stats = StoreRepair.repair(spark, path)
    assert(stats.clean, s"unexpected repairs on a clean store: $stats")
    assert(ConsolidatedStore.read(spark, path).count() == before)
  }

  test("crash after replacement write, before archive: orphans dropped") {
    val path = build()
    val rows = ConsolidatedStore.read(spark, path).count()
    // simulate: a dead merge left an uncommitted replacement file — a
    // byte-copy of a live file, so every key in it reads twice
    val victim = parquets(path).head
    Files.copy(Paths.get(s"$path/$victim"),
      Paths.get(s"$path/part-99999-deadwriter.c000.snappy.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    assert(ConsolidatedStore.read(spark, path).count() > rows,
      "fixture: duplication must be visible before repair")
    val stats = StoreRepair.repair(spark, path)
    assert(stats == StoreRepair.RepairStats(0L, 1L), stats.toString)
    assert(ConsolidatedStore.read(spark, path).count() == rows)
    // the log's stats agree with the directory again (pruned appends
    // stay safe)
    assert(StoreTestKit.statsDrift(spark, path).isEmpty)
  }

  test("crash after archive, before commit: originals restored") {
    val path = build()
    val rows = ConsolidatedStore.read(spark, path).count()
    val v = StoreLog.currentVersion(spark, path)
    // simulate: a dead writer archived an original into the NEXT
    // version's history dir and died before committing
    val victim = parquets(path).head
    val hist = Paths.get(s"$path/${StoreLog.historyDirName}/${"v%09d".format(v + 1)}")
    Files.createDirectories(hist)
    Files.move(Paths.get(s"$path/$victim"), hist.resolve(victim))
    assert(ConsolidatedStore.read(spark, path).count() < rows,
      "fixture: rows must be missing before repair")
    val stats = StoreRepair.repair(spark, path)
    assert(stats == StoreRepair.RepairStats(1L, 0L), stats.toString)
    assert(ConsolidatedStore.read(spark, path).count() == rows)
    assert(!Files.exists(hist), "uncommitted history dir must be gone")
    // committed history (earlier versions) is untouched: snapshots at
    // every committed version still read
    for (sv <- 1 to v)
      assert(StoreLog.snapshot(spark, path, sv).count() > 0)
  }

  test("combined window: restored originals + dropped orphans, then a rerun merges cleanly") {
    val path = build()
    val expected = ConsolidatedStore.read(spark, path)
      .orderBy("LogID").collect().toSeq
    val v = StoreLog.currentVersion(spark, path)
    val victim = parquets(path).head
    val hist = Paths.get(s"$path/${StoreLog.historyDirName}/${"v%09d".format(v + 1)}")
    Files.createDirectories(hist)
    // the dead merge: wrote a replacement (orphan), archived the original
    Files.copy(Paths.get(s"$path/$victim"),
      Paths.get(s"$path/part-99999-deadwriter.c000.snappy.parquet"))
    Files.move(Paths.get(s"$path/$victim"), hist.resolve(victim))
    val stats = StoreRepair.repair(spark, path)
    assert(stats == StoreRepair.RepairStats(1L, 1L), stats.toString)
    val got = ConsolidatedStore.read(spark, path)
      .orderBy("LogID").collect().toSeq
    assert(got == expected, "repair must restore the exact last commit")
    // and the rerun of the merge applies normally on the repaired store
    val upd = bh.filter(col("database_name") === "db1")
      .withColumn("CompressedSizeMB", col("CompressedSizeMB") + 5)
    val m = StoreMerge.merge(spark, path, upd)
    assert(m.updated == upd.count() && m.inserted == 0L)
  }

  // --- compaction whole-root swap windows (root__precompact / __compacting)

  test("compaction crash between the swap renames: displaced root restored") {
    val path = build()
    val expected = ConsolidatedStore.read(spark, path)
      .orderBy("LogID").collect().toSeq
    // the first rename succeeded (root -> __precompact), the second never
    // ran: the staged rewrite is still sitting in __compacting
    Files.move(Paths.get(path), Paths.get(path + "__precompact"))
    Files.createDirectories(Paths.get(path + "__compacting"))
    val stats = StoreRepair.repair(spark, path)
    assert(stats.restored == 1L && stats.orphansDropped == 0L, stats.toString)
    assert(!Files.exists(Paths.get(path + "__precompact")))
    assert(!Files.exists(Paths.get(path + "__compacting")))
    assert(ConsolidatedStore.read(spark, path)
      .orderBy("LogID").collect().toSeq == expected)
  }

  test("compaction crash after swap, before log carry: logless rewrite discarded") {
    val path = build()
    val expected = ConsolidatedStore.read(spark, path)
      .orderBy("LogID").collect().toSeq
    // root swapped out whole (log and all), rewrite swapped in without it
    Files.move(Paths.get(path), Paths.get(path + "__precompact"))
    spark.read.parquet(path + "__precompact").write.parquet(path)
    assert(!Files.exists(Paths.get(s"$path/${StoreLog.dirName}")),
      "fixture: the swapped-in rewrite must be logless")
    val stats = StoreRepair.repair(spark, path)
    assert(stats.restored == 1L && stats.orphansDropped == 0L, stats.toString)
    assert(Files.exists(Paths.get(s"$path/${StoreLog.dirName}")))
    assert(ConsolidatedStore.read(spark, path)
      .orderBy("LogID").collect().toSeq == expected)
    // the restored store keeps working: an append lands a new commit
    val v = StoreLog.currentVersion(spark, path)
    ConsolidatedStore.append(spark, path,
      bh.filter(col("database_name") === "db1")
        .withColumn("physical_device_name", concat(col("physical_device_name"), lit(".rerun"))))
    assert(StoreLog.currentVersion(spark, path) == v + 1)
  }

  test("writer dead between claim and fill: repair drops the empty head commit") {
    val path = build()
    val rows = ConsolidatedStore.read(spark, path).count()
    val v = StoreLog.currentVersion(spark, path)
    // the footprint of tryCommit's create succeeding and the writer dying
    // before its one content write: an empty commit file at the head —
    // backdated past the min claim age (repair must not mistake a live
    // writer's in-flight fill for a crash, so it requires the claim to
    // be OLD as well as unreadable)
    val claim = Paths.get(
      s"$path/${StoreLog.dirName}/${"v%09d".format(v + 1)}.json")
    Files.write(claim, Array.emptyByteArray)
    Files.setLastModifiedTime(claim,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis - 60000L))
    val stats = StoreRepair.repair(spark, path)
    assert(stats.clean, "claim drop is metadata-only")
    assert(StoreLog.currentVersion(spark, path) == v,
      "prior version restored as current")
    // the log surface is un-bricked: reads work and a new append can
    // claim the version the dead writer held
    assert(StoreLog.readCommits(spark, path).last.version == v)
    ConsolidatedStore.append(spark, path,
      bh.filter(col("database_name") === "db1")
        .withColumn("physical_device_name",
          concat(col("physical_device_name"), lit(".reclaim"))))
    assert(StoreLog.currentVersion(spark, path) == v + 1)
    assert(ConsolidatedStore.read(spark, path).count() > rows)
  }

  test("serialized commit refuses to claim past an unreadable head claim") {
    val path = build()
    val v = StoreLog.currentVersion(spark, path)
    // a dead writer's empty head claim: committing PAST it would turn it
    // into a non-head unreadable commit that no repair can safely drop
    // and that bricks every readCommits caller permanently
    val claim = Paths.get(
      s"$path/${StoreLog.dirName}/${"v%09d".format(v + 1)}.json")
    Files.write(claim, Array.emptyByteArray)
    val ex = intercept[IllegalStateException] {
      ConsolidatedStore.append(spark, path,
        bh.filter(col("database_name") === "db0")
          .withColumn("physical_device_name",
            concat(col("physical_device_name"), lit(".past-claim"))))
    }
    assert(ex.getMessage.contains("StoreRepair"),
      s"must point the operator at crash recovery: ${ex.getMessage}")
    // explicit crash recovery (claim backdated past the min age) unbricks;
    // the thrown append's already-written data files drop as orphans
    Files.setLastModifiedTime(claim,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis - 60000L))
    StoreRepair.repair(spark, path)
    assert(StoreLog.currentVersion(spark, path) == v, "claim dropped")
    ConsolidatedStore.append(spark, path,
      bh.filter(col("database_name") === "db0")
        .withColumn("physical_device_name",
          concat(col("physical_device_name"), lit(".past-claim"))))
    assert(StoreLog.currentVersion(spark, path) == v + 1)
  }

  test("archive parked at an overtaken version: crash recovery restores it") {
    val path = build()
    val rows = ConsolidatedStore.read(spark, path).count()
    val v0 = StoreLog.currentVersion(spark, path)
    // a replacer archived the victim at v0+1, lost that version race to a
    // PURE APPEND, and died before re-homing; more appends then advanced
    // the current version past the parked dir — the log lists the victim
    // live, but it sits in _graft_history where no read finds it
    val victim = parquets(path).head
    StoreLog.archive(spark, path, v0 + 1,
      Seq((new org.apache.hadoop.fs.Path(s"$path/$victim"), victim)))
    // the racing appends' files never materialize (their writers' data
    // is irrelevant here); a live file listed in the log but absent on
    // disk is tolerated by repair — it cannot conjure bytes
    assert(StoreLog.tryCommit(spark, path, v0 + 1, "append",
      Seq(StoreTestKit.stub("racer-a.parquet")), Nil))
    assert(StoreLog.tryCommit(spark, path, v0 + 2, "append",
      Seq(StoreTestKit.stub("racer-b.parquet")), Nil))
    assert(ConsolidatedStore.read(spark, path).count() < rows,
      "fixture: the parked rows must be missing before repair")
    // the LIVE-path repair (a commitReplacing abort) must leave the
    // parked dir alone — it may belong to a rebase still in flight
    StoreRepair.repair(spark, path, dropStaleClaims = false)
    assert(Files.exists(Paths.get(
      s"$path/${StoreLog.historyDirName}/${"v%09d".format(v0 + 1)}/$victim")),
      "live-path repair must not touch a possibly-in-flight rebase archive")
    // explicit crash recovery restores the overtaken archive's files
    val stats = StoreRepair.repair(spark, path)
    assert(stats.restored >= 1L, stats.toString)
    assert(ConsolidatedStore.read(spark, path).count() == rows,
      "restored rows must be readable again")
    assert(StoreRepair.repair(spark, path).clean, "repair is idempotent")
  }

  test("compaction crash after log carry, before history carry: archives survive") {
    val path = build()
    // give the store real history: a merge archives its touched file
    val upd = bh.filter(col("database_name") === "db1")
      .withColumn("CompressedSizeMB", col("CompressedSizeMB") + 9)
    StoreMerge.merge(spark, path, upd)
    val vMax = StoreLog.currentVersion(spark, path)
    val expected = ConsolidatedStore.read(spark, path)
      .orderBy("LogID").collect().toSeq
    val snapshotsBefore =
      (1 to vMax).map(v => StoreLog.snapshot(spark, path, v).count())

    // crash state between rewriteBySwap's two carry renames: root holds
    // the rewritten data files + the carried log; the backup still holds
    // the old data files AND the not-yet-carried _graft_history
    val rewrite = tmp()
    spark.read.parquet(path).write.parquet(rewrite)
    Files.move(Paths.get(path), Paths.get(path + "__precompact"))
    Files.move(Paths.get(rewrite), Paths.get(path))
    Files.move(Paths.get(s"${path}__precompact/${StoreLog.dirName}"),
      Paths.get(s"$path/${StoreLog.dirName}"))
    assert(Files.exists(
      Paths.get(s"${path}__precompact/${StoreLog.historyDirName}")),
      "fixture: history must be sitting un-carried in the backup")

    val stats = StoreRepair.repair(spark, path)
    assert(stats.restored > 0L, stats.toString)
    // the un-carried history came home: EVERY archived snapshot version
    // is still reconstructible, and the table equals its last commit
    (1 to vMax).foreach { v =>
      assert(StoreLog.snapshot(spark, path, v).count() == snapshotsBefore(v - 1),
        s"snapshot v$v lost its archive")
    }
    assert(ConsolidatedStore.read(spark, path)
      .orderBy("LogID").collect().toSeq == expected)
    assert(!Files.exists(Paths.get(path + "__precompact")))
  }

  test("compaction crash before backup delete on a logless store: stale backup dropped") {
    val path = tmp()
    bh.write.parquet(path) // no commit log: plain parquet dir
    val rows = spark.read.parquet(path).count()
    // rewrite completed and swapped in; only the backup delete was missed
    val bak = Paths.get(path + "__precompact")
    Files.createDirectories(bak)
    Files.copy(Paths.get(path).resolve(parquets(path).head),
      bak.resolve(parquets(path).head))
    val stats = StoreRepair.repair(spark, path)
    assert(stats.clean, s"roll-forward must not count as a repair: $stats")
    assert(!Files.exists(bak), "stale backup must be gone")
    assert(spark.read.parquet(path).count() == rows)
  }
}
