package graft

import java.nio.file.Files

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.store.{ConsolidatedStore, StoreDelete, StoreLog, StoreMerge,
  StoreMeta, StoreRepair}

/** Multi-writer commit protocol: the atomic create-no-overwrite version
  * claim arbitrates, commutative appends rebase-and-redo, overlapping
  * file rewrites roll back and abort. Deterministic tests drive each
  * branch through the `beforeCommit` seam / hand-planted racing commits;
  * one thread-based test shakes real interleavings.
  */
class StoreConcurrencySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tmp(): String =
    Files.createTempDirectory("graft-conc").toString + "/t"

  private def bh = graft.etl.BackupHistoryDerivation
    .canonicalFrame(spark, TestSpark.sf).drop("LogID")

  test("tryCommit: exactly one writer claims a version") {
    val path = tmp()
    ConsolidatedStore.append(spark, path, bh.limit(50))
    val v = StoreLog.currentVersion(spark, path) + 1
    assert(StoreLog.tryCommit(spark, path, v, "append",
      Seq(StoreTestKit.stub("x.parquet")), Nil))
    assert(!StoreLog.tryCommit(spark, path, v, "append",
      Seq(StoreTestKit.stub("y.parquet")), Nil),
      "second claim of the same version must lose")
    val c = StoreLog.readCommits(spark, path).last
    assert(c.version == v && c.adds == Seq("x.parquet"),
      "the loser must not clobber the winner's commit")
  }

  test("appendConcurrent: lost claim redoes the dedup and rebases LogIDs") {
    val path = tmp()
    val h = bh.cache()
    val total = h.count()
    // committed base: first 100 keys (deterministic order)
    val base = h.orderBy("backup_finish_date", "database_name", "last_lsn",
      "physical_device_name").limit(100)
    ConsolidatedStore.append(spark, path, base)

    // writer A appends everything; on its FIRST attempt a racer commits
    // an overlapping batch (the same base plus 50 more) in A's
    // publish→claim window, so A must lose v2, drop its files, re-dedup
    // against the racer's state, and land at v3
    var injected = false
    val n = ConsolidatedStore.appendConcurrentHooked(
      spark, path, h, Seq("database_name", "last_lsn"), 8) { (attempt, _) =>
      if (attempt == 1 && !injected) {
        injected = true
        val racer = h.orderBy("backup_finish_date", "database_name",
          "last_lsn", "physical_device_name").limit(150)
        assert(ConsolidatedStore.appendConcurrent(spark, path, racer) == 50,
          "racer adds the 50 keys past the base")
      }
    }
    assert(injected, "the race must actually have been injected")
    assert(n == total - 150,
      s"loser must re-dedup against the racer's 150 committed keys, got $n")
    val stored = spark.read.parquet(path)
    assert(stored.count() == total, "no lost rows, no duplicates")
    assert(stored.select("LogID").distinct().count() == total, "LogIDs unique")
    assert(stored.agg(max("LogID")).head().getLong(0) == total, "ids contiguous")
    assert(StoreRepair.repair(spark, path).clean,
      "no orphans after a resolved race")
    // the log's stats describe exactly the directory
    assert(StoreTestKit.statsDrift(spark, path).isEmpty,
      "logged stats exact after concurrent appends")
    h.unpersist()
  }

  test("two threaded appenders interleave without losing rows or ids") {
    val h = bh.cache()
    val total = h.count()
    // overlapping halves: [0, 60%) and [40%, 100%) of the finish order
    val ordered = h.orderBy("backup_finish_date", "database_name",
      "last_lsn", "physical_device_name")
    val a = ordered.limit((total * 6 / 10).toInt)
    val bCut = (total * 4 / 10).toInt
    val b = ordered.limit(total.toInt).except(ordered.limit(bCut))
    // both entries share one claim loop: two plain appends land exactly
    // like two concurrent ones
    val writers = Seq[(String, (String, DataFrame) => Long)](
      "appendConcurrent" -> ((p, df) => ConsolidatedStore.appendConcurrent(spark, p, df)),
      "append" -> ((p, df) => ConsolidatedStore.append(spark, p, df)))
    writers.foreach { case (name, write) =>
      val path = tmp()
      ConsolidatedStore.append(spark, path, h.limit(1)) // logged baseline
      val fa = Future(write(path, a))
      val fb = Future(write(path, b))
      Await.result(fa, 5.minutes); Await.result(fb, 5.minutes)
      val stored = spark.read.parquet(path)
      assert(stored.count() == total,
        s"$name: union of overlapping halves = all rows")
      assert(stored.select("LogID").distinct().count() == total,
        s"$name: LogIDs unique")
      assert(StoreRepair.repair(spark, path).clean, name)
      assert(StoreTestKit.statsDrift(spark, path).isEmpty, name)
    }
    h.unpersist()
  }

  test("appendConcurrent refuses a foreign layout instead of skipping dedup") {
    val path = tmp()
    // a non-hive subdirectory makes the layout foreign: no zone maps, no
    // commit log — nothing for the optimistic protocol to dedup against
    // or arbitrate with
    bh.limit(20).write.parquet(s"$path/legacy")
    val ex = intercept[IllegalArgumentException] {
      ConsolidatedStore.appendConcurrent(spark, path, bh.limit(40))
    }
    assert(ex.getMessage.contains("foreign"), ex.getMessage)
    assert(!StoreLog.exists(spark, path), "nothing may be committed")
    assert(!new java.io.File(path).list().exists(_.endsWith(".parquet")),
      "nothing may be written")
  }

  test("commitReplacing: disjoint racer rebases the archive to the next version") {
    val path = tmp()
    ConsolidatedStore.append(spark, path, bh.filter(col("database_name") < "db2"))
    ConsolidatedStore.append(spark, path, bh.filter(col("database_name") >= "db2"))
    val preRows = spark.read.parquet(path).count()
    val v0 = StoreLog.currentVersion(spark, path)
    // a merge archived its touched file at v0+1...
    val victim = StoreTestKit.liveStats(spark, path).head.file
    StoreLog.archive(spark, path, v0 + 1,
      Seq((new org.apache.hadoop.fs.Path(s"$path/$victim"), victim)))
    // ...then a DISJOINT append claims v0+1 first
    assert(StoreLog.tryCommit(spark, path, v0 + 1, "append",
      Seq(StoreTestKit.stub("unrelated.parquet")), Nil))
    val v = StoreLog.commitReplacing(spark, path, "merge",
      adds = Seq(StoreTestKit.stub("rewrite.parquet")), removes = Seq(victim),
      archivedAt = v0 + 1)
    assert(v == v0 + 2, s"rebase must land on the next version, got $v")
    // the archive moved with it: the pre-merge snapshot at v0 still reads
    assert(StoreLog.snapshot(spark, path, v0).count() == preRows)
    val hist = new java.io.File(
      s"$path/${StoreLog.historyDirName}/${"v%09d".format(v0 + 2)}")
    assert(hist.exists, "archive dir re-homed under the committed version")
  }

  test("commitReplacing: overlapping racer rolls back and aborts") {
    val path = tmp()
    ConsolidatedStore.append(spark, path, bh.filter(col("database_name") < "db2"))
    ConsolidatedStore.append(spark, path, bh.filter(col("database_name") >= "db2"))
    val preRows = spark.read.parquet(path).count()
    val preFiles = StoreTestKit.liveStats(spark, path).map(_.file).toSet
    val v0 = StoreLog.currentVersion(spark, path)
    val victim = preFiles.head
    // our delete archived the victim, wrote a survivor rewrite...
    StoreLog.archive(spark, path, v0 + 1,
      Seq((new org.apache.hadoop.fs.Path(s"$path/$victim"), victim)))
    val orphan = "part-99999-loser.c000.snappy.parquet"
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$path/$orphan"),
      Array.emptyByteArray)
    // ...but a racer committed a rewrite REMOVING the same victim first.
    // Its rewrite file must physically exist (repair heals live files by
    // scanning them): stand in a byte-copy of the archived victim.
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(
        s"$path/${StoreLog.historyDirName}/${"v%09d".format(v0 + 1)}/$victim"),
      java.nio.file.Paths.get(s"$path/their-rewrite.parquet"))
    assert(StoreLog.tryCommit(spark, path, v0 + 1, "merge",
      StoreMeta.scanStats(spark, path, Seq("their-rewrite.parquet")),
      Seq(victim)))
    val ex = intercept[StoreLog.ConcurrentCommitException] {
      StoreLog.commitReplacing(spark, path, "delete",
        adds = Seq(StoreTestKit.stub(orphan)), removes = Seq(victim),
        archivedAt = v0 + 1)
    }
    assert(ex.getMessage.contains("conflicts"))
    // rollback converges the DIRECTORY to the racer's committed state:
    // our uncommitted rewrite is dropped, no "delete" commit was
    // appended, and the racer's commit (which removed the victim) is the
    // log head — the loser's work leaves no trace
    val after = StoreMeta.listDataFiles(spark, path).get.toSet
    assert(!after.contains(orphan), "loser's rewrite dropped on abort")
    assert(!after.contains(victim),
      "the racer's commit removed the victim; rollback honors the log")
    val head = StoreLog.readCommits(spark, path).last
    assert(head.version == v0 + 1 && head.removes == Seq(victim),
      "racer's commit stays the log head; loser appended nothing")
    assert(StoreRepair.repair(spark, path).clean, "rollback is idempotent")
    assert(preRows > 0L) // fixture sanity
  }

  test("threaded appender racing zorderCompact: both land, snapshots exact") {
    import graft.maintenance.Compaction
    val path = tmp()
    val h = bh.cache()
    val total = h.count()
    val ordered = h.orderBy("backup_finish_date", "database_name", "last_lsn",
      "physical_device_name")
    // several committed appends give the compactor files to fold
    val baseN = (total / 2).toInt
    ConsolidatedStore.append(spark, path, ordered.limit(baseN / 2))
    ConsolidatedStore.append(spark, path,
      ordered.limit(baseN).except(ordered.limit(baseN / 2)))
    val rest = ordered.limit(total.toInt).except(ordered.limit(baseN))
    val restN = rest.count()

    val fa = Future(ConsolidatedStore.appendConcurrent(spark, path, rest))
    val fc = Future(Compaction.zorderCompact(spark, path, 1000000L))
    val appended = Await.result(fa, 5.minutes)
    Await.result(fc, 5.minutes)

    // the compaction must have LANDED (rebased past the append, not
    // starved), and the append must not have lost rows to it
    val ops = StoreLog.readCommits(spark, path).map(_.op)
    assert(ops.contains("compact"), s"compaction starved: $ops")
    assert(appended == restN, s"appended $appended of $restN")
    val stored = spark.read.parquet(path)
    assert(stored.count() == total, "no lost rows, no duplicates")
    assert(stored.select("LogID").distinct().count() == total, "LogIDs unique")
    // every committed version snapshot-readable (archives re-homed with
    // any rebase), and the final snapshot equals the directory
    val vMax = StoreLog.currentVersion(spark, path)
    (1 to vMax).foreach { v =>
      assert(StoreLog.snapshot(spark, path, v).count() > 0, s"snapshot v$v")
    }
    assert(StoreLog.snapshot(spark, path, vMax).count() == total)
    assert(StoreRepair.repair(spark, path).clean, "no orphans after the race")
    // whichever writer committed last, the log's stats describe exactly
    // the directory
    assert(StoreTestKit.statsDrift(spark, path).isEmpty)
    h.unpersist()
  }

  test("overlap abort is writer-scoped: appender's published files and old snapshots survive") {
    val path = tmp()
    val h = bh.cache()
    ConsolidatedStore.append(spark, path, h.filter(col("database_name") < "db2"))
    ConsolidatedStore.append(spark, path, h.filter(col("database_name") >= "db2"))
    val v0 = StoreLog.currentVersion(spark, path)
    val preRows = spark.read.parquet(path).count()
    val snapRows = StoreLog.snapshot(spark, path, v0).count()
    val victim = StoreTestKit.liveStats(spark, path).head.file
    // a concurrent APPENDER X sits in its publish→claim window: batch
    // files in the root, uncommitted — the state the old global-repair
    // rollback would have swept away as orphans
    val probe = h.limit(40).dropDuplicates(ConsolidatedStore.dedupKey)
      .withColumn("physical_device_name",
        concat(col("physical_device_name"), lit(".x")))
    val xFiles = graft.store.Staging.publish(spark, path,
      ConsolidatedStore.withLogIdsFrom(900000L, probe, 40L))
    // loser replacer: archives the victim, then a racer's commit REMOVES
    // the same victim first → overlap → writer-scoped rollback + abort
    StoreLog.archive(spark, path, v0 + 1,
      Seq((new org.apache.hadoop.fs.Path(s"$path/$victim"), victim)))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(
        s"$path/${StoreLog.historyDirName}/${"v%09d".format(v0 + 1)}/$victim"),
      java.nio.file.Paths.get(s"$path/their-rewrite.parquet"))
    assert(StoreLog.tryCommit(spark, path, v0 + 1, "merge",
      StoreMeta.scanStats(spark, path, Seq("their-rewrite.parquet")),
      Seq(victim)))
    val loserAdd = "part-55555-loser.c000.snappy.parquet"
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$path/$loserAdd"), Array.emptyByteArray)
    intercept[StoreLog.ConcurrentCommitException] {
      StoreLog.commitReplacing(spark, path, "delete",
        adds = Seq(StoreTestKit.stub(loserAdd)), removes = Seq(victim),
        archivedAt = v0 + 1)
    }
    val after = StoreMeta.listDataFiles(spark, path).get.toSet
    // the appender's in-flight files were NOT touched by the rollback...
    assert(xFiles.forall(after), "rollback must not sweep a peer's files")
    assert(!after.contains(loserAdd), "loser's own adds dropped")
    // ...so X's commit still lands on real files
    assert(StoreLog.tryCommit(spark, path,
      StoreLog.currentVersion(spark, path) + 1, "append",
      StoreMeta.scanStats(spark, path, xFiles), Nil))
    assert(spark.read.parquet(path).count() == preRows + 40)
    // the victim's archived copy moved to the WINNER's history home:
    // the pre-abort snapshot is still fully readable
    assert(StoreLog.snapshot(spark, path, v0).count() == snapRows,
      "overlap rollback must preserve pre-abort snapshots")
    h.unpersist()
  }

  test("second replacer archiving at the same version aborts before moving a file") {
    val path = tmp()
    ConsolidatedStore.append(spark, path, bh.filter(col("database_name") < "db2"))
    ConsolidatedStore.append(spark, path, bh.filter(col("database_name") >= "db2"))
    val v0 = StoreLog.currentVersion(spark, path)
    val files = StoreTestKit.liveStats(spark, path).map(_.file).sorted
    assert(files.size >= 2)
    StoreLog.archive(spark, path, v0 + 1,
      Seq((new org.apache.hadoop.fs.Path(s"$path/${files(0)}"), files(0))))
    // a second replacer that computed the same target version must not
    // interleave its originals into the first one's archive home
    val ex = intercept[StoreLog.ConcurrentCommitException] {
      StoreLog.archive(spark, path, v0 + 1,
        Seq((new org.apache.hadoop.fs.Path(s"$path/${files(1)}"), files(1))))
    }
    assert(ex.getMessage.contains("claimed"))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$path/${files(1)}")),
      "loser must abort BEFORE moving any file")
  }

  test("concurrent bootstrap: claim-window files are waited out, not aborted") {
    val path = tmp()
    val h = bh.cache()
    // writer A's state mid-bootstrap: data file published to the root,
    // version 1 not yet claimed
    val probe = h.limit(60).dropDuplicates(ConsolidatedStore.dedupKey).cache()
    val nProbe = probe.count()
    val aFiles = graft.store.Staging.publish(spark, path,
      ConsolidatedStore.withLogIdsFrom(0L, probe, nProbe))
    // A's claim (carrying its files' stats) lands 300 ms later, from
    // another thread
    val aStats = StoreMeta.scanStats(spark, path, aFiles)
    val claimer = Future {
      Thread.sleep(300L)
      assert(StoreLog.tryCommit(spark, path, 1, "append", aStats, Nil))
    }
    // writer B sees files at v0 == 0 — it must WAIT for the claim and
    // then dedup against A's commit, not spuriously abort
    val b = h.orderBy("backup_finish_date", "database_name", "last_lsn",
      "physical_device_name")
    val n = ConsolidatedStore.appendConcurrent(spark, path, b)
    Await.result(claimer, 1.minute)
    val total = h.dropDuplicates(ConsolidatedStore.dedupKey).count()
    val stored = spark.read.parquet(path)
    assert(stored.count() == total, "B deduped against A's bootstrap commit")
    assert(n == total - nProbe)
    assert(stored.select("LogID").distinct().count() == total)
    probe.unpersist(); h.unpersist()
  }

  test("truly unlogged non-empty store still refuses concurrent bootstrap") {
    val path = tmp()
    // unlogged data: written directly, no commit ever arrives
    bh.limit(20).write.parquet(path)
    val ex = intercept[IllegalArgumentException] {
      ConsolidatedStore.appendConcurrent(spark, path, bh.limit(40))
    }
    assert(ex.getMessage.contains("unlogged"))
  }

  test("vacuum never deletes an archive dir a rebase has in flight") {
    val path = tmp()
    ConsolidatedStore.append(spark, path, bh.filter(col("database_name") < "db2"))
    ConsolidatedStore.append(spark, path, bh.filter(col("database_name") >= "db2"))
    // a committed CoW delete → an OWNED history dir (commit has removes)
    StoreDelete.delete(spark, path, col("database_name") === "db0")
    val owned = StoreLog.readCommits(spark, path)
      .filter(_.removes.nonEmpty).map(_.version)
    assert(owned.nonEmpty)
    // a racing replacer parked its archive at a version a PURE APPEND
    // claimed (the rebase-in-flight footprint): commit v has no removes
    val appendV = StoreLog.readCommits(spark, path)
      .filter(c => c.removes.isEmpty && c.adds.nonEmpty).head.version
    val parked = new java.io.File(
      s"$path/${StoreLog.historyDirName}/${"v%09d".format(appendV)}")
    parked.mkdirs()
    java.nio.file.Files.write(
      parked.toPath.resolve("in-flight.parquet"), Array[Byte](1, 2, 3))
    val dropped = StoreLog.vacuum(spark, path,
      beforeVersion = StoreLog.currentVersion(spark, path))
    assert(dropped == owned.size,
      s"vacuum must drop exactly the $owned-owned dirs, got $dropped")
    assert(parked.exists, "in-flight archive dir must survive vacuum")
  }

  test("merge aborted by an overlapping concurrent rewrite rolls back, then reruns cleanly") {
    val path = tmp()
    val h = bh.cache()
    // db-split layout: db0/db1 in file 1, db2+ in file 2
    ConsolidatedStore.append(spark, path, h.filter(col("database_name") < "db2"))
    ConsolidatedStore.append(spark, path, h.filter(col("database_name") >= "db2"))
    val v0 = StoreLog.currentVersion(spark, path)
    // the file the merge will rewrite (holds db1's keys)
    val touched = StoreTestKit.liveStats(spark, path)
      .filter(f => StoreMeta.overlaps(f, ConsolidatedStore.batchEnvelopes(
        h.filter(col("database_name") === "db1")
          .dropDuplicates(ConsolidatedStore.dedupKey)).head)).map(_.file)
    assert(touched.nonEmpty)
    // a racer claims the next version REMOVING that same file inside the
    // merge's publish→claim window → the merge must abort and roll back
    // to the racer's committed state
    val upd = h.filter(col("database_name") === "db1")
      .withColumn("CompressedSizeMB", col("CompressedSizeMB") + 7)
    intercept[StoreLog.ConcurrentCommitException] {
      StoreMerge.mergeHooked(spark, path, upd, Nil,
        Seq("database_name", "last_lsn"), None) { () =>
        // the racer's rewrite must physically exist (repair heals live
        // files by scanning them): stand in a byte-copy of the victim,
        // which the merge just archived under v0+1's history dir
        java.nio.file.Files.copy(
          java.nio.file.Paths.get(s"$path/${StoreLog.historyDirName}/" +
            s"${"v%09d".format(v0 + 1)}/${touched.head}"),
          java.nio.file.Paths.get(s"$path/racer.parquet"))
        assert(StoreLog.tryCommit(spark, path, v0 + 1, "merge",
          StoreMeta.scanStats(spark, path, Seq("racer.parquet")), touched))
      }
    }
    // converged on the racer's state: touched file gone, merge appended
    // no commit, loser's rewrite files dropped
    val files = StoreMeta.listDataFiles(spark, path).get.toSet
    assert(touched.forall(f => !files.contains(f)))
    assert(files.contains("racer.parquet"))
    assert(StoreLog.readCommits(spark, path).last.version == v0 + 1)
    // the caller's contract after an abort: re-run against the new state
    // (the racer's stand-in rewrite still holds db1's keys → updates)
    val m = StoreMerge.merge(spark, path, upd)
    val nUpd = upd.dropDuplicates(ConsolidatedStore.dedupKey).count()
    assert(m.updated == nUpd && m.inserted == 0L, m.toString)
    val stored = spark.read.parquet(path)
    assert(stored.count() == h.count(), "no rows lost across abort + rerun")
    assert(stored.select("LogID").distinct().count() == stored.count())
    h.unpersist()
  }

  test("insert-bearing merge racing a disjoint-key append recomputes and lands") {
    val path = tmp()
    val h = bh.cache()
    ConsolidatedStore.append(spark, path, h.filter(col("database_name") < "db2"))
    ConsolidatedStore.append(spark, path, h.filter(col("database_name") >= "db2"))
    val v0 = StoreLog.currentVersion(spark, path)
    val maxId = StoreLog.headState(spark, path).maxLogId

    // the racer: a realistic disjoint-key append — fresh keys (db3's
    // rows shifted into an unoccupied LSN universe), fresh LogIDs past
    // the committed max, landed as its own file + commit inside the
    // merge's publish→claim window (exactly what a fleet appender's
    // winning claim looks like to the merge)
    val racerRows = ConsolidatedStore.withLogIdsFrom(maxId,
      h.filter(col("database_name") === "db3")
        .withColumn("last_lsn",
          (col("last_lsn") + lit(5000000000L)).cast("decimal(25,0)"))
        .dropDuplicates(ConsolidatedStore.dedupKey))
    val nRacer = racerRows.count()

    // the merge: db1 corrections PLUS brand-new keys (nIns > 0) — the
    // CDC shape whose insert dedup and LogID base depend on global state
    val upd = h.filter(col("database_name") === "db1")
      .withColumn("CompressedSizeMB", col("CompressedSizeMB") + 7)
    val ins = upd.withColumn("last_lsn",
      (col("last_lsn") + lit(9000000000L)).cast("decimal(25,0)"))
    val batch = upd.unionByName(ins)
    val nUpd = upd.dropDuplicates(ConsolidatedStore.dedupKey).count()
    val nIns = ins.dropDuplicates(ConsolidatedStore.dedupKey).count()

    var injected = false
    val m = StoreMerge.mergeHooked(spark, path, batch, Nil,
      Seq("database_name", "last_lsn"), None) { () =>
      if (!injected) {
        injected = true
        val stage = java.nio.file.Files.createTempDirectory("racer").toString
        racerRows.coalesce(1).write.mode("overwrite").parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.move(part.toPath,
          java.nio.file.Paths.get(s"$path/racer.parquet"))
        assert(StoreLog.tryCommit(spark, path, v0 + 1, "append",
          StoreMeta.scanStats(spark, path, Seq("racer.parquet")), Nil))
      }
    }
    // the merge RECOMPUTED against the racer's state and landed — no
    // ConcurrentCommitException, no manual rerun. The racer landed
    // INSIDE the publish→claim window (after the pre-stage probe), so
    // this is the commit-time gate doing the rollback.
    assert(m.updated == nUpd && m.inserted == nIns, m.toString)
    assert(m.attempts == 2 && m.staleRecomputes == 1,
      s"MergeStats must surface the commit-time recompute: $m")
    val commits = StoreLog.readCommits(spark, path)
    assert(commits.last.op == "merge" && commits.last.version == v0 + 2,
      s"merge must land one version past the racer, got ${commits.last}")
    val stored = spark.read.parquet(path)
    assert(stored.count() == h.count() + nRacer + nIns,
      "all original + racer + inserted rows present")
    assert(stored.select("LogID").distinct().count() == stored.count(),
      "recomputed insert LogIDs must not collide with the racer's")
    assert(stored.dropDuplicates(ConsolidatedStore.dedupKey).count()
      == stored.count(), "no duplicate keys across merge + racer")
    h.unpersist()
  }

  test("insert-bearing merge races an append landing MID-COMPUTE " +
      "(before the version capture): staleness gate recomputes, no id collision") {
    val path = tmp()
    val h = bh.cache()
    ConsolidatedStore.append(spark, path, h.filter(col("database_name") < "db2"))
    ConsolidatedStore.append(spark, path, h.filter(col("database_name") >= "db2"))
    val v0 = StoreLog.currentVersion(spark, path)
    val maxId = StoreLog.headState(spark, path).maxLogId

    // the racer: a committed disjoint-key append that lands DURING the
    // merge's compute — i.e. BEFORE the merge captures its claim
    // version, so the claim itself succeeds first try and only the
    // stateReadAt staleness gate can see the racer. Its LogIDs start
    // from the committed max — exactly what the merge's stale insert
    // base would collide with.
    val racerRows = ConsolidatedStore.withLogIdsFrom(maxId,
      h.filter(col("database_name") === "db3")
        .withColumn("last_lsn",
          (col("last_lsn") + lit(6000000000L)).cast("decimal(25,0)"))
        .dropDuplicates(ConsolidatedStore.dedupKey))
    val nRacer = racerRows.count()

    val upd = h.filter(col("database_name") === "db1")
      .withColumn("CompressedSizeMB", col("CompressedSizeMB") + 11)
    val ins = upd.withColumn("last_lsn",
      (col("last_lsn") + lit(8000000000L)).cast("decimal(25,0)"))
    val batch = upd.unionByName(ins)
    val nUpd = upd.dropDuplicates(ConsolidatedStore.dedupKey).count()
    val nIns = ins.dropDuplicates(ConsolidatedStore.dedupKey).count()

    var injected = false
    var attempts = 0
    val m = StoreMerge.mergeHooked(spark, path, batch, Nil,
      Seq("database_name", "last_lsn"), None,
      afterStateRead = () => {
        if (!injected) {
          injected = true
          val stage = java.nio.file.Files.createTempDirectory("racer").toString
          racerRows.coalesce(1).write.mode("overwrite").parquet(stage)
          val part = new java.io.File(stage).listFiles()
            .find(_.getName.endsWith(".parquet")).get
          java.nio.file.Files.move(part.toPath,
            java.nio.file.Paths.get(s"$path/racer_mid.parquet"))
          assert(StoreLog.tryCommit(spark, path, v0 + 1, "append",
            StoreMeta.scanStats(spark, path, Seq("racer_mid.parquet")), Nil))
        }
      }) { () => attempts += 1 }
    assert(m.updated == nUpd && m.inserted == nIns, m.toString)
    // the racer is visible in the log BEFORE the first attempt stages,
    // so the pre-stage staleness probe aborts it cheaply — beforeCommit
    // (post-publish) fires only for the successful recompute. The
    // publish→claim race test above still drives the commit-time gate.
    assert(attempts == 1,
      s"the stale first attempt must abort BEFORE publishing (pre-stage " +
        s"probe), so only the recompute reaches beforeCommit; saw $attempts")
    assert(m.attempts == 2 && m.staleRecomputes == 1,
      s"MergeStats must surface the recompute: $m")
    val commits = StoreLog.readCommits(spark, path)
    assert(commits.last.op == "merge" && commits.last.version == v0 + 2,
      s"merge must land one version past the mid-compute racer, " +
        s"got ${commits.last}")
    val stored = spark.read.parquet(path)
    assert(stored.count() == h.count() + nRacer + nIns,
      "all original + racer + inserted rows present exactly once")
    assert(stored.select("LogID").distinct().count() == stored.count(),
      "recomputed insert LogIDs must not collide with the mid-compute " +
        "racer's (the silent-corruption case the staleness gate closes)")
    assert(stored.dropDuplicates(ConsolidatedStore.dedupKey).count()
      == stored.count(), "no duplicate keys across merge + racer")
    // the rolled-back first attempt left no durable damage
    assert(StoreRepair.repair(spark, path).clean)
    h.unpersist()
  }

  test("delete inside an appender's publish→claim window touches only " +
      "the committed live set") {
    val path = tmp()
    val h = bh.cache()
    val ordered = h.orderBy("backup_finish_date", "database_name",
      "last_lsn", "physical_device_name")
    val base = ordered.limit(60)
    ConsolidatedStore.append(spark, path, base)
    val batch = ordered.limit(100).except(ordered.limit(60)).cache()
    val nBatch = batch.count()
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())

    // a retention purge of EVERYTHING fires in the appender's
    // publish→claim window — the directory lists the appender's
    // published files, but its delete set must stay the COMMITTED
    // live set: absorbing an unclaimed batch would archive rows whose
    // commit is about to land
    var sawWindow = false
    val n = ConsolidatedStore.appendConcurrentHooked(
      spark, path, batch, Seq("database_name", "last_lsn"), 8) {
      (attempt, _) =>
      if (attempt == 1) {
        sawWindow = true
        val live = StoreTestKit.liveStats(spark, path).map(_.file).toSet
        val published = StoreMeta.listDataFiles(spark, path)
          .getOrElse(Nil).toSet -- live
        assert(published.nonEmpty, "seam must be inside the window")
        StoreDelete.delete(spark, path, lit(true))
        val del = StoreLog.readCommits(spark, path).last
        assert(del.op == "delete" &&
          del.removes.toSet == live && del.adds.isEmpty,
          s"delete must remove exactly the committed set: $del")
        published.foreach { f =>
          assert(fs.exists(new org.apache.hadoop.fs.Path(s"$path/$f")),
            s"published-but-unclaimed $f was absorbed by the delete")
        }
      }
    }
    assert(sawWindow)
    // the appender lost its claim to the delete, redid, and landed whole
    assert(n == nBatch, s"appended $n of $nBatch")
    val stored = ConsolidatedStore.read(spark, path)
      .select(batch.columns.map(col): _*)
    assert(stored.count() == nBatch, "base purged, batch intact")
    assert(stored.except(batch).isEmpty && batch.except(stored).isEmpty)
    batch.unpersist(); h.unpersist()
  }

  test("speculative/retried task inside ONE append attempt cannot " +
      "double-count attempts or rows") {
    // the sessionize census pin (StreamingSpec), extended to the store's
    // attempt accounting: a task-level retry INSIDE an attempt's batch
    // evaluation (local[4,2] grants one retry) is not a protocol attempt
    // — onAttempt values, appended counts, and stored rows must all come
    // out exact, never delta-inflated by the replayed task
    val path = tmp()
    val h = bh.cache(); h.count()
    val poison = udf { (_: String) =>
      if (StoreConcurrencySpec.failOnce.get &&
          org.apache.spark.TaskContext.get.attemptNumber() == 0 &&
          StoreConcurrencySpec.failOnce.compareAndSet(true, false))
        throw new RuntimeException(
          "forced task failure (attempt-census retry-semantics test)")
      true
    }
    val poisoned = h.filter(poison(col("database_name")))
    val attempts = scala.collection.mutable.ArrayBuffer.empty[Int]
    StoreConcurrencySpec.failOnce.set(true)
    val n = ConsolidatedStore.appendConcurrentHooked(
      spark, path, poisoned, Seq("database_name", "last_lsn"),
      8, Nil, onAttempt = attempts += _)((_, _) => ())
    assert(!StoreConcurrencySpec.failOnce.get,
      "the forced failure must have fired")
    val k = h.dropDuplicates(ConsolidatedStore.dedupKey).count()
    assert(n == k, s"appended $n, expected $k distinct keys")
    assert(attempts.toSeq == Seq(1),
      s"a task retry is not a protocol attempt; onAttempt saw $attempts")
    val stored = spark.read.parquet(path)
    assert(stored.count() == k,
      "the failed task attempt must not leave rows behind")
    assert(stored.select("LogID").distinct().count() == k,
      "LogIDs must stay dense/unique under the retried task")
    h.unpersist()
  }

  test("speculative/retried task inside ONE merge compute reports " +
      "attempts=1 and lands exactly") {
    val path = tmp()
    val h = bh.cache()
    ConsolidatedStore.append(spark, path, h)
    val poison = udf { (_: String) =>
      if (StoreConcurrencySpec.failOnce.get &&
          org.apache.spark.TaskContext.get.attemptNumber() == 0 &&
          StoreConcurrencySpec.failOnce.compareAndSet(true, false))
        throw new RuntimeException(
          "forced task failure (merge attempt-census test)")
      true
    }
    val upd = h.filter(col("database_name") === "db1")
      .withColumn("CompressedSizeMB", col("CompressedSizeMB") + 7)
      .filter(poison(col("database_name")))
    StoreConcurrencySpec.failOnce.set(true)
    val m = StoreMerge.merge(spark, path, upd)
    assert(!StoreConcurrencySpec.failOnce.get,
      "the forced failure must have fired")
    // MergeStats derives attempts from the recompute loop counter, never
    // from per-task callbacks — the retried task must be invisible here
    assert(m.attempts == 1 && m.staleRecomputes == 0, m.toString)
    val nUpd = h.filter(col("database_name") === "db1")
      .dropDuplicates(ConsolidatedStore.dedupKey).count()
    assert(m.updated == nUpd && m.inserted == 0L, m.toString)
    val stored = spark.read.parquet(path)
    assert(stored.count() == h.count(), "no rows lost or duplicated")
    assert(stored.select("LogID").distinct().count() == stored.count())
    h.unpersist()
  }
}

object StoreConcurrencySpec {
  /** One-shot task-failure latch for the attempt-census tests (the
    * StreamingSpec.failOnce pattern: executor threads share this JVM).
    */
  val failOnce = new java.util.concurrent.atomic.AtomicBoolean(false)
}
