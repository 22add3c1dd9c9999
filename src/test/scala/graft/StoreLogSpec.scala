package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.maintenance.Compaction
import graft.store.{ConsolidatedStore, StoreLog}

/** Commit-log / time-travel contract: every append commits, compaction
  * archives what it replaces, snapshots reconstruct every version
  * exactly, vacuum trades old versions for storage, and hive-partitioned
  * layouts keep their partition column through the archive.
  */
class StoreLogSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString + "/store"

  private lazy val bh = graft.etl.BackupHistoryDerivation
    .canonicalFrame(spark, TestSpark.sf).drop("LogID")

  test("append/append/compact: three versions, all snapshots exact") {
    val dir = freshDir("graft-log")
    val a = bh.filter(col("database_name") < "db3")
    ConsolidatedStore.append(spark, dir, a)
    ConsolidatedStore.append(spark, dir, bh)
    Compaction.compact(spark, dir, maxRecordsPerFile = 1000000L)

    val commits = StoreLog.readCommits(spark, dir)
    assert(commits.map(_.version) === Seq(1, 2, 3))
    assert(commits.map(_.op) === Seq("append", "append", "compact"))
    assert(commits(2).removes.nonEmpty && commits(2).adds.nonEmpty)

    val nA = a.dropDuplicates(ConsolidatedStore.dedupKey).count()
    val nAll = bh.dropDuplicates(ConsolidatedStore.dedupKey).count()
    assert(StoreLog.snapshot(spark, dir, 1).count() === nA)
    assert(StoreLog.snapshot(spark, dir, 2).count() === nAll)
    // v3 must equal v2 row-for-row (compaction only moves bytes)
    val v2 = StoreLog.snapshot(spark, dir, 2)
    val v3 = StoreLog.snapshot(spark, dir, 3)
    assert(v3.exceptAll(v2).isEmpty && v2.exceptAll(v3).isEmpty)
    // ...and equal the current directory read (parquet file order may
    // differ from the snapshot's declared schema order; exceptAll is
    // positional, so align by name first)
    val cur = ConsolidatedStore.read(spark, dir)
      .select(v3.columns.map(col).toSeq: _*)
    assert(v3.exceptAll(cur).isEmpty && cur.exceptAll(v3).isEmpty)
  }

  test("vacuum drops old versions, keeps the log and the current table") {
    val dir = freshDir("graft-vacuum")
    ConsolidatedStore.append(spark, dir, bh.filter(col("database_name") < "db3"))
    ConsolidatedStore.append(spark, dir, bh)
    Compaction.compact(spark, dir, maxRecordsPerFile = 1000000L)
    val nAll = bh.dropDuplicates(ConsolidatedStore.dedupKey).count()

    assert(StoreLog.vacuum(spark, dir, beforeVersion = 3) === 1)
    // pre-compaction snapshots needed the archived files -> refused
    val e = intercept[IllegalArgumentException] {
      StoreLog.snapshot(spark, dir, 1).count()
    }
    assert(e.getMessage.contains("vacuumed"))
    // the latest version and the live read are untouched
    assert(StoreLog.snapshot(spark, dir, 3).count() === nAll)
    assert(ConsolidatedStore.read(spark, dir).count() === nAll)
    // log survives for audit
    assert(StoreLog.readCommits(spark, dir).size === 3)
  }

  test("hive-partitioned store: archived snapshots keep partition values") {
    val dir = freshDir("graft-log-hive")
    ConsolidatedStore.append(spark, dir,
      bh.filter(col("database_name") < "db3"),
      partitionBy = Seq("database_name"))
    ConsolidatedStore.append(spark, dir, bh,
      partitionBy = Seq("database_name"))
    // compaction rewrites a hive store flat; v1 must still resolve its
    // database_name from the archived hive paths' key=value segments
    Compaction.compact(spark, dir, maxRecordsPerFile = 1000000L)
    val v1 = StoreLog.snapshot(spark, dir, 1)
    val expect = bh.filter(col("database_name") < "db3")
      .dropDuplicates(ConsolidatedStore.dedupKey)
      .groupBy("database_name").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = v1.groupBy("database_name").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === expect)
    assert(!got.keySet.contains(null))
  }

  test("a pre-log store baselines on its first logged commit") {
    val dir = freshDir("graft-log-baseline")
    // simulate a store created before logging: write files directly
    // (schema-complete, LogID included)
    graft.etl.BackupHistoryDerivation.canonicalFrame(spark, TestSpark.sf)
      .filter(col("database_name") === "db0").limit(50)
      .write.parquet(dir)
    val pre = spark.read.parquet(dir).count()
    ConsolidatedStore.append(spark, dir,
      bh.filter(col("database_name") === "db4"))
    // baseline first (v1 = the pre-log table), then the append itself
    val commits = StoreLog.readCommits(spark, dir)
    assert(commits.map(_.op) === Seq("baseline", "append"))
    assert(commits.head.removes.isEmpty)
    assert(StoreLog.snapshot(spark, dir, 1).count() === pre)
    assert(StoreLog.snapshot(spark, dir, 2).count() ===
      ConsolidatedStore.read(spark, dir).count())
    assert(StoreLog.snapshot(spark, dir, 2).count() > pre)
  }

  test("log checkpoints bound hot-path reads to the tail: head state " +
      "reconstructs without the pre-checkpoint commits") {
    val dir = freshDir("graft-log-ckpt")
    val n = graft.store.StoreLog.CheckpointEvery + 5
    (1 to n).foreach { v =>
      assert(StoreLog.tryCommit(spark, dir, v, "append",
        adds = Seq(StoreTestKit.stub(s"f$v.parquet")),
        removes = if (v % 10 == 0) Seq(s"f${v - 1}.parquet") else Nil,
        txn = if (v % 7 == 0) Some(s"job:$v") else None))
    }
    val logDir = s"$dir/${StoreLog.dirName}"
    val ckpt = new java.io.File(logDir).list()
      .filter(_.startsWith("ckpt-v"))
    assert(ckpt.nonEmpty, "a checkpoint must exist at the threshold")
    val expectLive = (1 to n).map(v => s"f$v.parquet").toSet --
      (1 to n).filter(_ % 10 == 0).map(v => s"f${v - 1}.parquet")
    def headLive = StoreLog.headState(spark, dir).live.map(_.file).toSet
    assert(headLive == expectLive)
    assert(StoreLog.txnSeen(spark, dir, "job:7"))

    // move every pre-checkpoint commit away: the hot-path readers must
    // not need them (time travel does — not exercised here)
    val parked = java.nio.file.Files.createTempDirectory("graft-parked")
    (1 to StoreLog.CheckpointEvery - 1).foreach { v =>
      val f = s"v${"%09d".format(v)}.json"
      java.nio.file.Files.move(
        java.nio.file.Paths.get(s"$logDir/$f"), parked.resolve(f))
    }
    assert(headLive == expectLive,
      "live set must reconstruct from checkpoint + tail alone")
    assert(StoreLog.txnSeen(spark, dir, "job:7"),
      "txn tokens must be carried by the checkpoint")
    assert(!StoreLog.txnSeen(spark, dir, "job:999"))
  }

  test("time travel on an old store is checkpoint-bounded: reading v1 of " +
      "a 200-commit log touches <= checkpoint+tail metadata files") {
    val dir = freshDir("graft-log-tt")
    val n = 200
    // commit v adds f$v; every 10th commit removes an EARLY file, so old
    // versions' files get archive homes far in the future — the shape
    // that made home resolution O(#commits)
    (1 to n).foreach { v =>
      assert(StoreLog.tryCommit(spark, dir, v, "append",
        adds = Seq(StoreTestKit.stub(s"f$v.parquet")),
        removes = if (v % 10 == 0) Seq(s"f${v / 10}.parquet") else Nil))
    }
    // reference resolution by full replay of the known commit pattern
    def expectAt(version: Int): Set[(String, String)] = {
      val live = (1 to version).map(v => s"f$v.parquet").toSet --
        (1 to version).filter(_ % 10 == 0).map(v => s"f${v / 10}.parquet")
      live.map { fl =>
        val id = fl.stripPrefix("f").stripSuffix(".parquet").toInt
        val rm = id * 10 // f$id is removed by commit id*10 (if <= n)
        val base =
          if (rm > version && rm <= n)
            s"$dir/${StoreLog.historyDirName}/v${"%09d".format(rm)}"
          else dir
        (fl, base)
      }
    }
    val reads = new java.util.concurrent.atomic.AtomicInteger(0)
    StoreLog.metaReadProbe = p =>
      if (p.toString.contains(dir)) { reads.incrementAndGet(); () }
    try {
      val v1 = StoreLog.liveFilesAt(spark, dir, 1).toSet
      assert(v1 == expectAt(1), s"v1 resolution wrong: $v1")
      val n1 = reads.get()
      assert(n1 <= StoreLog.CheckpointEvery,
        s"v1 read $n1 metadata files — time travel is not " +
          "checkpoint-bounded (log has $n commits)")
      // a mid-log version resolves exactly too, still bounded
      reads.set(0)
      val v150 = StoreLog.liveFilesAt(spark, dir, 150).toSet
      assert(v150 == expectAt(150), "v150 resolution wrong")
      assert(reads.get() <= StoreLog.CheckpointEvery,
        s"v150 read ${reads.get()} metadata files")
    } finally StoreLog.metaReadProbe = null
  }

  test("checkpointNow upgrades a pre-index store: v1 reads become " +
      "checkpoint-bounded without waiting for a natural rewrite") {
    val dir = freshDir("graft-log-upg")
    val n = 200
    (1 to n).foreach { v =>
      assert(StoreLog.tryCommit(spark, dir, v, "append",
        adds = Seq(StoreTestKit.stub(s"f$v.parquet")),
        removes = if (v % 10 == 0) Seq(s"f${v / 10}.parquet") else Nil))
    }
    // simulate a store whose checkpoints predate the homes index:
    // strip the field from every checkpoint's header line
    import org.json4s.jackson.JsonMethods
    val logDir = java.nio.file.Paths.get(s"$dir/${StoreLog.dirName}")
    java.nio.file.Files.list(logDir).iterator().asScala
      .filter(_.getFileName.toString.startsWith("ckpt-v")).foreach { p =>
        val lines = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          .split('\n')
        val stripped = JsonMethods.parse(lines.head)
          .removeField { case (name, _) => name == "homes" }
        java.nio.file.Files.write(p,
          (JsonMethods.compact(JsonMethods.render(stripped)) +: lines.tail)
            .mkString("\n").getBytes("UTF-8"))
      }
    def expectAt(version: Int): Set[(String, String)] = {
      val live = (1 to version).map(v => s"f$v.parquet").toSet --
        (1 to version).filter(_ % 10 == 0).map(v => s"f${v / 10}.parquet")
      live.map { fl =>
        val id = fl.stripPrefix("f").stripSuffix(".parquet").toInt
        val rm = id * 10
        val base =
          if (rm > version && rm <= n)
            s"$dir/${StoreLog.historyDirName}/v${"%09d".format(rm)}"
          else dir
        (fl, base)
      }
    }
    // pre-upgrade: correct via the tail-replay fallback (slow path)
    assert(StoreLog.liveFilesAt(spark, dir, 1).toSet == expectAt(1))
    // the upgrade op: one eager checkpoint at the head rebuilds the index
    assert(StoreLog.checkpointNow(spark, dir) == n)
    val reads = new java.util.concurrent.atomic.AtomicInteger(0)
    StoreLog.metaReadProbe = p =>
      if (p.toString.contains(dir)) { reads.incrementAndGet(); () }
    try {
      val v1 = StoreLog.liveFilesAt(spark, dir, 1).toSet
      assert(v1 == expectAt(1), s"post-upgrade v1 resolution wrong")
      assert(reads.get() <= StoreLog.CheckpointEvery,
        s"v1 read ${reads.get()} metadata files after checkpointNow — " +
          "the upgrade did not restore the checkpoint bound")
    } finally StoreLog.metaReadProbe = null
  }

  test("checkpoint rewrite prunes homes entries whose archive dirs were " +
      "vacuumed; live entries survive") {
    val dir = freshDir("graft-log-prune")
    (1 to 70).foreach { v =>
      assert(StoreLog.tryCommit(spark, dir, v, "append",
        adds = Seq(StoreTestKit.stub(s"f$v.parquet")),
        removes = if (v % 10 == 0) Seq(s"f${v / 10}.parquet") else Nil))
    }
    // archive dirs for every remove commit (10..70), then vacuum two
    (1 to 7).foreach { i =>
      assert(new java.io.File(
        s"$dir/${StoreLog.historyDirName}/v${"%09d".format(i * 10)}").mkdirs())
    }
    Seq(10, 20).foreach { v =>
      val d = new java.io.File(
        s"$dir/${StoreLog.historyDirName}/v${"%09d".format(v)}")
      assert(d.delete(), s"fixture vacuum of $d failed")
    }
    assert(StoreLog.checkpointNow(spark, dir) == 70)
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmt: Formats = DefaultFormats
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(
        s"$dir/${StoreLog.dirName}/ckpt-v${"%09d".format(70)}.json")), "UTF-8")
      .split('\n').head
    val homes = (JsonMethods.parse(txt) \ "homes")
      .extract[Map[String, Seq[Int]]]
    assert(homes.keySet == Set("f3", "f4", "f5", "f6", "f7")
      .map(_ + ".parquet"),
      s"pruned index wrong: ${homes.keySet}")
    assert((3 to 7).forall(i => homes(s"f$i.parquet") == Seq(i * 10)))
    // the prune recorded its horizon: the highest pruned remove-version
    assert((JsonMethods.parse(txt) \ "vacuumHorizon").extract[Int] == 20,
      "checkpoint must record the vacuum horizon of what it pruned")
    // requests AT OR BELOW the horizon fail LOUDLY — a pruned entry
    // (f1 removed at the vacuumed v10, say it were re-removed later)
    // must never silently resolve to a later incarnation's surviving
    // home or to a same-named live root file
    Seq(5, 19).foreach { v =>
      val e = intercept[IllegalStateException](
        StoreLog.liveFilesAt(spark, dir, v))
      assert(e.getMessage.contains("vacuumed"),
        s"v$v must fail with the vacuum message, got: ${e.getMessage}")
    }
    // requests past the horizon still resolve from the kept entries
    val at25 = StoreLog.liveFilesAt(spark, dir, 25).toMap
    assert(at25("f3.parquet").contains("%09d".format(30)),
      s"post-horizon resolution broken: ${at25.get("f3.parquet")}")
    // the horizon survives FUTURE checkpoints even after the history
    // listing changes (it never retreats)
    (71 to 71 + StoreLog.CheckpointEvery).foreach { v =>
      assert(StoreLog.tryCommit(spark, dir, v, "append",
        adds = Seq(StoreTestKit.stub(s"f$v.parquet")), removes = Nil))
    }
    val later = StoreLog.checkpointNow(spark, dir)
    val txt2 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(
        s"$dir/${StoreLog.dirName}/ckpt-v${"%09d".format(later)}.json")), "UTF-8")
      .split('\n').head
    assert((JsonMethods.parse(txt2) \ "vacuumHorizon").extract[Int] == 20,
      "horizon must carry forward across checkpoint rewrites")
  }

  test("pre-log CoW ops baseline first, then commit through the logged " +
      "path — crash windows become repairable and v1 is the original") {
    import graft.store.{StoreDelete, StoreMerge}
    // delete on a raw-parquet store
    val d1 = freshDir("graft-prelog-del")
    graft.etl.BackupHistoryDerivation.canonicalFrame(spark, TestSpark.sf)
      .limit(80).write.parquet(d1)
    val pre = spark.read.parquet(d1).count()
    val cutoff = spark.read.parquet(d1)
      .agg(org.apache.spark.sql.functions.expr(
        "percentile_approx(backup_start_date, 0.5)")).head().getTimestamp(0)
    StoreDelete.delete(spark, d1, col("backup_start_date") < lit(cutoff))
    val cs = StoreLog.readCommits(spark, d1)
    assert(cs.head.op == "baseline" && cs.head.removes.isEmpty)
    assert(cs.last.op == "delete" && cs.last.removes.nonEmpty)
    // pre-delete snapshot intact (the logless branch had no such version)
    assert(StoreLog.snapshot(spark, d1, 1).count() === pre)

    // optimizeSmall on a raw-parquet store (many small files)
    val d2 = freshDir("graft-prelog-opt")
    graft.etl.BackupHistoryDerivation.canonicalFrame(spark, TestSpark.sf)
      .limit(60).repartition(6).write.parquet(d2)
    val pre2 = spark.read.parquet(d2).count()
    val (rewritten, _) = graft.maintenance.Compaction
      .optimizeSmall(spark, d2, minBytes = 1L << 26)
    assert(rewritten >= 2L)
    val cs2 = StoreLog.readCommits(spark, d2)
    assert(cs2.head.op == "baseline" && cs2.last.op == "optimize")
    assert(StoreLog.snapshot(spark, d2, 1).count() === pre2)
    assert(ConsolidatedStore.read(spark, d2).count() === pre2)

    // merge on a raw-parquet store
    val d3 = freshDir("graft-prelog-merge")
    graft.etl.BackupHistoryDerivation.canonicalFrame(spark, TestSpark.sf)
      .limit(40).write.parquet(d3)
    val pre3 = spark.read.parquet(d3).count()
    val probe = spark.read.parquet(d3).drop("LogID").limit(10)
      .withColumn("CompressedSizeMB",
        col("CompressedSizeMB") + org.apache.spark.sql.functions.lit(7))
    val m = StoreMerge.merge(spark, d3, probe)
    assert(m.updated === 10L)
    val cs3 = StoreLog.readCommits(spark, d3)
    assert(cs3.head.op == "baseline" && cs3.last.op == "merge")
    assert(StoreLog.snapshot(spark, d3, 1).count() === pre3)
  }

  test("a commit written before the log carried stats: appends dedup " +
      "against its rows and number LogIDs past them; checkpointNow " +
      "records its stats") {
    import graft.store.StoreMeta
    val dir = freshDir("graft-log-statless")
    val rows = bh.filter(col("database_name") === "db1")
      .dropDuplicates(ConsolidatedStore.dedupKey)
    val nOld = rows.count()
    // one data file plus a hand-written commit in the pre-stats format
    val stage = java.nio.file.Files.createTempDirectory("graft-statless").toString
    ConsolidatedStore.withLogIdsFrom(0L, rows, nOld).coalesce(1)
      .write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/${StoreLog.dirName}"))
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(s"$dir/old.parquet"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/${StoreLog.dirName}/v000000001.json"),
      """{"version":1,"op":"append","adds":["old.parquet"],"removes":[],"txn":null}"""
        .getBytes("UTF-8"))
    assert(StoreLog.readCommits(spark, dir).head.stats.isEmpty)
    // the head state scans the stat-less file
    assert(StoreLog.headState(spark, dir).maxLogId == nOld)

    // an append overlapping every old row plus db2's fresh ones
    val batch = bh.filter(col("database_name").isin("db1", "db2"))
    val nFresh = bh.filter(col("database_name") === "db2")
      .dropDuplicates(ConsolidatedStore.dedupKey).count()
    assert(ConsolidatedStore.append(spark, dir, batch) == nFresh,
      "the append must dedup against the stat-less commit's rows")
    val stored = ConsolidatedStore.read(spark, dir)
    assert(stored.count() == nOld + nFresh)
    assert(stored.select("LogID").distinct().count() == nOld + nFresh)
    assert(stored.agg(min("LogID"), max("LogID")).head() ==
      org.apache.spark.sql.Row(1L, nOld + nFresh),
      "new LogIDs must continue past the stat-less file's")

    // the upgrade: the checkpoint records the scanned stats
    val v = StoreLog.checkpointNow(spark, dir)
    val ckpt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(
        s"$dir/${StoreLog.dirName}/ckpt-v${"%09d".format(v)}.json")), "UTF-8")
      .split('\n').toSeq
    val recorded = ckpt.tail.map(StoreMeta.parseStats)
    assert(recorded.find(_.file == "old.parquet") ==
      StoreMeta.scanStats(spark, dir, Seq("old.parquet")).headOption,
      s"checkpoint must record the scanned stats: $ckpt")
    assert(StoreTestKit.statsDrift(spark, dir).isEmpty)
  }

  test("a torn commit is unreadable, never a shorter live set") {
    val dir = freshDir("graft-log-torn")
    ConsolidatedStore.append(spark, dir, bh.limit(30))
    val f = java.nio.file.Paths.get(
      s"$dir/${StoreLog.dirName}/v000000001.json")
    val full = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
    assert(full.split('\n').length == 2, s"header + one stats row: $full")
    // cut at the line boundary (header intact, stats row lost) and
    // mid-row: both read as a claim still being filled, then fail
    Seq(full.split('\n').head, full.dropRight(5)).foreach { torn =>
      java.nio.file.Files.write(f, torn.getBytes("UTF-8"))
      val e = intercept[IllegalStateException](
        StoreLog.readCommits(spark, dir))
      assert(e.getMessage.contains("unreadable"), e.getMessage)
    }
  }

  test("IVM with a count metric drops fully-deleted groups (= direct)") {
    import graft.store.{IncrementalAgg, StoreDelete}
    val dir = freshDir("graft-ivm-del")
    // db-partitioned dates: deleting everything before a cutoff wipes
    // some databases ENTIRELY — those groups must vanish from the
    // maintained view just as direct() omits them
    ConsolidatedStore.append(spark, dir, bh)
    val keys = Seq("database_name")
    val metrics = Seq(
      "n_rows" -> lit(1L),
      "sum_comp" -> col("CompressedSizeMB").cast("long"))
    StoreDelete.delete(spark, dir, lit(true)) // deletes ALL rows
    // (seed resolved after the delete so v1 reads its archived home —
    // a lazy pre-delete plan would point at moved files)
    val seed = IncrementalAgg.direct(StoreLog.snapshot(spark, dir, 1), keys, metrics)
    val maintained = (1 until StoreLog.currentVersion(spark, dir))
      .foldLeft(seed) { (mv, v) =>
        IncrementalAgg.applyDelta(mv,
          StoreLog.changes(spark, dir, v, v + 1), keys, metrics,
          countMetric = Some("n_rows"))
      }
    // (snapshot read: a fully-emptied directory has no parquet to infer
    // a schema from; the log-resolved read carries the schema)
    val direct = IncrementalAgg.direct(
      StoreLog.snapshot(spark, dir, StoreLog.currentVersion(spark, dir)),
      keys, metrics)
    assert(direct.count() == 0L, "fixture: the purge must empty the table")
    assert(maintained.count() == 0L,
      "applyDelta must drop groups whose row count reached 0")
    // without a count metric the zeroed groups remain — documented
    val loose = (1 until StoreLog.currentVersion(spark, dir))
      .foldLeft(seed) { (mv, v) =>
        IncrementalAgg.applyDelta(mv,
          StoreLog.changes(spark, dir, v, v + 1), keys, metrics)
      }
    assert(loose.count() > 0L)
    assert(loose.agg(sum("n_rows")).head().getLong(0) == 0L)
  }

  test("backup-health report on an empty fleet is empty, not an NPE") {
    val empty = bh.filter(lit(false))
    val rep = graft.restore.BackupHealth.report(empty)
    assert(rep.count() == 0L)
  }
}
