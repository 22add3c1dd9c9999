package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.restore.{RestoreQueries, RestoreStore}
import graft.store.{ConsolidatedStore, StoreDelete, StoreMeta}

/** Read-side zone-map file skipping ([[ConsolidatedStore.readWhere]]) and
  * the stats-driven retention fast path: the same per-file envelopes
  * that prune APPENDS (EtlSpec's gates) must prune READS — a restore
  * lookup for one database on a many-file store opens only the files
  * whose (database_name, last_lsn, backup_start_date) envelope
  * intersects the predicate — and must prune the retention DELETE to the
  * boundary file.
  */
class StoreReadSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tmp(): String =
    Files.createTempDirectory("graft-read").toString + "/t"

  private def bh = graft.etl.BackupHistoryDerivation
    .canonicalFrame(spark, TestSpark.sf).drop("LogID")

  /** Files readWhere would open, via the same zone-map predicate. */
  private def prunedFiles(path: String, b: StoreMeta.ReadBounds): Seq[String] =
    StoreTestKit.liveStats(spark, path)
      .filter(f => StoreMeta.mayContain(f, b)).map(_.file)

  test("readWhere(db) opens only the database's files and matches the full scan") {
    val path = tmp()
    val h = bh.cache()
    // one append per database → per-db file envelopes
    val dbs = h.select("database_name").distinct()
      .collect().map(_.getString(0)).sorted
    dbs.foreach(d => ConsolidatedStore.append(
      spark, path, h.filter(col("database_name") === d)))
    assert(StoreTestKit.liveStats(spark, path).size == dbs.length &&
      StoreTestKit.statsDrift(spark, path).isEmpty)

    val b = StoreMeta.ReadBounds(databases = Some(Set(dbs.head)))
    assert(prunedFiles(path, b).size == 1,
      s"one db must prune to its one file, got ${prunedFiles(path, b)}")
    // and the PHYSICAL scan agrees: the pruned frame's input is one file
    val inputs = ConsolidatedStore.readWhere(spark, path, b).inputFiles
    assert(inputs.length == 1, s"physical scan must open 1 file: ${inputs.toSeq}")
    // compare on the plain read's columns: readWhere projects the full
    // consolidated schema (null-filling optional columns the fixture
    // frame omits), the inferred read returns only what was written
    val want = ConsolidatedStore.read(spark, path)
      .filter(col("database_name") === dbs.head)
    val cols = want.columns.toSeq
    val got = ConsolidatedStore.readWhere(spark, path, b)
      .select(cols.map(col): _*)
    assert(got.orderBy("LogID").collect().toSeq ==
      want.orderBy("LogID").collect().toSeq,
      "pruned read must equal read+filter")
    h.unpersist()
  }

  test("readWhere prunes hive-partitioned layouts too (partition-carried db column)") {
    val path = tmp()
    val h = bh.cache()
    ConsolidatedStore.append(spark, path, h,
      partitionBy = Seq("database_name"))
    val live = StoreTestKit.liveStats(spark, path)
    assert(live.forall(_.file.contains("database_name=")),
      s"fixture: hive layout expected, got ${live.map(_.file).take(3)}")
    val dbs = h.select("database_name").distinct()
      .collect().map(_.getString(0)).sorted
    val b = StoreMeta.ReadBounds(databases = Some(Set(dbs.head)))
    val opened = ConsolidatedStore.readWhere(spark, path, b).inputFiles
    assert(opened.nonEmpty &&
      opened.forall(_.contains(s"database_name=${dbs.head}")),
      s"must open only the probed db's partition files: ${opened.toSeq}")
    val got = ConsolidatedStore.readWhere(spark, path, b).count()
    assert(got == h.filter(col("database_name") === dbs.head).count())
    h.unpersist()
  }

  test("readWhere(lsn range) skips files outside the LSN window") {
    val path = tmp()
    val h = bh.cache()
    val cuts = h.stat.approxQuantile("last_lsn", Array(0.34, 0.67), 0.001)
    val lo = new java.math.BigDecimal(cuts(0)).setScale(0, java.math.RoundingMode.HALF_UP)
    val hi = new java.math.BigDecimal(cuts(1)).setScale(0, java.math.RoundingMode.HALF_UP)
    Seq(
      h.filter(col("last_lsn") < lit(lo)),
      h.filter(col("last_lsn") >= lit(lo) && col("last_lsn") < lit(hi)),
      h.filter(col("last_lsn") >= lit(hi))
    ).foreach(t => ConsolidatedStore.append(spark, path, t))
    assert(StoreTestKit.liveStats(spark, path).size == 3)

    // "everything past the top tertile's start" — the remaining-logs
    // chain shape: the bottom tertile's file must not be opened
    val b = StoreMeta.ReadBounds(lastLsnGt = Some(hi))
    val opened = prunedFiles(path, b)
    assert(opened.size < 3, s"LSN bound must skip at least one file: $opened")
    val got = ConsolidatedStore.readWhere(spark, path, b).count()
    val want = ConsolidatedStore.read(spark, path)
      .filter(col("last_lsn") > lit(hi)).count()
    assert(got == want)
    h.unpersist()
  }

  test("store-backed restore chain equals the frame-backed one, pruned") {
    val path = tmp()
    val h = bh.cache()
    val dbs = h.select("database_name").distinct()
      .collect().map(_.getString(0)).sorted
    dbs.foreach(d => ConsolidatedStore.append(
      spark, path, h.filter(col("database_name") === d)))
    val db = dbs.head
    val key = h.filter(col("database_name") === db)
      .select("server_name").na.drop().head().getString(0)

    val full = RestoreStore.latestFullBackupFor(spark, path, db, key)
    val fullWant = RestoreQueries.latestFullBackupFor(
      ConsolidatedStore.read(spark, path), db, key)
    val cols = Seq("database_name", "physical_device_name", "last_lsn")
    assert(
      full.select(cols.map(col): _*).orderBy(cols.map(col): _*)
        .collect().toSeq ==
      fullWant.select(cols.map(col): _*).orderBy(cols.map(col): _*)
        .collect().toSeq,
      "store-backed latest-full must match the frame-backed result")

    val lsn = BigDecimal(full.agg(max("last_lsn")).head().getDecimal(0))
    val logs = RestoreStore.remainingLogBackupsFor(spark, path, db, key, lsn)
    val logsWant = RestoreQueries.remainingLogBackupsFor(
      ConsolidatedStore.read(spark, path), db, key, lsn)
    assert(
      logs.select(cols.map(col): _*).orderBy(cols.map(col): _*)
        .collect().toSeq ==
      logsWant.select(cols.map(col): _*).orderBy(cols.map(col): _*)
        .collect().toSeq,
      "store-backed remaining-logs must match the frame-backed result")
    h.unpersist()
  }

  test("point-in-time restore bound prunes files by date envelope") {
    val path = tmp()
    val h = bh.cache()
    val q = h.select(unix_micros(col("backup_start_date")).as("us"))
      .stat.approxQuantile("us", Array(0.5), 0.001)
    val mid = new Timestamp(q(0).toLong / 1000L)
    ConsolidatedStore.append(spark, path,
      h.filter(col("backup_start_date") < lit(mid)))
    ConsolidatedStore.append(spark, path,
      h.filter(col("backup_start_date") >= lit(mid)))
    // an as-of bound before the split must open only the older file
    val asOf = new Timestamp(mid.getTime - 1000L)
    val opened = prunedFiles(path, StoreMeta.ReadBounds(
      startBefore = Some(new Timestamp(asOf.getTime + 1L))))
    assert(opened.size == 1, s"PIT bound must prune the newer file: $opened")
    // and the store-backed PIT chain equals the frame-backed one
    val db = h.select("database_name").distinct()
      .orderBy("database_name").head().getString(0)
    val key = h.filter(col("database_name") === db)
      .select("server_name").na.drop().head().getString(0)
    val got = RestoreStore.latestFullBackupFor(spark, path, db, key,
      asOf = Some(asOf))
    val want = RestoreQueries.latestFullBackupFor(
      ConsolidatedStore.read(spark, path), db, key, Some(lit(asOf)))
    val cols = Seq("database_name", "physical_device_name", "last_lsn")
    assert(
      got.select(cols.map(col): _*).orderBy(cols.map(col): _*)
        .collect().toSeq ==
      want.select(cols.map(col): _*).orderBy(cols.map(col): _*)
        .collect().toSeq)
    h.unpersist()
  }

  test("retention purge drops aged files whole and never scans survivors") {
    val path = tmp()
    val h = bh.cache()
    // three date-tertile files: old | mid | new
    val q = h.select(unix_micros(col("backup_start_date")).as("us"))
      .stat.approxQuantile("us", Array(0.34, 0.67), 0.001)
    val t0 = new Timestamp(q(0).toLong / 1000L)
    val t1 = new Timestamp(q(1).toLong / 1000L)
    Seq(
      h.filter(col("backup_start_date") < lit(t0)),
      h.filter(col("backup_start_date") >= lit(t0) &&
        col("backup_start_date") < lit(t1)),
      h.filter(col("backup_start_date") >= lit(t1))
    ).foreach(s => ConsolidatedStore.append(spark, path, s))
    val before = StoreTestKit.liveStats(spark, path)
      .sortBy(_.startMinUs.longValue)
    assert(before.size == 3, "fixture: three date-split files")
    val Seq(oldFile, midFile, newFile) = before.map(_.file)

    // survivors' bytes must never be read: poison the newest file on
    // disk so only the log's stats describe it — a purge that opened it
    // (cutoff scan OR delete scan) would throw; the stats-driven purge
    // never does
    val newPath = java.nio.file.Paths.get(s"$path/$newFile")
    val realBytes = Files.readAllBytes(newPath)
    Files.write(newPath, "not parquet".getBytes)

    // threshold = t1 exactly: old and mid sit entirely below it, so the
    // cutoff (= mid's newest start) folds from logged maxima ALONE — no
    // boundary scan; the delete then classifies old = all-expired (drop
    // whole, footer count only), mid = straddles the cutoff row (one
    // counting scan + rewrite), new = all-survive (untouched)
    val now = new Timestamp(t1.getTime + 45L * 86400000L)
    val stats = StoreDelete.purgeExpired(spark, path, retentionDays = 45, now = now)

    assert(stats.filesDropped == 1L && stats.filesRewritten == 1L,
      s"old drops whole, mid rewrites, new untouched: $stats")
    val after = StoreTestKit.liveStats(spark, path).map(_.file)
    assert(!after.contains(oldFile), "aged file must be gone")
    assert(!after.contains(midFile), "boundary file must be rewritten")
    assert(after.contains(newFile), "survivor file must be untouched")

    // restore the real bytes and check the survivor set: the cutoff row
    // (mid's newest start) and everything from t1 on
    Files.write(newPath, realBytes)
    val cutoffUs = before(1).startMaxUs.longValue
    val want = h.filter(unix_micros(col("backup_start_date")) >= cutoffUs).count()
    assert(ConsolidatedStore.read(spark, path).count() == want)
    h.unpersist()
  }
}
