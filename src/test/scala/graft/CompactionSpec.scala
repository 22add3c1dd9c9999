package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.maintenance.Compaction
import graft.store.ConsolidatedStore

/** Compaction rewrites the consolidated store into few sorted files
  * without changing its contents.
  */
class CompactionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("compaction shrinks file count, preserves content, keeps queries working") {
    val bh = graft.etl.BackupHistoryDerivation
      .canonicalFrame(spark, TestSpark.sf)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-compact").toString + "/store"

    // simulate incremental cadence: one append per database slice, each
    // leaving its own file set behind
    val dbs = bh.select("database_name").distinct()
      .collect().map(_.getString(0)).sorted
    dbs.foreach { db =>
      ConsolidatedStore.append(spark, dir,
        bh.filter(col("database_name") === db).drop("LogID"))
    }
    val before = Compaction.dataFileCount(spark, dir)
    val content = spark.read.parquet(dir).cache()
    val nRows = content.count()

    val after = Compaction.compact(spark, dir, maxRecordsPerFile = 1000000L)
    assert(after < before, s"expected fewer files, got $before -> $after")
    assert(after == Compaction.dataFileCount(spark, dir))

    val compacted = spark.read.parquet(dir)
    assert(compacted.count() === nRows)
    assert(compacted.exceptAll(content).isEmpty &&
      content.exceptAll(compacted).isEmpty)
    // the store still serves a restore query after the swap
    val latest = graft.restore.RestoreQueries
      .latestFullBackupsPerKey(compacted, "server_name")
    assert(latest.count() > 0)
    content.unpersist()
  }

  test("morton codes: bit-exact vs reference, deinterleave recovers the bins") {
    import spark.implicits._
    import graft.maintenance.ZOrder
    val rnd = new scala.util.Random(42)
    val pairs = Seq.fill(1000)(
      (rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong)).distinct
    val got = pairs.toDF("a", "b")
      .select(col("a"), col("b"), ZOrder.mortonCode(col("a"), col("b")).as("z"))
      .as[(Long, Long, Long)].collect()
    def spread(v: Long): Long = {
      var x = v & 0xFFFFL
      x = (x | (x << 8)) & 0x00FF00FFL
      x = (x | (x << 4)) & 0x0F0F0F0FL
      x = (x | (x << 2)) & 0x33333333L
      (x | (x << 1)) & 0x55555555L
    }
    def unspread(v: Long): Long = {
      var x = v & 0x55555555L
      x = (x | (x >> 1)) & 0x33333333L
      x = (x | (x >> 2)) & 0x0F0F0F0FL
      x = (x | (x >> 4)) & 0x00FF00FFL
      (x | (x >> 8)) & 0xFFFFL
    }
    assert(got.nonEmpty)
    got.foreach { case (a, b, z) =>
      assert(z == (spread(a) | (spread(b) << 1)), s"($a,$b) -> $z")
      assert(unspread(z) == a && unspread(z >> 1) == b,
        s"deinterleave($z) != ($a,$b)")
    }
  }

  /** File-level zone-map pruning measured directly: a file "survives" a
    * predicate if its [min, max] interval on that column intersects it —
    * exactly what parquet footer stats give a scan.
    */
  private def pruneStats(dir: String): Array[(String, String, String, Long, Long)] = {
    import spark.implicits._
    spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(
        min("database_name").as("dmin"), max("database_name").as("dmax"),
        min(unix_micros(col("backup_finish_date"))).as("tmin"),
        max(unix_micros(col("backup_finish_date"))).as("tmax"))
      .as[(String, String, String, Long, Long)].collect()
  }

  test("z-order compaction: one physical order prunes both db and time axes") {
    val bh = graft.etl.BackupHistoryDerivation
      .canonicalFrame(spark, TestSpark.sf)
      // decorrelate the time axis from the lsn/event order (in the
      // fixture they advance together, which would let the single-dim
      // sort accidentally serve time ranges): Knuth-hash LogID onto
      // minute slots
      .withColumn("backup_finish_date",
        expr("timestamp_micros(946684800000000 + " +
          "pmod(LogID * 2654435761, 5000) * 60000000)"))
      .drop("LogID")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-zorder").toString + "/store"
    ConsolidatedStore.append(spark, dir, bh)
    // localCheckpoint, NOT cache: a cached `read.parquet(dir)` plan would
    // be served back for every later read of the same path (post-rewrite
    // reads included), where input_file_name() is empty
    val content = spark.read.parquet(dir).localCheckpoint(true)
    val nRows = content.count()

    val tAll = content.agg(
      min(unix_micros(col("backup_finish_date"))),
      max(unix_micros(col("backup_finish_date")))).head()
    val (tLo, tHi) = (tAll.getLong(0), tAll.getLong(1))
    // a 5% time window in the middle of the span
    val (wLo, wHi) =
      (tLo + (tHi - tLo) * 45 / 100, tLo + (tHi - tLo) * 50 / 100)
    def hits(stats: Array[(String, String, String, Long, Long)]) = (
      stats.count(s => s._2 <= "db3" && "db3" <= s._3),
      stats.count(s => s._4 <= wHi && wLo <= s._5))

    // single-dimension sort: db point queries prune, time ranges do not
    Compaction.compact(spark, dir, maxRecordsPerFile = 25)
    val plain = pruneStats(dir)
    val (plainDb, plainTime) = hits(plain)

    val nFiles = Compaction.zorderCompact(spark, dir, maxRecordsPerFile = 25)
    val z = pruneStats(dir)
    // nFiles may exceed the stats group count by zero-row files (an empty
    // range partition still writes a part file); those prune trivially
    assert(z.length >= 16 && z.length <= nFiles,
      s"want >=16 non-empty files, got ${z.length} of $nFiles")
    val (zDb, zTime) = hits(z)

    // both axes prune under z-order; the time axis must beat the
    // db-sorted layout (which reads essentially every file for a window)
    assert(zDb <= z.length * 3 / 5, s"db point query read $zDb/${z.length}")
    assert(zTime <= z.length * 3 / 5, s"time window read $zTime/${z.length}")
    assert(zTime < plainTime,
      s"z-order time window $zTime not better than db-sorted $plainTime " +
        s"(plain files ${plain.length})")
    assert(plainDb > 0 && plainTime > 0) // sanity: predicates are non-empty

    // the rewrite is still the same table
    val after = spark.read.parquet(dir)
    assert(after.count() === nRows)
    assert(after.exceptAll(content).isEmpty && content.exceptAll(after).isEmpty)

    // the compact commit's stats still serve the idempotent-append contract:
    // a duplicate batch appends zero rows, and LogIDs stay unique
    assert(ConsolidatedStore.append(spark, dir, bh.limit(50)) == 0)
    assert(spark.read.parquet(dir).count() === nRows)
    assert(spark.read.parquet(dir)
      .select("LogID").distinct().count() === nRows)
    graft.util.Checkpoints.release(content)
  }

  test("optimizeSmall bin-packs only sub-threshold files, big file untouched") {
    val bh = graft.etl.BackupHistoryDerivation
      .canonicalFrame(spark, TestSpark.sf).drop("LogID")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-optsmall").toString + "/store"
    // one big append (whole fleet) + 4 tiny trickle appends
    ConsolidatedStore.append(spark, dir, bh)
    val lsnT = graft.model.Schemas.lsnType
    (1 to 4).foreach { i =>
      ConsolidatedStore.append(spark, dir, bh.limit(5)
        .withColumn("last_lsn", (col("last_lsn") + i * 77000000L).cast(lsnT)))
    }
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length == 5)
    val bigName = files.maxBy(_.length).getName
    val minBytes = files.map(_.length).max // everything below the big file
    val total = spark.read.parquet(dir).count()
    val vBefore = graft.store.StoreLog.currentVersion(spark, dir)

    val (rewritten, after) = Compaction.optimizeSmall(spark, dir, minBytes)
    assert(rewritten == 4 && after == 2, s"got ($rewritten, $after)")
    val names = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    assert(names.contains(bigName), "large file must survive by identity")
    assert(spark.read.parquet(dir).count() == total, "content preserved")
    assert(graft.store.StoreLog.snapshot(spark, dir, vBefore).count() == total,
      "pre-optimize snapshot still readable")
    // a repeat is a no-op (one consolidated file left below threshold
    // is not worth a rewrite)
    assert(Compaction.optimizeSmall(spark, dir, minBytes)._1 <= 1)
    // the optimize commit's stats still serve pruned appends
    val n2 = ConsolidatedStore.append(spark, dir, bh.limit(3)
      .withColumn("last_lsn", (col("last_lsn") + 999000000L).cast(lsnT)))
    assert(n2 == 3)
  }

  test("StoreMaintenance.runIfDue: policy boundaries (below / at / foreign)") {
    import graft.maintenance.StoreMaintenance
    val bh = graft.etl.BackupHistoryDerivation
      .canonicalFrame(spark, TestSpark.sf).drop("LogID")
    val ordered = bh.orderBy("backup_finish_date", "database_name",
      "last_lsn", "physical_device_name")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-maint").toString + "/store"
    val policy = StoreMaintenance.Policy(
      smallFileBytes = 64L << 20, maxSmallFiles = 4)

    // 3 small files < maxSmallFiles: not due, nothing rewritten
    (1 to 3).foreach { i =>
      ConsolidatedStore.append(spark, dir,
        ordered.limit(10 * i).except(ordered.limit(10 * (i - 1))))
    }
    val r3 = StoreMaintenance.runIfDue(spark, dir, policy)
    assert(!r3.ran && r3.smallFiles == 3 && r3.filesAfter == 3, s"$r3")

    // 4th small file: due — every small file folds into one
    ConsolidatedStore.append(spark, dir,
      ordered.limit(40).except(ordered.limit(30)))
    val total = spark.read.parquet(dir).count()
    val r4 = StoreMaintenance.runIfDue(spark, dir, policy)
    assert(r4.ran && r4.smallFiles == 4 && r4.rewritten == 4 &&
      r4.filesAfter == 1, s"$r4")
    assert(spark.read.parquet(dir).count() == total, "content preserved")
    assert(spark.read.parquet(dir).select("LogID").distinct().count() == total)

    // foreign layout (non-hive subdirectory): never rewritten
    val foreign = java.nio.file.Files
      .createTempDirectory("graft-maint-foreign").toString + "/store"
    bh.limit(5).write.parquet(s"$foreign/nested")
    val rf = StoreMaintenance.runIfDue(spark, foreign,
      StoreMaintenance.Policy(maxSmallFiles = 2))
    assert(!rf.ran && rf.smallFiles == 0, s"$rf")
  }
}
