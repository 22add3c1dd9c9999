package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.store.ConsolidatedStore

/** File-level guarantees of the logged device-hash sets: point lookups
  * scan only files actually CONTAINING the device, and the over-cap
  * fallback stays correct.
  */
class DeviceLookupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tmp(): String =
    Files.createTempDirectory("graft-dev").toString + "/t"

  private def bh = graft.etl.BackupHistoryDerivation
    .canonicalFrame(spark, TestSpark.sf).drop("LogID")

  test("driver-side device hash equals Spark's xxhash64 column") {
    import spark.implicits._
    val names = Seq("X:\\bk\\full_1.bak", "https://bk.example.com/log_2.trn",
      "Ünïcødé-バックアップ-\uD83D\uDCBE.trn", "")
    val onSpark = names.toDF("d").select(xxhash64(col("d"))).as[Long]
      .collect().toSeq
    assert(names.map(ConsolidatedStore.deviceHash) == onSpark)
  }

  test("device lookup scans only the file holding the device") {
    val path = tmp()
    // two appends with DISJOINT device populations (URL vs disk paths)
    // but fully-overlapping device min/max ranges would not help here —
    // the point is the hash SET, which is disjoint
    ConsolidatedStore.append(spark, path, bh.filter(col("device_type") === 9))
    ConsolidatedStore.append(spark, path, bh.filter(col("device_type") === 2))
    val dev = bh.filter(col("device_type") === 2)
      .select("physical_device_name").head().getString(0)
    val got = ConsolidatedStore.readForDevice(spark, path, dev)
    val expected = spark.read.parquet(path)
      .filter(col("physical_device_name") === dev).count()
    assert(got.count() == expected && expected > 0)
    assert(got.inputFiles.length == 1,
      s"probe must scan 1 file, scanned ${got.inputFiles.toSeq}")
  }

  test("over-cap device sets fall back to ranges and stay correct") {
    val path = tmp()
    // one file with > DevHashSetCap distinct devices → set dropped
    val wide = bh.limit(300).withColumn("physical_device_name",
      concat(lit("wide/"), col("last_lsn").cast("long").cast("string"),
        lit("/"), col("physical_device_name")))
    ConsolidatedStore.append(spark, path, wide)
    assert(StoreTestKit.liveStats(spark, path).exists(_.devHashes == null),
      "a 300-device file must overflow the hash-set cap")
    val dev = wide.select("physical_device_name").head().getString(0)
    assert(ConsolidatedStore.readForDevice(spark, path, dev).count() == 1)
    assert(ConsolidatedStore.readForDevice(spark, path, "zzz/none").count() == 0)
  }

  test("null probe finds exactly the null-device rows") {
    val path = tmp()
    val withNulls = bh.withColumn("physical_device_name",
      when(col("database_name") === "db3", lit(null).cast("string"))
        .otherwise(col("physical_device_name")))
      .dropDuplicates(ConsolidatedStore.dedupKey)
    ConsolidatedStore.append(spark, path, withNulls)
    val got = ConsolidatedStore.readForDevice(spark, path, null).count()
    assert(got == withNulls.filter(col("physical_device_name").isNull).count())
  }

  test("append pruning with disjoint device sets skips same-range files") {
    val path = tmp()
    // same database + interleaved LSNs (ranges overlap on every axis the
    // old stats could see) but disjoint devices: the exact-set check
    // must keep the re-append's anti-join scan on the matching file only
    val base = bh.filter(col("database_name") === "db0")
    val setId = (col("first_lsn").cast("long") / 1000).cast("long")
    val odd = base.filter(setId % 2 === 1)
    val even = base.filter(setId % 2 === 0)
    ConsolidatedStore.append(spark, path, odd)
    ConsolidatedStore.append(spark, path, even)
    val live = StoreTestKit.liveStats(spark, path)
    val env = ConsolidatedStore.batchEnvelopes(
      odd.dropDuplicates(ConsolidatedStore.dedupKey))
    val overlapping = live
      .filter(f => env.exists(b => graft.store.StoreMeta.overlaps(f, b)))
    assert(live.size == 2 && overlapping.size == 1,
      s"device sets must disambiguate overlapping LSN ranges: " +
        s"${live.size} files, ${overlapping.size} overlapping")
  }
}
