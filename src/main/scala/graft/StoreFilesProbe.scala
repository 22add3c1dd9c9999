package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Schemas
import graft.store.{ConsolidatedStore, StoreLog, StoreMerge, StoreMeta}

/** File-count scale probe: evidence for the metadata path's growth law.
  *
  * [[ScaleProbe]] grows ROWS (10× data, same file count); the 100-TB
  * risk axis this probe covers is #FILES — the checkpoint's per-file
  * stats rows every state read parses, the commit-log listing in the
  * claim loops, the coverage listing, and the O(#files-dropped) rename
  * term in purge. It synthesizes stores of increasing file count (tiny
  * two-row parquet parts, landed through the REAL protocol: one
  * `StoreLog.tryCommit` per batch carrying the parts' `scanStats` —
  * which also drives the every-64-versions log checkpoints), then times
  * on each store:
  *
  *   - `meta_load_cold` / `meta_load_warm`: `StoreLog.headState` — the
  *     committed-state read (live files with their zone-map stats) every
  *     append/merge/pruned read plans with: the newest checkpoint (one
  *     stats row per live file) plus ≤64 tail commits. Cold is the
  *     store's first read in this driver, warm the best repeat;
  *   - `log_replay`: `StoreLog.liveFilesAt` at head — the time-travel
  *     replay, checkpoint + ≤64 commit reads regardless of store size
  *     (O(CheckpointEvery));
  *   - `read_pruned`: a one-database LSN-window `readWhere` — the
  *     zone maps must open O(files-per-db) data files, not O(#files);
  *   - `append_trickle` / `merge_point`: one small batch against an
  *     existing database, on a fresh clone per rep — O(batch + overlap)
  *     execution on top of the `meta_load` planning term.
  *
  * Committed reading lives in BASELINE.md ("file-count probe"): the
  * expectation is flat `log_replay`/`read_pruned`/`append`/`merge` and
  * linear-with-tiny-slope `meta_load`; a super-linear row is a
  * checkpoint or compaction policy bug, not noise.
  *
  * Run: `runMain graft.StoreFilesProbe` (env `SPARK_GRAFT_FILE_COUNTS`,
  * default "200,2000,8000"; `SPARK_GRAFT_REPS`).
  *
  * `SPARK_GRAFT_MAINTAINED=1` applies `StoreMaintenance.runIfDue`
  * (default policy) after every commit batch during synthesis — the
  * counter-factual curve: the same trickle history, but under the
  * policy the fleet runner wires in. Expected reading: `files` stays
  * bounded near `maxSmallFiles` while `target` grows 40×, and every
  * metadata metric goes flat. Caveat inherent to two-row synthetic
  * files: a pack of tiny files is itself tiny (parquet footers do not
  * sum), so every fold here re-packs the prior pack too — at
  * production trickle sizes a pack approaches `smallFileBytes` and
  * EXITS the small set, bounding rewrite amplification; here the
  * re-pack is a few hundred KB per fold and costs nothing.
  */
object StoreFilesProbe {

  def main(args: Array[String]): Unit = {
    val counts = sys.env.getOrElse("SPARK_GRAFT_FILE_COUNTS", "200,2000,8000")
      .split(",").toSeq.map(_.trim.toInt)
    val maintained = sys.env.get("SPARK_GRAFT_MAINTAINED").contains("1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt.max(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val filesPerCommit = 50
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val lsnT = Schemas.lsnType

    /** Two rows for each global file index in [gLo, gLo+k): disjoint
      * LSN slices, 4 files per database — the per-db trickle layout a
      * long-running fleet store converges to.
      */
    def batchDf(gLo: Int, k: Int): DataFrame =
      spark.range(2L * k).select(
        (col("id") + 2L * gLo).as("__r"))
        .select(
          (col("__r") + 1L).as("LogID"),
          format_string("db%05d", (col("__r") / 8).cast("int"))
            .as("database_name"),
          lit("Log").as("BackupType"),
          format_string("/bak/f%09d.trn", col("__r"))
            .as("physical_device_name"),
          timestamp_seconds(lit(1704067200L) + col("__r") * 60L)
            .as("backup_start_date"),
          timestamp_seconds(lit(1704067230L) + col("__r") * 60L)
            .as("backup_finish_date"),
          lit(null).cast("string").as("server_name"),
          lit(null).cast("string").as("ag_name"),
          lit("FULL").as("recovery_model"),
          (col("__r") * 10L + 1L).cast(lsnT).as("first_lsn"),
          (col("__r") * 10L + 5L).cast(lsnT).as("last_lsn"),
          lit(null).cast("int").as("UncompressedSizeMB"),
          lit(null).cast("int").as("CompressedSizeMB"),
          lit(null).cast("boolean").as("is_copy_only"),
          lit(null).cast("string").as("encryptor_type"),
          lit(null).cast("string").as("key_algorithm"),
          lit(2).as("device_type"),
          lit(1).as("position"),
          lit(null).cast("string").as("DBFileInformation"))

    def tmp(): String = java.nio.file.Files
      .createTempDirectory("graft-fprobe-").toString + "/t"

    /** Land ~nFiles tiny parts through the real commit protocol (under the maintenance policy when `maintained`);
      * returns (path, actualFiles, totalRows, optimizeRuns).
      */
    def synth(nFiles: Int): (String, Int, Long, Int) = {
      val path = tmp()
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
      var g = 0
      var b = 0
      var optimizes = 0
      val policy = graft.maintenance.StoreMaintenance.Policy()
      while (g < nFiles) {
        val k = math.min(filesPerCommit, nFiles - g)
        val staging = java.nio.file.Files
          .createTempDirectory("graft-fprobe-stage-").toString
        batchDf(g, k)
          .repartitionByRange(k, col("LogID"))
          .sortWithinPartitions("LogID")
          .write.mode("overwrite").parquet(staging)
        val parts = new java.io.File(staging).listFiles()
          .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
        val adds = parts.zipWithIndex.map { case (f, i) =>
          val name = f"b$b%05d-$i%03d.parquet"
          java.nio.file.Files.move(f.toPath,
            java.nio.file.Paths.get(s"$path/$name"))
          name
        }.toSeq
        val v = StoreLog.currentVersion(spark, path) + 1
        require(StoreLog.tryCommit(spark, path, v, "append",
          StoreMeta.scanStats(spark, path, adds), Nil),
          s"synthesis lost an impossible race at v$v")
        if (maintained) {
          val r = graft.maintenance.StoreMaintenance.runIfDue(
            spark, path, policy)
          if (r.ran) optimizes += 1
        }
        g += k; b += 1
      }
      val actual = StoreMeta.listDataFiles(spark, path).get.size
      val rows = ConsolidatedStore.read(spark, path).count()
      require(rows == 2L * nFiles,
        s"synthesis row invariant broke: $rows vs ${2L * nFiles}")
      (path, actual, rows, optimizes)
    }

    def timeIt[A](body: () => A): Double = {
      var best = Double.MaxValue
      (0 until reps).foreach { _ =>
        System.gc()
        val t0 = System.nanoTime()
        body()
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
      }
      best
    }

    val results = counts.map { n =>
      val (path, actualFiles, rows, optimizes) = synth(n)
      // cold = this store's first state read in the driver; warm = the
      // steady-state repeat
      val metaLoadCold = {
        val t0 = System.nanoTime()
        StoreLog.headState(spark, path)
        (System.nanoTime() - t0) / 1e9
      }
      val metaLoadWarm = timeIt(() => StoreLog.headState(spark, path))
      val logReplay = timeIt(() =>
        StoreLog.liveFilesAt(spark, path,
          StoreLog.currentVersion(spark, path)))
      // one-db LSN window: must open O(files-per-db)=4 parts, not O(n)
      val dbMid = f"db${n / 8 / 2}%05d"
      val readPruned = timeIt(() =>
        ConsolidatedStore.readWhere(spark, path, StoreMeta.ReadBounds(
          databases = Some(Set(dbMid)),
          lastLsnGt = Some(new java.math.BigDecimal(0)),
          lastLsnLte = Some(new java.math.BigDecimal(Long.MaxValue))))
          .count())
      // mutating ops on a fresh clone per rep (clone untimed)
      def cloned(body: String => Unit): Double = {
        var best = Double.MaxValue
        (0 until reps).foreach { _ =>
          val cl = queries.StoreScaffold.cloned(path)
          System.gc()
          val t0 = System.nanoTime()
          body(cl)
          best = math.min(best, (System.nanoTime() - t0) / 1e9)
        }
        best
      }
      // 2 fresh rows, keys beyond every file; append assigns LogID itself
      val trickle = batchDf(n, 1).drop("LogID")
        .withColumn("database_name", lit(dbMid))
      val appendSec = cloned(p => ConsolidatedStore.append(spark, p, trickle))
      // materialize the 2-row correction OUTSIDE the timed body: defined
      // lazily it would drag a full-store scan into every timed merge
      // and masquerade as merge cost (measured: 6.3 s at 8000 files,
      // all of it the probe's own limit-over-8000-parts read)
      val corrLazy = ConsolidatedStore.read(spark, path)
        .filter(col("database_name") === dbMid).limit(2).drop("LogID")
        .withColumn("CompressedSizeMB", lit(777))
      val correction = spark.createDataFrame(
        spark.sparkContext.parallelize(corrLazy.collect().toSeq, 1),
        corrLazy.schema)
      val mergeSec = cloned(p => StoreMerge.merge(spark, p, correction))
      (n, actualFiles, rows, optimizes, metaLoadCold, metaLoadWarm,
        logReplay, readPruned, appendSec, mergeSec)
    }

    val json = results.map { case (n, f, r, o, mlc, mlw, lr, rp, ap, mg) =>
      f"""{"target":$n,"files":$f,"rows":$r,"optimizes":$o,""" +
        f""""meta_load_cold_sec":$mlc%.3f,""" +
        f""""meta_load_warm_sec":$mlw%.3f,""" +
        f""""log_replay_sec":$lr%.3f,"read_pruned_sec":$rp%.3f,""" +
        f""""append_sec":$ap%.3f,"merge_sec":$mg%.3f}"""
    }.mkString("[", ",", "]")
    println(s"""{"metric":"store_files_probe","reps":$reps,""" +
      s""""maintained":$maintained,""" +
      s""""files_per_commit":$filesPerCommit,"points":$json}""")
    spark.stop()
  }
}
