package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{BackupHistoryDerivation, EtlRunner, ExtractTransform, MsdbDerivation}
import graft.maintenance.Retention
import graft.store.ConsolidatedStore

/** Oracle-checked queries for the ETL surface: the extract join topology
  * (S1/J1-J5/P1-P3/O1), dedup-on-write (S5), retention (S7/A3) and the
  * incremental watermark window (P3/A1).
  */
object EtlQueries {

  /** S1: the full extract transform — 5-way join, decorrelated JSON file
    * aggregation, watermark filter, type decode, MB arithmetic.
    */
  def q14Extract(spark: SparkSession, dir: String): DataFrame = {
    val since = java.sql.Timestamp.valueOf("2000-05-31 23:55:00") // wm - 5min
    val out = ExtractTransform.extract(MsdbDerivation.sources(spark, dir), since)
    // LSNs are DECIMAL(25,0) internally; canonicalize to BIGINT in the
    // oracle-facing projection (driver hashes decimals differently).
    BackupHistoryDerivation.lowercase(out)
      .withColumn("first_lsn", col("first_lsn").cast("bigint"))
      .withColumn("last_lsn", col("last_lsn").cast("bigint"))
      .orderBy(col("database_name"), col("last_lsn"), col("physical_device_name"))
  }

  /** The full extract as a reusable CTE (`extract0`, NO watermark
    * filter) — q14 reads it with the fixed-watermark predicate, q64
    * derives its end-to-end run expectations from it.
    */
  private val extractCte: String =
    """fileinfo AS (
      |  SELECT backup_set_id,
      |         '[' || string_agg(
      |           '{"logical_name":"' || logical_name
      |             || '","physical_drive":"' || physical_drive
      |             || '","physical_name":"' || physical_name
      |             || '","file_type":"' || file_type
      |             || '","file_number":' || file_number || '}',
      |           ',' ORDER BY file_number, logical_name) || ']'
      |           AS db_file_information
      |  FROM msdb_backupfile WHERE state <> 8
      |  GROUP BY backup_set_id
      |),
      |extract0 AS (
      |  SELECT s.database_name,
      |    CASE s.type WHEN 'D' THEN 'Full' WHEN 'I' THEN 'Diff'
      |                WHEN 'L' THEN 'Log' END AS backup_type,
      |    m.physical_device_name,
      |    s.backup_start_date, s.backup_finish_date,
      |    s.server_name, g.ag_name, s.recovery_model,
      |    CAST(s.first_lsn AS BIGINT) AS first_lsn,
      |    CAST(s.last_lsn AS BIGINT) AS last_lsn,
      |    CAST(floor(s.backup_size / 1048576) AS INT) AS uncompressed_size_mb,
      |    CAST(floor(s.compressed_backup_size / 1048576) AS INT) AS compressed_size_mb,
      |    s.is_copy_only, s.encryptor_type, s.key_algorithm,
      |    m.device_type, s.position,
      |    fi.db_file_information
      |  FROM msdb_backupset s
      |  JOIN msdb_backupmediafamily m ON s.media_set_id = m.media_set_id
      |  LEFT JOIN msdb_databases d ON d.name = s.database_name
      |  LEFT JOIN msdb_replica_states rs
      |    ON rs.database_id = d.database_id AND rs.is_local = 1
      |  LEFT JOIN msdb_ags g ON g.group_id = rs.group_id
      |  LEFT JOIN fileinfo fi ON fi.backup_set_id = s.backup_set_id
      |)""".stripMargin

  // NB: extractCte is concatenated, never re-interpolated under another
  // stripMargin — its continuation lines start with `||`, which a second
  // strip would truncate to `|`
  val q14Oracle: String = MsdbDerivation.oracle(
    ", " + extractCte + "\n" +
      """SELECT * FROM extract0
        |WHERE backup_finish_date >= TIMESTAMP '2000-05-31 23:55:00'
        |ORDER BY database_name, last_lsn, physical_device_name""".stripMargin)

  /** S5: idempotent dedup-on-write — re-ingesting the whole history over
    * itself must be a no-op; per-database counts prove it.
    */
  def q15DedupIdempotent(spark: SparkSession, dir: String): DataFrame = {
    val bh = BackupHistoryDerivation.canonicalFrame(spark, dir)
    val incoming = bh.drop("LogID") // re-extracted rows arrive without ids
    val survivors = ConsolidatedStore.mergeNew(existing = bh, incoming = incoming)
    val merged = bh.select("database_name").union(survivors.select("database_name"))
    merged.groupBy("database_name")
      .agg(count(lit(1)).as("n_rows"))
      .orderBy("database_name")
  }

  val q15Oracle: String = BackupHistoryDerivation.oracle(
    // every incoming key already exists → union adds nothing
    """SELECT database_name, count(*) AS n_rows
      |FROM backup_history
      |GROUP BY database_name
      |ORDER BY database_name""".stripMargin)

  /** S7+A3: retention cleanup — cutoff is the newest start date older
    * than (anchor - 14 days); survivors are >= cutoff. Anchored to the
    * data's max date so the query is deterministic at any wall-clock.
    */
  def q16Retention(spark: SparkSession, dir: String): DataFrame = {
    val bh = BackupHistoryDerivation.canonicalFrame(spark, dir)
    val anchor = bh.agg(max("backup_start_date")).head().getTimestamp(0)
    Retention.retained(bh, retentionDays = 14, now = anchor)
      .groupBy("database_name")
      .agg(
        count(lit(1)).as("n_retained"),
        min("backup_start_date").as("oldest_kept"))
      .orderBy("database_name")
  }

  val q16Oracle: String = BackupHistoryDerivation.oracle(
    """, anchor AS (SELECT max(backup_start_date) AS a FROM backup_history),
      |cutoff AS (
      |  SELECT max(b.backup_start_date) AS c
      |  FROM backup_history b, anchor
      |  WHERE b.backup_start_date < anchor.a - INTERVAL 14 DAY
      |)
      |SELECT database_name, count(*) AS n_retained,
      |       min(backup_start_date) AS oldest_kept
      |FROM backup_history b, cutoff
      |WHERE cutoff.c IS NULL OR b.backup_start_date >= cutoff.c
      |GROUP BY database_name
      |ORDER BY database_name""".stripMargin)

  /** P3+A1 vectorized: per-server incremental window — rows inside the
    * lookback window of each server's own max(backup_finish_date), the
    * shape of every watermarked re-extract.
    */
  def q17WatermarkWindow(spark: SparkSession, dir: String): DataFrame = {
    val bh = BackupHistoryDerivation.canonicalFrame(spark, dir)
    val wm = bh.groupBy("server_name")
      .agg(max("backup_finish_date").as("wm"))
    bh.join(broadcast(wm), Seq("server_name"))
      .filter(col("backup_finish_date") >= col("wm") - expr("INTERVAL 3 DAY"))
      .groupBy("server_name")
      .agg(
        count(lit(1)).as("n_window"),
        min("backup_finish_date").as("window_start"),
        max("backup_finish_date").as("window_end"))
      .orderBy("server_name")
  }

  val q17Oracle: String = BackupHistoryDerivation.oracle(
    """, wm AS (
      |  SELECT server_name, max(backup_finish_date) AS wm
      |  FROM backup_history GROUP BY server_name
      |)
      |SELECT b.server_name, count(*) AS n_window,
      |       min(b.backup_finish_date) AS window_start,
      |       max(b.backup_finish_date) AS window_end
      |FROM backup_history b
      |JOIN wm ON b.server_name = wm.server_name
      |WHERE b.backup_finish_date >= wm.wm - INTERVAL 3 DAY
      |GROUP BY b.server_name
      |ORDER BY b.server_name""".stripMargin)

  /** S2/S4/S6 + §2.9 end-to-end: TWO full ETL cycles over a fresh store
    * with two simulated servers sharing one msdb fixture.
    *
    * Run 1: both servers extract everything (default 1900 watermark);
    * srvA's load appends every distinct dedup key, srvB's identical
    * batch then appends ZERO rows (the `ignore_dup_key` contract across
    * sources) yet still advances srvB's watermark. Run 2: both servers
    * re-extract only the 5-minute rewind window of their advanced
    * watermark and append nothing (idempotent re-delivery). The final
    * store must hold exactly the distinct keys with unique LogIDs.
    *
    * The oracle derives every number from the shared extract CTE — no
    * state, just the advance/rewind/dedup algebra.
    */
  def q64EtlRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-e2e").toString
    val store = s"$tmp/consolidated"
    val wmPath = s"$tmp/watermarks"
    val src = MsdbDerivation.sources(spark, dir)
    val servers = Map("srvA" -> src, "srvB" -> src)

    // parallelism = 2 overlaps the two servers' extracts (the loads stay
    // serialized) — the concurrent driver path the runner supports
    val run1 = EtlRunner.runOnce(spark, servers, store, wmPath, parallelism = 2)
    val run2 = EtlRunner.runOnce(spark, servers, store, wmPath, parallelism = 2)

    val stored = ConsolidatedStore.read(spark, store)
    val nStore = stored.count()
    val nIds = stored.select("LogID").distinct().count()
    val finalWm = graft.store.WatermarkStore.read(spark, wmPath)("srvA")

    val rows =
      (0, "store", nStore, nIds, finalWm) +:
        (run1.map(r => (1, r.server, r.extracted, r.appended,
          r.newWatermark.orNull.asInstanceOf[java.sql.Timestamp])) ++
          run2.map(r => (2, r.server, r.extracted, r.appended,
            r.newWatermark.orNull.asInstanceOf[java.sql.Timestamp])))
    rows.toDF("run", "server", "n_extracted", "n_appended", "wm")
      .orderBy("run", "server")
  }

  val q64Oracle: String = MsdbDerivation.oracle(
    ", " + extractCte + ",\n" +
      """mx AS (SELECT max(backup_finish_date) AS wm FROM extract0),
        |n1 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM extract0),
        |k AS (
        |  SELECT CAST(count(DISTINCT (last_lsn, first_lsn, database_name,
        |                              physical_device_name)) AS BIGINT) AS n
        |  FROM extract0
        |),
        |win AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n
        |  FROM extract0, mx
        |  WHERE backup_finish_date >= mx.wm - INTERVAL 5 MINUTE
        |)
        |SELECT 0 AS run, 'store' AS server, k.n AS n_extracted,
        |       k.n AS n_appended, mx.wm FROM k, mx
        |UNION ALL
        |SELECT 1, 'srvA', n1.n, k.n, mx.wm FROM n1, k, mx
        |UNION ALL
        |SELECT 1, 'srvB', n1.n, 0, mx.wm FROM n1, mx
        |UNION ALL
        |SELECT 2, 'srvA', win.n, 0, mx.wm FROM win, mx
        |UNION ALL
        |SELECT 2, 'srvB', win.n, 0, mx.wm FROM win, mx
        |ORDER BY run, server""".stripMargin)

  /** Metadata-only aggregate answering — the zone maps doubling as an
    * aggregate index: after one ETL load, `max(LogID)`, the dedup-key
    * min/max envelope, and the null-device row count are read from the
    * commit log's head state ALONE (driver-side fold over the per-file
    * stats the commits carry, no data-file scan — the stats-based
    * answering a lakehouse transaction log provides for
    * `count/min/max`). The oracle re-derives every value from the msdb
    * extract CTE, so the logged stats are cross-checked against an
    * INDEPENDENT derivation: a stats bug that would someday misprune an
    * append fails this row first.
    */
  def q108StoreStatsOnly(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Read-only over the memoized msdb-extract base (StoreScaffold
    // contract): the operator under test is the driver-side head-state
    // read, so the bench row times THAT, not a per-rep fixture ETL.
    // No clone needed — nothing mutates.
    val store = msdbEtlBase(spark, dir)
    val meta = graft.store.StoreLog.headState(spark, store)
    val fs = meta.live
    require(fs.nonEmpty, "empty store after load")
    def bd(x: java.math.BigDecimal) = BigDecimal(x)
    Seq((
      meta.maxLogId,
      fs.map(f => bd(f.lastLsnMin)).min.toLong,
      fs.map(f => bd(f.lastLsnMax)).max.toLong,
      fs.map(f => bd(f.firstLsnMin)).min.toLong,
      fs.map(f => bd(f.firstLsnMax)).max.toLong,
      fs.map(_.dbMin).min,
      fs.map(_.dbMax).max,
      fs.map(_.devNullCount).sum))
      .toDF("max_logid", "last_lsn_min", "last_lsn_max",
        "first_lsn_min", "first_lsn_max", "db_min", "db_max",
        "n_null_device")
  }

  val q108Oracle: String = MsdbDerivation.oracle(
    ", " + extractCte + ",\n" +
      """k AS (
        |  SELECT DISTINCT last_lsn, first_lsn, database_name,
        |                  physical_device_name
        |  FROM extract0
        |)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM k) AS max_logid,
        |       (SELECT min(last_lsn) FROM k) AS last_lsn_min,
        |       (SELECT max(last_lsn) FROM k) AS last_lsn_max,
        |       (SELECT min(first_lsn) FROM k) AS first_lsn_min,
        |       (SELECT max(first_lsn) FROM k) AS first_lsn_max,
        |       (SELECT min(database_name) FROM k) AS db_min,
        |       (SELECT max(database_name) FROM k) AS db_max,
        |       (SELECT CAST(count(*) AS BIGINT) FROM k
        |        WHERE physical_device_name IS NULL) AS n_null_device""".stripMargin)

  /** §2.9 LIVE: the ETL's load/dedup/advance triangle through the REAL
    * Structured Streaming path — q64's streaming twin. The canonical
    * batch is delivered twice (duplicate redelivery) into a file-source
    * stream; `StreamingEtl.runStream` dedups within the watermark and
    * foreachBatch-appends into the consolidated store, advancing the
    * watermark after the load. The store must end with exactly the
    * distinct dedup keys, each with a unique LogID (`n_ids` must equal
    * `n_rows` — the oracle pins both to the same distinct-key count), and
    * the watermark must advance to the batch max. The oracle replays the
    * derivation algebra only — no state, like q64.
    */
  def q81StreamingEtlLive(spark: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-q81-").toString
    val bh = BackupHistoryDerivation.canonicalFrame(spark, dir).drop("LogID")
    bh.write.mode("append").parquet(s"$tmp/in")
    bh.write.mode("append").parquet(s"$tmp/in")
    val incoming = spark.readStream.schema(bh.schema).parquet(s"$tmp/in")
    val q = graft.streaming.StreamingEtl.runStream(spark, incoming, "srvL",
      s"$tmp/cons", s"$tmp/wm", s"$tmp/ckpt",
      sourceBytes =
        graft.streaming.StreamTuning.inputBytes(spark, s"$tmp/in"))
    q.processAllAvailable(); q.stop()
    val stored = ConsolidatedStore.read(spark, s"$tmp/cons")
    val wm = graft.store.WatermarkStore.read(spark, s"$tmp/wm")("srvL")
    stored.groupBy("database_name")
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("LogID")).as("n_ids"),
        max("backup_finish_date").as("db_max_finish"))
      .withColumn("wm_advanced", lit(wm))
      .orderBy("database_name")
  }

  val q81Oracle: String = BackupHistoryDerivation.oracle(
    """,
      |k AS (
      |  SELECT database_name,
      |         CAST(count(DISTINCT (last_lsn, first_lsn,
      |                              physical_device_name)) AS BIGINT) AS n_rows,
      |         max(backup_finish_date) AS db_max_finish
      |  FROM backup_history GROUP BY database_name
      |),
      |mx AS (SELECT max(backup_finish_date) AS wm FROM backup_history)
      |SELECT database_name, n_rows, n_rows AS n_ids, db_max_finish,
      |       mx.wm AS wm_advanced
      |FROM k, mx ORDER BY database_name""".stripMargin)

  /** Z-order codes for the consolidated rows — the clustering key
    * `Compaction.zorderCompact` physically sorts by, value-checked
    * bit for bit: the oracle replays the md5 16-bit database bin, the
    * min/max-derived right-shift time bin, and the magic-mask Morton
    * interleave in SQL (each doubling step one CTE). CompactionSpec
    * separately asserts the layout prunes files on both dimensions.
    */
  def q82ZorderCodes(spark: SparkSession, dir: String): DataFrame = {
    import graft.maintenance.ZOrder
    val bh = BackupHistoryDerivation.frame(spark, dir)
    val bounds = bh.agg(
      min(unix_micros(col("backup_finish_date"))),
      max(unix_micros(col("backup_finish_date")))).head()
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    bh.select(
        col("log_id"),
        ZOrder.mortonCode(
          ZOrder.hashBin16(col("database_name")),
          ZOrder.rangeBin16(unix_micros(col("backup_finish_date")), lo, hi))
          .as("zcode"))
      .orderBy("log_id")
  }

  val q82Oracle: String = BackupHistoryDerivation.oracle(
    """,
      |mnmx AS (
      |  SELECT min(epoch_us(backup_finish_date)) AS mn,
      |         max(epoch_us(backup_finish_date)) AS mx
      |  FROM backup_history
      |),
      |sh AS (
      |  SELECT CAST(greatest(0,
      |           floor(log2(CAST(greatest(1, mx - mn) AS DOUBLE))) + 1 - 16)
      |         AS BIGINT) AS s, mn
      |  FROM mnmx
      |),
      |bins AS (
      |  SELECT log_id,
      |         ('0x' || substr(md5(database_name), 1, 4))::BIGINT & 65535 AS a,
      |         ((epoch_us(backup_finish_date) - sh.mn) >> sh.s) & 65535 AS b
      |  FROM backup_history, sh
      |),
      |z1 AS (SELECT log_id, (a | (a << 8)) & 16711935 AS a,
      |              (b | (b << 8)) & 16711935 AS b FROM bins),
      |z2 AS (SELECT log_id, (a | (a << 4)) & 252645135 AS a,
      |              (b | (b << 4)) & 252645135 AS b FROM z1),
      |z3 AS (SELECT log_id, (a | (a << 2)) & 858993459 AS a,
      |              (b | (b << 2)) & 858993459 AS b FROM z2),
      |z4 AS (SELECT log_id, (a | (a << 1)) & 1431655765 AS a,
      |              (b | (b << 1)) & 1431655765 AS b FROM z3)
      |SELECT log_id, a | (b << 1) AS zcode FROM z4 ORDER BY log_id""".stripMargin)

  /** Policy-driven small-file maintenance ([[graft.maintenance
    * .StoreMaintenance.runIfDue]] → `Compaction.optimizeSmall` through
    * the replacing-commit protocol): the canonical batch lands as 8
    * date-ordered trickle slices, each its own append — the one-small-
    * file-per-cycle shape a steady-state fleet store accumulates — with
    * the policy probe after every slice. At `maxSmallFiles = 4` it MUST
    * trigger mid-sequence (every trickle file is sub-threshold, so the
    * trigger is decided by count alone — deterministic at every SF) and
    * bin-pack the accumulated files. The read-back per database must
    * hold exactly the distinct dedup keys with globally-unique LogIDs:
    * an optimize that dropped, duplicated, or re-keyed rows flips a
    * value row. Slices are DATE-ORDERED (ntile over the canonical
    * sort) because that is what a fleet trickle actually looks like:
    * each cycle's key envelope sits past the previous files', so the
    * zone-map-pruned append stays O(batch + boundary overlap) instead
    * of re-reading the whole store per cycle (hash-sliced batches
    * measured ~25% slower end-to-end for exactly that reason, on top
    * of being the wrong fleet shape); duplicate keys
    * straddling a slice boundary are absorbed by the idempotent
    * anti-join. EtlSpec gates the runner
    * wiring (`EtlRunner.runOnce(maintenance = ...)`) and the file-count
    * observables; this oracle pins the VALUES.
    */
  def q155StoreAutoOptimize(spark: SparkSession, dir: String): DataFrame = {
    import graft.maintenance.StoreMaintenance
    val tmp = java.nio.file.Files.createTempDirectory("graft-q155-").toString
    val store = s"$tmp/consolidated"
    val slices = 8
    // materialize derivation + slice tags once (8 appends otherwise each
    // re-derive the whole frame); the unpartitioned ntile window funnels
    // one reducer, acceptable for a driver-batch-sized fixture slice
    val bh = BackupHistoryDerivation.canonicalFrame(spark, dir)
      .drop("LogID")
      .withColumn("_s", ntile(slices).over(
        org.apache.spark.sql.expressions.Window.orderBy(
          "backup_finish_date", "database_name", "last_lsn",
          "physical_device_name")))
      .localCheckpoint()
    val policy = StoreMaintenance.Policy(
      smallFileBytes = 64L << 20, maxSmallFiles = 4)
    var triggered = 0
    (1 to slices).foreach { i =>
      ConsolidatedStore.append(spark, store,
        bh.filter(col("_s") === i).drop("_s"))
      val r = StoreMaintenance.runIfDue(spark, store, policy)
      if (r.ran) triggered += 1
    }
    require(triggered >= 1,
      s"8 sub-threshold trickle files at maxSmallFiles=4 must trigger " +
        s"the optimize at least once (got $triggered)")
    val out = ConsolidatedStore.read(spark, store)
      .groupBy("database_name")
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("LogID")).as("n_ids"),
        max("backup_finish_date").as("db_max_finish"))
      .orderBy("database_name")
      .localCheckpoint() // settle before releasing the input blocks
    graft.util.Checkpoints.release(bh)
    out
  }

  val q155Oracle: String = BackupHistoryDerivation.oracle(
    """,
      |k AS (
      |  SELECT database_name,
      |         CAST(count(DISTINCT (last_lsn, first_lsn,
      |                              physical_device_name)) AS BIGINT) AS n_rows,
      |         max(backup_finish_date) AS db_max_finish
      |  FROM backup_history GROUP BY database_name
      |)
      |SELECT database_name, n_rows, n_rows AS n_ids, db_max_finish
      |FROM k ORDER BY database_name""".stripMargin)

  /** Snapshot (time-travel) reads over the consolidated store's commit
    * log ([[graft.store.StoreLog]]): append half the fleet, append the
    * full fleet (idempotent dedup keeps only the new keys), compact —
    * then read every version back. v1 must hold exactly the first
    * batch's distinct keys, v2 the full key set, v3 (post-compaction,
    * which rewrites every file and ARCHIVES the old ones) the same rows
    * as v2 — with LogIDs unique at every version. The oracle replays the
    * same distinct-key algebra per version; a log that lost an add, a
    * compaction that dropped or duplicated rows, or an archive that
    * broke an old snapshot all flip a row.
    */
  def q101StoreTimeTravel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val store = StoreScaffold.cloned(db3SplitBase(spark, dir))
    graft.maintenance.Compaction.compact(spark, store)
    val rows = graft.store.StoreLog.readCommits(spark, store).map { c =>
      val snap = graft.store.StoreLog.snapshot(spark, store, c.version)
      val agg = snap
        .agg(count(lit(1)), countDistinct(col("LogID"))).head()
      (c.version, c.op, agg.getLong(0), agg.getLong(1))
    }
    rows.toDF("version", "op", "n_rows", "n_ids").orderBy("version")
  }

  val q101Oracle: String = BackupHistoryDerivation.oracle(
    """,
      |k AS (
      |  SELECT CAST(count(DISTINCT (last_lsn, first_lsn, database_name,
      |                              physical_device_name)) AS BIGINT) AS n
      |  FROM backup_history
      |),
      |a AS (
      |  SELECT CAST(count(DISTINCT (last_lsn, first_lsn, database_name,
      |                              physical_device_name)) AS BIGINT) AS n
      |  FROM backup_history WHERE database_name < 'db3'
      |)
      |SELECT 1 AS version, 'append' AS op, a.n AS n_rows, a.n AS n_ids FROM a
      |UNION ALL SELECT 2, 'append', k.n, k.n FROM k
      |UNION ALL SELECT 3, 'compact', k.n, k.n FROM k
      |ORDER BY version""".stripMargin)

  // ---- shared store-scenario bases (memoized; see StoreScaffold) ------

  /** Bench-only: build every memoized base store untimed. Each base is
    * built once per JVM; without this the build's jobs land inside the
    * FIRST rep's timed window of whichever query touches the base first,
    * making that rep's scheduler stage count disagree with later reps'
    * (the `stages: -2` nondeterminism rows q101/q108 used to record).
    */
  private[graft] def warmStoreBases(spark: SparkSession, dir: String): Unit = {
    msdbEtlBase(spark, dir); fullBase(spark, dir); db2SplitBase(spark, dir)
    db3SplitBase(spark, dir); dateSplitBase(spark, dir)
    dbEachBase(spark, dir); deviceSplitBase(spark, dir)
    ()
  }

  /** One full msdb-extract ETL round into a consolidated store — the
    * q108 fixture. Watermark state lives beside the store inside the
    * scaffold's temp dir and is never read after the build.
    */
  private def msdbEtlBase(spark: SparkSession, dir: String): String =
    StoreScaffold.base(spark, dir, "msdb-etl") { p =>
      val tmp = java.nio.file.Paths.get(p).getParent.toString
      EtlRunner.runOnce(spark,
        Map("srvA" -> MsdbDerivation.sources(spark, dir)),
        p, s"$tmp/watermarks")
    }

  private def fullBase(spark: SparkSession, dir: String): String =
    StoreScaffold.base(spark, dir, "full") { p =>
      ConsolidatedStore.append(spark, p,
        BackupHistoryDerivation.canonicalFrame(spark, dir).drop("LogID"))
    }

  private def db2SplitBase(spark: SparkSession, dir: String): String =
    StoreScaffold.base(spark, dir, "split2") { p =>
      val bh = BackupHistoryDerivation.canonicalFrame(spark, dir).drop("LogID")
      ConsolidatedStore.append(spark, p, bh.filter(col("database_name") < "db2"))
      ConsolidatedStore.append(spark, p, bh.filter(col("database_name") >= "db2"))
    }

  private def db3SplitBase(spark: SparkSession, dir: String): String =
    StoreScaffold.base(spark, dir, "split3") { p =>
      val bh = BackupHistoryDerivation.canonicalFrame(spark, dir).drop("LogID")
      ConsolidatedStore.append(spark, p, bh.filter(col("database_name") < "db3"))
      ConsolidatedStore.append(spark, p, bh)
    }

  private def dateSplitBase(spark: SparkSession, dir: String): String =
    StoreScaffold.base(spark, dir, "datesplit") { p =>
      val bh = BackupHistoryDerivation.canonicalFrame(spark, dir).drop("LogID")
      val t0 = java.sql.Timestamp.valueOf("2024-01-10 00:00:00")
      ConsolidatedStore.append(spark, p,
        bh.filter(col("backup_start_date") < lit(t0)))
      ConsolidatedStore.append(spark, p,
        bh.filter(col("backup_start_date") >= lit(t0)))
    }

  /** One append PER DATABASE → per-db file envelopes: the layout under
    * which a scalar restore lookup's zone-map pruning opens exactly one
    * file (gated in StoreReadSpec; exercised by q142).
    */
  private def dbEachBase(spark: SparkSession, dir: String): String =
    StoreScaffold.base(spark, dir, "dbeach") { p =>
      val bh = BackupHistoryDerivation.canonicalFrame(spark, dir).drop("LogID")
      val dbs = bh.select("database_name").distinct()
        .collect().map(_.getString(0)).sorted
      dbs.foreach(d => ConsolidatedStore.append(
        spark, p, bh.filter(col("database_name") === d)))
    }

  private def deviceSplitBase(spark: SparkSession, dir: String): String =
    StoreScaffold.base(spark, dir, "devsplit") { p =>
      val bh = BackupHistoryDerivation.canonicalFrame(spark, dir).drop("LogID")
        .withColumn("physical_device_name",
          when(col("database_name") === "db3", lit(null).cast("string"))
            .otherwise(col("physical_device_name")))
      ConsolidatedStore.append(spark, p, bh.filter(col("device_type") === 9))
      ConsolidatedStore.append(spark, p, bh.filter(col("device_type") === 2))
    }

  /** Copy-on-write MERGE (upsert) into the store
    * ([[graft.store.StoreMerge]]): append the fleet, then merge a batch
    * of (a) corrections — db1's full backups re-report CompressedSizeMB
    * +1000 — and (b) fresh rows — db2's diffs re-run under shifted LSNs
    * and `_v2` devices. The per-database aggregate pins all three merge
    * obligations at value level: corrected rows keep their ORIGINAL
    * LogIDs (sum_logid unchanged for db1 vs a plain append replay),
    * inserts continue numbering past the table max (db2's sum shifts by
    * exactly the replayed row_number sums), and untouched databases
    * survive the rewrite byte-identically.
    */
  def q114StoreMerge(spark: SparkSession, dir: String): DataFrame = {
    val bh = BackupHistoryDerivation.canonicalFrame(spark, dir).drop("LogID")
    val store = StoreScaffold.cloned(fullBase(spark, dir))
    val lsnT = graft.model.Schemas.lsnType
    val corrections = bh
      .filter(col("database_name") === "db1" && col("BackupType") === "Full")
      .withColumn("CompressedSizeMB", col("CompressedSizeMB") + 1000)
    val fresh = bh
      .filter(col("database_name") === "db2" && col("BackupType") === "Diff")
      .withColumn("first_lsn", (col("first_lsn") + 100000000L).cast(lsnT))
      .withColumn("last_lsn", (col("last_lsn") + 100000000L).cast(lsnT))
      .withColumn("physical_device_name",
        concat(col("physical_device_name"), lit("_v2")))
    graft.store.StoreMerge.merge(spark, store, corrections.unionByName(fresh))
    ConsolidatedStore.read(spark, store)
      .groupBy("database_name")
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("LogID")).as("n_ids"),
        sum(col("LogID")).as("sum_logid"),
        sum(col("CompressedSizeMB")).cast("long").as("sum_comp"))
      .orderBy("database_name")
  }

  val q114Oracle: String = BackupHistoryDerivation.oracle(
    """,
      |ids AS (
      |  SELECT database_name, backup_type, compressed_size_mb,
      |         row_number() OVER (ORDER BY backup_finish_date, database_name,
      |                            last_lsn, physical_device_name) AS logid
      |  FROM backup_history
      |),
      |mx AS (SELECT max(logid) AS m FROM ids),
      |base_after AS (
      |  SELECT database_name, logid,
      |         CASE WHEN database_name = 'db1' AND backup_type = 'Full'
      |              THEN compressed_size_mb + 1000
      |              ELSE compressed_size_mb END AS comp
      |  FROM ids
      |),
      |ins AS (
      |  SELECT database_name, compressed_size_mb AS comp,
      |         backup_finish_date, last_lsn + 100000000 AS last_lsn2,
      |         physical_device_name || '_v2' AS dev
      |  FROM backup_history
      |  WHERE database_name = 'db2' AND backup_type = 'Diff'
      |),
      |ins_ids AS (
      |  SELECT database_name, comp,
      |         (SELECT m FROM mx) +
      |           row_number() OVER (ORDER BY backup_finish_date, database_name,
      |                              last_lsn2, dev) AS logid
      |  FROM ins
      |),
      |allr AS (
      |  SELECT database_name, logid, comp FROM base_after
      |  UNION ALL SELECT database_name, logid, comp FROM ins_ids
      |)
      |SELECT database_name,
      |       CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(count(DISTINCT logid) AS BIGINT) AS n_ids,
      |       CAST(sum(logid) AS BIGINT) AS sum_logid,
      |       CAST(sum(comp) AS BIGINT) AS sum_comp
      |FROM allr GROUP BY database_name ORDER BY database_name""".stripMargin)

  /** Physical retention DELETE against the store
    * ([[graft.store.StoreDelete.purgeExpired]]) — the reference's cleanup
    * proc (sql:398-424) as a copy-on-write file operation. Two appends
    * split at Jan 10 give the store a date-correlated file layout (the
    * whole-file-drop fast path's precondition, asserted in DeleteSpec);
    * the 45-day purge from Mar 1 2024 computes cutoff = newest start
    * date below Jan 16 and removes everything strictly below it. The
    * per-db aggregate pins the survivor SET (min_start_us = the cutoff
    * boundary) and that survivors kept their two-phase append LogIDs
    * (sum_logid replays both row_number passes).
    */
  def q115StorePurge(spark: SparkSession, dir: String): DataFrame = {
    val store = StoreScaffold.cloned(dateSplitBase(spark, dir))
    graft.store.StoreDelete.purgeExpired(spark, store, retentionDays = 45,
      now = java.sql.Timestamp.valueOf("2024-03-01 00:00:00"))
    ConsolidatedStore.read(spark, store)
      .groupBy("database_name")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("LogID")).as("sum_logid"),
        min(unix_micros(col("backup_start_date"))).as("min_start_us"))
      .orderBy("database_name")
  }

  private val twoPhaseIdsCte: String =
    """b1 AS (
      |  SELECT *, row_number() OVER (ORDER BY backup_finish_date,
      |           database_name, last_lsn, physical_device_name) AS logid
      |  FROM backup_history WHERE %SPLIT%
      |),
      |b2 AS (
      |  SELECT *, (SELECT count(*) FROM b1) +
      |         row_number() OVER (ORDER BY backup_finish_date,
      |           database_name, last_lsn, physical_device_name) AS logid
      |  FROM backup_history WHERE NOT (%SPLIT%)
      |),
      |alltab AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2)""".stripMargin

  val q115Oracle: String = BackupHistoryDerivation.oracle(
    "," + twoPhaseIdsCte.replace("%SPLIT%",
      "backup_start_date < TIMESTAMP '2024-01-10 00:00:00'") +
    """,
      |cut AS (
      |  SELECT max(backup_start_date) AS c FROM alltab
      |  WHERE backup_start_date < TIMESTAMP '2024-01-16 00:00:00'
      |)
      |SELECT database_name,
      |       CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(logid) AS BIGINT) AS sum_logid,
      |       min(epoch_us(backup_start_date)) AS min_start_us
      |FROM alltab, cut
      |WHERE backup_start_date >= cut.c
      |GROUP BY database_name ORDER BY database_name""".stripMargin)

  /** Row-level change-data-feed over the store's commit log
    * ([[graft.store.StoreLog.changes]]): v1 appends half the fleet, v2
    * the rest, v3 merges a size correction onto db1's fulls, v4 purges
    * the retention horizon. Each consecutive span is read back as
    * typed changes and aggregated: v1→v2 must be pure inserts (batch 2's
    * replayed ids), v2→v3 exactly one update_pre/update_post pair per
    * corrected row (post side +1000 MB, SAME id sum — survivors
    * rewritten alongside them must NOT surface), v3→v4 pure deletes of
    * the below-cutoff rows (with the post-merge sizes). Any file the
    * spans did not touch contributing a row, a lost pre-image, or a
    * renumbered id flips an aggregate.
    */
  def q116StoreCdf(spark: SparkSession, dir: String): DataFrame = {
    val bh = BackupHistoryDerivation.canonicalFrame(spark, dir).drop("LogID")
    val store = StoreScaffold.cloned(db2SplitBase(spark, dir))
    graft.store.StoreMerge.merge(spark, store, bh
      .filter(col("database_name") === "db1" && col("BackupType") === "Full")
      .withColumn("CompressedSizeMB", col("CompressedSizeMB") + 1000))
    graft.store.StoreDelete.purgeExpired(spark, store, retentionDays = 45,
      now = java.sql.Timestamp.valueOf("2024-03-01 00:00:00"))
    val spans = Seq((1, 2), (2, 3), (3, 4)).map { case (a, b) =>
      graft.store.StoreLog.changes(spark, store, a, b)
        .withColumn("span", lit(s"v${a}_v$b"))
    }.reduce(_ unionByName _)
    spans.groupBy("span", "_change_type")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("LogID")).as("sum_logid"),
        sum(col("CompressedSizeMB")).cast("long").as("sum_comp"))
      .orderBy("span", "_change_type")
  }

  val q116Oracle: String = BackupHistoryDerivation.oracle(
    "," + twoPhaseIdsCte.replace("%SPLIT%", "database_name < 'db2'") +
    """,
      |corr AS (
      |  SELECT * FROM alltab
      |  WHERE database_name = 'db1' AND backup_type = 'Full'
      |),
      |merged AS (
      |  SELECT database_name, logid, backup_start_date,
      |         CASE WHEN database_name = 'db1' AND backup_type = 'Full'
      |              THEN compressed_size_mb + 1000
      |              ELSE compressed_size_mb END AS comp
      |  FROM alltab
      |),
      |cut AS (
      |  SELECT max(backup_start_date) AS c FROM merged
      |  WHERE backup_start_date < TIMESTAMP '2024-01-16 00:00:00'
      |),
      |spans AS (
      |  SELECT 'v1_v2' AS span, 'insert' AS _change_type,
      |         logid, compressed_size_mb AS comp FROM b2
      |  UNION ALL
      |  SELECT 'v2_v3', 'update_pre', logid, compressed_size_mb FROM corr
      |  UNION ALL
      |  SELECT 'v2_v3', 'update_post', logid, compressed_size_mb + 1000 FROM corr
      |  UNION ALL
      |  SELECT 'v3_v4', 'delete', m.logid, m.comp
      |  FROM merged m, cut WHERE m.backup_start_date < cut.c
      |)
      |SELECT span, _change_type,
      |       CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(logid) AS BIGINT) AS sum_logid,
      |       CAST(sum(comp) AS BIGINT) AS sum_comp
      |FROM spans GROUP BY span, _change_type
      |ORDER BY span, _change_type""".stripMargin)

  /** Incremental view maintenance from the change feed
    * ([[graft.store.IncrementalAgg]]): seed a per-database (count, size)
    * aggregate from the v1 snapshot, then fold each span's CDF deltas
    * through the q116 history (append → merge → purge) WITHOUT rescanning
    * the table. Both the incrementally-maintained view and the direct
    * recompute over the final store are emitted — the oracle derives the
    * final aggregate independently for both labels, so the incremental
    * chain must converge to the truth, not merely agree with the direct
    * path.
    */
  def q120IncrementalView(spark: SparkSession, dir: String): DataFrame = {
    import graft.store.{IncrementalAgg, StoreLog}
    val bh = BackupHistoryDerivation.canonicalFrame(spark, dir).drop("LogID")
    val store = StoreScaffold.cloned(db2SplitBase(spark, dir))
    graft.store.StoreMerge.merge(spark, store, bh
      .filter(col("database_name") === "db1" && col("BackupType") === "Full")
      .withColumn("CompressedSizeMB", col("CompressedSizeMB") + 1000))
    graft.store.StoreDelete.purgeExpired(spark, store, retentionDays = 45,
      now = java.sql.Timestamp.valueOf("2024-03-01 00:00:00"))
    val keys = Seq("database_name")
    val metrics = Seq(
      "n_rows" -> lit(1L),
      "sum_comp" -> col("CompressedSizeMB").cast("long"))
    val seed = IncrementalAgg.direct(
      StoreLog.snapshot(spark, store, 1), keys, metrics)
    val maintained = (1 until StoreLog.currentVersion(spark, store))
      .foldLeft(seed) { (mv, v) =>
        IncrementalAgg.applyDelta(
          mv, StoreLog.changes(spark, store, v, v + 1), keys, metrics,
          countMetric = Some("n_rows"))
      }
    val direct = IncrementalAgg.direct(
      ConsolidatedStore.read(spark, store), keys, metrics)
    maintained.withColumn("path", lit("incremental"))
      .unionByName(direct.withColumn("path", lit("direct")))
      .select("path", "database_name", "n_rows", "sum_comp")
      .orderBy("path", "database_name")
  }

  val q120Oracle: String = BackupHistoryDerivation.oracle(
    "," + twoPhaseIdsCte.replace("%SPLIT%", "database_name < 'db2'") +
    """,
      |merged AS (
      |  SELECT database_name, backup_start_date,
      |         CASE WHEN database_name = 'db1' AND backup_type = 'Full'
      |              THEN compressed_size_mb + 1000
      |              ELSE compressed_size_mb END AS comp
      |  FROM alltab
      |),
      |cut AS (
      |  SELECT max(backup_start_date) AS c FROM merged
      |  WHERE backup_start_date < TIMESTAMP '2024-01-16 00:00:00'
      |),
      |fin AS (
      |  SELECT database_name, CAST(count(*) AS BIGINT) AS n_rows,
      |         CAST(sum(comp) AS BIGINT) AS sum_comp
      |  FROM merged, cut WHERE backup_start_date >= cut.c
      |  GROUP BY database_name
      |)
      |SELECT 'direct' AS path, database_name, n_rows, sum_comp FROM fin
      |UNION ALL
      |SELECT 'incremental', database_name, n_rows, sum_comp FROM fin
      |ORDER BY path, database_name""".stripMargin)

  /** Device point lookup over the zone maps' exact device-hash sets
    * ([[ConsolidatedStore.readForDevice]]): the store is laid out in two
    * device-population-disjoint files (URL vs disk appends), db3's
    * devices are nulled (the NULLs-are-equal key population), and three
    * probes — a URL device, a disk device, and NULL — must return
    * exactly the derivation's rows for that device. DeviceLookupSpec
    * separately asserts the file-level pruning (only the probed file is
    * scanned); here the VALUES are pinned.
    */
  def q122DeviceLookup(spark: SparkSession, dir: String): DataFrame = {
    // probes are read-only: the memoized base is used directly, no clone
    val store = deviceSplitBase(spark, dir)
    val probes = Seq(
      "url_probe" -> "https://bk.example.com/db4/s4_0.bak",
      "disk_probe" -> "X:/bk/db1/s21_0.bak",
      "null_probe" -> null)
    probes.map { case (label, dev) =>
      ConsolidatedStore.readForDevice(spark, store, dev)
        .agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("database_name")).as("n_dbs"),
          sum(col("last_lsn").cast("long")).as("sum_lsn"))
        .select(lit(label).as("probe"), col("n_rows"), col("n_dbs"),
          col("sum_lsn"))
    }.reduce(_ unionByName _).orderBy("probe")
  }

  val q122Oracle: String = BackupHistoryDerivation.oracle(
    """,
      |nulled AS (
      |  -- DISTINCT over the dedup key replays the store's NULLs-are-
      |  -- equal ignore_dup_key semantics: nulling db3's devices makes
      |  -- its stripes key-identical, and the append keeps one per set
      |  SELECT DISTINCT database_name, last_lsn, first_lsn,
      |         CASE WHEN database_name = 'db3' THEN NULL
      |              ELSE physical_device_name END AS dev
      |  FROM backup_history
      |),
      |probes AS (
      |  SELECT 'url_probe' AS probe,
      |         'https://bk.example.com/db4/s4_0.bak' AS dev
      |  UNION ALL SELECT 'disk_probe', 'X:/bk/db1/s21_0.bak'
      |  UNION ALL SELECT 'null_probe', NULL
      |)
      |SELECT p.probe,
      |       CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(count(DISTINCT n.database_name) AS BIGINT) AS n_dbs,
      |       CAST(sum(CAST(n.last_lsn AS BIGINT)) AS BIGINT) AS sum_lsn
      |FROM probes p JOIN nulled n ON n.dev IS NOT DISTINCT FROM p.dev
      |GROUP BY p.probe ORDER BY p.probe""".stripMargin)

  /** Streaming CDC apply — the live form of q114: a file-source stream
    * of correction batches lands in ARRIVAL ORDER (maxFilesPerTrigger=1)
    * and each micro-batch upserts via [[graft.store.StoreMerge]] inside
    * `foreachBatch`. Batch 1 re-reports db1's fulls at +1000 MB, batch 2
    * re-reports the SAME rows at +2000 and adds fresh shifted-key rows —
    * so the final store must show the LAST writer's +2000 (order-
    * sensitive apply, the CDC contract), original LogIDs on every
    * corrected row, and exactly one insert per fresh key. A reordered
    * batch, a dropped upsert, or a double-applied insert all flip the
    * aggregate.
    */
  def q123StreamingMergeLive(spark: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-q123-").toString
    val bh = BackupHistoryDerivation.canonicalFrame(spark, dir).drop("LogID")
    val store = StoreScaffold.cloned(fullBase(spark, dir))
    val lsnT = graft.model.Schemas.lsnType
    val corr = bh
      .filter(col("database_name") === "db1" && col("BackupType") === "Full")
    // distinct mtimes pin the micro-batch order (the file source sorts
    // new files by modification timestamp): stamp the second batch
    // strictly later instead of sleeping out a wall-clock gap — same
    // ordering guarantee, robust to coarse (1 s) filesystem mtime
    // granularity, and ~1.2 s faster per call
    def dataFiles(): Seq[java.io.File] =
      Option(new java.io.File(s"$tmp/in").listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.endsWith(".parquet")).toSeq
    corr.withColumn("CompressedSizeMB", col("CompressedSizeMB") + 1000)
      .coalesce(1).write.mode("append").parquet(s"$tmp/in")
    val firstBatch = dataFiles()
    val t1 = firstBatch.map(_.lastModified).max
    corr.withColumn("CompressedSizeMB", col("CompressedSizeMB") + 2000)
      .unionByName(bh
        .filter(col("database_name") === "db2" && col("BackupType") === "Diff")
        .withColumn("first_lsn", (col("first_lsn") + 100000000L).cast(lsnT))
        .withColumn("last_lsn", (col("last_lsn") + 100000000L).cast(lsnT))
        .withColumn("physical_device_name",
          concat(col("physical_device_name"), lit("_v2"))))
      .coalesce(1).write.mode("append").parquet(s"$tmp/in")
    val firstPaths = firstBatch.map(_.getPath).toSet
    dataFiles().filterNot(f => firstPaths(f.getPath))
      .foreach(f => f.setLastModified(t1 + 2000L))
    val stream = spark.readStream.schema(bh.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in")
    val q = stream.writeStream
      .option("checkpointLocation", s"$tmp/ckpt")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // the micro-batch frame belongs to a cloned session — run the
        // merge's own reads/joins in that same session. The txn token
        // makes a post-restart REDELIVERY of this batch a no-op
        // (exactly-once apply), not merely value-idempotent.
        graft.store.StoreMerge.merge(batch.sparkSession, store, batch,
          txnId = Some(s"q123:$batchId")); ()
      }
      .start()
    q.processAllAvailable(); q.stop()
    ConsolidatedStore.read(spark, store)
      .groupBy("database_name")
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("LogID")).as("n_ids"),
        sum(col("LogID")).as("sum_logid"),
        sum(col("CompressedSizeMB")).cast("long").as("sum_comp"))
      .orderBy("database_name")
  }

  /** q114's replay with the last-writer +2000 correction. */
  val q123Oracle: String = BackupHistoryDerivation.oracle(
    """,
      |ids AS (
      |  SELECT database_name, backup_type, compressed_size_mb,
      |         row_number() OVER (ORDER BY backup_finish_date, database_name,
      |                            last_lsn, physical_device_name) AS logid
      |  FROM backup_history
      |),
      |mx AS (SELECT max(logid) AS m FROM ids),
      |base_after AS (
      |  SELECT database_name, logid,
      |         CASE WHEN database_name = 'db1' AND backup_type = 'Full'
      |              THEN compressed_size_mb + 2000
      |              ELSE compressed_size_mb END AS comp
      |  FROM ids
      |),
      |ins AS (
      |  SELECT database_name, compressed_size_mb AS comp,
      |         backup_finish_date, last_lsn + 100000000 AS last_lsn2,
      |         physical_device_name || '_v2' AS dev
      |  FROM backup_history
      |  WHERE database_name = 'db2' AND backup_type = 'Diff'
      |),
      |ins_ids AS (
      |  SELECT database_name, comp,
      |         (SELECT m FROM mx) +
      |           row_number() OVER (ORDER BY backup_finish_date, database_name,
      |                              last_lsn2, dev) AS logid
      |  FROM ins
      |),
      |allr AS (
      |  SELECT database_name, logid, comp FROM base_after
      |  UNION ALL SELECT database_name, logid, comp FROM ins_ids
      |)
      |SELECT database_name,
      |       CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(count(DISTINCT logid) AS BIGINT) AS n_ids,
      |       CAST(sum(logid) AS BIGINT) AS sum_logid,
      |       CAST(sum(comp) AS BIGINT) AS sum_comp
      |FROM allr GROUP BY database_name ORDER BY database_name""".stripMargin)

  /** Schema evolution on read: an old batch (no `verified` column) and a
    * new batch (adds BOOLEAN `verified`) land in one table directory;
    * `mergeSchema` reconciles the footers and old rows surface NULL in
    * the added column — the additive-evolution contract a long-lived
    * ingest relies on (the reference would ALTER TABLE; immutable files
    * evolve at read time). The aggregate pins exact NULL/true/false
    * populations per database, so a dropped column, a mis-defaulted old
    * row, or a type-widening surprise flips counts.
    */
  def q133SchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-q133-").toString
    val t = s"$tmp/t"
    val bh = BackupHistoryDerivation.canonicalFrame(spark, dir).drop("LogID")
      .select(col("database_name"), col("BackupType"),
        col("CompressedSizeMB"), col("first_lsn"))
    bh.filter(col("database_name") < "db2")
      .write.mode("append").parquet(t)
    bh.filter(col("database_name") >= "db2")
      .withColumn("verified",
        (col("first_lsn").cast("long") / 1000).cast("long") % 2 === 0)
      .write.mode("append").parquet(t)
    spark.read.option("mergeSchema", "true").parquet(t)
      .groupBy("database_name")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("verified").isNull, 1L).otherwise(0L)).as("n_unknown"),
        sum(when(col("verified") === true, 1L).otherwise(0L)).as("n_verified"),
        sum(col("CompressedSizeMB")).cast("long").as("sum_comp"))
      .orderBy("database_name")
  }

  val q133Oracle: String = BackupHistoryDerivation.oracle(
    """,
      |evolved AS (
      |  SELECT database_name, compressed_size_mb,
      |         CASE WHEN database_name >= 'db2'
      |              THEN ((CAST(first_lsn AS BIGINT) // 1000) % 2 = 0)
      |              ELSE NULL END AS verified,
      |         database_name < 'db2' AS is_old
      |  FROM backup_history
      |)
      |SELECT database_name,
      |       CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(CASE WHEN verified IS NULL THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_unknown,
      |       CAST(sum(CASE WHEN verified THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_verified,
      |       CAST(sum(compressed_size_mb) AS BIGINT) AS sum_comp
      |FROM evolved GROUP BY database_name
      |ORDER BY database_name""".stripMargin)

  /** Right-to-be-forgotten flow with an AUDIT TRAIL: a driver-small key
    * list (every 50th set's disk devices) deletes via the copy-on-write
    * predicate path (the `isin` pushes into the per-file match scan),
    * and the change feed of exactly that version span must contain
    * nothing but `delete` rows for those keys — the compliance evidence
    * ("these rows, no others, left at vN"). Emits the audited deletion
    * and the remaining population; the oracle derives both from the key
    * rule independently.
    */
  def q135ForgetKeys(spark: SparkSession, dir: String): DataFrame = {
    import graft.store.{StoreDelete, StoreLog}
    val store = StoreScaffold.cloned(fullBase(spark, dir))
    val bh = BackupHistoryDerivation.canonicalFrame(spark, dir).drop("LogID")
    val keys = bh
      .filter((col("first_lsn").cast("long") / 1000).cast("long") % 50 === 0
        && col("device_type") === 2)
      .select("physical_device_name").distinct()
      .collect().map(_.getString(0)).toSeq
    val v0 = StoreLog.currentVersion(spark, store)
    StoreDelete.delete(spark, store,
      col("physical_device_name").isin(keys: _*))
    val ch = StoreLog.changes(spark, store, v0, v0 + 1)
    val audited = ch.agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("_change_type") === "delete", 1L).otherwise(0L))
        .as("n_deletes"),
      sum(col("LogID")).as("sum_logid"),
      sum(col("CompressedSizeMB")).cast("long").as("sum_comp"))
      .select(lit("audited_change_feed").as("phase"), col("n_rows"),
        col("n_deletes"), col("sum_logid"), col("sum_comp"))
    val remaining = ConsolidatedStore.read(spark, store).agg(
      count(lit(1)).as("n_rows"),
      lit(0L).as("n_deletes"),
      sum(col("LogID")).as("sum_logid"),
      sum(col("CompressedSizeMB")).cast("long").as("sum_comp"))
      .select(lit("remaining").as("phase"), col("n_rows"),
        col("n_deletes"), col("sum_logid"), col("sum_comp"))
    audited.unionByName(remaining).orderBy("phase")
  }

  val q135Oracle: String = BackupHistoryDerivation.oracle(
    """,
      |ids AS (
      |  SELECT database_name, compressed_size_mb, physical_device_name,
      |         (CAST(first_lsn AS BIGINT) // 1000) % 50 = 0
      |           AND device_type = 2 AS forget,
      |         row_number() OVER (ORDER BY backup_finish_date, database_name,
      |                            last_lsn, physical_device_name) AS logid
      |  FROM backup_history
      |)
      |SELECT 'audited_change_feed' AS phase,
      |       CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(count(*) AS BIGINT) AS n_deletes,
      |       CAST(sum(logid) AS BIGINT) AS sum_logid,
      |       CAST(sum(compressed_size_mb) AS BIGINT) AS sum_comp
      |FROM ids WHERE forget
      |UNION ALL
      |SELECT 'remaining', CAST(count(*) AS BIGINT), 0,
      |       CAST(sum(logid) AS BIGINT), CAST(sum(compressed_size_mb) AS BIGINT)
      |FROM ids WHERE NOT forget
      |ORDER BY phase""".stripMargin)

  /** The scalar restore-chain procs bound to the consolidated STORE
    * through [[graft.restore.RestoreStore]]: every phase reads via
    * `readWhere`, so the files' (database_name, last_lsn) envelopes
    * prune the scan to db1's one file out of the per-db layout before
    * any data is read (file-count gate in StoreReadSpec) — the
    * reference's covering-index access path (sql:35-39) on immutable
    * parquet. The oracle replays the same chain algebra (W1 dense_rank
    * stripes, P5 LSN range, P8 blocking-full truncation) over the shared
    * derivation, proving the pruned read loses no rows.
    */
  def q142StoreRestorePruned(spark: SparkSession, dir: String): DataFrame = {
    import graft.restore.RestoreStore
    // probes are read-only: the memoized base is used directly, no clone
    val store = dbEachBase(spark, dir)
    val full = RestoreStore.latestFullBackupFor(spark, store, "db1", "srv1")
    // scalar proc contract (reference sql:150): the chosen full's LSN is
    // a driver-side scalar feeding the log/diff lookups
    val lsn = BigDecimal(full.agg(max("last_lsn")).head().getDecimal(0))
    val logs = RestoreStore.remainingLogBackupsFor(spark, store, "db1", "srv1", lsn)
    val diff = RestoreStore.lastDiffBackupFor(spark, store, "db1", "srv1", lsn)
    def phase(label: String, df: DataFrame) =
      df.agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("physical_device_name")).as("n_dev"),
        min(col("last_lsn")).cast("long").as("lsn_lo"),
        max(col("last_lsn")).cast("long").as("lsn_hi"))
        .select(lit(label).as("phase"), col("n_rows"), col("n_dev"),
          col("lsn_lo"), col("lsn_hi"))
    phase("1_latest_full", full)
      .unionByName(phase("2_remaining_logs", logs))
      .unionByName(phase("3_last_diff", diff))
      .orderBy("phase")
  }

  val q142Oracle: String = BackupHistoryDerivation.oracle(
    """,
      |fulls AS (
      |  SELECT *, dense_rank() OVER (ORDER BY last_lsn DESC) AS rk
      |  FROM backup_history
      |  WHERE database_name = 'db1' AND server_name = 'srv1'
      |        AND backup_type = 'Full' AND device_type IN (2, 9)
      |),
      |chosen AS (SELECT * FROM fulls WHERE rk = 1),
      |base AS (SELECT max(last_lsn) AS lsn FROM chosen),
      |logs AS (
      |  SELECT b.* FROM backup_history b, base
      |  WHERE b.database_name = 'db1' AND b.server_name = 'srv1'
      |        AND b.backup_type = 'Log' AND b.last_lsn > base.lsn
      |),
      |cand AS (
      |  SELECT b.* FROM backup_history b, base
      |  WHERE b.database_name = 'db1' AND b.server_name = 'srv1'
      |        AND b.backup_type IN ('Diff', 'Full') AND b.last_lsn > base.lsn
      |),
      |blocking AS (
      |  SELECT min(last_lsn) AS block_lsn FROM cand
      |  WHERE backup_type = 'Full' AND NOT coalesce(is_copy_only, false)
      |),
      |kept AS (
      |  SELECT c.* FROM cand c, blocking
      |  WHERE (blocking.block_lsn IS NULL OR c.last_lsn < blocking.block_lsn)
      |        AND c.backup_type = 'Diff'
      |),
      |diffs AS (
      |  SELECT *, dense_rank() OVER (ORDER BY last_lsn DESC) AS rk FROM kept
      |),
      |diff AS (SELECT * FROM diffs WHERE rk = 1)
      |SELECT '1_latest_full' AS phase, CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(count(DISTINCT physical_device_name) AS BIGINT) AS n_dev,
      |       CAST(min(last_lsn) AS BIGINT) AS lsn_lo,
      |       CAST(max(last_lsn) AS BIGINT) AS lsn_hi
      |FROM chosen
      |UNION ALL
      |SELECT '2_remaining_logs', CAST(count(*) AS BIGINT),
      |       CAST(count(DISTINCT physical_device_name) AS BIGINT),
      |       CAST(min(last_lsn) AS BIGINT), CAST(max(last_lsn) AS BIGINT)
      |FROM logs
      |UNION ALL
      |SELECT '3_last_diff', CAST(count(*) AS BIGINT),
      |       CAST(count(DISTINCT physical_device_name) AS BIGINT),
      |       CAST(min(last_lsn) AS BIGINT), CAST(max(last_lsn) AS BIGINT)
      |FROM diff
      |ORDER BY phase""".stripMargin)

  /** The optimistic multi-writer append protocol under the correctness
    * gate: a serialized base append, then a concurrent append that LOSES
    * its version claim to a racer injected in its publish→claim window
    * (the deterministic seam the concurrency spec uses) and must redo —
    * re-dedup against the racer's committed keys, rebase its LogIDs,
    * land at the next version. The oracle is closed-form distinct
    * algebra: 100 base keys, 50 racer keys, k−150 from the loser's redo,
    * ids contiguous 1..k (sum k(k+1)/2). A lost-row, duplicate, or
    * id-collision bug breaks a column.
    */
  def q145ConcurrentAppend(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-q145-").toString
    val store = s"$tmp/consolidated"
    val bh = BackupHistoryDerivation.canonicalFrame(spark, dir).drop("LogID")
    val ordered = bh.orderBy("backup_finish_date", "database_name",
      "last_lsn", "physical_device_name")
    val baseN = ConsolidatedStore.append(spark, store, ordered.limit(100))
    var racerN = 0L
    var injected = false
    val mainN = ConsolidatedStore.appendConcurrentHooked(
      spark, store, bh, Seq("database_name", "last_lsn"), 8) { (attempt, _) =>
      if (attempt == 1 && !injected) {
        injected = true
        racerN = ConsolidatedStore.appendConcurrent(spark, store,
          ordered.limit(150))
      }
    }
    val s = ConsolidatedStore.read(spark, store)
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("LogID")).as("n_ids"),
        max(col("LogID")).as("max_logid"),
        sum(col("LogID")).as("sum_logid"))
      .head()
    Seq((baseN, racerN, mainN,
      s.getLong(0), s.getLong(1), s.getLong(2), s.getLong(3)))
      .toDF("base_n", "racer_n", "main_n",
        "n_rows", "n_ids", "max_logid", "sum_logid")
  }

  val q145Oracle: String = BackupHistoryDerivation.oracle(
    """,
      |k AS (
      |  SELECT CAST(count(DISTINCT (last_lsn, first_lsn, database_name,
      |                              physical_device_name)) AS BIGINT) AS n
      |  FROM backup_history
      |)
      |SELECT CAST(100 AS BIGINT) AS base_n, CAST(50 AS BIGINT) AS racer_n,
      |       n - 150 AS main_n, n AS n_rows, n AS n_ids, n AS max_logid,
      |       n * (n + 1) // 2 AS sum_logid
      |FROM k""".stripMargin)

  /** Fleet-PARALLEL ETL under the correctness gate: four servers with
    * OVERLAPPING watermark windows run one `runOnce(parallelism = 4,
    * concurrentLoads = true)` against a single store — every load goes
    * through `appendConcurrent`'s optimistic commit protocol and every
    * advance through the watermark CRDD, concurrently. Deterministic
    * surface: per-server extract counts (pure window algebra), the final
    * per-server watermarks (every window contains the batch max), and
    * the store's closed-form distinct union (n_rows = n_ids = max LogID
    * = k, sum = k(k+1)/2, total appended across the fleet = k). The
    * per-server APPENDED split is schedule-dependent by documented
    * contract and deliberately not emitted.
    */
  def q153FleetParallelEtl(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-fleet").toString
    val store = s"$tmp/consolidated"
    val wmPath = s"$tmp/watermarks"
    val src = MsdbDerivation.sources(spark, dir)
    def usOf(t: java.sql.Timestamp): Long =
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    def fromUs(us: Long): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
      t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
      t
    }
    val mx = ExtractTransform
      .extract(src, ExtractTransform.rewind(EtlRunner.DefaultWatermark),
        sortOutput = false)
      .agg(max("backup_finish_date")).head().getTimestamp(0)
    // staggered seed watermarks BELOW the batch max: srv1 extracts
    // everything (default 1900 watermark), srv2..4 start 20/10/2 days
    // back — four overlapping windows that all contain the max
    val offsetDays = Map("srv2" -> 20L, "srv3" -> 10L, "srv4" -> 2L)
    graft.store.WatermarkStore.write(spark, wmPath,
      offsetDays.map { case (s, d) =>
        s -> fromUs(usOf(mx) - d * 86400000000L) })
    val servers = Seq("srv1", "srv2", "srv3", "srv4").map(_ -> src).toMap
    val results = EtlRunner.runOnce(spark, servers, store, wmPath,
      parallelism = 4, concurrentLoads = true)
    require(results.forall(_.error.isEmpty),
      s"fleet run reported failures: ${results.filter(_.error.nonEmpty)}")
    val stored = ConsolidatedStore.read(spark, store)
      .agg(count(lit(1)), countDistinct(col("LogID")), max(col("LogID")),
        sum(col("LogID"))).head()
    val fleetRow = ("fleet", results.map(_.appended).sum,
      stored.getLong(0), stored.getLong(1), stored.getLong(2),
      stored.getLong(3), mx)
    val perServer = results.map(r => (r.server, r.extracted, 0L, 0L, 0L, 0L,
      r.newWatermark.orNull.asInstanceOf[java.sql.Timestamp]))
    (fleetRow +: perServer.sortBy(_._1))
      .toDF("server", "n_extracted", "n_rows", "n_ids", "max_logid",
        "sum_logid", "wm")
      .orderBy("server")
  }

  /** Per-server thresholds replayed exactly: seed_us = mx_us − d·86400e6;
    * the runner's rewind ms-floors the seed then subtracts 5 min, and the
    * extract filter is `finish >= threshold` — all exact integer µs
    * algebra on both sides.
    */
  val q153Oracle: String = MsdbDerivation.oracle(
    ", " + extractCte + ",\n" +
      """mx AS (SELECT max(backup_finish_date) AS wm FROM extract0),
        |k AS (
        |  SELECT CAST(count(DISTINCT (last_lsn, first_lsn, database_name,
        |                              physical_device_name)) AS BIGINT) AS n
        |  FROM extract0
        |),
        |n1 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM extract0),
        |w2 AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n FROM extract0, mx
        |  WHERE epoch_us(backup_finish_date) >=
        |        ((epoch_us(mx.wm) - 20 * 86400000000) // 1000 - 300000) * 1000
        |),
        |w3 AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n FROM extract0, mx
        |  WHERE epoch_us(backup_finish_date) >=
        |        ((epoch_us(mx.wm) - 10 * 86400000000) // 1000 - 300000) * 1000
        |),
        |w4 AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n FROM extract0, mx
        |  WHERE epoch_us(backup_finish_date) >=
        |        ((epoch_us(mx.wm) - 2 * 86400000000) // 1000 - 300000) * 1000
        |)
        |SELECT 'fleet' AS server, k.n AS n_extracted, k.n AS n_rows,
        |       k.n AS n_ids, k.n AS max_logid,
        |       k.n * (k.n + 1) // 2 AS sum_logid, mx.wm
        |FROM k, mx
        |UNION ALL
        |SELECT 'srv1', n1.n, 0, 0, 0, 0, mx.wm FROM n1, mx
        |UNION ALL
        |SELECT 'srv2', w2.n, 0, 0, 0, 0, mx.wm FROM w2, mx
        |UNION ALL
        |SELECT 'srv3', w3.n, 0, 0, 0, 0, mx.wm FROM w3, mx
        |UNION ALL
        |SELECT 'srv4', w4.n, 0, 0, 0, 0, mx.wm FROM w4, mx
        |ORDER BY server""".stripMargin)

  /** Copy-on-write delete racing a concurrent appender's publish→claim
    * window, under the correctness gate. A full-table retention purge
    * fires through the appender's `beforeCommit` seam — the window where
    * the appender's batch files sit published in the root but unclaimed
    * by any commit. The purge must remove EXACTLY the committed live
    * set (`n_absorbed` = its removes outside that set = 0 — the
    * committed-live-set rule that keeps replacing commits disjoint from,
    * and commutative with, racing appends); the appender then loses its
    * version claim to the purge's commit, redoes against the emptied
    * store, and lands its full batch with LogIDs rebased from zero. Any
    * absorption, lost row, or id collision breaks a column.
    */
  def q150DeleteVsAppend(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-q150-").toString
    val store = s"$tmp/consolidated"
    val bh = BackupHistoryDerivation.canonicalFrame(spark, dir).drop("LogID")
    val ordered = bh.orderBy("backup_finish_date", "database_name",
      "last_lsn", "physical_device_name")
    val baseN = ConsolidatedStore.append(spark, store, ordered.limit(100))
    var delRows = 0L
    var absorbed = 0L
    var injected = false
    val mainN = ConsolidatedStore.appendConcurrentHooked(
      spark, store, bh, Seq("database_name", "last_lsn"), 8) { (attempt, _) =>
      if (attempt == 1 && !injected) {
        injected = true
        val live = graft.store.StoreLog.headState(spark, store).live
          .map(_.file).toSet
        delRows = graft.store.StoreDelete
          .delete(spark, store, lit(true)).deleted
        val del = graft.store.StoreLog.readCommits(spark, store).last
        absorbed = del.removes.count(f => !live(f)).toLong
      }
    }
    val s = ConsolidatedStore.read(spark, store)
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("LogID")).as("n_ids"),
        sum(col("LogID")).as("sum_logid"))
      .head()
    Seq((baseN, delRows, absorbed, mainN,
      s.getLong(0), s.getLong(1), s.getLong(2)))
      .toDF("base_n", "del_rows", "n_absorbed", "main_n",
        "n_rows", "n_ids", "sum_logid")
  }

  val q150Oracle: String = BackupHistoryDerivation.oracle(
    """,
      |k AS (
      |  SELECT CAST(count(DISTINCT (last_lsn, first_lsn, database_name,
      |                              physical_device_name)) AS BIGINT) AS n
      |  FROM backup_history
      |)
      |SELECT CAST(100 AS BIGINT) AS base_n, CAST(100 AS BIGINT) AS del_rows,
      |       CAST(0 AS BIGINT) AS n_absorbed, n AS main_n, n AS n_rows,
      |       n AS n_ids, n * (n + 1) // 2 AS sum_logid
      |FROM k""".stripMargin)

  /** Crash repair under the correctness gate: reproduce the two durable
    * die-inside-the-swap states on a cloned store — an uncommitted
    * replacement file (reads every key twice) and an original archived
    * under a never-committed version (rows missing) — then
    * [[graft.store.StoreRepair.repair]] must return the store to its
    * exact last commit. The oracle is closed-form: 1 restored, 1 orphan
    * dropped, and the full distinct-key population with contiguous
    * LogIDs (sum k(k+1)/2) — any under- or over-repair breaks a column.
    */
  def q146StoreRepair(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val store = StoreScaffold.cloned(db2SplitBase(spark, dir))
    val files = graft.store.StoreLog.headState(spark, store).live
      .map(_.file).sorted
    require(files.size >= 2, s"fixture needs 2 files, got $files")
    val v = graft.store.StoreLog.currentVersion(spark, store)
    // dead writer 1: uncommitted replacement (byte-copy of a live file)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$store/${files.head}"),
      java.nio.file.Paths.get(s"$store/part-99999-deadwriter.c000.snappy.parquet"))
    // dead writer 2: archived an original under the NEXT (uncommitted)
    // version and died before the commit
    val hist = java.nio.file.Paths.get(
      s"$store/${graft.store.StoreLog.historyDirName}/${"v%09d".format(v + 1)}")
    java.nio.file.Files.createDirectories(hist)
    java.nio.file.Files.move(
      java.nio.file.Paths.get(s"$store/${files(1)}"),
      hist.resolve(files(1)))
    val stats = graft.store.StoreRepair.repair(spark, store)
    val s = ConsolidatedStore.read(spark, store)
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("LogID")).as("n_ids"),
        max(col("LogID")).as("max_logid"),
        sum(col("LogID")).as("sum_logid"))
      .head()
    Seq((stats.restored, stats.orphansDropped,
      s.getLong(0), s.getLong(1), s.getLong(2), s.getLong(3)))
      .toDF("n_restored", "n_orphans",
        "n_rows", "n_ids", "max_logid", "sum_logid")
  }

  val q146Oracle: String = BackupHistoryDerivation.oracle(
    """,
      |k AS (
      |  SELECT CAST(count(DISTINCT (last_lsn, first_lsn, database_name,
      |                              physical_device_name)) AS BIGINT) AS n
      |  FROM backup_history
      |)
      |SELECT CAST(1 AS BIGINT) AS n_restored, CAST(1 AS BIGINT) AS n_orphans,
      |       n AS n_rows, n AS n_ids, n AS max_logid,
      |       n * (n + 1) // 2 AS sum_logid
      |FROM k""".stripMargin)

  /** Point-in-time restore chain over the STORE (P6 through readWhere,
    * reference sql:131): the as-of bound joins the database equality in
    * the file-skipping predicate — a PIT restore to mid-January never
    * opens files whose whole date envelope is newer (StoreReadSpec gates
    * the file count; here the oracle pins the VALUES: the chosen full is
    * the newest at-or-before the bound, the log chain runs past it for
    * STOPAT, exactly the reference's PIT semantics).
    */
  def q147PitRestorePruned(spark: SparkSession, dir: String): DataFrame = {
    import graft.restore.RestoreStore
    val store = dbEachBase(spark, dir)
    val asOf = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
    val full = RestoreStore.latestFullBackupFor(spark, store, "db1", "srv1",
      asOf = Some(asOf))
    val lsn = BigDecimal(full.agg(max("last_lsn")).head().getDecimal(0))
    val logs = RestoreStore.remainingLogBackupsFor(spark, store, "db1", "srv1", lsn)
    def phase(label: String, df: DataFrame) =
      df.agg(
        count(lit(1)).as("n_rows"),
        min(col("last_lsn")).cast("long").as("lsn_lo"),
        max(col("last_lsn")).cast("long").as("lsn_hi"))
        .select(lit(label).as("phase"), col("n_rows"), col("lsn_lo"),
          col("lsn_hi"))
    phase("1_pit_full", full)
      .unionByName(phase("2_stopat_logs", logs))
      .orderBy("phase")
  }

  val q147Oracle: String = BackupHistoryDerivation.oracle(
    """,
      |fulls AS (
      |  SELECT *, dense_rank() OVER (ORDER BY last_lsn DESC) AS rk
      |  FROM backup_history
      |  WHERE database_name = 'db1' AND server_name = 'srv1'
      |        AND backup_type = 'Full' AND device_type IN (2, 9)
      |        AND backup_start_date <= TIMESTAMP '2024-01-15 00:00:00'
      |),
      |chosen AS (SELECT * FROM fulls WHERE rk = 1),
      |base AS (SELECT max(last_lsn) AS lsn FROM chosen),
      |logs AS (
      |  SELECT b.* FROM backup_history b, base
      |  WHERE b.database_name = 'db1' AND b.server_name = 'srv1'
      |        AND b.backup_type = 'Log' AND b.last_lsn > base.lsn
      |)
      |SELECT '1_pit_full' AS phase, CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(min(last_lsn) AS BIGINT) AS lsn_lo,
      |       CAST(max(last_lsn) AS BIGINT) AS lsn_hi
      |FROM chosen
      |UNION ALL
      |SELECT '2_stopat_logs', CAST(count(*) AS BIGINT),
      |       CAST(min(last_lsn) AS BIGINT), CAST(max(last_lsn) AS BIGINT)
      |FROM logs
      |ORDER BY phase""".stripMargin)

  def entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q147_pit_restore_pruned" -> (q147PitRestorePruned _),
    "q146_store_repair" -> (q146StoreRepair _),
    "q145_concurrent_append" -> (q145ConcurrentAppend _),
    "q153_fleet_parallel_etl" -> (q153FleetParallelEtl _),
    "q150_delete_vs_append" -> (q150DeleteVsAppend _),
    "q142_store_restore_pruned" -> (q142StoreRestorePruned _),
    "q155_store_auto_optimize" -> (q155StoreAutoOptimize _),
    "q101_store_time_travel" -> (q101StoreTimeTravel _),
    "q114_store_merge" -> (q114StoreMerge _),
    "q122_device_lookup" -> (q122DeviceLookup _),
    "q123_streaming_merge_live" -> (q123StreamingMergeLive _),
    "q133_schema_evolution" -> (q133SchemaEvolution _),
    "q135_forget_keys" -> (q135ForgetKeys _),
    "q115_store_purge" -> (q115StorePurge _),
    "q116_store_cdf" -> (q116StoreCdf _),
    "q120_incremental_view" -> (q120IncrementalView _),
    "q14_extract_consolidated" -> (q14Extract _),
    "q15_dedup_idempotent" -> (q15DedupIdempotent _),
    "q16_retention_cleanup" -> (q16Retention _),
    "q17_watermark_window" -> (q17WatermarkWindow _),
    "q64_etl_round_trip" -> (q64EtlRoundTrip _),
    "q108_store_stats_only" -> (q108StoreStatsOnly _),
    "q81_streaming_etl_live" -> (q81StreamingEtlLive _),
    "q82_zorder_codes" -> (q82ZorderCodes _)
  )

  def oracles: Map[String, String] = Map(
    "q147_pit_restore_pruned" -> q147Oracle,
    "q146_store_repair" -> q146Oracle,
    "q145_concurrent_append" -> q145Oracle,
    "q153_fleet_parallel_etl" -> q153Oracle,
    "q150_delete_vs_append" -> q150Oracle,
    "q142_store_restore_pruned" -> q142Oracle,
    "q155_store_auto_optimize" -> q155Oracle,
    "q101_store_time_travel" -> q101Oracle,
    "q114_store_merge" -> q114Oracle,
    "q115_store_purge" -> q115Oracle,
    "q116_store_cdf" -> q116Oracle,
    "q120_incremental_view" -> q120Oracle,
    "q122_device_lookup" -> q122Oracle,
    "q123_streaming_merge_live" -> q123Oracle,
    "q133_schema_evolution" -> q133Oracle,
    "q135_forget_keys" -> q135Oracle,
    "q14_extract_consolidated" -> q14Oracle,
    "q15_dedup_idempotent" -> q15Oracle,
    "q16_retention_cleanup" -> q16Oracle,
    "q17_watermark_window" -> q17Oracle,
    "q64_etl_round_trip" -> q64Oracle,
    "q108_store_stats_only" -> q108Oracle,
    "q81_streaming_etl_live" -> q81Oracle,
    "q82_zorder_codes" -> q82Oracle
  )
}
