package graft.store

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Schemas

/** Persistence for the consolidated backup-history table
  * (`Utility.SQLBackupHistoryConsolidated`, reference sql:7-39), on
  * immutable parquet instead of a mutable heap.
  *
  * The reference's write-side contract is its unique index
  * `(last_lsn, first_lsn, database_name, physical_device_name)` with
  * `ignore_dup_key = on` (sql:33): duplicate rows re-extracted by the
  * overlapping watermark window are silently dropped, making the
  * at-least-once extract idempotent. Here that is an explicit
  * dedup + left-anti join before every append ([[mergeNew]]).
  *
  * NULL semantics: `physical_device_name` is nullable (sql:12), and a
  * SQL Server unique index treats NULLs as EQUAL — a re-extracted row
  * with a null device and matching other keys is dropped by
  * `ignore_dup_key`. The anti-join therefore uses null-safe equality
  * (`<=>`) on every key column; plain equality would let such a row
  * append twice across overlapping watermark windows.
  *
  * Scale notes: the anti-join only needs the 4 key columns of the
  * existing table (column-pruned scan), and the incoming batch is tiny
  * next to the table — Catalyst/AQE turns it into a broadcast of the
  * batch keys, so the big side never shuffles. LogID assignment windows
  * over the *batch*, not the table.
  */
object ConsolidatedStore {

  val dedupKey: Seq[String] = Schemas.dedupKey

  /** Null-safe equi-join condition on the dedup key between two aliased
    * sides — `<=>` keeps the join hashable (EqualNullSafe is a
    * supported equi-join key) while matching the unique index's
    * NULLs-are-equal comparison.
    */
  private def keyCondition(left: String, right: String): Column =
    dedupKey.map(k => col(s"$left.$k") <=> col(s"$right.$k")).reduce(_ && _)

  /** Batch-internal dedup + drop rows already present (sql:33 semantics,
    * including NULLs-are-equal: `dropDuplicates` already groups nulls
    * together, and the anti-join matches via `<=>`).
    */
  def mergeNew(existing: DataFrame, incoming: DataFrame): DataFrame = {
    val existingKeys = existing.select(dedupKey.map(col): _*).alias("ex")
    incoming
      .dropDuplicates(dedupKey)
      .alias("in")
      .join(existingKeys, keyCondition("in", "ex"), "left_anti")
  }

  /** Identity-column emulation (reference sql:9; SURVEY §7 hard-part 3):
    * continue LogIDs from the existing max, numbering the deduped batch
    * in a deterministic order. Only stability/uniqueness matter — the one
    * consumer is the striped-log canonicalization (W2, sql:1049), which
    * needs a stable min per (first_lsn, last_lsn).
    *
    * Scale note: a `row_number() OVER (ORDER BY ...)` would funnel the
    * whole batch through one reducer — fine for steady incremental loads,
    * a bottleneck on a backfill where the batch is the entire history.
    * Instead: range-repartition + sort by the id order (parallel), then
    * per-partition offsets via `zipWithIndex` (one extra count job, no
    * single-partition exchange). Ids are contiguous from `base + 1`.
    */
  def withLogIds(existing: DataFrame, freshBatch: DataFrame,
      batchRows: Long = -1L): DataFrame = {
    val maxRow = existing.agg(max("LogID")).head()
    val base = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
    withLogIdsFrom(base, freshBatch, batchRows)
  }

  /** Batch-size regime boundary: batches at/above this row count are
    * backfill/bootstrap-shaped (a first ETL, an outage catch-up) and fan
    * out into parallel writers; below it the append is a steady trickle
    * whose whole batch belongs in one compact file.
    */
  private[graft] val BootstrapSplitRows = 65536L

  /** Rows per file for fanned-out bootstrap batches — small enough that
    * a 171k-row first-ETL writes 6-way parallel, large enough that row
    * groups stay scan-efficient until compaction folds them.
    */
  private[graft] val BootstrapFileRows = 32768L

  def withLogIdsFrom(base: Long, freshBatch: DataFrame,
      batchRows: Long = -1L): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val spark = freshBatch.sparkSession
    val orderCols = Seq(
      col("backup_finish_date"), col("database_name"), col("last_lsn"),
      col("physical_device_name"))
    // partition count follows the batch, not the session default: each
    // range partition becomes one output file, and a steady incremental
    // batch shredded into 32 near-empty files costs twice — 32 parquet
    // writers' worth of column buffers now (driver-sized batches do not
    // amortize them) and a shard-per-append store for every later scan.
    // Two regimes:
    //   - trickle (< BootstrapSplitRows): one compact file;
    //   - bootstrap/backfill-sized: fan out at ~BootstrapFileRows rows
    //     per file, capped at the session parallelism. The old single
    //     ~250k-rows/file policy funneled a 171k-row first-ETL batch
    //     through ONE parquet writer — 2.3 s of q64's 8.3 s serial floor
    //     was that single task; writers parallelize near-linearly and
    //     compaction re-binds the file count later.
    val n =
      if (batchRows < 0) spark.sessionState.conf.numShufflePartitions
      else if (batchRows < BootstrapSplitRows) 1
      else math.max(1L, math.min(
        spark.sessionState.conf.numShufflePartitions.toLong,
        (batchRows + BootstrapFileRows - 1) / BootstrapFileRows)).toInt
    val sorted = freshBatch
      .repartitionByRange(n, orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
    val schema = StructType(
      StructField("LogID", LongType, nullable = false) +: sorted.schema.fields)
    val rows = sorted.rdd.zipWithIndex().map { case (r, i) =>
      Row.fromSeq((base + i + 1) +: r.toSeq)
    }
    spark.createDataFrame(rows, schema)
  }

  def read(spark: SparkSession, path: String): DataFrame = {
    val empty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), Schemas.consolidated)
    if (!StorePath.exists(spark, path)) return empty
    // a fully-deleted store still holds its metadata dirs (_graft_log,
    // _graft_history) — zero data files means the empty frame, not a parquet
    // schema-inference failure. Short-circuit probe: O(1), not a listing.
    if (!StoreMeta.hasAnyDataFile(spark, path)) empty
    else spark.read.parquet(path)
  }

  /** Idempotent append: dedup against the table, assign LogIDs, append.
    * Returns the number of rows actually written.
    *
    * Every writer takes the one optimistic claim loop ([[claimLoop]]): a
    * lone writer is an optimistic commit that never loses its claim, and
    * overlapping appenders (threads, runners, JVMs) all land. Beyond
    * [[appendConcurrent]], this entry takes the two single-writer steps:
    * a store whose data predates the log is baselined on its first
    * append ([[StoreLog.baselineIfUnlogged]]), and a foreign (non-hive)
    * layout, which has neither zone maps nor a log, keeps the
    * whole-table [[appendFullScan]].
    *
    * @param partitionBy optional physical layout columns — the Spark
    *   analog of the reference's covering indexes (sql:35-39): partition
    *   by `database_name` keeps every restore query's scan pruned to one
    *   directory, which is the access path all of them share. Date-based
    *   partitioning additionally serves the retention job. Must be the
    *   same on every append to a given path. Hive-partitioned layouts
    *   use the same zone-map-pruned O(batch + overlap) path as flat ones
    *   (the stats record root-relative paths and reads resolve them with
    *   `basePath`); only foreign/non-hive layouts fall back to the full
    *   scan.
    * @param sortWithin columns to sort by inside each written file
    *   (default `(database_name, last_lsn)` — the second half of the
    *   covering-index analogy): parquet row-group min/max stats on the
    *   sort keys let every LSN range predicate (P5, the hottest restore
    *   filter) skip row groups, not just directories. A local sort only —
    *   no extra shuffle on the write path.
    */
  def append(spark: SparkSession, path: String, incoming: DataFrame,
      partitionBy: Seq[String] = Nil,
      sortWithin: Seq[String] = Seq("database_name", "last_lsn")): Long =
    withPrepared(incoming)(appendPrepared(spark, path, _, partitionBy, sortWithin))

  /** A batch's store-independent append preamble, computed once and
    * reusable across appends of the SAME batch to any store state: the
    * key-deduped rows (checkpointed — the dedup shuffle never re-runs)
    * and their per-database envelopes. The duplicate-delivery shape:
    * one extract delivered under several server names, or a batch
    * retried after a failed load, pays this once — and every attempt of
    * the claim loop reuses it, so a lost version race re-runs only the
    * anti-join against the winner's overlap set.
    */
  private[graft] final case class PreparedBatch(
      deduped: DataFrame, envelopes: Seq[KeyRanges])

  /** Run `f` on `incoming`'s prepared batch, its deduped rows cached for
    * the call.
    */
  private def withPrepared[T](incoming: DataFrame)(f: PreparedBatch => T): T = {
    val deduped = incoming.dropDuplicates(dedupKey).cache()
    try f(PreparedBatch(deduped, batchEnvelopes(deduped)))
    finally deduped.unpersist()
  }

  /** [[append]] on a prepared batch — skips the per-call dedup shuffle
    * and envelope collect. The caller owns `deduped`'s cache/checkpoint
    * lifecycle ([[graft.util.Checkpoints.release]] when done).
    */
  private[graft] def appendPrepared(spark: SparkSession, path: String,
      prep: PreparedBatch,
      partitionBy: Seq[String] = Nil,
      sortWithin: Seq[String] = Seq("database_name", "last_lsn")): Long =
    claimLoop(spark, path, prep, partitionBy, sortWithin, DefaultMaxAttempts,
      singleWriter = true, _ => ())((_, _) => ())

  /** [[append]] without the single-writer steps, for callers that cannot
    * rule out a concurrent writer: it refuses a store whose data predates
    * the log (take one [[append]] first) and a foreign layout (no log to
    * arbitrate writers). Concurrent bootstrap of an EMPTY store is safe —
    * the version-1 claim is the arbiter.
    */
  def appendConcurrent(spark: SparkSession, path: String, incoming: DataFrame,
      sortWithin: Seq[String] = Seq("database_name", "last_lsn"),
      maxAttempts: Int = DefaultMaxAttempts,
      partitionBy: Seq[String] = Nil): Long =
    appendConcurrentHooked(spark, path, incoming, sortWithin, maxAttempts,
      partitionBy)((_, _) => ())

  /** [[appendConcurrent]] with test seams: `onAttempt(attempt)` fires as
    * each optimistic attempt starts, and `beforeCommit(attempt, v0)` runs
    * after the batch files are published but before the version claim —
    * exactly the window a racing writer can win in. The concurrency spec
    * injects a competing commit there to drive the redo path
    * deterministically.
    */
  private[graft] def appendConcurrentHooked(
      spark: SparkSession, path: String, incoming: DataFrame,
      sortWithin: Seq[String], maxAttempts: Int,
      partitionBy: Seq[String] = Nil,
      onAttempt: Int => Unit = _ => ())(
      beforeCommit: (Int, Int) => Unit): Long =
    withPrepared(incoming)(claimLoop(spark, path, _, partitionBy, sortWithin,
      maxAttempts, singleWriter = false, onAttempt)(beforeCommit))

  /** Version claims an append may lose before it gives up. */
  private val DefaultMaxAttempts = 8

  /** 20 ms polls [[committedState]] waits for a bootstrapping writer's
    * version-1 claim (2 s) and [[coveredHead]] for a replacer's swap to
    * commit (3 s) — each a single small metadata write on the other
    * writer's side.
    */
  private val BootstrapPolls = 100
  private val CoveragePolls = 150

  /** Per-`database_name` key envelopes of a deduped batch — driver-small
    * (one row per database present in the batch). Package-visible for
    * the pruning specs.
    */
  private[graft] def batchEnvelopes(deduped: DataFrame): Seq[KeyRanges] =
    deduped.groupBy("database_name")
      .agg(
        min("last_lsn"), max("last_lsn"),
        min("first_lsn"), max("first_lsn"),
        min("physical_device_name"), max("physical_device_name"),
        sum(when(col("physical_device_name").isNull, 1L).otherwise(0L)),
        sort_array(collect_set(when(col("physical_device_name").isNotNull,
          xxhash64(col("physical_device_name"))))),
        count(lit(1)))
      .collect().toSeq
      .map { r =>
        val db = r.getString(0)
        val hashes = r.getSeq[Long](8)
        KeyRanges(
          r.getDecimal(1), r.getDecimal(2), r.getDecimal(3), r.getDecimal(4),
          db, db,
          if (r.isNullAt(5)) null else r.getString(5),
          if (r.isNullAt(6)) null else r.getString(6),
          r.getLong(7),
          devHashes =
            if (hashes.size > StoreMeta.DevHashSetCap) null else hashes,
          rows = r.getLong(9))
      }

  /** Zone-map/file-stat aggregates observed DURING a fused staged write
    * (one `CollectMetrics` node, exactly-once per action) — the names
    * match [[observedStats]], which turns the metric row into the
    * [[FileStats]] the stats rescan used to produce.
    */
  private[graft] def appendObservation(laidOut: DataFrame)
      : (org.apache.spark.sql.Observation, DataFrame) = {
    val dev = col("physical_device_name")
    val obs = org.apache.spark.sql.Observation()
    val observed = laidOut.observe(obs,
      count(lit(1)).as("n"),
      max("LogID").as("logid_max"),
      min("last_lsn").as("last_lsn_min"),
      max("last_lsn").as("last_lsn_max"),
      min("first_lsn").as("first_lsn_min"),
      max("first_lsn").as("first_lsn_max"),
      min("database_name").as("db_min"),
      max("database_name").as("db_max"),
      min(dev).as("dev_min"), max(dev).as("dev_max"),
      sum(when(dev.isNull, 1L).otherwise(0L)).as("dev_nulls"),
      sort_array(collect_set(when(dev.isNotNull, xxhash64(dev))))
        .as("dev_hashes"),
      min(unix_micros(col("backup_start_date"))).as("start_min"),
      max(unix_micros(col("backup_start_date"))).as("start_max"))
    (obs, observed)
  }

  /** [[FileStats]] of a single-file fused write from its observed
    * metrics — field-for-field what [[StoreMeta.scanStats]] reads back
    * from the parquet footers (same aggregates, same DevHashSetCap
    * overflow-to-null).
    */
  private[graft] def observedStats(
      m: Map[String, Any], file: String): FileStats = {
    val hashes = m("dev_hashes").asInstanceOf[Seq[Long]]
    FileStats(
      file,
      m("logid_max").asInstanceOf[Long],
      m("last_lsn_min").asInstanceOf[java.math.BigDecimal],
      m("last_lsn_max").asInstanceOf[java.math.BigDecimal],
      m("first_lsn_min").asInstanceOf[java.math.BigDecimal],
      m("first_lsn_max").asInstanceOf[java.math.BigDecimal],
      m("db_min").asInstanceOf[String],
      m("db_max").asInstanceOf[String],
      m("dev_min").asInstanceOf[String],
      m("dev_max").asInstanceOf[String],
      m("dev_nulls").asInstanceOf[Long],
      devHashes =
        if (hashes.size > StoreMeta.DevHashSetCap) null else hashes,
      startMinUs = m("start_min").asInstanceOf[Long],
      startMaxUs = m("start_max").asInstanceOf[Long])
  }

  /** Zone-map-pruned read: open ONLY the committed files whose stats
    * envelope can hold a row satisfying `bounds`, then apply the exact
    * row-level residual — semantically identical to
    * `read(...).filter(residual)` at one committed version, physically
    * the reference's covering-index access path (sql:35-39): a
    * restore-chain lookup for one database on a 100 TB store opens the
    * handful of files whose (database_name, last_lsn) envelope
    * intersects the predicate instead of scanning every file's footer.
    * Stores without a log (and foreign layouts) take the plain filtered
    * scan.
    *
    * Schema note: a BOUNDED read projects the full consolidated schema
    * (null-filling optional columns a writer omitted), while the
    * unconstrained fallback returns [[read]]'s inferred schema — the
    * row SET is identical either way.
    */
  def readWhere(spark: SparkSession, path: String,
      bounds: StoreMeta.ReadBounds): DataFrame = {
    val residual = StoreMeta.residual(bounds)
    if (bounds.unconstrained) return read(spark, path)
    loggedHead(spark, path) match {
      case None => read(spark, path).filter(residual)
      case Some(st) =>
        readFiles(spark, path, st.live.filter(f => StoreMeta.mayContain(f, bounds)))
          .filter(residual)
    }
  }

  /** The consolidated-schema read of some of the store's files. */
  private def readFiles(
      spark: SparkSession, path: String, files: Seq[FileStats]): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        Schemas.consolidated)
    else spark.read
      .option("basePath", path).schema(Schemas.consolidated)
      .parquet(files.map(f => s"$path/${f.file}"): _*)

  /** `xxhash64(physical_device_name)` (Spark's seed 42) of one device
    * name, computed on the driver — the value the zone maps' per-file
    * device-hash sets hold, without a Spark job per lookup.
    */
  private[graft] def deviceHash(device: String): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(device),
      org.apache.spark.sql.types.StringType, 42L)

  /** Device point lookup ("which backups landed on this device" — the
    * fleet-ops question behind the reference's media-recovery paths):
    * reads ONLY committed files whose device-hash set contains the probe
    * (exact xxhash64 membership; files without a recorded set fall back
    * to their min/max range, pre-migration rows stay conservative).
    * A null probe matches files holding null-device rows, consistent
    * with the NULLs-are-equal key semantics.
    */
  def readForDevice(spark: SparkSession, path: String,
      device: String): DataFrame = {
    val probe = col("physical_device_name") <=>
      (if (device == null) lit(null).cast("string") else lit(device))
    loggedHead(spark, path) match {
      case None => read(spark, path).filter(probe)
      case Some(st) =>
        val h = if (device == null) 0L else deviceHash(device)
        readFiles(spark, path, st.live.filter { f =>
          if (device == null) f.devNullCount != 0
          else if (f.devHashes != null) f.devHashes.contains(h)
          else f.devMin == null || f.devMax == null ||
            (StoreMeta.cmpUtf8(f.devMin, device) <= 0 &&
              StoreMeta.cmpUtf8(device, f.devMax) <= 0) ||
            f.devNullCount < 0 // pre-migration row: consult
        }).filter(probe)
    }
  }

  /** The one append protocol; every entry above is a thin shell over it.
    * Per attempt, on a batch whose preamble is already paid:
    *
    *   1. read the COMMITTED state ([[committedState]]): the head version
    *      v0 and its live files with their zone-map stats from one log
    *      read (a racing writer's uncommitted files are invisible — dedup
    *      and LogID assignment never consume phantoms);
    *   2. anti-join the batch against the envelope-overlapping live
    *      files, assign LogIDs from the committed max;
    *   3. write the batch files into a `_graft_staging/<uuid>` dir
    *      (invisible to scans), move them into the root — exact
    *      ownership of the new file names, no listing diffs;
    *   4. claim version v0+1 via [[StoreLog.tryCommit]]'s atomic
    *      create-no-overwrite, the commit carrying the new files' stats.
    *      Win → done. Loss →
    *      delete own files and REDO from step 1 against the new state
    *      (appends are commutative but not blind: the redo re-runs the
    *      dedup and re-bases the LogIDs, which is what keeps "no lost
    *      rows + unique LogIDs" under interleaving; O(batch) per retry).
    *
    * A racing copy-on-write commit (merge/delete/compaction) that
    * archives a file between step 1 and the read is not a failure
    * either: the attempt is redone against the racer's committed state,
    * exactly as a lost claim is.
    *
    * Readers that list the directory can observe a writer's files during
    * its step-3→4 window; a crash there leaves uncommitted orphans that
    * [[StoreRepair.repair]] reconciles.
    *
    * @param singleWriter take the single-writer steps — baseline a store
    *   whose data predates the log, full-scan a foreign layout — instead
    *   of refusing them
    */
  private def claimLoop(
      spark: SparkSession, path: String, prep: PreparedBatch,
      partitionBy: Seq[String], sortWithin: Seq[String], maxAttempts: Int,
      singleWriter: Boolean, onAttempt: Int => Unit)(
      beforeCommit: (Int, Int) => Unit): Long = {
    if (prep.envelopes.isEmpty) return 0L
    var attempt = 0
    while (true) {
      attempt += 1
      if (attempt > maxAttempts)
        throw new StoreLog.ConcurrentCommitException(
          s"append on $path lost $maxAttempts version races; reduce " +
            "writer contention or raise maxAttempts")
      // attempt accounting fires at the LOOP TOP: attempts that abort
      // before publish (fileVanished redo, empty-fresh early return)
      // never reach the beforeCommit seam, so counting there
      // undercounts redone work under CoW interference
      onAttempt(attempt)
      try {
        committedState(spark, path, singleWriter) match {
          case None =>
            require(singleWriter,
              s"appendConcurrent on $path: a foreign (non-hive) layout has " +
                "no commit log to arbitrate writers — append from one writer")
            return appendFullScanDeduped(spark, path, prep.deduped,
              partitionBy, sortWithin)
          case Some(state) =>
            claimOnce(spark, path, prep, state, partitionBy, sortWithin,
              attempt, beforeCommit) match {
              case Some(n) => return n
              case None => () // lost the claim: redo against the winner
            }
        }
      } catch {
        case e: Exception if StoreLog.fileVanished(e) => ()
      }
    }
    0L // unreachable
  }

  /** Step 1 of [[claimLoop]] (and the state read of [[StoreDelete]] and
    * [[StoreMerge]]); None = foreign layout. Waits out two states that
    * another writer resolves within one small metadata write:
    *
    *   - data files at version 0: a bootstrapping writer inside its
    *     publish→claim window, or data that predates the log. Files still
    *     unclaimed after the wait predate the log: a single writer
    *     baselines them, a concurrent one refuses (committing would
    *     orphan the data; baselining could absorb a live bootstrapper's
    *     files);
    *   - a committed-live file missing from the directory (see
    *     [[coveredHead]]).
    */
  private[store] def committedState(spark: SparkSession, path: String,
      singleWriter: Boolean): Option[StoreLog.HeadState] = {
    var polls = 0
    while (true) {
      coveredHead(spark, path) match {
        case Some((st, hasFiles)) if st.version == 0 && hasFiles =>
          if (polls < BootstrapPolls) { polls += 1; Thread.sleep(20L) }
          else {
            require(singleWriter,
              s"appendConcurrent bootstrap on unlogged non-empty store $path: " +
                "take one append first to baseline the log " +
                "(or run StoreRepair.repair if a bootstrapping writer died)")
            StoreLog.baselineIfUnlogged(spark, path)
            polls = 0
          }
        case other => return other.map(_._1)
      }
    }
    None // unreachable
  }

  /** The head state for a pruned read; None = no log or a foreign
    * layout (take the plain filtered scan).
    */
  private[store] def loggedHead(
      spark: SparkSession, path: String): Option[StoreLog.HeadState] =
    coveredHead(spark, path).map(_._1).filter(_.version > 0)

  /** The head state once every file it lists live is on disk, and
    * whether the directory holds any data file; None = foreign layout.
    * A committed-live file missing from the directory means a
    * copy-on-write replacer's archive→commit swap is in flight: reading
    * around it would skip dedup against those rows and fold the LogID
    * base over an incomplete set — duplicate keys and colliding ids
    * committed with no error. A state that outlasts the wait is a dead
    * replacer: fail and point at repair.
    */
  private def coveredHead(spark: SparkSession,
      path: String): Option[(StoreLog.HeadState, Boolean)] = {
    var polls = 0
    while (true) {
      val st = StoreLog.headState(spark, path)
      val onDisk = StoreMeta.listDataFiles(spark, path) match {
        case None => return None
        case Some(files) => files.toSet
      }
      if (st.live.forall(f => onDisk(f.file))) return Some((st, onDisk.nonEmpty))
      if (polls < CoveragePolls) { polls += 1; Thread.sleep(20L) }
      else throw new StoreLog.ConcurrentCommitException(
        s"store $path: committed-live files are missing from the " +
          "directory and no replacing commit landed — a copy-on-write " +
          "writer died mid-swap; run StoreRepair.repair")
    }
    None // unreachable
  }

  /** Steps 2–4 of [[claimLoop]] on one committed state: Some(rows
    * appended), or None when another writer claimed v0+1 first (this
    * attempt's files are already retracted).
    *
    * Flat trickle-sized batches take ONE batch action. The deduped row
    * count riding the envelopes is an upper bound on the fresh rows
    * (the anti-join only shrinks), and under the bootstrap boundary
    * both land in the one-compact-file regime, so the exact fresh count
    * and the new file's zone-map stats are observed DURING the staged
    * write (CollectMetrics — exactly-once per action) instead of by a
    * count before it and a stats rescan after. Hive layouts (a task
    * writes one file per partition VALUE, so per-file stats need the
    * rescan) and bootstrap-sized batches (the fan-out file count
    * ⌈n/32768⌉ is pinned on the exact n) count first.
    */
  private def claimOnce(
      spark: SparkSession, path: String, prep: PreparedBatch,
      state: StoreLog.HeadState, partitionBy: Seq[String],
      sortWithin: Seq[String], attempt: Int,
      beforeCommit: (Int, Int) => Unit): Option[Long] = {
    val v0 = state.version
    val live = state.live
    val deduped = prep.deduped
    val overlapping = live
      .filter(f => prep.envelopes.exists(b => StoreMeta.overlaps(f, b)))
    val base = state.maxLogId
    def antiJoined(): DataFrame = deduped.alias("in")
      .join(readFiles(spark, path, overlapping)
        .select(dedupKey.map(col): _*).alias("ex"),
        keyCondition("in", "ex"), "left_anti")
    def laidOut(assigned: DataFrame): DataFrame =
      if (sortWithin.isEmpty) assigned
      else assigned.sortWithinPartitions(sortWithin.map(col): _*)
    val est =
      if (prep.envelopes.exists(_.rows < 0L)) -1L
      else prep.envelopes.map(_.rows).sum
    // (fresh rows, this writer's new files, their stats if observed)
    val (n, mine, observed) =
      if (partitionBy.isEmpty && est >= 0L && est < BootstrapSplitRows) {
        val fresh = if (overlapping.isEmpty) deduped else antiJoined()
        val (obs, observing) =
          appendObservation(laidOut(withLogIdsFrom(base, fresh, batchRows = est)))
        val (stageDir, staged) = Staging.stage(spark, path, observing, Nil)
        val m = obs.get
        val n = m("n").asInstanceOf[Long]
        if (n == 0L) { Staging.abandon(spark, stageDir); (0L, Nil, None) }
        else {
          val files = Staging.promote(spark, path, stageDir, staged)
          (n, files,
            if (files.size == 1) Some(Seq(observedStats(m, files.head))) else None)
        }
      } else {
        // no overlapping files → every deduped row is fresh; reuse the
        // already-cached batch instead of stacking a second cache on it
        val fresh = if (overlapping.isEmpty) deduped else antiJoined().cache()
        try {
          val n = fresh.count()
          if (n == 0L) (0L, Nil, None)
          else (n, Staging.publish(spark, path,
            laidOut(withLogIdsFrom(base, fresh, batchRows = n)), partitionBy),
            None)
        } finally if (fresh ne deduped) fresh.unpersist()
      }
    if (n == 0L) return Some(0L)
    val stats = observed.getOrElse(StoreMeta.scanStats(spark, path, mine))
    beforeCommit(attempt, v0)
    if (!StoreLog.tryCommit(spark, path, v0 + 1, "append",
        adds = stats, removes = Nil)) {
      // lost the claim: un-publish our files — the winner may hold our
      // keys or our LogID range
      Staging.retract(spark, path, mine)
      return None
    }
    Some(n)
  }

  /** The pre-zone-map shape — whole-table key scan + whole-table max —
    * kept for foreign (non-hive) layouts where per-file zone maps cannot
    * be reconstructed. Single-writer: there is no log to arbitrate.
    */
  private[graft] def appendFullScan(
      spark: SparkSession, path: String, incoming: DataFrame,
      partitionBy: Seq[String], sortWithin: Seq[String]): Long =
    appendFullScanDeduped(spark, path, incoming.dropDuplicates(dedupKey),
      partitionBy, sortWithin)

  private def appendFullScanDeduped(
      spark: SparkSession, path: String, deduped: DataFrame,
      partitionBy: Seq[String], sortWithin: Seq[String]): Long = {
    val existing = read(spark, path)
    val existingKeys = existing.select(dedupKey.map(col): _*).alias("ex")
    val fresh = deduped.alias("in")
      .join(existingKeys, keyCondition("in", "ex"), "left_anti")
      .cache()
    try {
      val n = fresh.count()
      if (n > 0) {
        val assigned = withLogIds(existing, fresh, batchRows = n)
        val laidOut =
          if (sortWithin.isEmpty) assigned
          else assigned.sortWithinPartitions(sortWithin.map(col): _*)
        val writer = laidOut.write.mode(SaveMode.Append)
        (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer)
          .parquet(path)
      }
      n
    } finally fresh.unpersist()
  }
}
