package graft.script

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.{BackupTypes, DeviceTypes}
import graft.restore.RestoreQueries

/** Fleet-wide point-in-time restore planning: the chain selection of
  * [[RestoreScriptGenerator]] for EVERY (database, key) at once, as one
  * declarative plan — no driver loop, no scalar collects. At fleet scale
  * (thousands of databases) the scalar planner's per-database round
  * trips dominate; here every phase is a window or aggregation
  * partitioned by the access-path key, so the whole fleet costs a few
  * shuffles on `(database_name, key)` regardless of database count.
  *
  * Semantics match the scalar planner (equivalence-tested in
  * FleetPlannerSpec): newest restorable full (all stripes), diff unless
  * the full is copy-only, log chain past the base LSN up to the restore
  * time plus the first log after it, striped sets collapsed, steps
  * numbered full=1, diff=2, logs onward by LSN.
  */
object FleetRestorePlanner {

  private def deviceClause: Column = concat(
    when(col("device_type") === DeviceTypes.Url, lit("URL = N'"))
      .otherwise(lit("DISK = N'")),
    col("physical_device_name"), lit("'"))

  /** Ordered multi-device FROM list over the grouped stripes. */
  private def fromClauseAgg: Column =
    array_join(
      transform(
        array_sort(collect_list(struct(
          col("physical_device_name").as("k"), deviceClause.as("v")))),
        x => x.getField("v")),
      ",\n")

  /** `@ConcatenatedPhysicalDevice` csv (reference sql:786-787). */
  private def deviceCsvAgg: Column =
    array_join(array_sort(collect_list(col("physical_device_name"))), ", ")

  /** One row per (database, key, restore step).
    * Output: database_name, key, restore_id, backup_type,
    * backup_start_date, first_lsn, last_lsn, from_clause,
    * physical_devices, stopat.
    */
  def planAll(
      bh: DataFrame,
      keyCol: String,
      restoreTo: java.sql.Timestamp): DataFrame =
    planParts(bh, keyCol, restoreTo).plan

  /** The step union plus the materialized full-phase base — the latter is
    * what [[planAllWithFallback]] probes for membership, so it never
    * re-runs the full-phase rank window. `bases` are the checkpointed
    * phase frames whose storage blocks the consumer should release once
    * its action has run ([[graft.util.Checkpoints.release]]).
    *
    * [[planAll]] hands its (lazy) plan to the caller, so its two bases
    * stay checkpointed until the ContextCleaner collects them with the
    * plan reference — driver-small (one row per (db, key)), accepted.
    * [[planAllWithFallback]] consumes everything eagerly and releases.
    */
  private final case class PlanParts(
      plan: DataFrame, fullSets: DataFrame, bases: Seq[DataFrame])

  private def planParts(
      bh: DataFrame,
      keyCol: String,
      restoreTo: java.sql.Timestamp): PlanParts = {
    val groupKeys = Seq("database_name", keyCol)
    val gk = groupKeys.map(col)

    // phase 1: newest restorable full per group, collapsed to one row.
    // backup_start_date mirrors the scalar planner exactly: the
    // device-ordered head stripe's value (RestoreScriptGenerator.plan
    // orders stripes by physical_device_name and reads the head).
    //
    // One row per (db, key) — driver-small — and consumed by THREE later
    // phases (full steps, diff base, log base) inside a single action.
    // localCheckpoint, not cache: cache population during one action does
    // not reliably dedup concurrent subtree scans, so the rank window over
    // the whole table can run once per consumer (measured 7x on the q39
    // bench row). The eager checkpoint pays the window exactly once.
    val fullSets = RestoreQueries
      .latestFullBackupsPerKey(bh, keyCol, asOf = Some(lit(restoreTo)))
      .groupBy(gk: _*)
      .agg(
        min_by(col("backup_start_date"), col("physical_device_name"))
          .as("backup_start_date"),
        min("first_lsn").as("first_lsn"),
        max("last_lsn").as("last_lsn"),
        max(coalesce(col("is_copy_only"), lit(false))).as("full_copy_only"),
        fromClauseAgg.as("from_clause"),
        deviceCsvAgg.as("physical_devices"))
      .localCheckpoint()
    val fullSteps = fullSets.select(
      (gk :+ lit(1L).as("restore_id") :+ lit(BackupTypes.Full).as("backup_type") :+
        col("backup_start_date") :+ col("first_lsn") :+ col("last_lsn") :+
        col("from_clause") :+ col("physical_devices") :+ lit(false).as("stopat")): _*)

    // per-group base for the diff phase = the full's last_lsn
    val fullLsn = fullSets.select(
      (gk :+ col("last_lsn").as("full_lsn") :+ col("full_copy_only")): _*)

    // phase 2: newest diff past the full, unless the full was copy-only.
    // Mirrors the reference SCRIPT proc's diff phase (sql:858-912) — no
    // blocking-full truncation by design; see the fidelity note in
    // RestoreScriptGenerator's phase 2 (the truncation is
    // GetLastDiffBackup's semantics, q12/lastDiffBackupsPerKey)
    val diffSets = RestoreQueries.rankOneStripes(
        bh.filter(col("BackupType") === BackupTypes.Diff)
          .filter(col("backup_start_date") <= lit(restoreTo))
          .filter(col(keyCol).isNotNull)
          .join(broadcast(fullLsn), groupKeys)
          .filter(!col("full_copy_only"))
          .filter(col("last_lsn") > col("full_lsn")),
        groupKeys)
      .groupBy(gk: _*)
      .agg(
        min_by(col("backup_start_date"), col("physical_device_name"))
          .as("backup_start_date"),
        min("first_lsn").as("first_lsn"),
        max("last_lsn").as("last_lsn"),
        fromClauseAgg.as("from_clause"),
        deviceCsvAgg.as("physical_devices"))
      // reused by diff steps + the log-phase base; eager for the same
      // single-action reason as fullSets
      .localCheckpoint()
    val diffSteps = diffSets.select(
      (gk :+ lit(2L).as("restore_id") :+ lit(BackupTypes.Diff).as("backup_type") :+
        col("backup_start_date") :+ col("first_lsn") :+ col("last_lsn") :+
        col("from_clause") :+ col("physical_devices") :+ lit(false).as("stopat")): _*)

    // per-group base for the log phase: diff's lsn, else full's
    val baseLsn = fullLsn
      .join(diffSets.select((gk :+ col("last_lsn").as("diff_lsn")): _*),
        groupKeys, "left")
      .select((gk :+ coalesce(col("diff_lsn"), col("full_lsn")).as("base_lsn") :+
        when(col("diff_lsn").isNotNull, 2L).otherwise(1L).as("base_steps")): _*)

    // phase 3: log chain past the base + the first log after restoreTo
    val logs = bh.filter(col("BackupType") === BackupTypes.Log)
      .filter(col(keyCol).isNotNull)
      .join(broadcast(baseLsn), groupKeys)
      .filter(col("last_lsn") > col("base_lsn"))
    val inRange = logs.filter(col("backup_start_date") <= lit(restoreTo))
    // every row of the first log backup SET after restoreTo (the scalar
    // planner's rule): rank, not row_number, keeps all of its stripes
    val overlap = logs
      .filter(col("backup_start_date") > lit(restoreTo))
      .withColumn("__rk", rank().over(
        Window.partitionBy(gk: _*)
          .orderBy(col("backup_start_date"), col("last_lsn"), col("first_lsn"))))
      .filter(col("__rk") === 1)
      .drop("__rk")
    // max(backup_start_date) matches the scalar log phase's collapse
    val logSets = inRange.union(overlap).dropDuplicates("LogID")
      .groupBy((gk ++ Seq(col("first_lsn"), col("last_lsn"))): _*)
      .agg(
        max("backup_start_date").as("backup_start_date"),
        fromClauseAgg.as("from_clause"),
        deviceCsvAgg.as("physical_devices"),
        first("base_steps").as("base_steps"))
    val wLogs = Window.partitionBy(gk: _*).orderBy(col("last_lsn"))
    val logSteps = logSets
      .withColumn("__seq", row_number().over(wLogs))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(gk: _*)))
      .select(
        (gk :+ (col("__seq") + col("base_steps")).cast("long").as("restore_id") :+
          lit(BackupTypes.Log).as("backup_type") :+
          col("backup_start_date") :+ col("first_lsn") :+ col("last_lsn") :+
          col("from_clause") :+ col("physical_devices") :+
          (col("__seq") >= col("__n") - 1).as("stopat")): _*)

    PlanParts(
      fullSteps.union(diffSteps).union(logSteps)
        .withColumnRenamed(keyCol, "key"),
      fullSets,
      bases = Seq(fullSets, diffSets))
  }

  /** Fleet analog of the reference's server→AG fallback (sql:145-170,
    * [[RestoreQueries.withServerAgFallback]]): plan everything keyed by
    * `server_name`; any database that produced NO steps that way (e.g.
    * its backups carry only `ag_name`) is re-planned keyed by `ag_name`
    * and unioned in. The fallback set is per database — the same
    * granularity at which the scalar proc decides — and its anti-join is
    * over two tiny distinct-db relations, so the extra cost is one pass
    * over the (pruned) slice of fallback databases.
    */
  def planAllWithFallback(
      bh: DataFrame,
      restoreTo: java.sql.Timestamp): DataFrame = {
    val byServer = planParts(bh, "server_name", restoreTo)
    // a database yields server-keyed steps iff it has a qualifying full
    // keyed by server (the diff and log phases join onto the full sets,
    // so no full => no steps at all) — so the fallback membership is read
    // straight off the already-checkpointed full-phase base: zero extra
    // passes over the table. (Reading byServer.plan twice would
    // re-evaluate the log-phase windows; re-running
    // latestFullBackupsPerKey — the previous shape — paid the full-phase
    // rank window a second time.)
    val planned = byServer.fullSets.select("database_name").distinct()
    val unplanned = bh.select("database_name").distinct()
      .join(planned, Seq("database_name"), "left_anti")
    val byAg = planParts(
      bh.join(broadcast(unplanned), Seq("database_name")), "ag_name", restoreTo)
    // one eager action consumes all four checkpointed phase bases, whose
    // blocks are then freed immediately instead of on ContextCleaner GC
    // (a long-lived driver looping over plans would accumulate them).
    // The returned frame is itself checkpointed — plan-sized, owned by
    // the caller, collected with its reference.
    val result = byServer.plan.union(byAg.plan).localCheckpoint()
    (byServer.bases ++ byAg.bases).foreach(graft.util.Checkpoints.release)
    result
  }
}
