package graft.queries

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.BackupHistoryDerivation.{canonicalFrame, oracle}
import graft.script.{RestoreScriptGenerator, RestoreScriptOptions}

/** The full point-in-time restore planner end-to-end (SURVEY §3.2) on the
  * derived backup history: q18 checks the chain structure (which backup
  * sets, in which order, with which multi-device FROM clauses and STOPAT
  * flags) against a DuckDB oracle that re-implements the planner in SQL;
  * q19 exposes the rendered commands (rows-only check — command text is
  * engine-defined).
  */
object ScriptQueries {

  private val T = Timestamp.valueOf("2024-01-20 00:00:00")
  private val opts = RestoreScriptOptions(
    sourceDb = "db0", sourceServer = Some("srv0"), restoreToTime = Some(T))

  def q18RestoreChain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val plan = RestoreScriptGenerator.generate(spark, canonicalFrame(spark, dir), opts)
    plan.steps
      .map(s => (s.RestoreID, s.BackupType, s.first_lsn, s.last_lsn,
        s.from_clause, s.stop_at.isDefined))
      .toDF("restore_id", "backup_type", "first_lsn", "last_lsn",
        "from_clause", "stopat")
      .withColumn("first_lsn", col("first_lsn").cast("bigint"))
      .withColumn("last_lsn", col("last_lsn").cast("bigint"))
      .orderBy("restore_id")
  }

  val q18Oracle: String = oracle(
    """, bh AS (
      |  SELECT * FROM backup_history
      |  WHERE database_name = 'db0' AND server_name = 'srv0'
      |),
      |full_ranked AS (
      |  SELECT *, dense_rank() OVER (ORDER BY last_lsn DESC) AS rk FROM bh
      |  WHERE backup_type = 'Full' AND device_type IN (2, 9)
      |    AND backup_start_date <= TIMESTAMP '2024-01-20 00:00:00'
      |),
      |chosen_full AS (SELECT * FROM full_ranked WHERE rk = 1),
      |full_info AS (
      |  SELECT max(last_lsn) AS lsn, bool_or(is_copy_only) AS co FROM chosen_full
      |),
      |diff_ranked AS (
      |  SELECT b.*, dense_rank() OVER (ORDER BY b.last_lsn DESC) AS rk
      |  FROM bh b, full_info f
      |  WHERE b.backup_type = 'Diff' AND b.last_lsn > f.lsn
      |    AND b.backup_start_date <= TIMESTAMP '2024-01-20 00:00:00'
      |    AND NOT f.co
      |),
      |chosen_diff AS (SELECT * FROM diff_ranked WHERE rk = 1),
      |base_lsn AS (
      |  SELECT coalesce((SELECT max(last_lsn) FROM chosen_diff),
      |                  (SELECT max(lsn) FROM full_info)) AS lsn
      |),
      |logs_in AS (
      |  SELECT b.* FROM bh b, base_lsn
      |  WHERE b.backup_type = 'Log' AND b.last_lsn > base_lsn.lsn
      |    AND b.backup_start_date <= TIMESTAMP '2024-01-20 00:00:00'
      |),
      |log_after AS (
      |  SELECT * EXCLUDE (rk) FROM (
      |    SELECT b.*, rank() OVER (ORDER BY b.backup_start_date, b.last_lsn,
      |                                      b.first_lsn) AS rk
      |    FROM bh b, base_lsn
      |    WHERE b.backup_type = 'Log' AND b.last_lsn > base_lsn.lsn
      |      AND b.backup_start_date > TIMESTAMP '2024-01-20 00:00:00')
      |  WHERE rk = 1
      |),
      |log_union AS (SELECT * FROM logs_in UNION SELECT * FROM log_after),
      |log_sets AS (
      |  SELECT first_lsn, last_lsn,
      |         string_agg(
      |           CASE WHEN device_type = 9 THEN 'URL = N''' ELSE 'DISK = N''' END
      |             || physical_device_name || '''',
      |           ',' || chr(10) ORDER BY physical_device_name) AS from_clause
      |  FROM log_union GROUP BY first_lsn, last_lsn
      |),
      |log_steps AS (
      |  SELECT row_number() OVER (ORDER BY last_lsn) AS log_seq,
      |         count(*) OVER () AS n_logs,
      |         first_lsn, last_lsn, from_clause
      |  FROM log_sets
      |),
      |has_diff AS (SELECT count(*) AS n FROM chosen_diff),
      |stripe_agg_full AS (
      |  SELECT CAST(1 AS BIGINT) AS restore_id, 'Full' AS backup_type,
      |         CAST(min(first_lsn) AS BIGINT) AS first_lsn,
      |         CAST(max(last_lsn) AS BIGINT) AS last_lsn,
      |         string_agg(
      |           CASE WHEN device_type = 9 THEN 'URL = N''' ELSE 'DISK = N''' END
      |             || physical_device_name || '''',
      |           ',' || chr(10) ORDER BY physical_device_name) AS from_clause,
      |         false AS stopat
      |  FROM chosen_full
      |),
      |stripe_agg_diff AS (
      |  SELECT CAST(2 AS BIGINT) AS restore_id, 'Diff' AS backup_type,
      |         CAST(min(first_lsn) AS BIGINT) AS first_lsn,
      |         CAST(max(last_lsn) AS BIGINT) AS last_lsn,
      |         string_agg(
      |           CASE WHEN device_type = 9 THEN 'URL = N''' ELSE 'DISK = N''' END
      |             || physical_device_name || '''',
      |           ',' || chr(10) ORDER BY physical_device_name) AS from_clause,
      |         false AS stopat
      |  FROM chosen_diff HAVING count(*) > 0
      |)
      |SELECT * FROM stripe_agg_full
      |UNION ALL SELECT * FROM stripe_agg_diff
      |UNION ALL
      |SELECT CAST(log_seq + 1 + (SELECT CASE WHEN n > 0 THEN 1 ELSE 0 END
      |                           FROM has_diff) AS BIGINT) AS restore_id,
      |       'Log' AS backup_type,
      |       CAST(first_lsn AS BIGINT) AS first_lsn,
      |       CAST(last_lsn AS BIGINT) AS last_lsn, from_clause,
      |       log_seq >= n_logs - 1 AS stopat
      |FROM log_steps
      |ORDER BY restore_id""".stripMargin)

  /** Rendered restore commands incl. MOVE relocation and STOPAT. The
    * command text is deterministic (SURVEY §4 orderings), so the oracle
    * rebuilds it byte-for-byte: same chain CTEs as q18, plus the MOVE
    * clause derived from db0's DBFileInformation (data file relocated to
    * the restoreDataPath, log file kept in its original directory, both
    * prefixed), `FILE = max(position)` per collapsed log set, and STOPAT
    * on the last two logs (reference sql:1266-1272).
    */
  def q19RestoreScript(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val plan = RestoreScriptGenerator.generate(
      spark, canonicalFrame(spark, dir),
      opts.copy(
        destinationDb = Some("db0_restored"),
        restoreDataPath = Some("Y:/newdata"),
        fileNamePrefix = Some("restored_")))
    plan.steps
      .map(s => (s.RestoreID, s.BackupType, s.RestoreCommand))
      .toDF("restore_id", "backup_type", "restore_command")
      .orderBy("restore_id")
  }

  val q19Oracle: String = oracle(
    """, bh AS (
      |  SELECT * FROM backup_history
      |  WHERE database_name = 'db0' AND server_name = 'srv0'
      |),
      |full_ranked AS (
      |  SELECT *, dense_rank() OVER (ORDER BY last_lsn DESC) AS rk FROM bh
      |  WHERE backup_type = 'Full' AND device_type IN (2, 9)
      |    AND backup_start_date <= TIMESTAMP '2024-01-20 00:00:00'
      |),
      |chosen_full AS (SELECT * FROM full_ranked WHERE rk = 1),
      |full_info AS (
      |  SELECT max(last_lsn) AS lsn, bool_or(is_copy_only) AS co FROM chosen_full
      |),
      |diff_ranked AS (
      |  SELECT b.*, dense_rank() OVER (ORDER BY b.last_lsn DESC) AS rk
      |  FROM bh b, full_info f
      |  WHERE b.backup_type = 'Diff' AND b.last_lsn > f.lsn
      |    AND b.backup_start_date <= TIMESTAMP '2024-01-20 00:00:00'
      |    AND NOT f.co
      |),
      |chosen_diff AS (SELECT * FROM diff_ranked WHERE rk = 1),
      |base_lsn AS (
      |  SELECT coalesce((SELECT max(last_lsn) FROM chosen_diff),
      |                  (SELECT max(lsn) FROM full_info)) AS lsn
      |),
      |logs_in AS (
      |  SELECT b.* FROM bh b, base_lsn
      |  WHERE b.backup_type = 'Log' AND b.last_lsn > base_lsn.lsn
      |    AND b.backup_start_date <= TIMESTAMP '2024-01-20 00:00:00'
      |),
      |log_after AS (
      |  SELECT * EXCLUDE (rk) FROM (
      |    SELECT b.*, rank() OVER (ORDER BY b.backup_start_date, b.last_lsn,
      |                                      b.first_lsn) AS rk
      |    FROM bh b, base_lsn
      |    WHERE b.backup_type = 'Log' AND b.last_lsn > base_lsn.lsn
      |      AND b.backup_start_date > TIMESTAMP '2024-01-20 00:00:00')
      |  WHERE rk = 1
      |),
      |log_union AS (SELECT * FROM logs_in UNION SELECT * FROM log_after),
      |log_sets AS (
      |  SELECT first_lsn, last_lsn, max(position) AS position,
      |         string_agg(
      |           CASE WHEN device_type = 9 THEN 'URL = N''' ELSE 'DISK = N''' END
      |             || physical_device_name || '''',
      |           ',' || chr(10) ORDER BY physical_device_name) AS from_clause
      |  FROM log_union GROUP BY first_lsn, last_lsn
      |),
      |log_steps AS (
      |  SELECT row_number() OVER (ORDER BY last_lsn) AS log_seq,
      |         count(*) OVER () AS n_logs, position, from_clause
      |  FROM log_sets
      |),
      |has_diff AS (SELECT count(*) AS n FROM chosen_diff),
      |full_cmd AS (
      |  SELECT CAST(1 AS BIGINT) AS restore_id, 'Full' AS backup_type,
      |    'RESTORE DATABASE [db0_restored] FROM' || chr(10) ||
      |    string_agg(
      |      CASE WHEN device_type = 9 THEN 'URL = N''' ELSE 'DISK = N''' END
      |        || physical_device_name || '''',
      |      ',' || chr(10) ORDER BY physical_device_name) || chr(10) ||
      |    'WITH MOVE N''db0_data'' TO N''Y:/newdata/restored_db0.mdf'',' || chr(10) ||
      |    'MOVE N''db0_log'' TO N''L:/log/restored_db0.ldf'',' || chr(10) ||
      |    'NORECOVERY, NOUNLOAD, STATS = 5;' AS restore_command
      |  FROM chosen_full
      |),
      |diff_cmd AS (
      |  SELECT CAST(2 AS BIGINT) AS restore_id, 'Diff' AS backup_type,
      |    'RESTORE DATABASE [db0_restored] FROM' || chr(10) ||
      |    string_agg(
      |      CASE WHEN device_type = 9 THEN 'URL = N''' ELSE 'DISK = N''' END
      |        || physical_device_name || '''',
      |      ',' || chr(10) ORDER BY physical_device_name) || chr(10) ||
      |    'WITH NORECOVERY, NOUNLOAD, STATS = 5;' AS restore_command
      |  FROM chosen_diff HAVING count(*) > 0
      |)
      |SELECT * FROM full_cmd
      |UNION ALL SELECT * FROM diff_cmd
      |UNION ALL
      |SELECT CAST(log_seq + 1 + (SELECT CASE WHEN n > 0 THEN 1 ELSE 0 END
      |                           FROM has_diff) AS BIGINT) AS restore_id,
      |       'Log' AS backup_type,
      |       'RESTORE LOG [db0_restored] FROM' || chr(10) || from_clause
      |         || chr(10) || 'WITH FILE = ' || position
      |         || ', NORECOVERY, NOUNLOAD, STATS = 10'
      |         || CASE WHEN log_seq >= n_logs - 1
      |                 THEN ', STOPAT = ''2024-01-20 00:00:00'';'
      |                 ELSE ';' END AS restore_command
      |FROM log_steps
      |ORDER BY restore_id""".stripMargin)

  /** S9: the `@Help = 1` constant parameter relation (reference
    * sql:449-480).
    */
  def q34Help(spark: SparkSession, dir: String): DataFrame =
    RestoreScriptGenerator.help(spark).orderBy("parameter")

  val q34Oracle: String = {
    val rows = RestoreScriptGenerator.helpRows
      .map { case (p, d) => s"('$p', '$d')" }.mkString(",\n  ")
    s"""SELECT * FROM (VALUES
       |  $rows
       |) AS t(parameter, description)
       |ORDER BY parameter""".stripMargin
  }

  /** Per-key fleet-plan CTE chain (the q18 rules generalized with
    * `PARTITION BY database_name, key` — reference sql:560-1259 applied
    * fleet-wide) over relation `rel` keyed by `keyCol`. Every CTE name
    * carries prefix `p` so the server pass and the AG-fallback pass can
    * coexist in one WITH; the chain ends in `${p}plan` with columns
    * (database_name, key, restore_id, backup_type, first_lsn, last_lsn,
    * from_clause, stopat).
    */
  private def fleetPlanSql(rel: String, keyCol: String, p: String): String =
    s"""${p}fulls AS (
       |  SELECT *, dense_rank() OVER (PARTITION BY database_name, $keyCol
       |                               ORDER BY last_lsn DESC) AS rk
       |  FROM $rel
       |  WHERE backup_type = 'Full' AND device_type IN (2, 9)
       |    AND $keyCol IS NOT NULL
       |    AND backup_start_date <= TIMESTAMP '2024-01-20 00:00:00'
       |),
       |${p}full_sets AS (
       |  SELECT database_name, $keyCol,
       |         min(first_lsn) AS first_lsn, max(last_lsn) AS last_lsn,
       |         bool_or(coalesce(is_copy_only, false)) AS full_co,
       |         string_agg(
       |           CASE WHEN device_type = 9 THEN 'URL = N''' ELSE 'DISK = N''' END ||
       |             physical_device_name || '''',
       |           ',' || chr(10) ORDER BY physical_device_name) AS from_clause
       |  FROM ${p}fulls WHERE rk = 1
       |  GROUP BY database_name, $keyCol
       |),
       |${p}diff_cand AS (
       |  SELECT b.*, dense_rank() OVER (PARTITION BY b.database_name, b.$keyCol
       |                                 ORDER BY b.last_lsn DESC) AS rk
       |  FROM $rel b
       |  JOIN ${p}full_sets f
       |    ON b.database_name = f.database_name AND b.$keyCol = f.$keyCol
       |  WHERE b.backup_type = 'Diff'
       |    AND b.backup_start_date <= TIMESTAMP '2024-01-20 00:00:00'
       |    AND NOT f.full_co AND b.last_lsn > f.last_lsn
       |),
       |${p}diff_sets AS (
       |  SELECT database_name, $keyCol,
       |         min(first_lsn) AS first_lsn, max(last_lsn) AS last_lsn,
       |         string_agg(
       |           CASE WHEN device_type = 9 THEN 'URL = N''' ELSE 'DISK = N''' END ||
       |             physical_device_name || '''',
       |           ',' || chr(10) ORDER BY physical_device_name) AS from_clause
       |  FROM ${p}diff_cand WHERE rk = 1
       |  GROUP BY database_name, $keyCol
       |),
       |${p}base AS (
       |  SELECT f.database_name, f.$keyCol,
       |         coalesce(d.last_lsn, f.last_lsn) AS base_lsn,
       |         CASE WHEN d.database_name IS NULL THEN 1 ELSE 2 END AS base_steps
       |  FROM ${p}full_sets f
       |  LEFT JOIN ${p}diff_sets d
       |    ON f.database_name = d.database_name AND f.$keyCol = d.$keyCol
       |),
       |${p}logs0 AS (
       |  SELECT b.database_name, b.$keyCol, b.first_lsn, b.last_lsn,
       |         b.device_type, b.physical_device_name, b.backup_start_date,
       |         base.base_steps
       |  FROM $rel b
       |  JOIN ${p}base base ON b.database_name = base.database_name
       |           AND b.$keyCol = base.$keyCol
       |  WHERE b.backup_type = 'Log' AND b.last_lsn > base.base_lsn
       |),
       |${p}in_range AS (
       |  SELECT * FROM ${p}logs0
       |  WHERE backup_start_date <= TIMESTAMP '2024-01-20 00:00:00'
       |),
       |${p}overlap AS (
       |  SELECT * EXCLUDE (rk) FROM (
       |    SELECT *, rank() OVER (PARTITION BY database_name, $keyCol
       |                ORDER BY backup_start_date, last_lsn, first_lsn) AS rk
       |    FROM ${p}logs0
       |    WHERE backup_start_date > TIMESTAMP '2024-01-20 00:00:00')
       |  WHERE rk = 1
       |),
       |${p}log_union AS (
       |  SELECT * FROM ${p}in_range UNION ALL SELECT * FROM ${p}overlap
       |),
       |${p}log_sets AS (
       |  SELECT database_name, $keyCol, first_lsn, last_lsn,
       |         string_agg(
       |           CASE WHEN device_type = 9 THEN 'URL = N''' ELSE 'DISK = N''' END ||
       |             physical_device_name || '''',
       |           ',' || chr(10) ORDER BY physical_device_name) AS from_clause,
       |         min(base_steps) AS base_steps
       |  FROM ${p}log_union
       |  GROUP BY database_name, $keyCol, first_lsn, last_lsn
       |),
       |${p}log_steps AS (
       |  SELECT *, row_number() OVER (PARTITION BY database_name, $keyCol
       |                               ORDER BY last_lsn) AS seq,
       |         count(*) OVER (PARTITION BY database_name, $keyCol) AS n
       |  FROM ${p}log_sets
       |),
       |${p}plan AS (
       |  SELECT database_name, $keyCol AS key, CAST(1 AS BIGINT) AS restore_id,
       |         'Full' AS backup_type, CAST(first_lsn AS BIGINT) AS first_lsn,
       |         CAST(last_lsn AS BIGINT) AS last_lsn, from_clause,
       |         false AS stopat
       |  FROM ${p}full_sets
       |  UNION ALL
       |  SELECT database_name, $keyCol, CAST(2 AS BIGINT), 'Diff',
       |         CAST(first_lsn AS BIGINT), CAST(last_lsn AS BIGINT),
       |         from_clause, false
       |  FROM ${p}diff_sets
       |  UNION ALL
       |  SELECT database_name, $keyCol, CAST(seq + base_steps AS BIGINT), 'Log',
       |         CAST(first_lsn AS BIGINT), CAST(last_lsn AS BIGINT),
       |         from_clause, seq >= n - 1
       |  FROM ${p}log_steps
       |)""".stripMargin

  /** Fleet-wide restore chains for every (db, key) in one distributed
    * pass, INCLUDING the server→AG fallback (reference sql:145-170): the
    * fixture nulls db2's `server_name` so db2 is only plannable via its
    * availability group, forcing [[FleetRestorePlanner.planAllWithFallback]]
    * down its AG fallback. The oracle runs the same plan CTEs twice —
    * keyed by server, then by ag over the unplanned remainder — mirroring
    * the fallback at per-database granularity.
    * Per-pair equivalence with the scalar planner is additionally
    * asserted in FleetPlannerSpec.
    */
  def q39FleetPlan(spark: SparkSession, dir: String): DataFrame =
    graft.script.FleetRestorePlanner
      .planAllWithFallback(
        canonicalFrame(spark, dir).withColumn("server_name",
          when(col("database_name") === "db2", lit(null).cast("string"))
            .otherwise(col("server_name"))),
        T)
      .select(
        col("database_name"), col("key"), col("restore_id"),
        col("backup_type"), col("first_lsn").cast("bigint").as("first_lsn"),
        col("last_lsn").cast("bigint").as("last_lsn"),
        col("from_clause"), col("stopat"))
      .orderBy("database_name", "key", "restore_id")

  val q39Oracle: String = oracle(
    s""", bh2 AS (
       |  SELECT * REPLACE (
       |    CASE WHEN database_name = 'db2' THEN NULL ELSE server_name END
       |      AS server_name)
       |  FROM backup_history
       |),
       |${fleetPlanSql("bh2", "server_name", "s_")},
       |s_planned AS (SELECT DISTINCT database_name FROM s_plan),
       |bh_ag AS (
       |  SELECT * FROM bh2
       |  WHERE database_name NOT IN (SELECT database_name FROM s_planned)
       |),
       |${fleetPlanSql("bh_ag", "ag_name", "a_")}
       |SELECT * FROM s_plan UNION ALL SELECT * FROM a_plan
       |ORDER BY database_name, key, restore_id""".stripMargin)

  def entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q18_restore_chain" -> (q18RestoreChain _),
    "q19_restore_script" -> (q19RestoreScript _),
    "q34_help_relation" -> (q34Help _),
    "q39_fleet_restore_plan" -> (q39FleetPlan _)
  )

  def oracles: Map[String, String] = Map(
    "q18_restore_chain" -> q18Oracle,
    "q19_restore_script" -> q19Oracle,
    "q34_help_relation" -> q34Oracle,
    "q39_fleet_restore_plan" -> q39Oracle
  )
}
