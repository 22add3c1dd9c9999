package graft.script

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.{BackupTypes, DeviceTypes, RestoreStep, Schemas}
import graft.restore.RestoreQueries

/** Parameters of `Utility.GenerateRestoreScript` (reference sql:428-447).
  * Exactly one of `sourceServer` / `sourceAgName` must be set
  * (sql:489-495).
  */
final case class RestoreScriptOptions(
    sourceDb: String,
    sourceServer: Option[String] = None,
    sourceAgName: Option[String] = None,
    destinationDb: Option[String] = None,
    restoreToTime: Option[Timestamp] = None,
    restoreDataPath: Option[String] = None,
    restoreLogPath: Option[String] = None,
    fileNamePrefix: Option[String] = None,
    moveCommand: Option[String] = None
)

final case class RestorePlan(steps: Seq[RestoreStep], script: String) {
  def toDs(spark: SparkSession): DataFrame = {
    import spark.implicits._
    steps.toDS().toDF()
  }
}

/** The point-in-time restore planner (`Utility.GenerateRestoreScript`,
  * reference sql:427-1312), as a driver-side Scala orchestration over
  * lazily-planned DataFrame phases — each phase is a distributed query
  * on the consolidated table; only scalars (chosen LSNs, copy-only flag,
  * file-info JSON) are collected, exactly like the reference's
  * `@last_lsn` handoffs (sql:832, 1031).
  *
  * Deliberate deviations (SURVEY §4): deterministic orderings under every
  * TOP(1)/string_agg the reference leaves undefined; LF instead of
  * `char(13)` CR; STOPAT appended rather than spliced via `replace`.
  */
object RestoreScriptGenerator {

  private val ExampleMove =
    "-- MOVE N'<logical_data_file>' TO N'X:/DataPath/DataFile.mdf'," +
      "\n-- MOVE N'<logical_log_file>' TO N'L:/LogPath/LogFile.ldf'"

  /** Validation (P10, reference sql:482-495). */
  private def keyOf(opts: RestoreScriptOptions): (String, String) = {
    require(opts.sourceDb != null && opts.sourceDb.nonEmpty,
      "Please provide a value for @SourceDB")
    (opts.sourceServer, opts.sourceAgName) match {
      case (Some(s), None) => ("server_name", s)
      case (None, Some(a)) => ("ag_name", a)
      case _ => throw new IllegalArgumentException(
        "Provide exactly one of sourceServer / sourceAgName")
    }
  }

  /** Split a path at its last separator ('\' or '/'), keeping the
    * separator on the directory (reference's reverse/charindex dance,
    * sql:730-736). Returns (dirWithSep, baseName).
    */
  def splitPath(path: String): (String, String) = {
    val i = math.max(path.lastIndexOf('\\'), path.lastIndexOf('/'))
    if (i < 0) ("", path) else (path.substring(0, i + 1), path.substring(i + 1))
  }

  /** Ensure a user-supplied directory ends with a separator
    * (reference sql:690-702).
    */
  def normalizeDir(path: String): String =
    if (path.endsWith("\\") || path.endsWith("/")) path
    else if (path.contains("\\")) path + "\\"
    else path + "/"

  /** Build the MOVE clause from the chosen full's DBFileInformation JSON
    * (reference sql:715-763): data files → restoreDataPath, log files →
    * restoreLogPath, either defaulting to the file's original directory;
    * optional prefix on basenames; files ordered by (file_type,
    * logical_name) — the reference aggregates in undefined order.
    */
  def buildMoveClause(
      spark: SparkSession,
      fileInfoJson: Option[String],
      opts: RestoreScriptOptions): String =
    opts.moveCommand.getOrElse {
      fileInfoJson.filter(_.nonEmpty) match {
        case None => ExampleMove
        case Some(json) =>
          import spark.implicits._
          // F11: shred via from_json + explode, the openjson analog
          val files = Seq(json).toDF("j")
            .select(explode(from_json(col("j"), Schemas.dbFileInfoArray)).as("f"))
            .select("f.logical_name", "f.physical_name", "f.file_type")
            .collect()
          val moves = files.sortBy(r => (r.getString(2), r.getString(0))).map { r =>
            val (origDir, base) = splitPath(r.getString(1))
            val targetDir = (r.getString(2) match {
              case "L" => opts.restoreLogPath
              case _ => opts.restoreDataPath
            }).map(normalizeDir).getOrElse(origDir)
            val name = opts.fileNamePrefix.getOrElse("") + base
            s"MOVE N'${r.getString(0)}' TO N'$targetDir$name'"
          }
          if (moves.isEmpty) ExampleMove else moves.mkString(",\n")
      }
    }

  private def deviceClause(deviceType: Int, name: String): String =
    (if (deviceType == DeviceTypes.Url) "URL = N'" else "DISK = N'") + name + "'"

  /** Collect one phase's chosen stripes ordered by device name (O3). */
  private def collectStripes(df: DataFrame): Array[Row] =
    df.select("physical_device_name", "device_type", "backup_start_date",
        "first_lsn", "last_lsn", "is_copy_only", "position", "DBFileInformation")
      .orderBy("physical_device_name")
      .collect()

  private def fromClause(stripes: Array[Row]): String =
    stripes.map(r => deviceClause(r.getInt(1), r.getString(0))).mkString(",\n")

  /** `@ConcatenatedPhysicalDevice` (reference sql:786-787): the chosen
    * set's device names as a plain csv, device-name order.
    */
  private def deviceCsv(stripes: Array[Row]): String =
    stripes.map(_.getString(0)).mkString(", ")

  def generate(
      spark: SparkSession,
      bh: DataFrame,
      opts: RestoreScriptOptions,
      now: () => Timestamp = () => new Timestamp(System.currentTimeMillis()))
      : RestorePlan = {
    val (keyCol, keyVal) = keyOf(opts)
    val restoreTo = opts.restoreToTime.getOrElse(now())
    // the planner runs ~5 actions over this slice (full/diff/log phases +
    // scalar collects); cache it so upstream lineage executes once
    val slice = bh
      .filter(col("database_name") === opts.sourceDb)
      .filter(col(keyCol) === keyVal)
      .cache()
    try generateFromSlice(spark, slice, opts, keyVal, restoreTo)
    finally slice.unpersist()
  }

  private def generateFromSlice(
      spark: SparkSession,
      slice: DataFrame,
      opts: RestoreScriptOptions,
      keyVal: String,
      restoreTo: Timestamp): RestorePlan = {
    val restoreTimeProvided = opts.restoreToTime.isDefined // F8, sql:447

    // ---- phase 1: base FULL (sql:560-685) -------------------------------
    val fulls = RestoreQueries.rankOneStripes(
      slice.filter(col("BackupType") === BackupTypes.Full)
        .filter(col("device_type").isin(DeviceTypes.Restorable.map(Integer.valueOf): _*))
        .filter(col("backup_start_date") <= lit(restoreTo)),
      Seq("database_name"))
    val fullStripes = collectStripes(fulls)
    if (fullStripes.isEmpty)
      throw new IllegalStateException(
        s"No FULL backup found for ${opts.sourceDb} on $keyVal at or before $restoreTo")
    val dest = opts.destinationDb.getOrElse(opts.sourceDb) // sql:681-685
    val fullIsCopyOnly = !fullStripes.head.isNullAt(5) && fullStripes.head.getBoolean(5)
    val fullLsn = fullStripes.head.getDecimal(4)
    val moveClause = buildMoveClause(
      spark, Option(fullStripes.head.getString(7)), opts)
    val fullFrom = fromClause(fullStripes)
    val fullCmd =
      s"RESTORE DATABASE [$dest] FROM\n$fullFrom\nWITH $moveClause,\n" +
        "NORECOVERY, NOUNLOAD, STATS = 5;"
    val fullStep = RestoreStep(1L, dest, BackupTypes.Full,
      fullStripes.head.getTimestamp(2), BigDecimal(fullStripes.head.getDecimal(3)),
      BigDecimal(fullLsn), fullFrom, deviceCsv(fullStripes), None, fullCmd)

    // ---- phase 2: DIFF unless the full was copy-only (sql:837-1033) -----
    // Fidelity note: the reference SCRIPT proc's diff phase is exactly
    // rank-1 over `last_lsn > @full_lsn AND backup_start_date <=
    // @RestoreToTime` (sql:858-912) — it does NOT apply the blocking-full
    // truncation; that logic belongs to the standalone GetLastDiffBackup
    // proc (sql:346-369), implemented in
    // RestoreQueries.lastDiffBackupFor/lastDiffBackupsPerKey (q12). A
    // diff based on a newer full the device filter excluded would be
    // mis-selected by the REFERENCE too; byte-parity keeps that shape.
    val diffStep: Option[RestoreStep] =
      if (fullIsCopyOnly) None // 'goto Log_Backups' (sql:850)
      else {
        val diffs = RestoreQueries.rankOneStripes(
          slice.filter(col("BackupType") === BackupTypes.Diff)
            .filter(col("last_lsn") > lit(fullLsn))
            .filter(col("backup_start_date") <= lit(restoreTo)),
          Seq("database_name"))
        val stripes = collectStripes(diffs)
        if (stripes.isEmpty) None
        else {
          val from = fromClause(stripes)
          val cmd = s"RESTORE DATABASE [$dest] FROM\n$from\nWITH " +
            "NORECOVERY, NOUNLOAD, STATS = 5;"
          Some(RestoreStep(2L, dest, BackupTypes.Diff,
            stripes.head.getTimestamp(2), BigDecimal(stripes.head.getDecimal(3)),
            BigDecimal(stripes.head.getDecimal(4)), from, deviceCsv(stripes),
            None, cmd))
        }
      }
    val baseLsn = diffStep.map(_.last_lsn.bigDecimal).getOrElse(fullLsn)

    // ---- phase 3: LOG chain + overlap log (sql:1044-1259) ---------------
    val logsInRange = slice
      .filter(col("BackupType") === BackupTypes.Log)
      .filter(col("last_lsn") > lit(baseLsn))
      .filter(col("backup_start_date") <= lit(restoreTo))
    // first log backup AFTER the restore time (U1/O7, sql:1056-1065) —
    // the reference's TOP(1) has no ORDER BY; we impose (start, last
    // lsn, first lsn) and keep every row of that first backup SET (rank,
    // not a row limit), so a striped overlap log restores from all of
    // its media. The slice is one database, so the window is one group:
    // coalesced to one partition, it needs no exchange
    val overlapLog = slice
      .filter(col("BackupType") === BackupTypes.Log)
      .filter(col("last_lsn") > lit(baseLsn))
      .filter(col("backup_start_date") > lit(restoreTo))
      .coalesce(1)
      .withColumn("__rk", rank().over(Window.partitionBy("database_name")
        .orderBy(col("backup_start_date"), col("last_lsn"), col("first_lsn"))))
      .filter(col("__rk") === 1)
      .drop("__rk")
    val chain = RestoreQueries
      .collapseLogStripes(logsInRange.union(overlapLog).dropDuplicates("LogID"))
      .orderBy(col("last_lsn"))
      .select("backup_start_date", "first_lsn", "last_lsn", "position",
        "from_clause", "physical_devices")
      .collect()
    val stopAtLiteral = restoreTo.toString.takeWhile(_ != '.') // seconds precision
    val nLogs = chain.length
    val logSteps = chain.zipWithIndex.map { case (r, i) =>
      val withStopAt = restoreTimeProvided && i >= nLogs - 2 // sql:1266-1272
      val from = r.getString(4)
      val base = s"RESTORE LOG [$dest] FROM\n$from\nWITH FILE = ${r.getInt(3)}, " +
        "NORECOVERY, NOUNLOAD, STATS = 10;"
      val cmd = if (withStopAt)
        base.dropRight(1) + s", STOPAT = '$stopAtLiteral';" // F3 analog
      else base
      RestoreStep(diffStep.size + 2L + i, dest, BackupTypes.Log,
        r.getTimestamp(0), BigDecimal(r.getDecimal(1)), BigDecimal(r.getDecimal(2)),
        from, r.getString(5), if (withStopAt) Some(stopAtLiteral) else None, cmd)
    }

    val steps = Seq(fullStep) ++ diffStep.toSeq ++ logSteps
    RestorePlan(steps, steps.map(_.RestoreCommand).mkString("\n\n"))
  }

  /** The `@Help = 1` constant relation (S9, reference sql:449-480). */
  val helpRows: Seq[(String, String)] = Seq(
    ("sourceDb", "Required. Database whose chain to restore"),
    ("sourceServer", "Exactly one of sourceServer/sourceAgName"),
    ("sourceAgName", "Exactly one of sourceServer/sourceAgName"),
    ("destinationDb", "Defaults to sourceDb"),
    ("restoreToTime", "Point-in-time target; default now; adds STOPAT"),
    ("restoreDataPath", "MOVE target dir for data files"),
    ("restoreLogPath", "MOVE target dir for log files"),
    ("fileNamePrefix", "Prefix applied to moved file basenames"),
    ("moveCommand", "Full override of the generated MOVE clause")
  )

  def help(spark: SparkSession): DataFrame = {
    import spark.implicits._
    helpRows.toDF("parameter", "description")
  }
}
