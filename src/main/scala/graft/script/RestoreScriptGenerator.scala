package graft.script

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{BackupTypes, DbFileInfo, DeviceTypes, RestoreStep, Schemas}
import graft.store.StoreMeta

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
  * reference sql:427-1312) as one Spark action and a planner on the
  * driver. The reference reads one database's rows under one server or
  * AG key through its covering index (sql:35-37) and hands scalars from
  * phase to phase (`@last_lsn`, sql:832, 1031). [[generate]] collects
  * that slice once — only the columns the phases read, with each full's
  * DBFileInformation JSON already parsed — and [[plan]] runs every phase
  * over the collected rows in plain Scala. [[FleetRestorePlanner]] runs
  * the same [[plan]] per database over the same slice projection.
  *
  * The slice is one database's history under one key, which the
  * retention purge bounds: about 1,200 rows for 180 days of 4-hourly log
  * backups. Log backups after the restore time are collected too, as
  * candidates for the overlap log.
  *
  * Deliberate deviations (SURVEY §4): deterministic orderings under every
  * TOP(1)/string_agg the reference leaves undefined; LF instead of
  * `char(13)` CR; STOPAT appended rather than spliced via `replace`.
  */
object RestoreScriptGenerator {

  /** One backup row of the collected slice: the columns the phases read.
    * `files` is the parsed DBFileInformation, read on Full rows only.
    */
  final case class SliceRow(
      logId: Long,
      backupType: String,
      deviceType: Option[Int],
      device: Option[String],
      start: Timestamp,
      firstLsn: BigDecimal,
      lastLsn: BigDecimal,
      copyOnly: Boolean,
      position: Option[Int],
      files: Option[Seq[DbFileInfo]])

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

  /** The MOVE clause from the chosen full's file list (reference
    * sql:715-763): data files → restoreDataPath, log files →
    * restoreLogPath, either defaulting to the file's original directory;
    * optional prefix on basenames; files ordered by (file_type,
    * logical_name) — the reference aggregates in undefined order.
    */
  private def moveClause(files: Seq[DbFileInfo], opts: RestoreScriptOptions): String =
    opts.moveCommand.getOrElse {
      val moves = files.sortBy(f => (f.file_type, f.logical_name)).map { f =>
        val (origDir, base) = splitPath(f.physical_name)
        val targetDir = (f.file_type match {
          case "L" => opts.restoreLogPath
          case _ => opts.restoreDataPath
        }).map(normalizeDir).getOrElse(origDir)
        val name = opts.fileNamePrefix.getOrElse("") + base
        s"MOVE N'${f.logical_name}' TO N'$targetDir$name'"
      }
      if (moves.isEmpty) ExampleMove else moves.mkString(",\n")
    }

  private def deviceClause(r: SliceRow): String =
    (if (r.deviceType.contains(DeviceTypes.Url)) "URL = N'" else "DISK = N'") +
      r.device.mkString + "'"

  /** Spark's string order: UTF-8 bytes, which `String.compareTo`'s UTF-16
    * order contradicts for supplementary characters.
    */
  private val utf8: Ordering[String] = (a, b) => StoreMeta.cmpUtf8(a, b)

  /** Stripe order within a backup set: named stripes as
    * `array_sort(struct(physical_device_name, clause))` orders them, then
    * the stripes with no device name, which no list shows
    * (`array_join` and `string_agg` skip nulls). A set's head is thus its
    * first named stripe.
    */
  private val stripeOrder: Ordering[SliceRow] =
    Ordering.by((r: SliceRow) => (r.device.isEmpty, r.device.mkString, deviceClause(r)))(
      Ordering.Tuple3(Ordering.Boolean, utf8, utf8))

  /** Spark's timestamp: whole microseconds, the fraction truncated. */
  private def micros(t: Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000

  /** W1+W3 (reference sql:562, 862): every stripe of the newest set —
    * `dense_rank` over `last_lsn` desc keeps LSN ties — in stripe order.
    */
  private def newestSet(rows: Seq[SliceRow]): Seq[SliceRow] =
    if (rows.isEmpty) rows
    else {
      val top = rows.map(_.lastLsn).max
      rows.filter(_.lastLsn == top).sorted(stripeOrder)
    }

  private def fromClause(stripes: Seq[SliceRow]): String =
    stripes.filter(_.device.isDefined).map(deviceClause).mkString(",\n")

  /** `@ConcatenatedPhysicalDevice` (reference sql:786-787): the set's
    * device names as a plain csv, in stripe order.
    */
  private def deviceCsv(stripes: Seq[SliceRow]): String =
    stripes.flatMap(_.device).mkString(", ")

  /** The slice columns the phases read, projected once over `bh`: rows at
    * or before the restore time plus every log backup (overlap
    * candidates), DBFileInformation parsed on Full rows only. The `keep`
    * columns follow the ten that [[decode]] reads.
    */
  private[script] def slice(bh: DataFrame, restoreTo: Timestamp, keep: Seq[String])
      : DataFrame =
    bh.filter(col("backup_start_date") <= lit(restoreTo) ||
        col("BackupType") === BackupTypes.Log)
      .select((Seq(col("LogID"), col("BackupType"), col("device_type"),
        col("physical_device_name"), col("backup_start_date"), col("first_lsn"),
        col("last_lsn"), col("is_copy_only"), col("position"),
        when(col("BackupType") === BackupTypes.Full,
          from_json(col("DBFileInformation"), Schemas.dbFileInfoArray))) ++
        keep.map(col)): _*)

  private[script] def decode(r: Row): SliceRow =
    SliceRow(r.getLong(0), r.getString(1),
      Option(r.getAs[Integer](2)).map(_.toInt), Option(r.getString(3)),
      r.getTimestamp(4), BigDecimal(r.getDecimal(5)), BigDecimal(r.getDecimal(6)),
      !r.isNullAt(7) && r.getBoolean(7), Option(r.getAs[Integer](8)).map(_.toInt),
      Option(r.getSeq[Row](9)).map(_.toSeq.map(f =>
        if (f == null) DbFileInfo(null, null, null, null, null)
        else DbFileInfo(f.getString(0), f.getString(1), f.getString(2),
          f.getString(3), f.getString(4)))))

  def generate(
      spark: SparkSession,
      bh: DataFrame,
      opts: RestoreScriptOptions,
      now: () => Timestamp = () => new Timestamp(System.currentTimeMillis()))
      : RestorePlan = {
    val (keyCol, keyVal) = keyOf(opts)
    val restoreTo = opts.restoreToTime.getOrElse(now())
    // the one action
    val rows = slice(
        bh.filter(col("database_name") === opts.sourceDb && col(keyCol) === keyVal),
        restoreTo, Nil)
      .collect().map(decode)
    plan(rows.toSeq, opts, restoreTo).getOrElse(
      throw new IllegalStateException(
        s"No FULL backup found for ${opts.sourceDb} on $keyVal at or before $restoreTo"))
  }

  /** The restore plan over one (database, key) slice, without Spark,
    * under Spark's semantics: string order is UTF-8 binary, the restore
    * time is truncated to microseconds, and striped log sets collapse the
    * way [[graft.restore.RestoreQueries.collapseLogStripes]] does. None
    * when the slice has no restorable full at or before the restore time.
    *
    * A set's stripes give one step: it is copy-only if any stripe is, its
    * `first_lsn` is the least over them, and its start time (a full's:
    * also its file list) comes from the first named stripe.
    */
  def plan(rows: Seq[SliceRow], opts: RestoreScriptOptions, restoreTo: Timestamp)
      : Option[RestorePlan] = {
    val restoreTimeProvided = opts.restoreToTime.isDefined // F8, sql:447
    val toUs = micros(restoreTo)
    val inRange = rows.filter(r => micros(r.start) <= toUs)

    // ---- phase 1: base FULL (sql:560-685) -------------------------------
    val fulls = newestSet(inRange.filter(r => r.backupType == BackupTypes.Full &&
      r.deviceType.exists(DeviceTypes.Restorable.contains)))
    Option.when(fulls.nonEmpty) {
      val full = fulls.head
      val dest = opts.destinationDb.getOrElse(opts.sourceDb) // sql:681-685
      val fullFrom = fromClause(fulls)
      val fullCmd =
        s"RESTORE DATABASE [$dest] FROM\n$fullFrom\n" +
          s"WITH ${moveClause(full.files.getOrElse(Nil), opts)},\n" +
          "NORECOVERY, NOUNLOAD, STATS = 5;"
      val fullStep = RestoreStep(1L, dest, BackupTypes.Full, full.start,
        fulls.map(_.firstLsn).min, full.lastLsn, fullFrom, deviceCsv(fulls), None,
        fullCmd)

      // ---- phase 2: DIFF unless the full was copy-only (sql:837-1033) ---
      // Fidelity note: the reference SCRIPT proc's diff phase is exactly
      // rank-1 over `last_lsn > @full_lsn AND backup_start_date <=
      // @RestoreToTime` (sql:858-912) — it does NOT apply the
      // blocking-full truncation; that logic belongs to the standalone
      // GetLastDiffBackup proc (sql:346-369), implemented in
      // RestoreQueries.lastDiffBackupFor/lastDiffBackupsPerKey (q12). A
      // diff based on a newer full the device filter excluded would be
      // mis-selected by the REFERENCE too; byte-parity keeps that shape.
      val diffs =
        if (fulls.exists(_.copyOnly)) Nil // 'goto Log_Backups' (sql:850)
        else newestSet(inRange.filter(r =>
          r.backupType == BackupTypes.Diff && r.lastLsn > full.lastLsn))
      val diffStep = diffs.headOption.map { diff =>
        val from = fromClause(diffs)
        val cmd = s"RESTORE DATABASE [$dest] FROM\n$from\nWITH " +
          "NORECOVERY, NOUNLOAD, STATS = 5;"
        RestoreStep(2L, dest, BackupTypes.Diff, diff.start, diffs.map(_.firstLsn).min,
          diff.lastLsn, from, deviceCsv(diffs), None, cmd)
      }
      val baseLsn = diffStep.fold(full.lastLsn)(_.last_lsn)

      // ---- phase 3: LOG chain + overlap log (sql:1044-1259) -------------
      val (logsInRange, logsAfter) = rows
        .filter(r => r.backupType == BackupTypes.Log && r.lastLsn > baseLsn)
        .partition(r => micros(r.start) <= toUs)
      // first log backup AFTER the restore time (U1/O7, sql:1056-1065) —
      // the reference's TOP(1) has no ORDER BY; we impose (start, last
      // lsn, first lsn) and keep every row of that first backup SET, so a
      // striped overlap log restores from all of its media
      val setOrder = Ordering.by((r: SliceRow) => (micros(r.start), r.lastLsn, r.firstLsn))
      val overlap = logsAfter.minOption(setOrder).toSeq
        .flatMap(first => logsAfter.filter(setOrder.equiv(_, first)))
      // striped-log collapse (sql:1044-1128): one set per (first, last)
      // LSN pair — the pair fixes the reference's min(LogID) canonical id
      val chain = (logsInRange ++ overlap).distinctBy(_.logId)
        .groupBy(r => (r.firstLsn, r.lastLsn)).values.toSeq
        .sortBy(set => (set.head.lastLsn, set.head.firstLsn))
      val stopAtLiteral = restoreTo.toString.takeWhile(_ != '.') // seconds precision
      val logSteps = chain.zipWithIndex.map { case (set, i) =>
        val withStopAt = restoreTimeProvided && i >= chain.size - 2 // sql:1266-1272
        val stripes = set.sorted(stripeOrder)
        val from = fromClause(stripes)
        val position = set.flatMap(_.position).maxOption.getOrElse(
          throw new IllegalStateException(
            s"log backup set ${set.head.firstLsn}-${set.head.lastLsn} has no position"))
        val base = s"RESTORE LOG [$dest] FROM\n$from\nWITH FILE = $position, " +
          "NORECOVERY, NOUNLOAD, STATS = 10;"
        val cmd = if (withStopAt)
          base.dropRight(1) + s", STOPAT = '$stopAtLiteral';" // F3 analog
        else base
        RestoreStep(diffStep.size + 2L + i, dest, BackupTypes.Log,
          set.maxBy(r => micros(r.start)).start, set.head.firstLsn, set.head.lastLsn,
          from, deviceCsv(stripes),
          if (withStopAt) Some(stopAtLiteral) else None, cmd)
      }

      val steps = Seq(fullStep) ++ diffStep.toSeq ++ logSteps
      RestorePlan(steps, steps.map(_.RestoreCommand).mkString("\n\n"))
    }
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
