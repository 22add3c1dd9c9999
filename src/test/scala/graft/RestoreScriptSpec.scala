package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.model.RestoreStep
import graft.script.{RestoreScriptGenerator, RestoreScriptOptions}

/** Golden tests for the point-in-time restore planner (reference
  * sql:427-1312): phase composition, copy-only diff skip, striped FROM
  * clauses, MOVE relocation, overlap log, STOPAT on the last two logs.
  */
class RestoreScriptSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val fileInfoJson =
    """[{"logical_name":"db_data","physical_drive":"X:","physical_name":"X:\\data\\db.mdf","file_type":"D","file_number":"1"},""" +
      """{"logical_name":"db_log","physical_drive":"L:","physical_name":"L:\\log\\db.ldf","file_type":"L","file_number":"2"}]"""

  private def bh(rows: Seq[RestoreTimelines.Row]): DataFrame =
    RestoreTimelines.frame(spark, rows)

  private val timeline = bh(Seq(
    (1L, "Full", "X:/bk/full_a1.bak", "2024-01-01 01:00:00", 1000L, 2000L, false, 2, fileInfoJson),
    (2L, "Full", "X:/bk/full_a2.bak", "2024-01-01 01:00:00", 1000L, 2000L, false, 2, fileInfoJson),
    (3L, "Diff", "X:/bk/diff_1.bak", "2024-01-01 03:00:00", 1000L, 3000L, false, 2, null),
    (4L, "Log", "X:/bk/log_1a.trn", "2024-01-01 04:00:00", 3000L, 3500L, false, 2, null),
    (5L, "Log", "X:/bk/log_1b.trn", "2024-01-01 04:00:00", 3000L, 3500L, false, 2, null),
    (6L, "Log", "https://bk.example.com/log_2.trn", "2024-01-01 05:00:00", 3500L, 4000L, false, 9, null),
    // first log AFTER the restore time — overlap capture
    (7L, "Log", "X:/bk/log_3.trn", "2024-01-01 07:00:00", 4000L, 4500L, false, 2, null),
    // far-future log that must NOT be included
    (8L, "Log", "X:/bk/log_4.trn", "2024-01-01 09:00:00", 4500L, 5000L, false, 2, null)
  ))

  private val T = Timestamp.valueOf("2024-01-01 06:00:00")

  test("full plan: FULL + DIFF + logs with overlap log and STOPAT on last two") {
    val plan = RestoreScriptGenerator.generate(spark, timeline,
      RestoreScriptOptions(sourceDb = "DBAdmin", sourceServer = Some("srvA"),
        restoreToTime = Some(T)))
    val types = plan.steps.map(s => (s.RestoreID, s.BackupType))
    assert(types == Seq(
      (1L, "Full"), (2L, "Diff"), (3L, "Log"), (4L, "Log"), (5L, "Log")))
    // striped full: both stripes in one FROM, device-name order
    assert(plan.steps.head.from_clause ==
      "DISK = N'X:/bk/full_a1.bak',\nDISK = N'X:/bk/full_a2.bak'")
    // log chain: striped set collapsed, URL log, then the overlap log
    assert(plan.steps(2).from_clause ==
      "DISK = N'X:/bk/log_1a.trn',\nDISK = N'X:/bk/log_1b.trn'")
    assert(plan.steps(3).from_clause == "URL = N'https://bk.example.com/log_2.trn'")
    assert(plan.steps(4).from_clause == "DISK = N'X:/bk/log_3.trn'")
    // last two logs carry STOPAT
    val stopAts = plan.steps.filter(_.BackupType == "Log").map(_.stop_at.isDefined)
    assert(stopAts.takeRight(2).forall(identity))
    assert(plan.steps.count(_.stop_at.isDefined) == math.min(2,
      plan.steps.count(_.BackupType == "Log")))
    assert(plan.script.contains("STOPAT = '2024-01-01 06:00:00'"))
  }

  test("log chain includes exactly the in-range sets plus one overlap log") {
    val plan = RestoreScriptGenerator.generate(spark, timeline,
      RestoreScriptOptions(sourceDb = "DBAdmin", sourceServer = Some("srvA"),
        restoreToTime = Some(T)))
    val logs = plan.steps.filter(_.BackupType == "Log")
    // base = diff lsn 3000 → in range: set(3000-3500 striped), set(3500-4000);
    // overlap: log_3 (07:00); log_4 excluded
    assert(logs.map(_.last_lsn.toBigInt.toLong) == Seq(3500L, 4000L, 4500L))
  }

  test("a striped overlap log restores from every stripe of its set") {
    val plan = RestoreScriptGenerator.generate(spark,
      RestoreTimelines.stripedOverlap(spark),
      RestoreScriptOptions(sourceDb = "DBAdmin", sourceServer = Some("srvA"),
        restoreToTime = Some(T)))
    val logs = plan.steps.filter(_.BackupType == "Log")
    assert(logs.map(_.last_lsn.toBigInt.toLong) == Seq(3000L, 3500L))
    assert(logs.last.from_clause == RestoreTimelines.stripedOverlapFrom)
    assert(logs.last.physical_devices == "X:/bk/log_2a.trn, X:/bk/log_2b.trn")
  }

  // Spark's orderings, pinned: device names whose UTF-16 and UTF-8 orders
  // differ (U+FF21 sorts after a surrogate pair in UTF-16, before it in
  // UTF-8), a log stripe with no device name, and a restore time 500 ns
  // past a backup's start
  private val orderings = bh(Seq(
    (1L, "Full", "X:/\uD83D\uDE00.bak", "2024-01-01 01:00:00", 1000L, 2000L, false, 9, null),
    (2L, "Full", "X:/\uFF21.bak", "2024-01-01 01:00:00", 1000L, 2000L, false, 2, fileInfoJson),
    (3L, "Log", "X:/\uD83D\uDE00.trn", "2024-01-01 05:00:00", 2000L, 3000L, false, 9, null),
    (4L, "Log", null, "2024-01-01 05:00:00", 2000L, 3000L, false, 2, null),
    (5L, "Log", "X:/\uFF21.trn", "2024-01-01 05:00:00", 2000L, 3000L, false, 2, null),
    (6L, "Log", "X:/bk/after.trn", "2024-01-01 05:00:01", 3000L, 3500L, false, 2, null),
    (7L, "Log", "X:/bk/later.trn", "2024-01-01 06:00:00", 3500L, 4000L, false, 2, null)))

  test("device orderings, a null device and sub-microsecond STOPAT time follow Spark") {
    val t = Timestamp.valueOf("2024-01-01 05:00:00")
    t.setNanos(500)
    val plan = RestoreScriptGenerator.generate(spark, orderings,
      RestoreScriptOptions(sourceDb = "DBAdmin", sourceServer = Some("srvA"),
        restoreToTime = Some(t), restoreLogPath = Some("L:/newlog")))
    def lsn(l: Long) = BigDecimal(l)
    val stopAt = Some("2024-01-01 05:00:00")
    val expected = Seq(
      // UTF-8 order puts U+FF21 first, so its stripe's file info makes MOVE
      RestoreStep(1L, "DBAdmin", "Full", Timestamp.valueOf("2024-01-01 01:00:00"),
        lsn(1000), lsn(2000),
        "DISK = N'X:/\uFF21.bak',\nURL = N'X:/\uD83D\uDE00.bak'",
        "X:/\uFF21.bak, X:/\uD83D\uDE00.bak", None,
        "RESTORE DATABASE [DBAdmin] FROM\nDISK = N'X:/\uFF21.bak',\n" +
          "URL = N'X:/\uD83D\uDE00.bak'\nWITH MOVE N'db_data' TO N'X:\\data\\db.mdf',\n" +
          "MOVE N'db_log' TO N'L:/newlog/db.ldf',\nNORECOVERY, NOUNLOAD, STATS = 5;"),
      // a backup at the restore time's second is in range; the null
      // device's stripe is in neither list
      RestoreStep(2L, "DBAdmin", "Log", Timestamp.valueOf("2024-01-01 05:00:00"),
        lsn(2000), lsn(3000),
        "DISK = N'X:/\uFF21.trn',\nURL = N'X:/\uD83D\uDE00.trn'",
        "X:/\uFF21.trn, X:/\uD83D\uDE00.trn", stopAt,
        "RESTORE LOG [DBAdmin] FROM\nDISK = N'X:/\uFF21.trn',\n" +
          "URL = N'X:/\uD83D\uDE00.trn'\nWITH FILE = 1, NORECOVERY, NOUNLOAD, " +
          "STATS = 10, STOPAT = '2024-01-01 05:00:00';"),
      RestoreStep(3L, "DBAdmin", "Log", Timestamp.valueOf("2024-01-01 05:00:01"),
        lsn(3000), lsn(3500), "DISK = N'X:/bk/after.trn'", "X:/bk/after.trn", stopAt,
        "RESTORE LOG [DBAdmin] FROM\nDISK = N'X:/bk/after.trn'\nWITH FILE = 1, " +
          "NORECOVERY, NOUNLOAD, STATS = 10, STOPAT = '2024-01-01 05:00:00';"))
    assert(plan.steps == expected)
    assert(plan.script == expected.map(_.RestoreCommand).mkString("\n\n"))
  }

  test("copy-only full skips the diff phase") {
    val co = bh(Seq(
      (1L, "Full", "X:/bk/co.bak", "2024-01-01 01:00:00", 1000L, 2000L, true, 2, null),
      (2L, "Diff", "X:/bk/diff.bak", "2024-01-01 03:00:00", 1000L, 3000L, false, 2, null),
      (3L, "Log", "X:/bk/log.trn", "2024-01-01 04:00:00", 2000L, 3500L, false, 2, null)
    ))
    val plan = RestoreScriptGenerator.generate(spark, co,
      RestoreScriptOptions(sourceDb = "DBAdmin", sourceServer = Some("srvA"),
        restoreToTime = Some(T)))
    assert(plan.steps.map(_.BackupType) == Seq("Full", "Log"))
    assert(plan.steps(1).RestoreID == 2L)
  }

  test("a full stripe with no device name is in neither device list") {
    // the unnamed stripe sorts first by device and starts earlier; the
    // step's start time and file list are the named stripe's
    val plan = RestoreScriptGenerator.generate(spark, bh(Seq(
        (1L, "Full", "X:/bk/full_a.bak", "2024-01-01 01:00:05", 1000L, 2000L, false, 2, fileInfoJson),
        (2L, "Full", null, "2024-01-01 01:00:00", 1000L, 2000L, false, 2, null),
        (3L, "Log", "X:/bk/log.trn", "2024-01-01 04:00:00", 2000L, 3000L, false, 2, null))),
      RestoreScriptOptions(sourceDb = "DBAdmin", sourceServer = Some("srvA"),
        restoreToTime = Some(T)))
    val full = plan.steps.head
    assert(full.from_clause == "DISK = N'X:/bk/full_a.bak'")
    assert(full.physical_devices == "X:/bk/full_a.bak")
    assert(full.backup_start_date == Timestamp.valueOf("2024-01-01 01:00:05"))
    assert(full.RestoreCommand.startsWith(
      "RESTORE DATABASE [DBAdmin] FROM\nDISK = N'X:/bk/full_a.bak'\nWITH MOVE N'db_data'"),
      full.RestoreCommand)
  }

  test("a full is copy-only if any stripe is, and starts at its least first_lsn") {
    val plan = RestoreScriptGenerator.generate(spark, bh(Seq(
        (1L, "Full", "X:/bk/full_a.bak", "2024-01-01 01:00:00", 1000L, 2000L, false, 2, null),
        (2L, "Full", "X:/bk/full_b.bak", "2024-01-01 01:00:00", 900L, 2000L, true, 2, null),
        (3L, "Diff", "X:/bk/diff.bak", "2024-01-01 03:00:00", 1000L, 3000L, false, 2, null),
        (4L, "Log", "X:/bk/log.trn", "2024-01-01 04:00:00", 2000L, 3500L, false, 2, null))),
      RestoreScriptOptions(sourceDb = "DBAdmin", sourceServer = Some("srvA"),
        restoreToTime = Some(T)))
    assert(plan.steps.map(_.BackupType) == Seq("Full", "Log"))
    assert(plan.steps.head.first_lsn == BigDecimal(900))
  }

  test("MOVE clause relocates data and log files with prefix") {
    val plan = RestoreScriptGenerator.generate(spark, timeline,
      RestoreScriptOptions(sourceDb = "DBAdmin", sourceServer = Some("srvA"),
        restoreToTime = Some(T),
        restoreDataPath = Some("Y:/newdata"),
        fileNamePrefix = Some("restored_")))
    val cmd = plan.steps.head.RestoreCommand
    assert(cmd.contains("MOVE N'db_data' TO N'Y:/newdata/restored_db.mdf'"))
    // log file falls back to its original directory (no restoreLogPath)
    assert(cmd.contains("MOVE N'db_log' TO N'L:\\log\\restored_db.ldf'"))
  }

  test("no file info falls back to a commented example MOVE") {
    val plain = bh(Seq(
      (1L, "Full", "X:/bk/f.bak", "2024-01-01 01:00:00", 1000L, 2000L, false, 2, null)))
    val plan = RestoreScriptGenerator.generate(spark, plain,
      RestoreScriptOptions(sourceDb = "DBAdmin", sourceServer = Some("srvA"),
        restoreToTime = Some(T)))
    assert(plan.steps.head.RestoreCommand.contains("-- MOVE N'<logical_data_file>'"))
  }

  test("AG key routes through ag_name; validation rejects bad options") {
    val plan = RestoreScriptGenerator.generate(spark, timeline,
      RestoreScriptOptions(sourceDb = "DBAdmin", sourceAgName = Some("agA"),
        restoreToTime = Some(T)))
    assert(plan.steps.nonEmpty)
    intercept[IllegalArgumentException] {
      RestoreScriptGenerator.generate(spark, timeline,
        RestoreScriptOptions(sourceDb = "DBAdmin"))
    }
    intercept[IllegalArgumentException] {
      RestoreScriptGenerator.generate(spark, timeline,
        RestoreScriptOptions(sourceDb = "DBAdmin",
          sourceServer = Some("s"), sourceAgName = Some("a")))
    }
    intercept[IllegalStateException] {
      RestoreScriptGenerator.generate(spark, timeline,
        RestoreScriptOptions(sourceDb = "NoSuchDb", sourceServer = Some("srvA")))
    }
  }

  test("path helpers split and normalize both separators") {
    assert(RestoreScriptGenerator.splitPath("X:\\data\\db.mdf") == ("X:\\data\\", "db.mdf"))
    assert(RestoreScriptGenerator.splitPath("X:/data/db.mdf") == ("X:/data/", "db.mdf"))
    assert(RestoreScriptGenerator.normalizeDir("Y:/p") == "Y:/p/")
    assert(RestoreScriptGenerator.normalizeDir("Y:\\p") == "Y:\\p\\")
    assert(RestoreScriptGenerator.normalizeDir("Y:/p/") == "Y:/p/")
  }
}
