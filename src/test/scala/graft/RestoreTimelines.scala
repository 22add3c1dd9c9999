package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** Hand-built backup-history timelines for one database (`DBAdmin` on
  * `srvA`, AG `agA`) shared by the restore-planner specs.
  */
object RestoreTimelines {

  /** (LogID, type, device, start, first, last, copyOnly, devType, fileInfo) */
  type Row = (Long, String, String, String, Long, Long, Boolean, Int, String)

  def frame(spark: SparkSession, rows: Seq[Row]): DataFrame = {
    import spark.implicits._
    rows.toDF("LogID", "BackupType", "physical_device_name", "start_s",
        "first_l", "last_l", "is_copy_only", "device_type", "DBFileInformation")
      .withColumn("database_name", lit("DBAdmin"))
      .withColumn("server_name", lit("srvA"))
      .withColumn("ag_name", lit("agA"))
      .withColumn("backup_start_date", col("start_s").cast("timestamp"))
      .withColumn("backup_finish_date", col("start_s").cast("timestamp"))
      .withColumn("first_lsn", col("first_l").cast("decimal(25,0)"))
      .withColumn("last_lsn", col("last_l").cast("decimal(25,0)"))
      .withColumn("position", lit(1))
      .drop("start_s", "first_l", "last_l")
  }

  /** FULL, one log before 06:00, then a log backup set STRIPED over two
    * files as the first log after 06:00, and a later log: a restore to
    * 06:00 must read the striped set from both of its media.
    */
  def stripedOverlap(spark: SparkSession): DataFrame = frame(spark, Seq(
    (1L, "Full", "X:/bk/full.bak", "2024-01-01 01:00:00", 1000L, 2000L, false, 2, null),
    (2L, "Log", "X:/bk/log_1.trn", "2024-01-01 04:00:00", 2000L, 3000L, false, 2, null),
    (3L, "Log", "X:/bk/log_2a.trn", "2024-01-01 07:00:00", 3000L, 3500L, false, 2, null),
    (4L, "Log", "X:/bk/log_2b.trn", "2024-01-01 07:00:00", 3000L, 3500L, false, 2, null),
    (5L, "Log", "X:/bk/log_3.trn", "2024-01-01 09:00:00", 3500L, 4000L, false, 2, null)))

  /** FROM clause of [[stripedOverlap]]'s striped set. */
  val stripedOverlapFrom = "DISK = N'X:/bk/log_2a.trn',\nDISK = N'X:/bk/log_2b.trn'"
}
