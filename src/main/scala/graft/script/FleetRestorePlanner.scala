package graft.script

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.types._

/** Fleet-wide point-in-time restore planning: [[RestoreScriptGenerator.plan]]
  * for every (database, key) over one shuffle. The planner's slice
  * columns are projected once and grouped by database; each group runs
  * the planner once per key, in the task that holds the group. A
  * database's history is what the retention purge leaves (about 1,200
  * rows for 180 days of 4-hourly logs), so a group fits in one task.
  * Each chain is the one [[RestoreScriptGenerator.generate]] gives for
  * its (database, key).
  */
object FleetRestorePlanner {

  /** One row per (database, key, restore step).
    * Output: database_name, key, restore_id, backup_type,
    * backup_start_date, first_lsn, last_lsn, from_clause,
    * physical_devices, stopat.
    */
  def planAll(bh: DataFrame, keyCol: String, restoreTo: Timestamp): DataFrame =
    planFirstKeyed(bh, Seq(keyCol), restoreTo)

  /** Fleet analog of the reference's server→AG fallback (sql:145-170,
    * [[graft.restore.RestoreQueries.withServerAgFallback]]): a database
    * is planned keyed by `server_name`, and one with no chain under any
    * server is planned keyed by `ag_name` — per database, the granularity
    * at which the scalar proc decides.
    */
  def planAllWithFallback(bh: DataFrame, restoreTo: Timestamp): DataFrame =
    planFirstKeyed(bh, Seq("server_name", "ag_name"), restoreTo)

  /** Plans each database under the first of `keyCols` that gives it any
    * chain, one chain per non-null key value.
    */
  private def planFirstKeyed(bh: DataFrame, keyCols: Seq[String], restoreTo: Timestamp)
      : DataFrame = {
    val schema = StructType(Seq(
      StructField("database_name", StringType),
      StructField("key", StringType),
      StructField("restore_id", LongType),
      StructField("backup_type", StringType, nullable = false),
      StructField("backup_start_date", TimestampType),
      StructField("first_lsn", bh.schema("first_lsn").dataType),
      StructField("last_lsn", bh.schema("last_lsn").dataType),
      StructField("from_clause", StringType, nullable = false),
      StructField("physical_devices", StringType, nullable = false),
      StructField("stopat", BooleanType, nullable = false)))
    RestoreScriptGenerator.slice(bh, restoreTo, "database_name" +: keyCols)
      .groupByKey(_.getAs[String]("database_name"))(Encoders.STRING)
      .flatMapGroups { (db, group) =>
        // a null database name or key has no chain, as generate's filter
        val rows = if (db == null) Nil else group.toSeq
        val opts = RestoreScriptOptions(sourceDb = db, restoreToTime = Some(restoreTo))
        val chains = keyCols.iterator.map { keyCol =>
          (rows.groupBy(_.getAs[String](keyCol)) - null).toSeq
            .flatMap { case (key, slice) =>
              RestoreScriptGenerator.plan(slice.map(RestoreScriptGenerator.decode),
                  opts, restoreTo).toSeq
                .flatMap(_.steps.map(s => Row(db, key, s.RestoreID, s.BackupType,
                  s.backup_start_date, s.first_lsn.bigDecimal, s.last_lsn.bigDecimal,
                  s.from_clause, s.physical_devices, s.stop_at.isDefined)))
            }
        }
        chains.find(_.nonEmpty).getOrElse(Nil)
      }(Encoders.row(schema))
  }
}
