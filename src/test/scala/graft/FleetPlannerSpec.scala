package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.BackupHistoryDerivation
import graft.script.{FleetRestorePlanner, RestoreScriptGenerator, RestoreScriptOptions}

/** The fleet-wide planner must produce, for each (db, server), exactly
  * the chain the scalar planner produces for that pair.
  */
class FleetPlannerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val T = Timestamp.valueOf("2024-01-20 00:00:00")

  test("fleet plan slice equals the scalar planner for every pair") {
    val bh = BackupHistoryDerivation.canonicalFrame(spark, TestSpark.sf)
    val fleet = FleetRestorePlanner.planAll(bh, "server_name", T)
      .select("database_name", "key", "restore_id", "backup_type",
        "backup_start_date", "last_lsn", "from_clause", "physical_devices",
        "stopat")
      .as[(String, String, Long, String, Timestamp, BigDecimal, String,
        String, Boolean)]
      .collect()
      .groupBy(r => (r._1, r._2))

    val pairs = bh.select("database_name", "server_name").distinct()
      .as[(String, String)].collect()

    assert(fleet.nonEmpty && pairs.nonEmpty)
    pairs.foreach { case (db, srv) =>
      val scalar =
        try Some(RestoreScriptGenerator.generate(spark, bh,
          RestoreScriptOptions(sourceDb = db, sourceServer = Some(srv),
            restoreToTime = Some(T))))
        catch { case _: IllegalStateException => None } // no full before T
      val fleetSteps = fleet.getOrElse((db, srv), Array.empty)
        .sortBy(_._3)
        .map(r => (r._3, r._4, r._5, r._6, r._7, r._8, r._9)).toSeq
      scalar match {
        case None => assert(fleetSteps.isEmpty, s"$db/$srv: fleet has steps but scalar none")
        case Some(plan) =>
          val scalarSteps = plan.steps.map(s =>
            (s.RestoreID, s.BackupType, s.backup_start_date, s.last_lsn,
              s.from_clause, s.physical_devices, s.stop_at.isDefined))
          assert(fleetSteps == scalarSteps, s"$db/$srv mismatch")
      }
    }
  }

  test("fleet plan output schema: names, order, types and nullability") {
    val bh = BackupHistoryDerivation.canonicalFrame(spark, TestSpark.sf)
    val expected = StructType(Seq(
      StructField("database_name", StringType),
      StructField("key", StringType),
      StructField("restore_id", LongType),
      StructField("backup_type", StringType, nullable = false),
      StructField("backup_start_date", TimestampType),
      StructField("first_lsn", DecimalType(25, 0)),
      StructField("last_lsn", DecimalType(25, 0)),
      StructField("from_clause", StringType, nullable = false),
      StructField("physical_devices", StringType, nullable = false),
      StructField("stopat", BooleanType, nullable = false)))
    assert(FleetRestorePlanner.planAll(bh, "server_name", T).schema == expected)
    assert(FleetRestorePlanner.planAllWithFallback(bh, T).schema == expected)
  }

  test("fleet plan restores every stripe of a striped overlap log") {
    val bh = RestoreTimelines.stripedOverlap(spark)
    val at = Timestamp.valueOf("2024-01-01 06:00:00")
    val logs = FleetRestorePlanner.planAll(bh, "server_name", at)
      .filter(col("backup_type") === "Log")
      .select("restore_id", "last_lsn", "from_clause")
      .as[(Long, BigDecimal, String)].collect().sortBy(_._1).toSeq
    assert(logs.map(_._2.toLong) == Seq(3000L, 3500L))
    assert(logs.last._3 == RestoreTimelines.stripedOverlapFrom)
  }

  test("fleet fallback plans AG-only databases the scalar fallback way") {
    // ag-only slice: null out server_name for one database, keep its
    // ag_name — the scalar path finds it only via the AG fallback
    val bh0 = BackupHistoryDerivation.canonicalFrame(spark, TestSpark.sf)
    val bh = bh0.withColumn("server_name",
      when(col("database_name") === "db0", lit(null)).otherwise(col("server_name")))
    val agOfDb0 = bh0.filter(col("database_name") === "db0")
      .select("ag_name").filter(col("ag_name").isNotNull)
      .head().getString(0)

    val fleet = FleetRestorePlanner.planAllWithFallback(bh, T)
    val db0Steps = fleet.filter(col("database_name") === "db0")
      .select("key", "restore_id", "backup_type", "last_lsn", "stopat")
      .as[(String, Long, String, BigDecimal, Boolean)]
      .collect().sortBy(_._2).toSeq
    assert(db0Steps.nonEmpty, "db0 must be planned via the AG fallback")
    assert(db0Steps.forall(_._1 == agOfDb0), "db0 keyed by its AG name")

    val scalar = RestoreScriptGenerator.generate(spark, bh,
      RestoreScriptOptions(sourceDb = "db0", sourceAgName = Some(agOfDb0),
        restoreToTime = Some(T)))
    val scalarSteps = scalar.steps.map(s =>
      (agOfDb0, s.RestoreID, s.BackupType, s.last_lsn, s.stop_at.isDefined))
    assert(db0Steps == scalarSteps, "fallback chain equals scalar AG chain")

    // databases still server-planned must not be re-planned AG-keyed
    val keys = fleet.filter(col("database_name") =!= "db0")
      .select("key").distinct().as[String].collect().toSet
    assert(keys.forall(_.startsWith("srv")),
      s"server-planned databases keep their server key, got $keys")
  }
}
