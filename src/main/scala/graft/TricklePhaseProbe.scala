package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.etl.BackupHistoryDerivation
import graft.maintenance.StoreMaintenance
import graft.store.ConsolidatedStore

/** Step budget for the q155-shaped trickle lifecycle (8 date-ordered
  * slice appends under the small-file maintenance policy): times slice
  * prep, each append, each due-probe/optimize, and the final read-back —
  * so optimization of the protocol chain lands on the stage that owns
  * the seconds. Run: `SPARK_GRAFT_SF_DIR=... runMain graft.TricklePhaseProbe`.
  */
object TricklePhaseProbe {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt.max(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftExtensions.install(spark)
    // untimed warm, mirroring the bench isolate contract
    BackupHistoryDerivation.canonicalFrame(spark, sfDir).count()

    val best = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def time[A](name: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      val dt = (System.nanoTime() - t0) / 1e9
      best(name) = math.min(best.getOrElse(name, Double.MaxValue), dt)
      r
    }

    (0 until reps).foreach { _ =>
      val tmp = java.nio.file.Files.createTempDirectory("graft-q155p-").toString
      val store = s"$tmp/consolidated"
      val slices = 8
      val bh = time("prep_slices") {
        val b = BackupHistoryDerivation.canonicalFrame(spark, sfDir)
          .drop("LogID")
          .withColumn("_s", ntile(slices).over(
            org.apache.spark.sql.expressions.Window.orderBy(
              "backup_finish_date", "database_name", "last_lsn",
              "physical_device_name")))
          .localCheckpoint()
        b.count()
        b
      }
      val policy = StoreMaintenance.Policy(
        smallFileBytes = 64L << 20, maxSmallFiles = 4)
      (1 to slices).foreach { i =>
        time(s"append_$i") {
          ConsolidatedStore.append(spark, store,
            bh.filter(col("_s") === i).drop("_s"))
        }
        time(s"maint_$i") {
          StoreMaintenance.runIfDue(spark, store, policy)
        }
      }
      time("read_agg") {
        ConsolidatedStore.read(spark, store)
          .groupBy("database_name")
          .agg(
            count(lit(1)).as("n_rows"),
            countDistinct(col("LogID")).as("n_ids"),
            max("backup_finish_date").as("db_max_finish"))
          .orderBy("database_name")
          .localCheckpoint()
          .count()
      }
      graft.util.Checkpoints.release(bh)
    }

    val phases = best.map { case (k, v) => f""""$k":$v%.3f""" }.mkString(",")
    println(s"""{"probe":"trickle_phase","phases":{$phases}}""")
    spark.stop()
  }
}
