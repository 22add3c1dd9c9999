package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, first, lit, max, sum}

import graft.etl.{EtlRunner, ExtractTransform, MsdbDerivation}
import graft.store.{ConsolidatedStore, WatermarkStore}

/** Phase budget for the q64 end-to-end ETL lifecycle (etl_round_trip).
  *
  * Replays q64's exact scenario — two servers sharing one msdb fixture,
  * two full `runOnce` cycles (full extract + idempotent duplicate
  * delivery, then a 5-minute-rewind re-extract) — but serialized and
  * with a wall timer around every phase, so the committed BASELINE.md
  * table can attribute q64's wall seconds to extract / append / CRDT
  * advance / verification-read instead of guessing. Also times the real
  * `EtlRunner.runOnce` (parallelism = 2, the bench shape) for the same
  * fixture so the serialized sum can be compared to the overlapped wall.
  *
  * Run: `SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 runMain graft.EtlPhaseProbe`
  */
object EtlPhaseProbe {

  /** Top-level parquet data files of the store dir (0 when absent). */
  private def dataFiles(store: String): Int = {
    val fs = new java.io.File(store).listFiles()
    if (fs == null) 0 else fs.count(_.getName.endsWith(".parquet"))
  }

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

    val src = MsdbDerivation.sources(spark, sfDir)

    // per-phase best-of-reps (each rep replays the whole lifecycle on a
    // fresh store so every phase sees the exact q64 state)
    val best = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def time[A](name: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      val dt = (System.nanoTime() - t0) / 1e9
      best(name) = math.min(best.getOrElse(name, Double.MaxValue), dt)
      r
    }

    (0 until reps).foreach { _ =>
      val tmp = java.nio.file.Files.createTempDirectory("graft-phase").toString
      val store = s"$tmp/consolidated"
      val wmPath = s"$tmp/watermarks"

      (1 to 2).foreach { run =>
        val wms = time(s"r${run}_wm_read")(WatermarkStore.read(spark, wmPath))
        // runner shape: ONE fused extract+dedup checkpoint per (source,
        // watermark), shared by both servers; appends reuse the prepared
        // preamble (deduped rows + envelopes)
        val wm = wms.getOrElse("srvA", EtlRunner.DefaultWatermark)
        val keys = ConsolidatedStore.dedupKey
        val (ck, deduped, newWm) = time(s"r${run}_extract_dedup_ck") {
          val raw = ExtractTransform
            .extract(src, ExtractTransform.rewind(wm), sortOutput = false)
          val keySet = keys.toSet
          val aggs =
            raw.columns.filterNot(keySet).toSeq.map(c => first(c).as(c)) ++
              Seq(count(lit(1)).as("_dup_cnt"),
                max("backup_finish_date").as("_wm_max"))
          val ck = raw.groupBy(keys.map(raw(_)): _*)
            .agg(aggs.head, aggs.tail: _*).localCheckpoint()
          val r = ck.agg(sum("_dup_cnt"), max("_wm_max")).head()
          (ck, ck.select(raw.columns.map(col).toSeq: _*), r.getTimestamp(1))
        }
        val prep = time(s"r${run}_envelopes")(
          ConsolidatedStore.PreparedBatch(deduped,
            ConsolidatedStore.batchEnvelopes(deduped)))
        Seq("srvA", "srvB").foreach { server =>
          // bootstrap fan-out observable, isolated to THIS append: diff
          // the store's data-file count across the single r1 srvA write
          // (counting after the whole lifecycle let run-2 trickle files
          // inflate it — ">1" could hold even with a serial r1 write)
          val isBootstrap = run == 1 && server == "srvA"
          val before = if (isBootstrap) dataFiles(store) else 0
          time(s"r${run}_${server}_append") {
            ConsolidatedStore.appendPrepared(spark, store, prep)
          }
          if (isBootstrap)
            best("store_data_files") = (dataFiles(store) - before).toDouble
          time(s"r${run}_${server}_advance") {
            WatermarkStore.advance(spark, wmPath, server, newWm)
          }
        }
        graft.util.Checkpoints.release(ck)
      }

      time("verify_read") {
        val stored = ConsolidatedStore.read(spark, store)
        stored.count()
        stored.select("LogID").distinct().count()
        WatermarkStore.read(spark, wmPath)("srvA")
      }
    }

    // the real overlapped runner on a fresh store, q64's exact call shape
    (0 until reps).foreach { _ =>
      val tmp = java.nio.file.Files.createTempDirectory("graft-phase").toString
      val servers = Map("srvA" -> src, "srvB" -> src)
      time("runOnce_x2_p2") {
        EtlRunner.runOnce(spark, servers, s"$tmp/consolidated",
          s"$tmp/watermarks", parallelism = 2)
        EtlRunner.runOnce(spark, servers, s"$tmp/consolidated",
          s"$tmp/watermarks", parallelism = 2)
      }
    }

    // the bench-identical call (fresh sources per rep, full tail)
    (0 until reps).foreach { _ =>
      val freshSrc = time("sources_build")(MsdbDerivation.sources(spark, sfDir))
      val tmp = java.nio.file.Files.createTempDirectory("graft-phase").toString
      val servers = Map("srvA" -> freshSrc, "srvB" -> freshSrc)
      time("runOnce_x2_p2_freshsrc") {
        EtlRunner.runOnce(spark, servers, s"$tmp/consolidated",
          s"$tmp/watermarks", parallelism = 2)
        EtlRunner.runOnce(spark, servers, s"$tmp/consolidated",
          s"$tmp/watermarks", parallelism = 2)
      }
      time("q64_full_call") {
        graft.queries.EtlQueries.q64EtlRoundTrip(spark, sfDir).collect()
      }
    }

    val phases = best.map { case (k, v) => f""""$k":$v%.3f""" }.mkString(",")
    val serialSum = best
      .filterNot(p => p._1.startsWith("runOnce") || p._1 == "q64_full_call"
        || p._1 == "store_data_files")
      .values.sum
    println(s"""{"probe":"etl_phase","sf_dir":"$sfDir","reps":$reps,""" +
      f""""phases":{$phases},"serial_sum":$serialSum%.3f}""")
    spark.stop()
  }
}
