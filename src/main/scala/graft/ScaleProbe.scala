package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.BackupHistoryDerivation
import graft.store.{ConsolidatedStore, StoreDelete, StoreMerge, StoreMeta}

/** Scale-probe main: evidence for the store's O(batch + overlap) claims.
  *
  * Builds the canonical backup-history store at the given SF and a
  * `replicas`× larger twin (each replica re-namespaced into its own
  * `database_name` universe, appended as its own file set — the fleet
  * growth shape: more databases/servers, not deeper history per key),
  * then times the PRUNED operations q64/q114/q115/q142 exercise on
  * both, plus the q153 fleet-contention race (4 concurrent
  * `appendConcurrent` writers per store, counting claim losses = redone
  * batches), and prints one JSON line of per-op wall times and ratios.
  *
  * Expectations the committed BASELINE.md table records:
  *
  *   - trickle append (q64 shape), merge (q114), pruned chain read
  *     (q142): ~1× — the logged zone maps prune the anti-join /
  *     key-probe / scan to the key-overlapping files, so a 10× store
  *     costs the same as the 1× store;
  *   - retention purge (q115): affects 10× the rows but drops whole
  *     files by date envelope — sub-linear, dominated by per-file
  *     metadata renames, with no data scanned on dropped files.
  *
  * Run: `SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 runMain graft.ScaleProbe`
  */
object ScaleProbe {

  private def timeIt[A](reps: Int)(body: () => A): Double = {
    var best = Double.MaxValue
    (0 until reps).foreach { _ =>
      System.gc()
      val t0 = System.nanoTime()
      body()
      best = math.min(best, (System.nanoTime() - t0) / 1e9)
    }
    best
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val replicas = sys.env.getOrElse("SPARK_GRAFT_REPLICAS", "10").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt.max(1)
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

    val bh = BackupHistoryDerivation.canonicalFrame(spark, sfDir)
      .drop("LogID").cache()
    val baseRows = bh.count()

    def renamespace(df: DataFrame, r: Int): DataFrame =
      if (r == 0) df
      else df.withColumn("database_name",
        concat(col("database_name"), lit(s"_r$r")))

    def tmp(): String =
      java.nio.file.Files.createTempDirectory("graft-probe-").toString + "/t"

    // base store: two appends (multiple file sets, like the query bases)
    val base = tmp()
    ConsolidatedStore.append(spark, base,
      bh.filter(col("database_name") < "db2"))
    ConsolidatedStore.append(spark, base,
      bh.filter(col("database_name") >= "db2"))

    // big store: the same two appends per replica namespace
    val big = tmp()
    (0 until replicas).foreach { r =>
      val rb = renamespace(bh, r)
      ConsolidatedStore.append(spark, big,
        rb.filter(col("database_name") < "db2"))
      ConsolidatedStore.append(spark, big,
        rb.filter(col("database_name") >= "db2"))
    }

    val lsnT = graft.model.Schemas.lsnType

    // q64 shape: trickle append of a small FRESH batch into db0's range
    val trickle = bh.filter(col("database_name") === "db0" &&
        col("BackupType") === "Log")
      .withColumn("first_lsn", (col("first_lsn") + 500000000L).cast(lsnT))
      .withColumn("last_lsn", (col("last_lsn") + 500000000L).cast(lsnT))
      .cache()
    trickle.count()

    // q114 shape: corrections + fresh rows for db1/db2 (replica-0 keys)
    val corrections = bh
      .filter(col("database_name") === "db1" && col("BackupType") === "Full")
      .withColumn("CompressedSizeMB", col("CompressedSizeMB") + 1000)
    val freshRows = bh
      .filter(col("database_name") === "db2" && col("BackupType") === "Diff")
      .withColumn("first_lsn", (col("first_lsn") + 100000000L).cast(lsnT))
      .withColumn("last_lsn", (col("last_lsn") + 100000000L).cast(lsnT))
      .withColumn("physical_device_name",
        concat(col("physical_device_name"), lit("_v2")))
    val mergeBatch = corrections.unionByName(freshRows).cache()
    mergeBatch.count()

    // q142 shape: pruned chain lookup — one database, one LSN window
    val lsnLo = new java.math.BigDecimal(1000000)
    val lsnHi = new java.math.BigDecimal(500000000)
    def chainRead(path: String): Long =
      ConsolidatedStore.readWhere(spark, path, StoreMeta.ReadBounds(
          databases = Some(Set("db1")),
          lastLsnGt = Some(lsnLo), lastLsnLte = Some(lsnHi)))
        .count()

    def cloneOf(p: String): String = queries.StoreScaffold.cloned(p)

    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // the clone is O(store bytes) and must stay OUTSIDE the timed body —
    // inside it, the 10x store's copy cost would masquerade as the op's
    // and falsify the O(batch+overlap) evidence this probe commits
    def probe(name: String, path: String)(body: String => Unit): Unit = {
      var best = Double.MaxValue
      (0 until reps).foreach { _ =>
        val clone = cloneOf(path)
        System.gc()
        val t0 = System.nanoTime()
        body(clone)
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
      }
      out(name) = best
    }

    // read probes run on the shared store (no mutation — no clone)
    out("read_chain_base") = timeIt(reps)(() => chainRead(base))
    out("read_chain_10x") = timeIt(reps)(() => chainRead(big))
    probe("append_base", base)(p =>
      ConsolidatedStore.append(spark, p, trickle))
    probe("append_10x", big)(p =>
      ConsolidatedStore.append(spark, p, trickle))
    probe("merge_base", base)(p => StoreMerge.merge(spark, p, mergeBatch))
    probe("merge_10x", big)(p => StoreMerge.merge(spark, p, mergeBatch))
    probe("purge_base", base)(p => StoreDelete.purgeExpired(spark, p,
      retentionDays = 45,
      now = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")))
    probe("purge_10x", big)(p => StoreDelete.purgeExpired(spark, p,
      retentionDays = 45,
      now = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")))

    // q153 shape: W writers race appendConcurrent on ONE store — every
    // load goes through the optimistic version-claim protocol; losers
    // retract their published files and redo O(batch) work against the
    // winner's state. The fleet brief's growth axis is writers x data:
    // this times the same 4-writer race on the 1x and 10x stores and
    // counts claim attempts (attempts - writers = claims lost = redone
    // batches). Batches are per-writer re-namespaced, so contention is
    // pure protocol (version claims + LogID re-basing + stats scans),
    // not cross-writer dedup, and the row invariant is closed-form.
    val writers = sys.env.getOrElse("SPARK_GRAFT_WRITERS", "4").toInt
    val trickleRows = trickle.count()
    val fleetBatches = (0 until writers).map { i =>
      trickle.withColumn("database_name",
        concat(col("database_name"), lit(s"_w$i"))).cache()
    }
    fleetBatches.foreach(_.count())
    final case class FleetStats(
        wallSec: Double, maxWriterSec: Double, attempts: Long, rows: Long)
    def fleetProbe(path: String): FleetStats = {
      var best: FleetStats = null
      (0 until reps).foreach { _ =>
        val cl = cloneOf(path)
        val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
        try {
          val attempts = new java.util.concurrent.atomic.AtomicLong
          val rows = new java.util.concurrent.atomic.AtomicLong
          System.gc()
          val t0 = System.nanoTime()
          val walls = (0 until writers).map { i =>
            pool.submit(new java.util.concurrent.Callable[Double] {
              def call(): Double = {
                val w0 = System.nanoTime()
                var myAttempts = 0L
                // count at the retry-loop top (not the beforeCommit
                // seam): attempts aborted before publish — fileVanished
                // redos under CoW interference — are redone work too
                val n = ConsolidatedStore.appendConcurrentHooked(
                  spark, cl, fleetBatches(i),
                  Seq("database_name", "last_lsn"), maxAttempts = 16,
                  Nil, onAttempt = a => myAttempts = a)((_, _) => ())
                attempts.addAndGet(myAttempts)
                rows.addAndGet(n)
                (System.nanoTime() - w0) / 1e9
              }
            })
          }.map(_.get())
          val wall = (System.nanoTime() - t0) / 1e9
          require(rows.get == writers * trickleRows,
            s"fleet probe row invariant broke: ${rows.get} vs " +
              s"${writers * trickleRows}")
          if (best == null || wall < best.wallSec)
            best = FleetStats(wall, walls.max, attempts.get, rows.get)
        } finally pool.shutdown()
      }
      best
    }
    val fleetBase = fleetProbe(base)
    val fleetBig = fleetProbe(big)

    // merge-racing-appends: the round-14 bounded retry-with-recompute
    // (q114/q123's correction path racing the fleet's trickle appends).
    // One INSERT-bearing merge — rebaseDisjoint=false, its keys/LogIDs
    // derive from global state — starts simultaneously with W disjoint
    // appendConcurrent writers on one store; a lost claim rolls the
    // merge's footprint back and recomputes from the new committed
    // state. Measured at 1x and 10x data: the merge must LAND without
    // operator intervention, each recompute is O(batch + overlap) (flat
    // across store size), and the final state is exact. `attempts` is
    // the per-rep count of merge computations (1 = never raced);
    // `landedRetries` counts whole-merge reruns after the bounded
    // recompute budget was exhausted (expected 0; reported, not hidden).
    val mergeRows = mergeBatch.dropDuplicates(
      graft.model.Schemas.dedupKey).count()
    final case class MergeRaceStats(
        mergeSec: Double, attempts: Long, outerReruns: Long,
        upd: Long, ins: Long, raceSeen: Boolean)
    def mergeRaceProbe(path: String): MergeRaceStats = {
      var best: MergeRaceStats = null
      // the 800ms*i appender stagger is tuned to THIS host's merge
      // duration — on a faster/slower host every append can land outside
      // the compute window and the probe silently measures a merge over
      // a quiet store. Track whether ANY rep actually exercised the race
      // (a lost claim, a stale recompute, or an outer rerun) and say so
      // in the output instead of recording non-evidence as evidence.
      var raceSeen = false
      (0 until reps).foreach { _ =>
        val cl = cloneOf(path)
        val before = ConsolidatedStore.read(spark, cl).count()
        val pool = java.util.concurrent.Executors.newFixedThreadPool(writers + 1)
        try {
          val started = new java.util.concurrent.CountDownLatch(1)
          // appender starts STAGGERED across the merge's compute window:
          // simultaneous starts all commit in the merge's first seconds
          // and the claim race never fires (measured attempts=1 every
          // rep) — spreading them lands commits inside the merge's
          // publish→claim window, so the probe times the RECOMPUTE path
          // it exists to measure, not just a merge over a moving store
          val appenders = (0 until writers).map { i =>
            pool.submit(new java.util.concurrent.Callable[Long] {
              def call(): Long = {
                started.await()
                Thread.sleep(800L * i)
                ConsolidatedStore.appendConcurrent(spark, cl, fleetBatches(i))
              }
            })
          }
          var attempts = 0L
          var reruns = -1L
          System.gc()
          val t0 = System.nanoTime()
          started.countDown()
          var stats: StoreMerge.MergeStats = null
          while (stats == null) {
            reruns += 1
            try stats = StoreMerge.mergeHooked(spark, cl, mergeBatch,
              Nil, Seq("database_name", "last_lsn"), None)(() => attempts += 1)
            catch { case _: graft.store.StoreLog.ConcurrentCommitException
              if reruns < 4 => () }
          }
          val mergeSec = (System.nanoTime() - t0) / 1e9
          val appended = appenders.map(_.get()).sum
          require(appended == writers * trickleRows,
            s"merge-race append invariant broke: $appended")
          require(stats.updated + stats.inserted == mergeRows,
            s"merge-race merge invariant broke: $stats vs $mergeRows keys")
          val after = ConsolidatedStore.read(spark, cl).count()
          require(after == before + stats.inserted + appended,
            s"merge-race row conservation broke: $after vs " +
              s"$before + ${stats.inserted} + $appended")
          if (stats.attempts > 1 || attempts > 1 || reruns > 0)
            raceSeen = true
          if (best == null || mergeSec < best.mergeSec)
            best = MergeRaceStats(mergeSec, attempts, reruns,
              stats.updated, stats.inserted, raceSeen)
        } finally pool.shutdown()
      }
      if (!raceSeen)
        System.err.println(
          "SCALE-PROBE WARNING: merge-race probe never observed a lost " +
            "claim or stale recompute across all reps — the appender " +
            "stagger missed this host's merge window; the merge_race " +
            "timings measure a QUIET-store merge, not the recompute path " +
            "(race_exercised=false in the JSON)")
      best.copy(raceSeen = raceSeen)
    }
    val mergeRaceBase = mergeRaceProbe(base)
    val mergeRaceBig = mergeRaceProbe(big)

    def ratio(op: String): Double =
      out(s"${op}_10x") / math.max(1e-9, out(s"${op}_base"))
    val ops = Seq("read_chain", "append", "merge", "purge")
    val json = new StringBuilder
    json.append("{\"metric\":\"scale_probe\",\"sf_dir\":\"").append(sfDir)
      .append("\",\"replicas\":").append(replicas)
      .append(",\"base_rows\":").append(baseRows)
      .append(",\"ops\":{")
    json.append(ops.map { op =>
      f"""\"$op\":{\"base_sec\":${out(s"${op}_base")}%.3f,""" +
        f"""\"x10_sec\":${out(s"${op}_10x")}%.3f,\"ratio\":${ratio(op)}%.2f}"""
    }.mkString(","))
    json.append("},\"fleet\":{\"writers\":").append(writers)
      .append(",\"batch_rows\":").append(trickleRows)
    def fleetJson(tag: String, s: FleetStats): String =
      f"""\"$tag\":{\"wall_sec\":${s.wallSec}%.3f,""" +
        f"""\"max_writer_sec\":${s.maxWriterSec}%.3f,""" +
        f"""\"claims_won\":$writers,""" +
        f"""\"claims_lost\":${s.attempts - writers},""" +
        f"""\"rows\":${s.rows}}"""
    json.append(",").append(fleetJson("base", fleetBase))
      .append(",").append(fleetJson("x10", fleetBig))
    json.append("},\"merge_race\":{\"writers\":").append(writers)
      .append(",\"merge_keys\":").append(mergeRows)
    def mergeRaceJson(tag: String, s: MergeRaceStats): String =
      f"""\"$tag\":{\"merge_sec\":${s.mergeSec}%.3f,""" +
        f"""\"attempts\":${s.attempts},""" +
        f"""\"outer_reruns\":${s.outerReruns},""" +
        f"""\"race_exercised\":${s.raceSeen},""" +
        f"""\"updated\":${s.upd},\"inserted\":${s.ins}}"""
    json.append(",").append(mergeRaceJson("base", mergeRaceBase))
      .append(",").append(mergeRaceJson("x10", mergeRaceBig))
    json.append("}}")
    println(json.toString)
    spark.stop()
  }
}
