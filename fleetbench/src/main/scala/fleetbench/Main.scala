package fleetbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** The benchmark command. Runs one workload in this JVM and prints one
  * JSON result as the last line of standard output:
  *
  * {{{
  * Main --workload fleet_trickle --seed 1 --seconds 10 --trace 0 --work <dir>
  * }}}
  *
  * `--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
  * ones (and writes the spans to `<work>/trace-<workload>-<seed>.jsonl`).
  */
object Main {

  val WarmRounds = 1
  /** No round starts after this many seconds of the run. */
  val DeadlineS = 110.0

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = Files.createDirectories(Paths.get(opts("work")).toAbsolutePath)
    val workload = Workloads.byName(name)
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors)

    val builder = SparkSession.builder()
    // the traced run counts filesystem calls through a wrapping local FS
    if (trace) builder
      .config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
    val spark = builder
      .master(s"local[$cpus]")
      .appName("fleetbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftExtensions.install(spark)
    val tr = new Tracer(trace)
    if (trace) spark.sparkContext.addSparkListener(tr.listener)
    val run = new Run(spark, tr, work.resolve(s"run-$name-$seed"), cpus)
    deleteTree(run.work)

    try {
      val sessionS = (System.nanoTime() - t0) / 1e9
      val fleet = Fleet.generate(workload.shape, seed)
      val msdb = Fleet.msdb(spark, fleet)
      workload.setup(run, fleet, msdb)
      // an untimed round warms every op type (JIT, codegen, caches)
      val warmRnd = new scala.util.Random(seed * 104729 + 3)
      for (_ <- 1 to WarmRounds)
        tr.untraced(run.sc)(workload.round(warmRnd).foreach(op => op()))
      val setupS = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[fleetbench] set-up $setupS%.2f s, of which session $sessionS%.2f s")
      if (run.failed > 0 || run.problems.nonEmpty)
        throw new IllegalStateException("set-up failed its checks")
      run.attempted = 0
      run.samples.clear()
      run.rowsLanded = 0
      run.etlSeconds = 0

      // the measured work is fixed by --seconds, not by the host's speed:
      // every run of a workload attempts the same ops in the same order,
      // so a slow host stretches the run instead of changing its op mix;
      // only a host so slow that the run nears its time limit cuts rounds
      val planned = math.max(1, math.round(seconds / workload.roundSeconds).toInt)
      val rnd = new scala.util.Random(seed * 7919 + 17)
      val start = System.nanoTime()
      var rounds = 0
      while (rounds < planned && (rounds == 0 || (System.nanoTime() - t0) / 1e9 < DeadlineS)) {
        // a full GC between rounds, untimed, so no round pays for the
        // garbage of the one before it
        System.gc()
        workload.round(rnd).foreach(op => op())
        rounds += 1
      }
      if (rounds < planned)
        System.err.println(s"[fleetbench] host too slow: $rounds of $planned rounds measured")
      val measured = (System.nanoTime() - start) / 1e9
      val bytesPerRow = workload.live.bytesPerRow()
      val live = workload.live
      live.verify(exactIds = true)
      live.layoutCounts()
      if (trace) tr.write(work.resolve(s"trace-$name-$seed.jsonl"))

      def med(kind: String): Double = median(run.samples.getOrElse(kind, Nil).toSeq)
      val e2e = Seq(
        ("setup_s", setupS, "s"),
        ("cycle_p50_s", med("cycle"), "s"),
        ("ingest_rows_per_s", run.rowsLanded / math.max(run.etlSeconds, 1e-9), "rows/s"),
        ("script_p50_s", med("script"), "s"),
        ("lookup_p50_s", med("lookup"), "s"),
        ("purge_s", med("purge"), "s"),
        ("compact_s", med("compact"), "s"),
        ("store_bytes_per_row", bytesPerRow, "B/row"))
      val counts = run.samples.map { case (k, v) =>
        f"$k=${v.size} (median ${median(v.toSeq)}%.3f s)" }.mkString(" ")
      System.err.println(f"[fleetbench] $name seed $seed: $rounds round(s), " +
        f"$measured%.1f s measured, samples: $counts; end state: " +
        f"${live.model.size} live rows")
      e2e.foreach { case (k, v, u) => System.err.println(f"[fleetbench]   $k%-20s $v%.4f $u") }
      val metrics =
        if (trace) tr.metrics().toSeq.sortBy(_._1).map { case (k, v) => (k, v, unitOf(k)) }
        else e2e
      val body = metrics.map { case (k, v, u) =>
        s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
      println(s"""{"correct": ${run.problems.isEmpty}, "attempted": ${run.attempted}, """ +
        s""""failed": ${run.failed}, "metrics": {$body}}""")
    } finally {
      spark.stop()
      deleteTree(run.work)
    }
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def unitOf(metric: String): String = metric.substring(metric.indexOf('.') + 1) match {
    case m if m.endsWith("_s") => "s"
    case "fs_bytes_written" | "shuffle_bytes" => "B"
    case _ => "count"
  }

  /** STOPAT literal of a restore time: UTC, seconds precision. */
  def stopAt(t: Long): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.ofEpochMilli(t))

  /** The MOVE clause a restore with relocated data and log paths must
    * carry: every file the backup recorded except dropped ones, data
    * files first, each under its new directory.
    */
  def moveClause(db: Db): String =
    db.files.filter(_.state != 8).sortBy(f => (f.fileType, f.logical)).map { f =>
      val base = f.physical.substring(f.physical.lastIndexOf('\\') + 1)
      val dir = if (f.fileType == "L") "F:\\RestoreLog\\" else "E:\\RestoreData\\"
      s"MOVE N'${f.logical}' TO N'$dir$base'"
    }.mkString(",\n")

  val RowCols: Seq[String] = Seq("LogID", "database_name", "BackupType",
    "physical_device_name", "device_type", "backup_start_date",
    "backup_finish_date", "server_name", "ag_name", "first_lsn", "last_lsn",
    "is_copy_only")

  def toRow(r: org.apache.spark.sql.Row): Row = Row(
    r.getAs[Long]("LogID"), r.getAs[String]("database_name"),
    r.getAs[String]("BackupType"), r.getAs[String]("physical_device_name"),
    r.getAs[Int]("device_type"),
    r.getAs[java.sql.Timestamp]("backup_start_date").getTime,
    r.getAs[java.sql.Timestamp]("backup_finish_date").getTime,
    Option(r.getAs[String]("server_name")), Option(r.getAs[String]("ag_name")),
    r.getAs[java.math.BigDecimal]("first_lsn").longValue,
    r.getAs[java.math.BigDecimal]("last_lsn").longValue,
    Option(r.getAs[Any]("is_copy_only")).contains(true))

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }
}
