package fleetbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.etl.{EtlRunner, SourceBatchResult}
import graft.maintenance.{Compaction, StoreMaintenance}
import graft.script.{FleetRestorePlanner, RestoreScriptGenerator, RestoreScriptOptions}
import graft.store.{ConsolidatedStore, StoreDelete, StoreLog, WatermarkStore}

/** What one run measured and found. */
final class Run(val spark: SparkSession, val tr: Tracer, val work: Path,
    val cpus: Int) {
  val samples: mutable.Map[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap.empty
  var rowsLanded = 0L
  var etlSeconds = 0.0
  var attempted = 0L
  var failed = 0L
  val problems: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  def sample(kind: String, s: Double): Unit = {
    samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += s
    if (sys.env.contains("FLEETBENCH_VERBOSE")) System.err.println(f"[op] $kind $s%.3f")
  }

  def expect(errs: Seq[String]): Unit = errs.foreach { e =>
    problems += e
    System.err.println(s"[fleetbench] CHECK FAILED: $e")
  }

  /** Run one timed operation; an exception or an error result counts it
    * as failed and the run goes on.
    */
  def attempt(what: String)(body: => Unit): Unit = {
    attempted += 1
    try body
    catch {
      case scala.util.control.NonFatal(e) =>
        failed += 1
        System.err.println(s"[fleetbench] $what failed: $e")
    }
  }

  def sc = spark.sparkContext
}

/** A consolidated store under test, its watermark table, the model of
  * what it must hold, and the simulated clock.
  */
final class Live(run: Run, val fleet: Fleet, msdb: Vector[Fleet.ServerMsdb],
    val dir: Path, val retentionDays: Int) {
  import run.{spark, tr, sc}

  val store: String = dir.resolve("store").toString
  val wm: String = dir.resolve("watermarks").toString
  val model = new Model(fleet)
  var clock: Long = fleet.clockMs
  private var purged = false

  private def sources = msdb.map(m => m.server -> m.at(clock)).toMap

  private def etlExtras(res: Seq[SourceBatchResult]): Unit = {
    tr.add("etl.rows_extracted", res.map(_.extracted).sum.toDouble)
    tr.add("etl.rows_appended", res.map(_.appended).sum.toDouble)
    tr.add("etl.wm_read_retries", res.headOption.map(_.wmReadRetries).getOrElse(0L).toDouble)
  }

  private def checkEtl(res: Seq[SourceBatchResult], landed: Int): Unit = {
    res.flatMap(r => r.error.map(e => s"${r.server}: $e")).foreach(e =>
      throw new IllegalStateException(s"ETL reported $e"))
    val got = res.map(_.appended).sum
    if (got != landed) run.expect(Seq(s"ETL landed $got rows, expected $landed"))
  }

  /** One scheduled fleet cycle: advance the clock one ETL interval, run
    * the ETL over every server (serialized loads), then the default
    * small-file maintenance policy.
    */
  def cycle(): Unit = run.attempt("cycle") {
    checked = None
    clock += fleet.shape.intervalMin * Fleet.MinMs
    var res: Seq[SourceBatchResult] = Nil
    var rep: StoreMaintenance.Report = null
    val t = tr.op("cycle") {
      res = tr.call(sc, "etl", "runOnce")(
        EtlRunner.runOnce(spark, sources, store, wm, parallelism = run.cpus))
      rep = tr.call(sc, "maintenance", "runIfDue")(
        StoreMaintenance.runIfDue(spark, store))
    }
    checkEtl(res, model.etl(clock))
    run.sample("cycle", t)
    run.rowsLanded += res.map(_.appended).sum
    run.etlSeconds += t
    etlExtras(res)
    if (rep.ran) {
      tr.add("maintenance.optimize_runs", 1)
      tr.add("maintenance.files_rewritten", rep.rewritten.toDouble)
    }
  }

  /** The first ETL of an empty store over the whole backlog: extract
    * parallelism `cpus`, optimistic concurrent loads.
    */
  def backfill(): Unit = run.attempt("backfill") {
    var res: Seq[SourceBatchResult] = Nil
    val t = tr.op("backfill")(tr.call(sc, "etl", "runOnce") {
      res = EtlRunner.runOnce(spark, sources, store, wm,
        parallelism = run.cpus, concurrentLoads = true)
    })
    run.sample("cycle", t)
    run.rowsLanded += res.map(_.appended).sum
    run.etlSeconds += t
    etlExtras(res)
    checkEtl(res, model.etl(clock))
    verify(exactIds = true)
  }

  /** Untimed: load the history through the program's own backlog cycle. */
  def load(): Unit = {
    val res = tr.untraced(sc)(EtlRunner.runOnce(spark, sources, store, wm,
      parallelism = run.cpus))
    checkEtl(res, model.etl(clock))
    tr.untraced(sc)(StoreMaintenance.runIfDue(spark, store))
    verify(exactIds = true)
  }

  /** Retention purge at the workload's retention, as of the clock. */
  def purge(timed: Boolean = true): Unit = run.attempt("purge") {
    var st: StoreDelete.DeleteStats = null
    def body(): Unit =
      st = StoreDelete.purgeExpired(spark, store, retentionDays, new Timestamp(clock))
    if (timed) {
      run.sample("purge", tr.op("purge") {
        tr.call(sc, "store", "purgeExpired")(body())
      })
      tr.add("maintenance.rows_purged", st.deleted.toDouble)
    } else tr.untraced(sc)(body())
    val cutoff = model.purge(clock, retentionDays)
    purged = true
    val rows = readRows()
    run.expect(Checks.purge(rows, cutoff, model))
    run.expect(Checks.store(rows, model, exactIds = false))
    checked = Some(rows)
  }

  def compact(): Unit = run.attempt("compact") {
    val before = checked.getOrElse(readRows())
    checked = None
    val filesBefore = tr.untraced(sc)(Compaction.dataFileCount(spark, store))
    var after = 0L
    run.sample("compact", tr.op("compact") {
      tr.call(sc, "maintenance", "compact") { after = Compaction.compact(spark, store) }
    })
    tr.add("maintenance.files_rewritten", filesBefore.toDouble)
    val rows = readRows()
    run.expect(Checks.compaction(before, rows, filesBefore, after))
    run.expect(Checks.store(rows, model, exactIds = !purged))
  }

  private def options(db: Db, rnd: scala.util.Random, t: Long, move: Boolean)
      : (RestoreScriptOptions, String) = {
    val byAg = db.ag.isDefined && (!db.serverRecorded || rnd.nextBoolean())
    val opts = RestoreScriptOptions(
      sourceDb = db.name,
      sourceServer = if (byAg) None else Some(db.server),
      sourceAgName = if (byAg) db.ag else None,
      restoreToTime = Some(new Timestamp(t)),
      restoreDataPath = if (move) Some("E:\\RestoreData") else None,
      restoreLogPath = if (move) Some("F:\\RestoreLog") else None)
    (opts, if (byAg) db.ag.get else db.server)
  }

  /** A point-in-time restore script for a random database, key and
    * restore time within `windowMs` before the clock; `move` relocates
    * the data and log files.
    */
  def script(rnd: scala.util.Random, windowMs: Long, move: Boolean): Unit =
    run.attempt("script") {
      val db = fleet.dbs(rnd.nextInt(fleet.dbs.size))
      val t = clock - (rnd.nextDouble() * windowMs).toLong
      val (opts, key) = options(db, rnd, t, move)
      var plan: graft.script.RestorePlan = null
      run.sample("script", tr.op("script") {
        val bh = tr.call(sc, "store", "read")(ConsolidatedStore.read(spark, store))
        plan = tr.call(sc, "script", "generate")(
          RestoreScriptGenerator.generate(spark, bh, opts))
      })
      tr.add("script.steps", plan.steps.size.toDouble)
      val slice = model.rows.filter(r => r.db == db.name &&
        (if (opts.sourceAgName.isDefined) r.ag.contains(key) else r.server.contains(key)))
        .toSeq
      val want = Model.chain(slice, t).getOrElse(
        throw new IllegalStateException(s"no full for ${db.name} before $t"))
      val steps = plan.steps.map(s => Step(s.RestoreID, s.BackupType,
        s.first_lsn.toLong, s.last_lsn.toLong, s.from_clause, s.stop_at.isDefined))
      val fullCopyOnly = slice.exists(r => r.typ == "Full" && r.copyOnly &&
        r.lastLsn == want.head.lastLsn)
      run.expect(Checks.chain(s"script ${db.name}@$key", steps, want, fullCopyOnly))
      val stopAt = Main.stopAt(t)
      plan.steps.flatMap(_.stop_at).filterNot(_ == stopAt).headOption.foreach(s =>
        run.expect(Seq(s"script ${db.name}: STOPAT $s, expected $stopAt")))
      if (opts.restoreDataPath.isDefined) {
        val moves = Main.moveClause(db)
        if (!plan.steps.head.RestoreCommand.contains(moves))
          run.expect(Seq(s"script ${db.name}: MOVE clause differs from $moves"))
      }
    }

  /** Every backup that landed on one device, drawn from the last day's
    * backups (the devices an operator asks about).
    */
  def lookup(rnd: scala.util.Random): Unit =
    run.attempt("lookup") {
      val devices = model.rows.filter(_.finishMs > clock - Fleet.DayMs)
        .map(_.device).toVector.sorted
      val dev = devices(rnd.nextInt(devices.size))
      var got: Array[org.apache.spark.sql.Row] = null
      run.sample("lookup", tr.op("lookup") {
        got = tr.call(sc, "store", "readForDevice")(
          ConsolidatedStore.readForDevice(spark, store, dev).collect())
      })
      run.expect(Checks.lookup(dev, got.toSeq.map(Main.toRow), model))
    }

  /** Restore chains for every database in the fleet at once. */
  def fleetPlan(rnd: scala.util.Random, windowMs: Long): Unit =
    run.attempt("fleet_plan") {
      val t = clock - (rnd.nextDouble() * windowMs).toLong
      var got: Array[org.apache.spark.sql.Row] = null
      run.sample("fleet_plan", tr.op("fleet_plan") {
        val bh = tr.call(sc, "store", "read")(ConsolidatedStore.read(spark, store))
        got = tr.call(sc, "script", "planAllWithFallback")(
          FleetRestorePlanner.planAllWithFallback(bh, new Timestamp(t)).collect())
      })
      val plans = got.toSeq.groupBy(r => (r.getAs[String]("database_name"), r.getAs[String]("key")))
        .map { case (k, rs) => k -> rs.map(r => Step(r.getAs[Long]("restore_id"),
          r.getAs[String]("backup_type"),
          r.getAs[java.math.BigDecimal]("first_lsn").longValue,
          r.getAs[java.math.BigDecimal]("last_lsn").longValue,
          r.getAs[String]("from_clause"), r.getAs[Boolean]("stopat"))) }
      tr.add("restore.chains", plans.size.toDouble)
      val rows = model.rows.toSeq
      val want = Model.fleetPlan(rows, t)
      if (plans.keySet != want.keySet)
        run.expect(Seq(s"fleet plan covers ${plans.keySet.size} chains, expected " +
          s"${want.keySet.size}: ${plans.keySet.diff(want.keySet).take(2)} / " +
          s"${want.keySet.diff(plans.keySet).take(2)}"))
      want.foreach { case (k @ (db, key), steps) =>
        plans.get(k).foreach { p =>
          val slice = rows.filter(r => r.db == db &&
            (r.server.contains(key) || r.ag.contains(key)))
          val copyOnly = slice.exists(r => r.typ == "Full" && r.copyOnly &&
            r.lastLsn == steps.head.lastLsn)
          run.expect(Checks.chain(s"fleet plan $db@$key", p, steps, copyOnly))
        }
      }
    }

  /** Rows the last purge check read, while no write has happened since. */
  private var checked: Option[Seq[Row]] = None

  /** Every live row, read for the checks (untraced). */
  def readRows(): Seq[Row] = tr.untraced(sc)(
    ConsolidatedStore.read(spark, store).select(Main.RowCols.map(
      org.apache.spark.sql.functions.col): _*).collect().toSeq.map(Main.toRow))

  /** Final state: rows, LogIDs and watermarks against the model. */
  def verify(exactIds: Boolean): Unit = {
    run.expect(Checks.store(readRows(), model, exactIds && !purged))
    val got = tr.untraced(sc)(WatermarkStore.read(spark, wm))
      .map { case (s, t) => s -> t.getTime }
    run.expect(Checks.watermarks(got, model.watermarks))
  }

  /** All bytes under the store root ÷ live rows. */
  def bytesPerRow(): Double = {
    val root = java.nio.file.Paths.get(store)
    val s = Files.walk(root)
    val bytes = try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    bytes.toDouble / math.max(1, model.size)
  }

  def layoutCounts(): Unit = {
    tr.set("store.data_files", tr.untraced(sc)(Compaction.dataFileCount(spark, store)).toDouble)
    tr.set("store.log_versions", tr.untraced(sc)(StoreLog.currentVersion(spark, store)).toDouble)
  }
}

/** A workload: the fleet it generates, what setup builds, and one round
  * of interleaved timed operations. Set-up ends with untimed rounds, so
  * every op type is warm before the first timed one; a run then measures
  * `--seconds / roundSeconds` whole rounds.
  */
trait Workload {
  def shape: Shape
  /** The share of `--seconds` one round stands for. A round's ops take
    * about this long on a 4-vCPU host; its checks add 1–2 s more.
    */
  def roundSeconds: Double
  def retentionDays: Int
  /** Restore times are drawn from this window before the clock. */
  def windowMs: Long
  def setup(run: Run, fleet: Fleet, msdb: Vector[Fleet.ServerMsdb]): Unit
  def round(rnd: scala.util.Random): Seq[() => Unit]
  /** The store whose state the end-of-run checks and metrics read. */
  def live: Live
}

object Workloads {

  def byName(name: String): Workload = name match {
    case "fleet_trickle" => new FleetTrickle
    case "restore_incident" => new RestoreIncident
    case "backfill_retention" => new BackfillRetention
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def dir(run: Run, name: String): Path =
    Files.createDirectories(run.work.resolve(name))

  /** Steady-state scheduled ETL on a 15-minute interval over a 9-day
    * history, starting at 19:00 so every cycle lands exactly one log
    * backup per database (the daily fulls and diffs run after 01:00).
    * Each round is one cycle, the rolling 8-day retention purge, a
    * compaction, and the on-call reads against the live store: two
    * restore scripts with MOVE paths to a time in the last day and four
    * device lookups.
    */
  final class FleetTrickle extends Workload {
    val shape: Shape = Shape(servers = 2, dbsPerServer = 3, intervalMin = 15,
      historyDays = 9, futureDays = 2, clockMin = 19 * 60)
    val roundSeconds = 5.0
    val retentionDays = 8
    val windowMs: Long = Fleet.DayMs
    var live: Live = _

    def setup(run: Run, fleet: Fleet, msdb: Vector[Fleet.ServerMsdb]): Unit = {
      live = new Live(run, fleet, msdb, dir(run, "trickle"), retentionDays)
      live.load()
    }

    def round(rnd: scala.util.Random): Seq[() => Unit] = Seq(
      () => live.cycle(), () => live.lookup(rnd), () => live.purge(),
      () => live.script(rnd, windowMs, move = true), () => live.lookup(rnd),
      () => live.script(rnd, windowMs, move = true), () => live.lookup(rnd),
      () => live.compact(), () => live.lookup(rnd))
  }

  /** On-call restore planning over a long (190-day) history: scripts,
    * device lookups and fleet plans, with the 4-hourly ETL, its 180-day
    * retention and a compaction underneath.
    */
  final class RestoreIncident extends Workload {
    val shape: Shape = Shape(servers = 2, dbsPerServer = 3, intervalMin = 240,
      historyDays = 190, futureDays = 30)
    val roundSeconds = 8.0
    val retentionDays = 180
    val windowMs: Long = 170 * Fleet.DayMs
    var live: Live = _

    def setup(run: Run, fleet: Fleet, msdb: Vector[Fleet.ServerMsdb]): Unit = {
      live = new Live(run, fleet, msdb, dir(run, "incident"), retentionDays)
      live.load()
      live.purge(timed = false)
    }

    def round(rnd: scala.util.Random): Seq[() => Unit] = Seq(
      () => live.script(rnd, windowMs, move = true), () => live.lookup(rnd),
      () => live.fleetPlan(rnd, windowMs), () => live.lookup(rnd),
      () => live.cycle(), () => live.purge(),
      () => live.script(rnd, windowMs, move = false), () => live.lookup(rnd),
      () => live.compact(), () => live.lookup(rnd))
  }

  /** Onboarding in bulk: each round backfills a fresh store from a
    * 200-day backlog (optimistic concurrent loads), purges it to 180 days
    * and compacts it; two restore scripts with MOVE paths and four device
    * lookups read the freshly onboarded store.
    */
  final class BackfillRetention extends Workload {
    val shape: Shape = Shape(servers = 2, dbsPerServer = 3, intervalMin = 240,
      historyDays = 200, futureDays = 1)
    val roundSeconds = 5.0
    val retentionDays = 180
    val windowMs: Long = 170 * Fleet.DayMs
    var live: Live = _
    private var run: Run = _
    private var fleet: Fleet = _
    private var msdb: Vector[Fleet.ServerMsdb] = _
    private var n = 0

    def setup(run: Run, fleet: Fleet, msdb: Vector[Fleet.ServerMsdb]): Unit = {
      this.run = run
      this.fleet = fleet
      this.msdb = msdb
    }

    private def backfill(): Unit = {
      n += 1
      if (live != null) Main.deleteTree(live.dir)
      val d = Files.createDirectories(run.work.resolve(s"backfill-$n"))
      live = new Live(run, fleet, msdb, d, retentionDays)
      live.backfill()
    }

    def round(rnd: scala.util.Random): Seq[() => Unit] = Seq(
      () => backfill(), () => live.lookup(rnd), () => live.purge(),
      () => live.script(rnd, windowMs, move = true), () => live.lookup(rnd),
      () => live.script(rnd, windowMs, move = true), () => live.lookup(rnd),
      () => live.compact(), () => live.lookup(rnd))
  }
}
