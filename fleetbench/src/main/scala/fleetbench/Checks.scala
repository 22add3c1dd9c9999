package fleetbench

/** Expected results, computed from the generator's schedule alone (plain
  * Scala, no Spark, no program code), and the checks that compare the
  * program's outputs against them. Every check returns the list of
  * problems it found; empty means the output is correct.
  */

/** One consolidated-store row as the checks see it (one stripe). */
final case class Row(
    logId: Long,
    db: String,
    typ: String,
    device: String,
    deviceType: Int,
    startMs: Long,
    finishMs: Long,
    server: Option[String],
    ag: Option[String],
    firstLsn: Long,
    lastLsn: Long,
    copyOnly: Boolean) {
  def key: (Long, Long, String, String) = (lastLsn, firstLsn, db, device)
}

/** One restore step: a script step or a fleet-plan row. */
final case class Step(
    id: Long,
    typ: String,
    firstLsn: Long,
    lastLsn: Long,
    fromClause: String,
    stopAt: Boolean)

/** The live row set the store should hold, maintained op by op. */
final class Model(fleet: Fleet) {
  private var live = Map.empty[(Long, Long, String, String), Row]
  private var appended = 0L

  def rows: Iterable[Row] = live.values
  def size: Int = live.size
  def totalAppended: Long = appended

  private var wm = Map.empty[String, Long]

  /** Per-server watermark after the cycles so far (latest finish landed). */
  def watermarks: Map[String, Long] = wm

  /** The reference's ETL semantics for a cycle at `nowMs`: per server,
    * extract every backup visible by then that finished at or after the
    * watermark minus 5 minutes, land the stripes the store does not
    * hold, and move the watermark to the batch's latest finish (never on
    * an empty batch). Returns the rows landed.
    */
  def etl(nowMs: Long): Int = {
    var landed = 0
    fleet.visible(nowMs).groupBy(_.db.server).foreach { case (srv, bks) =>
      val since = wm.get(srv).map(_ - 5 * Fleet.MinMs).getOrElse(Long.MinValue)
      val batch = bks.filter(_.finishMs >= since)
      if (batch.nonEmpty) {
        val fresh = Model.rowsOf(batch).filterNot(r => live.contains(r.key))
        live ++= fresh.map(r => r.key -> r)
        landed += fresh.size
        wm += srv -> batch.map(_.finishMs).max
      }
    }
    appended += landed
    landed
  }

  /** The reference's retention rule: cutoff = newest start older than
    * `now - days`; rows strictly below it go. Returns the cutoff.
    */
  def purge(nowMs: Long, days: Int): Option[Long] = {
    val cutoff = Model.cutoff(live.values, nowMs, days)
    cutoff.foreach(c => live = live.filter(_._2.startMs >= c))
    cutoff
  }
}

object Model {
  def rowsOf(bks: Iterable[Bk]): Vector[Row] = bks.iterator.flatMap { b =>
    b.devices.map(d => Row(0L, b.db.name, b.backupType, d, b.db.deviceType,
      b.startMs, b.finishMs, b.serverName, b.db.ag, b.firstLsn, b.lastLsn,
      b.copyOnly))
  }.toVector

  def cutoff(rows: Iterable[Row], nowMs: Long, days: Int): Option[Long] = {
    val threshold = nowMs - days * Fleet.DayMs
    rows.iterator.map(_.startMs).filter(_ < threshold).maxOption
  }

  private val Restorable = Set(2, 9)

  private def from(stripes: Seq[Row]): String =
    stripes.sortBy(_.device).map { r =>
      (if (r.deviceType == 9) "URL = N'" else "DISK = N'") + r.device + "'"
    }.mkString(",\n")

  private def newestSet(rows: Seq[Row]): Seq[Row] =
    if (rows.isEmpty) Nil else {
      val top = rows.map(_.lastLsn).max
      rows.filter(_.lastLsn == top)
    }

  /** The restore chain the reference's selection rules give for one
    * slice (one database under one server or AG key) at time `t`:
    * newest restorable full at or before `t`; newest diff past it unless
    * that full is copy-only; every log past the base up to `t` plus the
    * first log after `t`; STOPAT on the last two logs. None when the
    * slice has no full before `t`.
    */
  def chain(slice: Seq[Row], t: Long): Option[Seq[Step]] = {
    val full = newestSet(slice.filter(r => r.typ == "Full" &&
      Restorable(r.deviceType) && r.startMs <= t)).sortBy(_.device)
    if (full.isEmpty) return None
    val fullLsn = full.head.lastLsn
    val diff =
      if (full.head.copyOnly) Nil
      else newestSet(slice.filter(r => r.typ == "Diff" && r.lastLsn > fullLsn &&
        r.startMs <= t)).sortBy(_.device)
    val base = diff.headOption.map(_.lastLsn).getOrElse(fullLsn)
    val logs = slice.filter(r => r.typ == "Log" && r.lastLsn > base)
    val inRange = logs.filter(_.startMs <= t)
    val overlap = logs.filter(_.startMs > t)
      .sortBy(r => (r.startMs, r.lastLsn)).take(1)
    val sets = (inRange ++ overlap).groupBy(r => (r.firstLsn, r.lastLsn))
      .toSeq.sortBy(_._1._2)
    val n = sets.size
    val logSteps = sets.zipWithIndex.map { case (((f, l), stripes), i) =>
      Step((if (diff.isEmpty) 2L else 3L) + i, "Log", f, l, from(stripes), i >= n - 2)
    }
    Some(Seq(Step(1L, "Full", full.head.firstLsn, fullLsn, from(full), false)) ++
      diff.headOption.map(d => Step(2L, "Diff", d.firstLsn, d.lastLsn, from(diff), false)) ++
      logSteps)
  }

  /** Fleet-wide plan: every (database, server) with a chain, then
    * databases with none keyed by server planned by their AG.
    */
  def fleetPlan(rows: Seq[Row], t: Long): Map[(String, String), Seq[Step]] = {
    val byServer = rows.filter(_.server.isDefined).groupBy(r => (r.db, r.server.get))
      .flatMap { case (k, s) => chain(s, t).map(k -> _) }
    val planned = byServer.keySet.map(_._1)
    val byAg = rows.filter(r => r.ag.isDefined && !planned(r.db))
      .groupBy(r => (r.db, r.ag.get))
      .flatMap { case (k, s) => chain(s, t).map(k -> _) }
    byServer ++ byAg
  }
}

object Checks {

  /** Live rows equal the model's: same count, same dedup-key set, one
    * row per key, distinct LogIDs inside 1..appended. With `exactIds`
    * (no purge has run yet) the LogIDs are exactly 1..N.
    */
  def store(actual: Seq[Row], model: Model, exactIds: Boolean): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val keys = actual.map(_.key)
    if (actual.size != model.size)
      errs += s"store holds ${actual.size} rows, expected ${model.size}"
    if (keys.distinct.size != keys.size)
      errs += s"${keys.size - keys.distinct.size} duplicate dedup keys"
    val want = model.rows.map(_.key).toSet
    val missing = want.diff(keys.toSet)
    val extra = keys.toSet.diff(want)
    if (missing.nonEmpty) errs += s"${missing.size} expected rows missing, e.g. ${missing.head}"
    if (extra.nonEmpty) errs += s"${extra.size} unexpected rows, e.g. ${extra.head}"
    val ids = actual.map(_.logId)
    if (ids.distinct.size != ids.size)
      errs += s"${ids.size - ids.distinct.size} duplicate LogIDs"
    if (ids.exists(i => i < 1 || i > model.totalAppended))
      errs += s"LogIDs outside 1..${model.totalAppended}"
    if (exactIds && ids.sorted != (1L to actual.size.toLong))
      errs += s"LogIDs are not exactly 1..${actual.size}"
    // every stored row's facts match the generated backup
    val byKey = model.rows.map(r => r.key -> r).toMap
    actual.find(r => byKey.get(r.key).exists(e => e.copy(logId = r.logId) != r))
      .foreach(r => errs += s"row ${r.key} differs from its generated backup")
    errs.result()
  }

  def watermarks(actual: Map[String, Long], expected: Map[String, Long]): Seq[String] =
    expected.toSeq.sorted.collect {
      case (s, w) if !actual.get(s).contains(w) =>
        s"watermark of $s is ${actual.get(s)}, expected $w"
    }

  /** The program's chain equals the expected one step for step; and,
    * independently of the expectation, the log LSNs chain without a gap
    * from the base and no diff rests on a copy-only full.
    */
  def chain(what: String, actual: Seq[Step], expected: Seq[Step],
      fullCopyOnly: Boolean): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val a = actual.sortBy(_.id)
    if (a != expected) {
      val i = a.zip(expected).indexWhere { case (x, y) => x != y }
      val at = if (i >= 0) i else math.min(a.size, expected.size)
      errs += s"$what: ${a.size} steps vs ${expected.size} expected; " +
        s"first difference at step ${at + 1}: ${a.lift(at)} vs ${expected.lift(at)}"
    }
    val base = a.takeWhile(_.typ != "Log").lastOption.map(_.lastLsn)
    val logs = a.filter(_.typ == "Log")
    (base, logs.headOption) match {
      case (Some(b), Some(l)) if !(l.firstLsn <= b && b < l.lastLsn) =>
        errs += s"$what: first log ${l.firstLsn}..${l.lastLsn} does not cover base $b"
      case _ =>
    }
    logs.sliding(2).foreach {
      case Seq(p, q) if q.firstLsn != p.lastLsn =>
        errs += s"$what: log gap ${p.lastLsn} -> ${q.firstLsn}"
      case _ =>
    }
    if (fullCopyOnly && a.exists(_.typ == "Diff"))
      errs += s"$what: diff restored on top of a copy-only full"
    errs.result()
  }

  def lookup(device: String, actual: Seq[Row], model: Model): Seq[String] = {
    val want = model.rows.filter(_.device == device).map(_.key).toSet
    val got = actual.map(_.key)
    if (got.size == want.size && got.toSet == want) Nil
    else Seq(s"lookup of $device returned ${got.size} rows, expected ${want.size}")
  }

  /** Compaction keeps every row and its LogID, and lowers the file count. */
  def compaction(before: Seq[Row], after: Seq[Row], filesBefore: Long,
      filesAfter: Long): Seq[String] = {
    val errs = Seq.newBuilder[String]
    if (before.map(r => r.logId -> r.key).toSet != after.map(r => r.logId -> r.key).toSet ||
        before.size != after.size)
      errs += s"compaction changed the live rows (${before.size} -> ${after.size})"
    if (filesBefore > 1 && filesAfter >= filesBefore)
      errs += s"compaction left $filesAfter files (was $filesBefore)"
    errs.result()
  }

  /** After a purge: nothing below the cutoff survives, every row at or
    * above it does.
    */
  def purge(actual: Seq[Row], cutoff: Option[Long], model: Model): Seq[String] = {
    val errs = Seq.newBuilder[String]
    cutoff.foreach { c =>
      val below = actual.count(_.startMs < c)
      if (below > 0) errs += s"$below rows below the purge cutoff survived"
    }
    val survivors = actual.map(_.key).toSet
    val lost = model.rows.count(r => !survivors(r.key))
    if (lost > 0) errs += s"$lost rows at or above the cutoff were purged"
    errs.result()
  }
}
