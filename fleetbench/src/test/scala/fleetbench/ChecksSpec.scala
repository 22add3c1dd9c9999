package fleetbench

import org.scalatest.funsuite.AnyFunSuite

/** Each output check accepts the expected output and rejects a corrupted
  * copy of it. No Spark: the checks and the model are plain Scala.
  */
class ChecksSpec extends AnyFunSuite {

  private val fleet = Fleet.generate(
    Shape(servers = 2, dbsPerServer = 3, intervalMin = 60, historyDays = 20,
      futureDays = 1), seed = 5)

  private def loaded(): (Model, Seq[Row]) = {
    val m = new Model(fleet)
    m.etl(fleet.clockMs)
    val rows = m.rows.toSeq.sortBy(r => (r.finishMs, r.db, r.lastLsn, r.device))
      .zipWithIndex.map { case (r, i) => r.copy(logId = i + 1L) }
    (m, rows)
  }

  test("a correct store passes; a dropped row is rejected") {
    val (m, rows) = loaded()
    assert(Checks.store(rows, m, exactIds = true).isEmpty)
    val errs = Checks.store(rows.tail, m, exactIds = true)
    assert(errs.exists(_.contains("missing")), errs)
  }

  test("a duplicated LogID is rejected") {
    val (m, rows) = loaded()
    val dup = rows.updated(1, rows(1).copy(logId = rows(0).logId))
    val errs = Checks.store(dup, m, exactIds = false)
    assert(errs.exists(_.contains("duplicate LogIDs")), errs)
  }

  test("LogIDs must be exactly 1..N before any purge") {
    val (m, rows) = loaded()
    val shifted = rows.map(r => r.copy(logId = r.logId + 1))
    assert(Checks.store(shifted, m, exactIds = true).nonEmpty)
  }

  test("a row whose facts differ from the generated backup is rejected") {
    val (m, rows) = loaded()
    val bad = rows.updated(3, rows(3).copy(startMs = rows(3).startMs + 1000))
    assert(Checks.store(bad, m, exactIds = true).exists(_.contains("differs")))
  }

  private def slice(db: Db): Seq[Row] = {
    val (m, _) = loaded()
    m.rows.filter(r => r.db == db.name && r.server.contains(db.server)).toSeq
  }

  test("the expected chain passes; a wrong log step is rejected") {
    val db = fleet.dbs.find(d => d.recovery == "FULL" && d.serverRecorded).get
    val t = fleet.clockMs - 2 * Fleet.DayMs
    val want = Model.chain(slice(db), t).get
    assert(want.count(_.typ == "Log") >= 3)
    assert(Checks.chain("c", want, want, fullCopyOnly = false).isEmpty)
    // a log step pointing at the wrong backup breaks both the comparison
    // and the LSN continuity
    val i = want.indexWhere(_.typ == "Log") + 1
    val wrong = want.updated(i, want(i).copy(lastLsn = want(i).lastLsn + 1))
    val errs = Checks.chain("c", wrong, want, fullCopyOnly = false)
    assert(errs.exists(_.contains("first difference")), errs)
    assert(errs.exists(_.contains("log gap")), errs)
    // a missing log step is a gap too
    val dropped = want.patch(i, Nil, 1)
    assert(Checks.chain("c", dropped, want, fullCopyOnly = false)
      .exists(_.contains("log gap")))
  }

  test("STOPAT rides the last two log steps only") {
    val db = fleet.dbs.find(d => d.recovery == "FULL" && d.serverRecorded).get
    val want = Model.chain(slice(db), fleet.clockMs - Fleet.DayMs).get
    assert(want.filter(_.stopAt).map(_.id) == want.filter(_.typ == "Log").takeRight(2).map(_.id))
    val moved = want.map(s => s.copy(stopAt = s.typ == "Full"))
    assert(Checks.chain("c", moved, want, fullCopyOnly = false).nonEmpty)
  }

  test("a diff on top of a copy-only full is rejected") {
    val db = fleet.dbs.find(d => d.recovery == "FULL" && d.serverRecorded).get
    val want = (1 to 10).iterator
      .flatMap(d => Model.chain(slice(db), fleet.clockMs - d * Fleet.DayMs + 43200000L))
      .find(_.exists(_.typ == "Diff")).get
    assert(Checks.chain("c", want, want, fullCopyOnly = false).isEmpty)
    assert(Checks.chain("c", want, want, fullCopyOnly = true).exists(_.contains("copy-only")))
  }

  test("a copy-only full that is newest is the base, and no diff follows it") {
    val co = fleet.backups.find(b => b.typ == "D" && b.copyOnly &&
      b.db.serverRecorded && b.finishMs < fleet.clockMs - Fleet.DayMs).get
    val want = Model.chain(slice(co.db), co.finishMs + 60000L).get
    assert(want.head.lastLsn == co.lastLsn)
    assert(!want.exists(_.typ == "Diff"))
  }

  test("a survivor below the purge cutoff is rejected") {
    val (m, rows) = loaded()
    val cutoff = m.purge(fleet.clockMs, 10)
    assert(cutoff.isDefined)
    val kept = rows.filter(_.startMs >= cutoff.get)
    assert(Checks.purge(kept, cutoff, m).isEmpty)
    val stale = rows.find(_.startMs < cutoff.get).get
    val errs = Checks.purge(kept :+ stale, cutoff, m)
    assert(errs.exists(_.contains("below the purge cutoff")), errs)
    // and a row at or above the cutoff that went missing
    assert(Checks.purge(kept.tail, cutoff, m).exists(_.contains("were purged")))
  }

  test("compaction must keep rows and LogIDs and lower the file count") {
    val (_, rows) = loaded()
    assert(Checks.compaction(rows, rows.reverse, 7, 1).isEmpty)
    assert(Checks.compaction(rows, rows.tail, 7, 1).nonEmpty)
    val relabelled = rows.map(r => r.copy(logId = r.logId + 100))
    assert(Checks.compaction(rows, relabelled, 7, 1).nonEmpty)
    assert(Checks.compaction(rows, rows, 7, 7).nonEmpty)
  }

  test("a device lookup must return exactly that device's rows") {
    val (m, rows) = loaded()
    val r = rows(5)
    assert(Checks.lookup(r.device, Seq(r), m).isEmpty)
    assert(Checks.lookup(r.device, Seq(r, rows(6)), m).nonEmpty)
    assert(Checks.lookup(r.device, Nil, m).nonEmpty)
  }

  test("watermarks must equal each server's latest landed finish") {
    val (m, _) = loaded()
    val wm = m.watermarks
    assert(wm.keySet == fleet.servers.toSet)
    assert(Checks.watermarks(wm, wm).isEmpty)
    val (s, w) = wm.head
    assert(Checks.watermarks(wm.updated(s, w - 1), wm).nonEmpty)
  }

  test("the fleet plan falls back to the AG key only for databases without a server") {
    val (m, _) = loaded()
    val plan = Model.fleetPlan(m.rows.toSeq, fleet.clockMs - Fleet.DayMs)
    val agOnly = fleet.dbs.filter(!_.serverRecorded)
    assert(agOnly.nonEmpty)
    agOnly.foreach(d => assert(plan.contains((d.name, d.ag.get))))
    fleet.dbs.filter(_.serverRecorded).foreach(d =>
      assert(plan.keySet.filter(_._1 == d.name) == Set((d.name, d.server))))
  }

  test("the generator is deterministic in its seed and chains its log LSNs") {
    val again = Fleet.generate(fleet.shape, 5)
    assert(again.backups == fleet.backups)
    fleet.backups.filter(_.typ == "L").groupBy(_.db.name).values.foreach { logs =>
      logs.sortBy(_.startMs).sliding(2).foreach {
        case Seq(a, b) => assert(b.firstLsn == a.lastLsn)
        case _ =>
      }
    }
  }
}
