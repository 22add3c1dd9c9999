package graft.store

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.Schemas

/** Versioned commit log for the consolidated store — SNAPSHOT reads
  * (time travel) over immutable parquet, the capability a mutable SQL
  * table genuinely cannot offer and a 100 TB training-data store needs
  * (reproduce last month's restore plan; re-run a curation job against
  * the exact table a model was trained on; audit what a retention pass
  * removed).
  *
  * Design (the Delta-Lake shape, scoped to this store's needs):
  *
  *  - `<root>/_graft_log/v000000042.json` — one small commit per
  *    mutation: a JSON header line `{"version", "op", "adds":[...],
  *    "removes":[...], "txn", "stats": n}` with store-root-relative file
  *    paths, then one [[FileStats]] row per added file
  *    ([[StoreMeta.renderStats]]) — Delta's `add` actions carrying file
  *    stats. The zone maps every append, merge and pruned read plans
  *    with are therefore the log's own state, not a second log beside
  *    it. O(batch) per append.
  *  - **Current-state reads stay plain directory scans.** Unlike Delta,
  *    the live table IS the directory: operations that replace files
  *    (compaction) move the replaced files into
  *    `<root>/_graft_history/v000000042/` (the commit that removed
  *    them) instead of deleting — underscore-prefixed, so normal scans
  *    never see them. No reader has to consult the log to get today's
  *    table; only time travel replays it.
  *  - [[snapshot]] resolves each file live at version v to its current
  *    physical home: still in the root if never removed, else in the
  *    history dir of the commit that removed it.
  *  - [[vacuum]] bounds storage: drops history dirs of commits `<=
  *    beforeVersion`, after which snapshots needing them refuse with a
  *    clear error (exactly Delta's vacuum contract).
  *
  * The log is maintained by every store writer (appends, merge, delete,
  * compaction) on list-able layouts (flat or hive-partitioned — the
  * layouts [[StoreMeta.listDataFiles]] accepts); foreign layouts skip logging and
  * simply have no time travel. A store that predates the log is
  * baselined before its first logged commit ([[baselineIfUnlogged]]):
  * version 1 lists every data file, so history begins there.
  */
object StoreLog {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  val dirName = "_graft_log"
  val historyDirName = "_graft_history"

  /** One log CHECKPOINT per this many commits: a `ckpt-v%09d.json` file
    * holding the live files with their stats and the seen txn tokens at
    * that version, so the hot-path log readers ([[headState]],
    * [[txnSeen]]) read one checkpoint + at most this many
    * tail commits instead of every commit since the store was born —
    * O(64), not O(#commits), per operation on a store with years of
    * trickle appends. Checkpoints are DERIVED data over immutable
    * commits: any writer may produce one (the version claim's winner
    * does, inside [[tryCommit]]), a torn one is skipped for the next
    * older, and losing one costs a longer replay, never a wrong answer.
    * Time-travel reads ([[liveFilesAt]], [[changes]]) and the repair /
    * vacuum paths keep full-fidelity replay — they need per-version
    * archive homes, not just the head state.
    */
  private[graft] val CheckpointEvery = 64

  /** `txn`: optional idempotence token (writer-chosen, e.g.
    * "app:batchId") recorded with the commit — the Delta-style
    * transactional-writer contract that makes a redelivered streaming
    * micro-batch a NO-OP instead of a double-apply ([[txnSeen]]).
    * `stats`: one row per add, in `adds` order; empty on a commit written
    * before the log carried stats (its files are scanned when read).
    */
  final case class Commit(
      version: Int, op: String, adds: Seq[String], removes: Seq[String],
      txn: Option[String] = None, stats: Seq[FileStats] = Nil) {
    /** (file, stats) per add; null stats = not recorded. */
    private[store] def added: Seq[(String, FileStats)] =
      if (stats.nonEmpty) stats.map(f => f.file -> f) else adds.map(_ -> null)
  }

  /** The committed head: its version (0 = no log), the live files with
    * their zone-map stats, and the seen txn tokens.
    */
  final case class HeadState(version: Int, live: Seq[FileStats],
      txns: Set[String]) {
    def maxLogId: Long = live.foldLeft(0L)((m, f) => math.max(m, f.logIdMax))
  }

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  private def commitPath(root: String, v: Int): Path =
    new Path(s"$root/$dirName/${f"v$v%09d"}.json")

  def exists(spark: SparkSession, root: String): Boolean = {
    val p = new Path(s"$root/$dirName")
    fs(spark, p).exists(p)
  }

  /** Highest committed version (0 = no log). */
  def currentVersion(spark: SparkSession, root: String): Int =
    listVersions(spark, root).lastOption.getOrElse(0)

  /** Commit and checkpoint versions of the log, ascending, from ONE
    * listing of the log directory, and the file system that listed it:
    * the reads that follow reuse it instead of resolving one per file
    * (each resolution copies the session's Hadoop configuration).
    */
  private final case class LogListing(versions: Seq[Int], checkpoints: Seq[Int],
      fs: FileSystem)

  private def listLog(spark: SparkSession, root: String): LogListing = {
    val dir = new Path(s"$root/$dirName")
    val f = fs(spark, dir)
    if (!f.exists(dir)) return LogListing(Nil, Nil, f)
    val names = f.listStatus(dir).toSeq.map(_.getPath.getName)
    def numbered(prefix: String): Seq[Int] = names
      .collect { case n if n.startsWith(prefix) && n.endsWith(".json") =>
        n.stripPrefix(prefix).stripSuffix(".json").toInt
      }
      .sorted
    LogListing(numbered("v"), numbered("ckpt-v"), f)
  }

  private def listVersions(spark: SparkSession, root: String): Seq[Int] =
    listLog(spark, root).versions

  /** Test seam: observes every metadata-file read ([[readBytesOf]]).
    * StoreLogSpec counts reads under a given root to pin the
    * O(CheckpointEvery) bounds of the checkpointed paths.
    */
  @volatile private[graft] var metaReadProbe: Path => Unit = null

  /** Read a small metadata file fully, driver-side (commits,
    * checkpoints and watermark segments).
    */
  private[store] def readBytesOf(spark: SparkSession, p: Path): Array[Byte] =
    readBytes(fs(spark, p), p)

  private def readBytes(f: FileSystem, p: Path): Array[Byte] = {
    val probe = metaReadProbe
    if (probe != null) probe(p)
    val in = f.open(p)
    try {
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
      bos.toByteArray
    } finally in.close()
  }

  /** Parse commit `v`, tolerating the claim→fill window: a commit file
    * appears at CLAIM time (create-no-overwrite is the multi-writer
    * arbiter) and is filled one small write later (local paths write
    * claim+content in ONE atomic call, but HDFS-like schemes keep the
    * two-call window); a concurrent reader listing in that window sees
    * an empty/partial file. That is a claim in progress, not
    * corruption — re-read before giving up. The patience must EXCEED
    * [[AbortedClaimMinAgeMs]]: below it, a writer merely paused (GC,
    * throttled FS) between claim and fill would make every log reader
    * throw while repair itself correctly refuses to drop so young a
    * claim — a band where readers crash against a healthy store.
    */
  private def readCommitPatiently(f: FileSystem, root: String, v: Int): Commit = {
    val p = commitPath(root, v)
    var attempt = 0
    var out: Commit = null
    val maxAttempts = (AbortedClaimMinAgeMs / 10L).toInt + 100
    while (out == null) {
      try out = parse(new String(readBytes(f, p), StandardCharsets.UTF_8))
      catch {
        case e: Exception =>
          attempt += 1
          if (attempt > maxAttempts)
            throw new IllegalStateException(
              s"commit file $p unreadable after ${attempt - 1} retries — " +
                "if a writer died mid-claim, StoreRepair.repair drops the " +
                "aborted claim", e)
          Thread.sleep(10L)
      }
    }
    out
  }

  def readCommits(spark: SparkSession, root: String): Seq[Commit] = {
    val listing = listLog(spark, root)
    listing.versions.map(v => readCommitPatiently(listing.fs, root, v))
  }

  // ---- log checkpoints (see CheckpointEvery) ----

  /** `homes`: cumulative remove index through `version` — for every file
    * ever removed by a commit `<= version`, the ascending list of remove
    * versions (uuid file names make re-removal after a re-add
    * essentially impossible, but the list keeps the index exact if it
    * ever happens). This is what makes TIME TRAVEL O(CheckpointEvery):
    * [[liveFilesAt]] resolves each archived file's history home from the
    * newest checkpoint's index + the tail commits instead of replaying
    * every commit since the store was born. None on checkpoints written
    * before the index existed — home resolution then falls back to
    * reading the post-`version` commits (correct, just slower) until the
    * next checkpoint rewrites the index.
    */
  /** `vacuumHorizon`: the highest remove-version whose archive home had
    * been VACUUMED when this checkpoint pruned the index (0 = none).
    * Requests below it must fail loudly: the pruned index can no longer
    * distinguish "file never removed before my kept versions" from
    * "removed at a vacuumed version" — resolving such a request against
    * the surviving entries silently serves a LATER incarnation's content
    * (or the live root file) for a pre-vacuum snapshot.
    *
    * `live`: each live file with its stats, null on a checkpoint written
    * before the log carried stats.
    */
  private final case class Checkpoint(
      version: Int, live: Seq[(String, FileStats)], txns: Seq[String],
      homes: Option[Map[String, Seq[Int]]],
      vacuumHorizon: Int = 0)

  private def ckptPath(root: String, v: Int): Path =
    new Path(s"$root/$dirName/${f"ckpt-v$v%09d"}.json")

  private def readCheckpointOpt(
      f: FileSystem, root: String, v: Int): Option[Checkpoint] =
    try {
      import org.json4s._
      val (jv, stats) = parseLines(new String(
        readBytes(f, ckptPath(root, v)), StandardCharsets.UTF_8))
      implicit val fmt: Formats = DefaultFormats
      Some(Checkpoint(
        (jv \ "version").extract[Int],
        (jv \ "live") match {
          case JNothing | JNull => stats.map(f => f.file -> f)
          case names => names.extract[Seq[String]].map(_ -> null)
        },
        (jv \ "txns").extract[Seq[String]],
        // explicit presence check: json4s extracts a MISSING field to an
        // EMPTY Map (extractOpt returns Some(Map())), which would make a
        // pre-index checkpoint masquerade as "indexed, nothing ever
        // removed" — liveFilesAt would then skip the pre-checkpoint
        // commits and silently resolve wrong archive homes instead of
        // taking the documented tail-replay fallback
        (jv \ "homes") match {
          case JNothing | JNull => None
          case h => Some(h.extract[Map[String, Seq[Int]]])
        },
        (jv \ "vacuumHorizon") match {
          case JNothing | JNull => 0
          case h => h.extract[Int]
        }))
    } catch {
      // torn by a dead writer, or vanished — fall back to an older
      // checkpoint / full replay; a checkpoint is a pure accelerator
      case _: Exception => None
    }

  private type LiveStats = scala.collection.mutable.LinkedHashMap[String, FileStats]

  /** (live files → stats, seen txn tokens) at `version`, reconstructed
    * from the newest readable checkpoint `<= version` plus the tail
    * commits — the hot-path read shape. Null stats = not recorded.
    */
  private def stateAt(spark: SparkSession, root: String, version: Int,
      listing: LogListing): (LiveStats, scala.collection.mutable.Set[String]) = {
    val live: LiveStats = scala.collection.mutable.LinkedHashMap.empty
    val txns = scala.collection.mutable.Set.empty[String]
    val base = newestReadableCheckpoint(spark, root, version, listing)
    base.foreach { c => live ++= c.live; txns ++= c.txns }
    val from = base.map(_.version).getOrElse(0)
    listing.versions.filter(v => v > from && v <= version)
      .foreach { v =>
        val c = readCommitPatiently(listing.fs, root, v)
        live ++= c.added; live --= c.removes; c.txn.foreach(txns += _)
      }
    (live, txns)
  }

  /** The stats of every live file: the recorded ones, plus one footer
    * scan of the files whose commit or checkpoint predates stats in the
    * log (the next checkpoint records those, see [[checkpointNow]]).
    */
  private def filledStats(
      spark: SparkSession, root: String, live: LiveStats): Seq[FileStats] = {
    val unknown = live.collect { case (f, null) => f }.toSeq
    StoreMeta.scanStats(spark, root, unknown).foreach(s => live(s.file) = s)
    live.values.toSeq
  }

  /** Newest readable checkpoint at or below `atMost`. */
  private def newestReadableCheckpoint(
      spark: SparkSession, root: String, atMost: Int,
      listing: LogListing): Option[Checkpoint] =
    listing.checkpoints
      .filter(_ <= atMost).sorted(Ordering[Int].reverse)
      .iterator.map(cv => readCheckpointOpt(listing.fs, root, cv))
      .collectFirst { case Some(c) => c }

  /** The head version, and the COMMITTED live files with their stats
    * and the seen txn tokens at it, from one listing of the log
    * directory — the one committed-state read every writer and pruned
    * reader plans with. Version 0 (no files, no txns) = no log yet.
    *
    * Copy-on-write maintenance (merge/delete/compaction) must derive its
    * read-and-remove candidates from THIS set, never from a directory
    * listing: a listing sees a concurrent appender's
    * published-but-unclaimed files, and absorbing one into a replacing
    * commit turns the appender's in-flight batch into this writer's
    * archive (silently lost rows once the appender's own commit lands,
    * or permanently if an abort rollback discards it).
    */
  def headState(spark: SparkSession, root: String): HeadState = {
    val listing = listLog(spark, root)
    val head = listing.versions.lastOption.getOrElse(0)
    val (live, txns) = stateAt(spark, root, head, listing)
    HeadState(head, filledStats(spark, root, live), txns.toSet)
  }

  /** Write the checkpoint for `v` if it is due; never fails the commit
    * that triggered it (derived data — a reader without it just replays
    * more commits).
    */
  private def maybeCheckpoint(
      spark: SparkSession, root: String, v: Int): Unit = {
    if (v % CheckpointEvery != 0) return
    try writeCheckpoint(spark, root, v)
    catch {
      case scala.util.control.NonFatal(e) =>
        log.warn(s"log checkpoint v$v on $root failed " +
          "(accelerator only — readers replay commits): " + e)
    }
  }

  /** Force a checkpoint at the current head — the maintenance entry
    * point that upgrades a store on demand instead of waiting for the
    * next natural multiple of [[CheckpointEvery]]. Three uses: a store
    * whose commits predate stats in the log scans those files on every
    * state read until a checkpoint records their stats — this writes
    * one now; a store
    * whose checkpoints predate the `homes` remove index keeps the
    * slower tail-replay time travel until a checkpoint REWRITE — this
    * writes one now (the index builds via one full replay, after which
    * every snapshot read is checkpoint-bounded); and a vacuum-heavy
    * store sheds its pruned index entries immediately (see the pruning
    * note in [[writeCheckpoint]]). Idempotent and multi-writer-safe:
    * the checkpoint file is create-no-overwrite and pure derived data.
    * Returns the head version (0 = empty log, nothing written).
    */
  def checkpointNow(spark: SparkSession, root: String): Int = {
    val head = currentVersion(spark, root)
    if (head >= 1) writeCheckpoint(spark, root, head)
    head
  }

  private def writeCheckpoint(
      spark: SparkSession, root: String, v: Int): Unit = {
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    // build from the newest base checkpoint CARRYING a remove index;
    // an index-less base (pre-index checkpoint) forces one full replay
    // here, which repairs the store onto the indexed fast path
    val listing = listLog(spark, root)
    val base = newestReadableCheckpoint(spark, root, v, listing)
      .filter(_.homes.isDefined)
    val live: LiveStats = scala.collection.mutable.LinkedHashMap.empty
    val txns = scala.collection.mutable.Set.empty[String]
    val homes = scala.collection.mutable.Map.empty[String, Seq[Int]]
    base.foreach { c =>
      live ++= c.live; txns ++= c.txns; homes ++= c.homes.get
    }
    val from = base.map(_.version).getOrElse(0)
    listing.versions.filter(x => x > from && x <= v).foreach { x =>
      val c = readCommitPatiently(listing.fs, root, x)
      live ++= c.added; live --= c.removes; c.txn.foreach(txns += _)
      c.removes.foreach(r => homes(r) = homes.getOrElse(r, Nil) :+ x)
    }
    // prune index entries whose archive home dir was VACUUMED: the
    // files are gone, so the entry can no longer serve a snapshot (the
    // read fails loudly either way), and left alone the cumulative
    // index grows O(every remove since the store was born) on
    // delete/compaction-heavy stores — an unbounded metadata blob.
    // One history-dir listing bounds the index to the retention
    // window. A store with NO history dir (log-level use, or no
    // replace op yet) keeps its entries: absence of the dir tree says
    // nothing about vacuuming there. Committed archive dirs never
    // move (re-homing only touches uncommitted parked archives), so
    // the listing is stable against concurrent replacers.
    val histDir = new Path(s"$root/$historyDirName")
    val hfs = fs(spark, histDir)
    // the horizon never retreats: carry the base checkpoint's forward
    // and raise it by every remove-version pruned HERE, so a request at
    // or below any ever-pruned version fails loudly in liveFilesAt
    // instead of resolving to a later incarnation's surviving home
    var horizon = base.map(_.vacuumHorizon).getOrElse(0)
    if (hfs.exists(histDir)) {
      val present = hfs.listStatus(histDir).toSeq.map(_.getPath.getName)
        .collect { case n if n.startsWith("v") && n.drop(1).forall(_.isDigit) =>
          n.drop(1).toInt
        }.toSet
      val pruned = homes.toSeq.flatMap { case (fl, vs) =>
        val (kept, dropped) = vs.partition(present)
        if (dropped.nonEmpty) horizon = math.max(horizon, dropped.max)
        if (kept.isEmpty) None else Some(fl -> kept)
      }
      homes.clear(); homes ++= pruned
    }
    val stats = filledStats(spark, root, live)
    val header = JsonMethods.compact(JsonMethods.render(
      ("version" -> v) ~ ("txns" -> txns.toSeq.sorted) ~
        ("homes" -> homes.toMap) ~
        ("vacuumHorizon" -> horizon) ~ ("stats" -> stats.size)))
    val p = ckptPath(root, v)
    createExclusive(fs(spark, p), p, renderLines(header, stats))
  }

  /** Commits and checkpoints are JSON lines: a header object announcing
    * `"stats": n`, then n [[FileStats]] rows. A header without the count
    * was written before the log carried stats and has no rows. A row
    * count that disagrees with the header is a torn file (a reader in a
    * writer's create→fill window, or a dead writer) and throws, as a
    * truncated header does.
    */
  private def parseLines(text: String): (org.json4s.JValue, Seq[FileStats]) = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmt: Formats = DefaultFormats
    val lines = text.split('\n')
    val jv = JsonMethods.parse(lines(0))
    val stats = (jv \ "stats") match {
      case JNothing | JNull => Nil
      case n =>
        require(lines.length == n.extract[Int] + 1,
          s"torn log file: ${lines.length - 1} of ${n.extract[Int]} stats rows")
        lines.toSeq.tail.map(StoreMeta.parseStats)
    }
    (jv, stats)
  }

  private def renderLines(header: String, stats: Seq[FileStats]): Array[Byte] =
    (header +: stats.map(StoreMeta.renderStats)).mkString("\n")
      .getBytes(StandardCharsets.UTF_8)

  private def parse(text: String): Commit = {
    import org.json4s._
    implicit val fmt: Formats = DefaultFormats
    val (jv, stats) = parseLines(text)
    val c = Commit(
      (jv \ "version").extract[Int],
      (jv \ "op").extract[String],
      (jv \ "adds").extract[Seq[String]],
      (jv \ "removes").extract[Seq[String]],
      (jv \ "txn").extractOpt[String],
      stats)
    require(stats.isEmpty || stats.map(_.file) == c.adds,
      s"commit v${c.version}: stats rows do not match its adds")
    c
  }

  private def render(c: Commit): Array[Byte] = {
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    renderLines(JsonMethods.compact(JsonMethods.render(
      ("version" -> c.version) ~ ("op" -> c.op) ~
        ("adds" -> c.adds) ~ ("removes" -> c.removes) ~ ("txn" -> c.txn) ~
        ("stats" -> c.stats.size))), c.stats)
  }

  /** Whether a throwable (anywhere in its cause chain) reports a data
    * file that vanished between plan and execution — the signature of a
    * racing copy-on-write commit archiving a file this reader had
    * resolved. Optimistic writers treat it as a redo signal, not a
    * failure.
    */
  def fileVanished(t: Throwable): Boolean = {
    var cur = t
    var depth = 0
    while (cur != null && depth < 20) {
      if (cur.isInstanceOf[java.io.FileNotFoundException]) return true
      val m = cur.getMessage
      if (m != null &&
        (m.contains("Path does not exist") || m.contains("PATH_NOT_FOUND") ||
          m.contains("FileNotFoundException"))) return true
      cur = cur.getCause
      depth += 1
    }
    false
  }

  /** Minimum wall-clock age (by mtime) an unreadable claim must reach
    * before [[dropAbortedTrailingClaims]] treats it as dead — strictly
    * more patient than [[readCommits]]' ~1 s claim-fill tolerance, so a
    * merely slow (GC-paused) writer's in-flight fill is never discarded
    * as a crash. Tests backdate the claim file's mtime instead of
    * sleeping.
    */
  private[store] val AbortedClaimMinAgeMs = 5000L

  /** Remove TRAILING commit files that were claimed but never filled —
    * the footprint of a writer dying between [[tryCommit]]'s create and
    * its write. Without this the log is bricked: [[readCommits]] retries
    * then throws on every read, and no claim of that version can ever
    * succeed. Trailing = the drop repeats from the highest version down
    * while the head stays unreadable (a dead claim that a serialized
    * [[commit]] might otherwise have committed past is still found).
    *
    * A claim is only dropped when it is BOTH unreadable AND older (by
    * mtime) than [[AbortedClaimMinAgeMs]] — deleting a younger claim
    * could race the claiming writer's delayed fill: on POSIX its write
    * to the unlinked file would succeed, it would report a commit that
    * the log silently lost. Only explicit crash recovery
    * ([[StoreRepair.repair]] with `dropStaleClaims = true`) calls this;
    * live-path repairs (the [[commitReplacing]] abort) never do.
    * Returns the number of claims dropped.
    */
  private[store] def dropAbortedTrailingClaims(
      spark: SparkSession, root: String,
      minClaimAgeMs: Long = AbortedClaimMinAgeMs): Int = {
    var dropped = 0
    var continue = true
    while (continue) {
      continue = false
      val versions = listVersions(spark, root)
      versions.lastOption.foreach { head =>
        val p = commitPath(root, head)
        val f = fs(spark, p)
        var verdictDead = false
        var done = false
        while (!done) {
          try {
            parse(new String(readBytes(f, p), StandardCharsets.UTF_8))
            done = true // parses — a live head, nothing to repair
          } catch {
            case _: Exception =>
              // the stat can itself race a CONCURRENT repair that just
              // dropped this claim — a vanished file is already-repaired
              // state, not an error: relist and re-evaluate the new head
              val age =
                try System.currentTimeMillis -
                  f.getFileStatus(p).getModificationTime
                catch {
                  case e: Exception if fileVanished(e) =>
                    done = true; continue = true; Long.MinValue
                }
              if (done) ()
              else if (age >= minClaimAgeMs) { verdictDead = true; done = true }
              else Thread.sleep(math.min(50L, math.max(1L, minClaimAgeMs - age)))
          }
        }
        if (verdictDead) {
          f.delete(p, false)
          dropped += 1
          continue = true // the next-lower version may be a dead claim too
        }
      }
    }
    dropped
  }

  /** Two writers raced for the same commit version and this one must
    * abort: the store state it based its work on no longer exists. The
    * store itself stays consistent — the winner's commit is intact, and
    * the loser's footprint is undone by its own abort path
    * (an append retracts its published files and redoes;
    * commitReplacing runs the writer-scoped [[rollbackReplacing]]).
    */
  final class ConcurrentCommitException(msg: String)
    extends RuntimeException(msg)

  /** Atomically claim version `expected` with create-no-overwrite — the
    * multi-writer arbiter: exactly one writer's create succeeds for a
    * given version; every other returns false and must rebase or abort.
    * The commit file is rendered to bytes BEFORE the create so a claimed
    * version is never left empty by a render error.
    *
    * Filesystem note: on HDFS-like filesystems `create(p, overwrite =
    * false)` is an atomic server-side arbiter. Hadoop's LOCAL
    * `ChecksumFileSystem` implements it as a non-atomic exists-check —
    * two racers can both "win" and interleave data/crc writes into a
    * permanently checksum-corrupt commit file — so local paths claim via
    * NIO `CREATE_NEW` (a true O_CREAT|O_EXCL) writing the full content
    * in one call, which also shrinks the claim→fill window readers must
    * tolerate to a single syscall pair.
    *
    * `adds` carry each added file's zone-map stats: the writer's own
    * files, observed during their write or scanned before the claim.
    */
  def tryCommit(spark: SparkSession, root: String, expected: Int, op: String,
      adds: Seq[FileStats], removes: Seq[String],
      txn: Option[String] = None): Boolean = {
    val p = commitPath(root, expected)
    val sorted = adds.sortBy(_.file)
    val bytes = render(Commit(expected, op, sorted.map(_.file), removes.sorted,
      txn, sorted))
    val f = fs(spark, p)
    if (f.exists(p)) return false // cheap pre-check; create is the arbiter
    val won = createExclusive(f, p, bytes)
    if (won) maybeCheckpoint(spark, root, expected)
    won
  }

  /** Atomically create `p` holding `bytes`; false if it already exists.
    * Local paths go through NIO `CREATE_NEW` (a true O_CREAT|O_EXCL —
    * Hadoop's local `create(overwrite = false)` is a non-atomic
    * exists-check) writing the full content in one call; HDFS-like
    * schemes use the atomic server-side create.
    */
  private def createExclusive(
      f: FileSystem, p: Path, bytes: Array[Byte]): Boolean = {
    val scheme = f.getUri.getScheme
    if (scheme == null || scheme == "file") {
      val local = java.nio.file.Paths.get(p.toUri.getPath)
      java.nio.file.Files.createDirectories(local.getParent)
      try {
        java.nio.file.Files.write(local, bytes,
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    } else {
      val out =
        try f.create(p, false)
        catch { case _: java.io.IOException => return false } // lost the race
      try out.write(bytes) finally out.close()
      true
    }
  }

  /** Write the next commit; returns its version. For single-writer
    * operations only (a full compaction's swap): the version comes from
    * the listing, so a race here aborts loudly rather than clobbering.
    * Store appends claim through [[tryCommit]] (the
    * [[ConsolidatedStore.append]] claim loop redoes a lost claim), and
    * file-replacing ops through [[commitReplacing]] (merge/delete/optimize).
    */
  def commit(spark: SparkSession, root: String, op: String,
      adds: Seq[FileStats], removes: Seq[String],
      txn: Option[String] = None): Int = {
    val listing = listLog(spark, root)
    val head = listing.versions.lastOption.getOrElse(0)
    // never claim PAST an unreadable head: this path derives its version
    // from the listing alone, so a dead writer's empty claim at the head
    // would become a non-head unreadable commit — which no repair can
    // safely drop and which bricks every readCommits caller forever.
    // readCommitPatiently tolerates a live claim's fill window and
    // throws (pointing at StoreRepair) on a genuinely dead one.
    if (head > 0) readCommitPatiently(listing.fs, root, head)
    val v = head + 1
    if (!tryCommit(spark, root, v, op, adds, removes, txn))
      throw new ConcurrentCommitException(
        s"commit v$v of $op on $root lost a race on a serialized-writer " +
          "path; run StoreRepair.repair and re-run the operation")
    v
  }

  /** Commit a file-REPLACING operation (merge/delete) whose displaced
    * originals were already archived under `archivedAt`'s history dir,
    * under optimistic concurrency:
    *
    *   - version claim lost, intervening commits DISJOINT from this
    *     op's read/write set → rebase: re-home the archive dir to the
    *     next version and claim it (pure appends racing a merge commute
    *     at the file level — the merge never saw or touched their
    *     files);
    *   - intervening commit OVERLAPS (added or removed any file this op
    *     adds or removes) → abort: roll the store back to the last
    *     committed state via [[StoreRepair.repair]] (restores the
    *     archived originals, drops this op's uncommitted rewrites) and
    *     throw [[ConcurrentCommitException]] — the caller re-runs
    *     against the new state. Overlapping rewrites CANNOT be merged
    *     after the fact: both writers rewrote from the same originals,
    *     so one of the two survivor sets is stale.
    */
  /** Signals that a file-replacing commit lost its version race to
    * DISJOINT commits it was told not to rebase past ([[commitReplacing]]
    * `rebaseDisjoint = false` — replacing ops that mint new keys or
    * LogIDs, whose content depends on the whole-store state, not just
    * the touched files). The writer's footprint has already been rolled
    * back; the caller re-reads the committed state and recomputes.
    */
  final class StaleReplacingCommit(msg: String) extends RuntimeException(msg)

  /** @param rebaseDisjoint rebase the archive past intervening commits
    *   that touch none of this op's files (the default — correct for
    *   content-local rewrites: compaction, delete, updates-only merge,
    *   whose output depends only on the touched files). Pass `false`
    *   when the op's output depends on GLOBAL store state — an
    *   insert-bearing merge deduped its inserts and based their LogIDs
    *   on the snapshot it read, so a racing append (file-disjoint but
    *   possibly key- or id-colliding) invalidates the computation, not
    *   just the claim: the footprint is rolled back and
    *   [[StaleReplacingCommit]] thrown for the caller's bounded
    *   recompute loop.
    */
  def commitReplacing(spark: SparkSession, root: String, op: String,
      adds: Seq[FileStats], removes: Seq[String], archivedAt: Int,
      txn: Option[String] = None, rebaseDisjoint: Boolean = true,
      stateReadAt: Option[Int] = None): Int = {
    // same guard as the serialized commit(): callers derive `archivedAt`
    // from the version LISTING alone, so without this a dead writer's
    // unreadable head claim would be committed past — becoming a
    // non-trailing unreadable commit that bricks every readCommits
    // caller permanently (no repair can safely drop a non-head claim)
    val listing = listLog(spark, root)
    val head = listing.versions.lastOption.getOrElse(0)
    if (head > 0) readCommitPatiently(listing.fs, root, head)
    // staleness gate for global-state ops (`stateReadAt` set): the
    // version claim below only detects racers that land AFTER
    // `archivedAt` was captured — but `archivedAt` is captured after the
    // caller's rewrite COMPUTE, so a commit landing mid-compute (every
    // racing append: appends are always file-disjoint) is invisible to
    // the claim, and an insert-bearing merge would land with key dedup
    // and a LogID base from the pre-racer snapshot — silent duplicate
    // ids. Versions are dense integers, so "commits exist in
    // (stateReadAt, archivedAt)" is a pure integer comparison.
    val added = adds.map(_.file)
    stateReadAt.filter(_ < archivedAt - 1).foreach { sr =>
      rollbackReplacing(spark, root, archivedAt, added)
      throw new StaleReplacingCommit(
        s"$op on $root read its state at v$sr but commits through " +
          s"v${archivedAt - 1} landed during its compute and its output " +
          "depends on global state; rolled back for recompute")
    }
    val mine = (added ++ removes).toSet
    var myV = archivedAt
    while (!tryCommit(spark, root, myV, op, adds, removes, txn)) {
      val cur = currentVersion(spark, root)
      // read only the contested window, not the whole log
      val now = listLog(spark, root)
      val intervening = now.versions
        .filter(v => v >= myV && v <= cur)
        .map(v => readCommitPatiently(now.fs, root, v))
      if (intervening.exists(c =>
          c.adds.exists(mine) || c.removes.exists(mine))) {
        // roll back THIS WRITER'S footprint only — never a global repair:
        // other writers are live, and a store-wide orphan sweep would
        // delete a concurrent appender's published-but-not-yet-committed
        // files (its commit then lands with adds that no longer exist —
        // silently lost rows) or another replacer's staging. We know our
        // exact footprint: the archived originals (restore the ones the
        // log still lists live; the winner's commit removed the rest) and
        // our promoted `adds` (delete — they were never committed).
        rollbackReplacing(spark, root, myV, added)
        throw new ConcurrentCommitException(
          s"$op on $root conflicts with concurrent commits " +
            s"${intervening.map(_.version).mkString(",")} touching shared " +
            "files; rolled back — re-run against the current state")
      }
      if (!rebaseDisjoint) {
        rollbackReplacing(spark, root, myV, added)
        throw new StaleReplacingCommit(
          s"$op on $root raced disjoint commits " +
            s"${intervening.map(_.version).mkString(",")} and its output " +
            "depends on global state; rolled back for recompute")
      }
      myV = rehomeArchive(spark, root, myV, cur + 1)
    }
    myV
  }

  /** Writer-scoped rollback of an aborted file-replacing op: restore the
    * archived originals the log still lists LIVE back into the root;
    * originals the overlap WINNER's commit also removed move to the
    * winner's history home instead (restoring them would show duplicate
    * rows to plain readers, deleting them would destroy the only copy a
    * pre-overlap snapshot needs); delete exactly this writer's promoted
    * `adds`. Touches nothing belonging to any other writer — unlike a
    * global repair, whose orphan sweep would delete a concurrent
    * appender's published-but-uncommitted files.
    */
  private def rollbackReplacing(spark: SparkSession, root: String,
      archivedAt: Int, adds: Seq[String]): Unit = {
    val live = scala.collection.mutable.LinkedHashSet.empty[String]
    val removedAt = scala.collection.mutable.Map.empty[String, Int]
    readCommits(spark, root).foreach { c =>
      live ++= c.adds; live --= c.removes
      c.removes.foreach(r => removedAt(r) = c.version)
    }
    val dir = new Path(s"$root/$historyDirName/${f"v$archivedAt%09d"}")
    val f = fs(spark, dir)
    if (f.exists(dir)) {
      val dirQ = f.makeQualified(dir)
      val entries = {
        val buf = scala.collection.mutable.ArrayBuffer.empty[Path]
        val it = f.listFiles(dir, true)
        while (it.hasNext) {
          val e = it.next()
          if (e.isFile) buf += e.getPath
        }
        buf.toSeq
      }
      var keptAny = false
      entries.foreach { p =>
        val name = p.getName
        if (name.startsWith(".") || name.startsWith("_")) f.delete(p, false)
        else {
          val rootPath = dirQ.toUri.getPath
          val filePath = p.toUri.getPath
          require(filePath.startsWith(rootPath + "/"),
            s"rollback: $filePath not under $rootPath")
          val rel = filePath.substring(rootPath.length + 1)
          if (live(rel)) {
            val dst = new Path(s"$root/$rel")
            f.mkdirs(dst.getParent)
            require(f.rename(p, dst), s"rollback: restore failed $p -> $dst")
          } else removedAt.get(rel) match {
            case Some(v) if v == archivedAt =>
              keptAny = true // already AT the removing commit's home
            case Some(v) =>
              val dst = new Path(s"$root/$historyDirName/${f"v$v%09d"}/$rel")
              f.mkdirs(dst.getParent)
              // dst taken = the winner archived its own copy; drop ours
              if (!f.rename(p, dst)) f.delete(p, false)
            case None =>
              // never committed by ANYONE — under the headState
              // contract this op never archives such a file, so reaching
              // here means a protocol gap (e.g. a racing appender's
              // published-but-unclaimed file was absorbed). Deleting
              // could destroy that appender's batch the instant before
              // its commit lands; restore it to the root it was taken
              // from instead — worst case it is a crashed writer's
              // orphan, which explicit crash recovery already drops.
              val dst = new Path(s"$root/$rel")
              f.mkdirs(dst.getParent)
              if (!f.rename(p, dst)) f.delete(p, false) // root copy exists
          }
        }
      }
      // the dir survives only as the winner's archive home for files its
      // commit (at this same version) removed
      if (!keptAny) f.delete(dir, true)
    }
    adds.foreach(a => f.delete(new Path(s"$root/$a"), false))
  }

  /** Move the history dir of `from` to the first free version >= `atLeast`
    * (free = no commit file and no history dir). Returns the version the
    * archive now sits at (or `atLeast` if there was nothing to move).
    *
    * The RENAME is the claim: two rebasers that both listed version `nv`
    * free race the rename, and the filesystem arbitrates — local
    * rename(2) and HDFS rename both fail when the destination exists
    * (non-empty; an archive dir always carries at least its `.owner`
    * marker) — so the loser advances to the next candidate instead of
    * aborting. A fresh replacer claiming the same version home via
    * [[archive]]'s `.owner` create either beats the rename (destination
    * exists → we advance) or loses to it (its exclusive `.owner` create
    * inside the renamed-in dir fails → it aborts cleanly).
    */
  private def rehomeArchive(
      spark: SparkSession, root: String, from: Int, atLeast: Int): Int = {
    val oldDir = new Path(s"$root/$historyDirName/${f"v$from%09d"}")
    val f = fs(spark, oldDir)
    var nv = atLeast
    if (!f.exists(oldDir)) return nv
    while (true) {
      val newDir = new Path(s"$root/$historyDirName/${f"v$nv%09d"}")
      if (!f.exists(newDir) && !f.exists(commitPath(root, nv))) {
        if (f.rename(oldDir, newDir)) return nv
        // rename lost a race it pre-checked as free → the destination
        // materialized in the window; advance. Any OTHER rename failure
        // (our own dir gone, permissions) is not a race — fail loudly.
        require(f.exists(newDir) || f.exists(commitPath(root, nv)),
          s"commitReplacing: archive re-home failed $oldDir -> $newDir")
      }
      nv += 1
    }
    nv // unreachable
  }

  /** Whether an idempotence token was already committed — the replay
    * guard a restarted streaming writer checks before re-applying a
    * micro-batch. O(log) driver read; the log is tiny by construction.
    */
  def txnSeen(spark: SparkSession, root: String, txn: String): Boolean = {
    val listing = listLog(spark, root)
    stateAt(spark, root, listing.versions.lastOption.getOrElse(0), listing)
      ._2.contains(txn)
  }

  /** Baseline a store whose data predates the log: claim version 1 as a
    * `baseline` commit listing every data file the directory holds with
    * its scanned stats, so
    * history starts there and every later writer takes the logged path.
    * No-op on a logged, empty or foreign-layout store. The claim is
    * create-no-overwrite, so racing baseliners converge on one baseline.
    * Callers guarantee that no writer is inside its publish→claim window
    * (its unclaimed files would be absorbed into the baseline); the
    * append claim loop waits such a writer out first.
    */
  def baselineIfUnlogged(spark: SparkSession, root: String): Unit =
    if (currentVersion(spark, root) == 0)
      StoreMeta.listDataFiles(spark, root).filter(_.nonEmpty).foreach(files =>
        tryCommit(spark, root, 1, "baseline",
          adds = StoreMeta.scanStats(spark, root, files), removes = Nil))

  /** (relative file, base dir) pairs of the table at `version`: replay
    * adds/removes through v, then resolve each surviving file to its
    * current home — the root if never removed since, else the history
    * dir of the commit that removed it. The base dir is what a read
    * passes as `basePath`: history dirs preserve the relative path
    * (including hive `key=value` segments), so partition-column
    * reconstruction works for archived files exactly as for live ones.
    */
  def liveFilesAt(
      spark: SparkSession, root: String, version: Int): Seq[(String, String)] = {
    val listing = listLog(spark, root)
    val head = listing.versions.lastOption.getOrElse(0)
    require(head >= 1, s"store $root has no commit log")
    require(version >= 1 && version <= head,
      s"version $version out of range 1..$head")
    // live set at `version`: checkpoint <= version + tail — O(CheckpointEvery)
    val live = stateAt(spark, root, version, listing)._1
    // archive-home resolution = first removing commit AFTER `version`
    // per still-live file. The newest checkpoint's cumulative remove
    // index covers (version, ckpt]; the tail commits cover (ckpt, head]
    // — so reading v1 of a years-old store is O(CheckpointEvery) too,
    // not a replay of every commit since birth. A checkpoint without the
    // index (pre-index store) is skipped for homes: the tail then starts
    // at `version` (full-fidelity fallback).
    val removedAt = scala.collection.mutable.Map.empty[String, Int]
    val base = newestReadableCheckpoint(spark, root, head, listing)
      .filter(_.homes.isDefined)
    base.filter(_.vacuumHorizon > version).foreach { c =>
      throw new IllegalStateException(
        s"liveFilesAt/snapshot v$version on $root: history at or below " +
          s"v${c.vacuumHorizon} was vacuumed and its remove index pruned " +
          "— the snapshot cannot be served faithfully (see StoreLog.vacuum)")
    }
    base.foreach { c =>
      c.homes.get.foreach { case (fl, vs) =>
        if (live.contains(fl))
          vs.find(_ > version).foreach(mv =>
            removedAt.getOrElseUpdate(fl, mv))
      }
    }
    val from = math.max(base.map(_.version).getOrElse(0), version)
    listing.versions.filter(x => x > from && x <= head).foreach { x =>
      val c = readCommitPatiently(listing.fs, root, x)
      c.removes.foreach(fl =>
        if (live.contains(fl)) removedAt.getOrElseUpdate(fl, x))
    }
    live.keys.toSeq.map { fl =>
      val base = removedAt.get(fl) match {
        case Some(v) => s"$root/$historyDirName/${f"v$v%09d"}"
        case None => root
      }
      (fl, base)
    }
  }

  /** The table as of `version` — same schema and `basePath`-resolved
    * partition columns as a current read. Fails with the vacuum message
    * if a needed history file was vacuumed away.
    */
  def snapshot(spark: SparkSession, root: String, version: Int): DataFrame = {
    val files = liveFilesAt(spark, root, version)
    if (files.isEmpty)
      return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        Schemas.consolidated)
    files.foreach { case (rel, base) =>
      val p = new Path(s"$base/$rel")
      require(fs(spark, p).exists(p),
        s"snapshot v$version needs $p — vacuumed? (see StoreLog.vacuum)")
    }
    files.groupBy(_._2).toSeq.sortBy(_._1).map { case (base, group) =>
      spark.read
        .schema(Schemas.consolidated)
        .option("basePath", base)
        .parquet(group.map { case (rel, _) => s"$base/$rel" }: _*)
    }.reduce(_ unionByName _)
  }

  /** Row-level change feed between two versions — what CDC consumers
    * (incremental view maintenance, downstream sync) read instead of
    * diffing snapshots. Scale shape: only files that ENTERED or LEFT the
    * live set between the versions are read — files untouched by the
    * intervening appends/merges/deletes/compactions contribute nothing
    * and are never scanned, so a trickle append's change feed is
    * O(batch), not O(table). Rows pair on `LogID` (stable across merges
    * by the [[StoreMerge]] contract):
    *
    *   - id only in the new file set            → `insert`
    *   - id only in the old file set            → `delete`
    *   - id in both, any column differing       → `update_pre` + `update_post`
    *   - id in both, rows identical (a survivor
    *     rewritten by merge/delete/compaction)  → not a change, dropped
    *
    * Returns the consolidated schema plus a leading `_change_type`
    * column.
    */
  def changes(spark: SparkSession, root: String,
      fromVersion: Int, toVersion: Int): DataFrame = {
    require(fromVersion <= toVersion,
      s"changes: fromVersion $fromVersion > toVersion $toVersion")
    val fromLive = liveFilesAt(spark, root, fromVersion).toMap
    val toLive = liveFilesAt(spark, root, toVersion).toMap
    def readSet(m: Map[String, String]): DataFrame =
      if (m.isEmpty)
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](),
          Schemas.consolidated)
      else m.groupBy(_._2).toSeq.sortBy(_._1).map { case (base, group) =>
        spark.read
          .schema(Schemas.consolidated)
          .option("basePath", base)
          .parquet(group.map { case (rel, _) => s"$base/$rel" }.toSeq.sorted: _*)
      }.reduce(_ unionByName _)
    val gone = readSet(fromLive.filter { case (f, _) => !toLive.contains(f) })
    val fresh = readSet(toLive.filter { case (f, _) => !fromLive.contains(f) })
    val cols = Schemas.consolidated.fieldNames.toSeq
    import org.apache.spark.sql.functions._
    val a = gone.alias("a")
    val n = fresh.alias("n")
    val aRow = struct(cols.map(c => col(s"a.$c").as(c)): _*)
    val nRow = struct(cols.map(c => col(s"n.$c").as(c)): _*)
    def tagged(tag: String, row: org.apache.spark.sql.Column) =
      struct(lit(tag).as("_change_type"), row.as("row"))
    a.join(n, col("a.LogID") === col("n.LogID"), "full_outer")
      .select(explode(
        when(col("n.LogID").isNull, array(tagged("delete", aRow)))
          .when(col("a.LogID").isNull, array(tagged("insert", nRow)))
          .when(aRow <=> nRow, lit(null)) // rewritten survivor — no change
          .otherwise(array(
            tagged("update_pre", aRow), tagged("update_post", nRow))))
        .as("c"))
      .select(col("c._change_type") +: cols.map(c => col(s"c.row.$c").as(c)): _*)
  }

  /** Delete history dirs of commits `<= beforeVersion`; snapshots that
    * need them are no longer reconstructible (the vacuum trade: storage
    * back, old versions gone). The log itself is kept — it is tiny and
    * still documents what happened.
    *
    * Multi-writer safety: a history dir is only dropped when its
    * version's COMMIT owns it — i.e. that commit records `removes`
    * (every file-replacing op archives under its own commit version).
    * An archive dir parked at a version claimed by a PURE APPEND is a
    * concurrent [[commitReplacing]] rebase in flight (the replacer lost
    * that version race and is about to re-home the dir upward) — and an
    * archive at a version with no commit at all is a claim-in-progress.
    * Deleting either would destroy the originals an abort path needs to
    * roll back. Snapshot reads never consult such dirs (they resolve
    * history only through remove-commits), so skipping them costs
    * nothing.
    */
  def vacuum(spark: SparkSession, root: String, beforeVersion: Int): Int = {
    val dir = new Path(s"$root/$historyDirName")
    val f = fs(spark, dir)
    if (!f.exists(dir)) return 0
    val owned = readCommits(spark, root)
      .filter(_.removes.nonEmpty).map(_.version).toSet
    var removed = 0
    f.listStatus(dir).foreach { e =>
      val n = e.getPath.getName
      if (n.startsWith("v") && n.drop(1).forall(_.isDigit) &&
        n.drop(1).toInt <= beforeVersion && owned(n.drop(1).toInt)) {
        f.delete(e.getPath, true)
        removed += 1
      }
    }
    removed
  }

  /** Move `files` (root-relative) into the history dir of `version` —
    * called by operations that replace files (compaction) BEFORE they
    * delete the originals. Creates parent dirs as needed so partition
    * subpaths survive.
    *
    * The version's archive home is claimed EXCLUSIVELY via an atomic
    * `.owner` marker: two concurrent replacers that both computed
    * `currentVersion + 1` must not interleave their originals into one
    * dir — a later rebase would re-home the whole dir, carrying the
    * OTHER writer's committed archives with it and breaking its
    * snapshots. The loser throws before moving a single file (nothing
    * to roll back) and re-runs against the new state — the same
    * optimistic abort the version claim itself uses.
    */
  def archive(spark: SparkSession, root: String, version: Int,
      files: Seq[(Path, String)]): Unit = {
    val base = new Path(s"$root/$historyDirName/${f"v$version%09d"}")
    val f = fs(spark, base)
    if (!createExclusive(f, new Path(base, ".owner"), Array.emptyByteArray))
      throw new ConcurrentCommitException(
        s"archive home $base is claimed by a concurrent replacer; " +
          "re-run against the current state. If no replacer is live (the " +
          "claim never clears and appends are idle, so re-runs keep " +
          "computing this same version), a replacer died mid-swap: run " +
          "StoreRepair.repair to restore its parked archive")
    files.foreach { case (src, rel) =>
      val dst = new Path(base, rel)
      f.mkdirs(dst.getParent)
      require(f.rename(src, dst), s"archive failed: $src -> $dst")
    }
  }
}
