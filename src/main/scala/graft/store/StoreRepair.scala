package graft.store

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Crash recovery for the copy-on-write operations
  * ([[StoreMerge]], [[StoreDelete]], [[graft.maintenance.Compaction]]).
  *
  * Their swap sequence is: (1) write replacement files, (2) archive the
  * replaced originals into the next commit's history dir, (3) write the
  * commit, which carries the replacements' zone-map stats. A crash
  * inside that window leaves the directory inconsistent with the last
  * commit, and — because current-state reads are plain directory
  * scans — the inconsistency is DURABLE, not transient:
  *
  *   - crash after (1): listing readers see every matched key twice
  *     (original + replacement);
  *   - crash after (2): the originals sit in a history dir whose version
  *     was never committed — the table silently lost rows the log still
  *     considers live.
  *
  * [[repair]] reconciles the directory against the last commit, exactly
  * the "reconcile adds/removes on open" recovery a transaction log
  * enables. It rolls BACKWARD (the unfinished operation is discarded;
  * its writer reruns it — every CoW op here is either idempotent or
  * replay-guarded by its txn token):
  *
  *   1. restore files from history dirs of versions NEWER than the last
  *      commit back into the root (undoes an unfinished archive),
  *   2. delete data files absent from the log's live set (undoes an
  *      unfinished replacement write — and, for a crashed plain append,
  *      drops the uncommitted batch, which the ETL watermark contract
  *      re-extracts).
  *
  * The log's stats need no repair: they describe committed files only.
  *
  * [[graft.maintenance.Compaction]] crashes need a separate pre-pass:
  * its rewrite swaps WHOLE ROOTS via sibling dirs (`root__compacting` =
  * staged rewrite, `root__precompact` = displaced original), so a crash
  * there can leave the root absent, or present-but-logless, with the
  * truth sitting next door where the in-root reconciliation above can't
  * see it. [[repair]] reconciles those windows first (also rolling
  * BACKWARD — an interrupted rewrite is discarded, an original is
  * restored), then runs the log reconciliation; a compaction that had
  * already carried its log and committed is rolled forward by the same
  * machinery (its leftover backup dir is simply dropped).
  *
  * O(history-dirs + |live set| + orphans) driver-side metadata work —
  * never a table scan. Run it on open when a previous writer may have died; a clean
  * store is a no-op. Stores without a commit log have no reconciliation
  * baseline beyond the compaction pre-pass and are otherwise returned
  * untouched.
  */
object StoreRepair {

  final case class RepairStats(restored: Long, orphansDropped: Long) {
    def clean: Boolean = restored == 0L && orphansDropped == 0L
  }

  /** @param dropStaleClaims "no writers are live" switch: gates the two
    *   repairs that could destroy a slow-but-alive peer's in-flight
    *   work — dropping dead version claims (unreadable commit files
    *   older than [[StoreLog.AbortedClaimMinAgeMs]]) and restoring
    *   rebase archives parked at overtaken versions. True for the
    *   explicit crash-recovery entry point (the default — "a previous
    *   writer may have died" is the reason to call repair); pass FALSE
    *   when running repair against a store that may have live
    *   concurrent writers. No production path calls repair live today —
    *   [[StoreLog.commitReplacing]]'s abort undoes only its own
    *   footprint via its writer-scoped rollback, never a global repair —
    *   the flag exists so an operator-invoked live-store repair has a
    *   safe mode.
    */
  def repair(spark: SparkSession, root: String,
      dropStaleClaims: Boolean = true): RepairStats = {
    val rootQ = StoreMeta.qualifiedPath(spark, root)
    val fs = rootQ.getFileSystem(spark.sessionState.newHadoopConf())
    val preRestored = reconcileCompaction(spark, root, fs)
    // crashed concurrent appenders leave inert batch files under the
    // (scan-invisible) staging dir — drop them wholesale; same for the
    // zone-map segment log of stores written before the stats moved
    // into the commit log (nothing reads or writes it any more)
    Seq(Staging.dirName, "_graft_meta").map(d => new Path(s"$root/$d"))
      .filter(fs.exists(_))
      .foreach(d => require(fs.delete(d, true), s"repair: drop failed $d"))
    // a writer that died between a version claim (create) and its fill
    // (write) left an unreadable commit file that bricks every log read —
    // drop such trailing claims, restoring the prior version as current
    if (dropStaleClaims) StoreLog.dropAbortedTrailingClaims(spark, root)

    val current = StoreLog.currentVersion(spark, root)
    // no log — no reconciliation baseline beyond the compaction pre-pass
    if (current == 0) return RepairStats(preRestored, 0L)

    // 1. unfinished archive: restore files the log still lists as live
    // from two kinds of history dirs —
    //   (a) versions BEYOND the last commit (a replacer died between its
    //       archive and its commit), and
    //   (b) — explicit crash recovery only — versions AT OR BELOW the
    //       current whose commit records NO removes: a commitReplacing
    //       rebase parked the archive there, lost that version race to a
    //       pure append, and died before re-homing it; subsequent appends
    //       then advanced currentVersion past the parked dir. The log
    //       lists those files live, but they sit in _graft_history —
    //       silently lost rows until restored. (An OWNED archive — its
    //       commit has removes — is never touched: the same ownership
    //       test StoreLog.vacuum applies. On a LIVE store the parked dir
    //       may belong to a rebase in flight, so the live-path repair
    //       leaves it alone — vacuum's gate already protects it.)
    var restored = 0L
    val ownsArchive = StoreLog.readCommits(spark, root)
      .filter(_.removes.nonEmpty).map(_.version).toSet
    val histDir = new Path(s"$root/${StoreLog.historyDirName}")
    if (fs.exists(histDir)) {
      fs.listStatus(histDir).foreach { e =>
        val n = e.getPath.getName
        if (n.startsWith("v") && n.drop(1).forall(_.isDigit) &&
          (n.drop(1).toInt > current ||
            (dropStaleClaims && !ownsArchive(n.drop(1).toInt)))) {
          val it = fs.listFiles(e.getPath, true)
          while (it.hasNext) {
            val f = it.next()
            // skip protocol markers (.owner) and hidden files — only
            // data files go home
            if (f.isFile && !f.getPath.getName.startsWith(".") &&
                !f.getPath.getName.startsWith("_")) {
              val rel = StoreMeta.relativize(
                fs.makeQualified(e.getPath), f.getPath.toString)
              val dst = new Path(s"$root/$rel")
              fs.mkdirs(dst.getParent)
              require(fs.rename(f.getPath, dst),
                s"repair: restore failed ${f.getPath} -> $dst")
              restored += 1L
            }
          }
          fs.delete(e.getPath, true)
        }
      }
    }

    // 2. live set per the log; anything else on disk is an uncommitted
    // replacement/append — drop it
    val live = scala.collection.mutable.LinkedHashSet.empty[String]
    StoreLog.readCommits(spark, root).foreach { c =>
      live ++= c.adds; live --= c.removes
    }
    val orphans = StoreMeta.listDataFiles(spark, root).getOrElse(Nil)
      .filterNot(live)
    // fail loudly on an orphan that survives its delete
    orphans.foreach { f =>
      require(fs.delete(new Path(s"$root/$f"), false),
        s"repair: orphan delete failed $root/$f")
    }
    RepairStats(restored + preRestored, orphans.size.toLong)
  }

  /** Reconcile a crash inside [[graft.maintenance.Compaction]]'s
    * whole-root swap (root → `__precompact`, `__compacting` → root).
    * Returns the number of files/dirs moved back into place. The windows,
    * in swap order:
    *
    *   - `__compacting` present, root present, `__precompact` absent:
    *     crash before the first rename — the staged rewrite never became
    *     visible; drop it.
    *   - `__precompact` present, root ABSENT: crash between the two
    *     renames — the original store is intact next door; rename it back.
    *   - `__precompact` present WITH a `_graft_log` inside, root present:
    *     the rewrite swapped in but the log was never carried — the
    *     rewrite is not durable (no commit records it); discard the
    *     logless root and restore the original wholesale.
    *   - `__precompact` present WITHOUT a log, root present with a log:
    *     log already carried; data files still sitting in the backup were
    *     awaiting archive when the writer died — move them home so the
    *     log reconciliation (which can only restore from history dirs and
    *     delete orphans, never conjure missing live files) sees every
    *     live file on disk. If the compaction had already committed, the
    *     moved-back files are immediately re-orphaned and dropped by step
    *     2 — wasteful but correct.
    *   - `__precompact` present WITHOUT a log, root present without one:
    *     a logless store's rewrite completed (its content swap is the
    *     whole operation); the backup is stale — drop it.
    */
  private def reconcileCompaction(
      spark: SparkSession, root: String,
      fs: org.apache.hadoop.fs.FileSystem): Long = {
    val dst = StoreMeta.qualifiedPath(spark, root)
    val bak = new Path(root + "__precompact")
    val tmp = new Path(root + "__compacting")
    var moved = 0L
    if (fs.exists(bak)) {
      if (!fs.exists(dst)) {
        require(fs.rename(bak, dst), s"repair: swap restore failed $bak -> $dst")
        moved += 1L
      } else if (fs.exists(new Path(bak, StoreLog.dirName))) {
        require(fs.delete(dst, true), s"repair: logless-rewrite drop failed $dst")
        require(fs.rename(bak, dst), s"repair: swap restore failed $bak -> $dst")
        moved += 1L
      } else if (StoreLog.currentVersion(spark, root) > 0) {
        // a log dir EXISTING in the root is not enough — it must hold a
        // commit. An empty log dir (e.g. all claims dropped as dead on a
        // store whose only commit was a torn claim) means the swapped-in
        // rewrite is the whole operation, logless-store semantics: with
        // currentVersion == 0 the main repair's orphan sweep never runs,
        // so moving the backup's files home would duplicate every row
        // durably. Fall through to the stale-backup drop instead.
        val bakQ = fs.makeQualified(bak)
        StoreMeta.listDataFiles(spark, bak.toString).getOrElse(Nil).foreach { rel =>
          val from = new Path(bakQ, rel)
          val to = new Path(s"$root/$rel")
          fs.mkdirs(to.getParent)
          require(fs.rename(from, to), s"repair: archive restore failed $from -> $to")
          moved += 1L
        }
        // the log and the history dir are carried in two separate renames;
        // a crash between them leaves the accumulated _graft_history in
        // the backup — carry its per-version dirs home before dropping it,
        // or every archived snapshot version is destroyed
        val histInBak = new Path(bak, StoreLog.historyDirName)
        if (fs.exists(histInBak)) {
          val histHome = new Path(dst, StoreLog.historyDirName)
          fs.mkdirs(histHome)
          fs.listStatus(histInBak).foreach { e =>
            val home = new Path(histHome, e.getPath.getName)
            if (!fs.exists(home)) {
              require(fs.rename(e.getPath, home),
                s"repair: history carry failed ${e.getPath} -> $home")
              moved += 1L
            }
          }
        }
        require(fs.delete(bak, true), s"repair: backup drop failed $bak")
      } else {
        require(fs.delete(bak, true), s"repair: stale backup drop failed $bak")
      }
    }
    if (fs.exists(tmp))
      require(fs.delete(tmp, true), s"repair: staged rewrite drop failed $tmp")
    moved
  }
}
