package graft.maintenance

import org.apache.spark.sql.SparkSession

import graft.store.StoreMeta

/** Policy-driven steady-state maintenance for a consolidated store — the
  * production trigger for [[Compaction.optimizeSmall]].
  *
  * A trickle fleet writes one small file per server per cycle: 100
  * servers on a 15-minute schedule is ~10k new files/day, and every
  * planning term that is O(#files) (the log checkpoint's stats rows,
  * the coverage listing, scan listing) grows without bound unless something
  * folds the small files back down. The file-count scale probe
  * (`graft.StoreFilesProbe`, BASELINE.md "file-count probe") measures
  * that growth law; THIS is the documented design answer, wired so a
  * fleet driver gets it by default-policy rather than by remembering a
  * manual OPTIMIZE: [[graft.etl.EtlRunner.runOnce]] takes an optional
  * policy and calls [[runIfDue]] after its loads land.
  *
  * The due-probe is one directory listing (sizes come with the listing —
  * no per-file RPC), so a not-due cycle costs planning-scale driver
  * work. When due, [[Compaction.optimizeSmall]] bin-packs only the
  * sub-threshold files through the commit log's replacing-commit
  * protocol — concurrent appends rebase over it, snapshots stay
  * readable, and the commit carries only the packed files' stats.
  */
object StoreMaintenance {

  /** @param smallFileBytes files below this are bin-pack candidates
    *   (also the packed output target — [[Compaction.optimizeSmall]]'s
    *   `minBytes`). Default 64 MB: small enough that steady-state
    *   trickle files always qualify, large enough that packed output
    *   approaches a healthy scan-task size.
    * @param maxSmallFiles run the optimize once at least this many
    *   small files have accumulated. Default 64 — matched to the log's
    *   checkpoint interval, so the file fold and the metadata fold
    *   amortize on the same cadence (~1/64 cycles).
    */
  final case class Policy(
      smallFileBytes: Long = 64L << 20,
      maxSmallFiles: Int = 64) {
    require(maxSmallFiles >= 2, "bin-packing needs at least 2 files")
  }

  /** @param smallFiles small files seen by the due-probe
    * @param ran whether the optimize ran (due AND the layout is ours)
    * @param rewritten small files folded away (0 if not run)
    * @param filesAfter data-file count after (probe count if not run)
    */
  final case class Report(
      smallFiles: Long, ran: Boolean, rewritten: Long, filesAfter: Long)

  /** Run the store's small-file optimize iff the policy says it's due.
    * Foreign layouts (not graft-managed) are never rewritten: not-due.
    */
  def runIfDue(spark: SparkSession, path: String,
      policy: Policy = Policy()): Report =
    StoreMeta.listDataFilesWithSize(spark, path) match {
      case None => Report(0L, ran = false, 0L, 0L) // foreign layout
      case Some(listing) =>
        val small = listing.count(_._2 < policy.smallFileBytes)
        if (small < policy.maxSmallFiles)
          Report(small, ran = false, 0L, listing.size.toLong)
        else {
          val (rewritten, after) =
            Compaction.optimizeSmall(spark, path, policy.smallFileBytes)
          Report(small, ran = true, rewritten, after)
        }
    }
}
