package graft.store

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Schemas

/** Copy-on-write MERGE (upsert) into the consolidated store.
  *
  * The reference's write path is insert-with-silent-dup-drop
  * (`ignore_dup_key`, sql:33) — it can never CORRECT a row. Operationally
  * that correction happens (msdb re-reports a backup's sizes after a
  * verify pass, a device is re-labeled after a media refresh), and on SQL
  * Server it would be a `MERGE` against the same unique index. This is
  * that statement's lakehouse form, keyed on the identical null-safe
  * dedup key:
  *
  *   - WHEN MATCHED: the batch row replaces the stored row's non-key
  *     columns; the stored `LogID` is preserved (identity stability — the
  *     striped-log canonicalization W2 keys on min LogID, sql:1049, and a
  *     merge must not reshuffle it).
  *   - WHEN NOT MATCHED: the row is appended with the next LogIDs, same
  *     numbering contract as [[ConsolidatedStore.withLogIdsFrom]].
  *
  * Scale shape (the part that must survive 100 TB): nothing here is
  * O(table).
  *   1. The log's zone maps ([[StoreLog.headState]]) prune the match
  *      probe to committed files whose key
  *      ranges can intersect the batch's per-database envelopes — the
  *      probe scan reads ONLY the 4 key columns + LogID of those files.
  *   2. Only files that actually CONTAIN a matched key (`input_file_name`
  *      on the probe) are rewritten; every other file — including
  *      zone-overlapping ones that held no matched key — is untouched.
  *   3. Survivor rows of touched files + replacement rows + inserts are
  *      written as new files; the touched originals are then archived
  *      under the commit's history dir ([[StoreLog]]), so pre-merge
  *      snapshots stay readable (time travel over merges, not just
  *      appends/compactions).
  *
  * Reader exposure: the swap order is stage → archive → promote, so a
  * plain directory reader in the archive→promote window sees the table
  * WITHOUT the touched files' rows (neither originals nor rewrites) —
  * missing rows, never duplicates, and the window is two driver-side
  * rename loops (no data movement), though a paused writer stretches it.
  * Readers needing a consistent view during maintenance read a pinned
  * [[StoreLog.snapshot]] version instead of the directory; merges are
  * scheduled off the ingest path and serialized with appends (the
  * existing store contract). A writer that DIES inside that window
  * leaves the gap durable (directory reads don't consult the log) — run
  * [[StoreRepair.repair]] on open after an unclean writer exit; it rolls
  * the unfinished swap back to the last commit and the merge's txn-token
  * replay guard makes the rerun exactly-once.
  *
  * A batch with duplicate keys keeps, per key, the row with the greatest
  * non-key struct (field order = batch column order) — deterministic, no
  * `dropDuplicates` partition-order dependence.
  */
object StoreMerge {

  /** `attempts`/`staleRecomputes` mirror the append path's `onAttempt`
    * accounting: a fleet running CDC merges against a busy append cadence
    * watches `staleRecomputes` climb toward [[MaxStaleRecomputes]] in
    * telemetry instead of discovering exhaustion as a thrown abort.
    */
  final case class MergeStats(updated: Long, inserted: Long,
      filesRewritten: Long, attempts: Int = 1, staleRecomputes: Int = 0)

  private def keyCond(l: String, r: String): Column =
    Schemas.dedupKey.map(k => col(s"$l.$k") <=> col(s"$r.$k")).reduce(_ && _)

  /** Merge `updates` into the store at `path`. `partitionBy`/`sortWithin`
    * must match what the store's appends use (same contract as
    * [[ConsolidatedStore.append]]).
    */
  def merge(spark: SparkSession, path: String, updates: DataFrame,
      partitionBy: Seq[String] = Nil,
      sortWithin: Seq[String] = Seq("database_name", "last_lsn"),
      txnId: Option[String] = None): MergeStats =
    mergeHooked(spark, path, updates, partitionBy, sortWithin, txnId)(() => ())

  /** [[merge]] with test seams: `beforeCommit` runs after the rewrite is
    * published but before the version claim — the window a racing writer
    * can win in (see [[StoreLog.commitReplacing]]); `afterStateRead` runs
    * right after an attempt captures the version its state read is
    * anchored to — the COMPUTE window, where a racing append's commit is
    * invisible to the claim itself and only the `stateReadAt` staleness
    * gate catches it. The concurrency spec injects racers at both.
    */
  private[graft] def mergeHooked(
      spark: SparkSession, path: String, updates: DataFrame,
      partitionBy: Seq[String], sortWithin: Seq[String],
      txnId: Option[String], afterStateRead: () => Unit = () => ())(
      beforeCommit: () => Unit): MergeStats = {
    // exactly-once replay guard: a redelivered micro-batch whose token
    // already committed is a NO-OP (the transactional-writer contract a
    // restarted streaming foreachBatch sink relies on)
    if (txnId.exists(t => StoreLog.txnSeen(spark, path, t)))
      return MergeStats(0L, 0L, 0L)
    val key = Schemas.dedupKey
    val cols = updates.columns.toSeq
    val nonKey = cols.filterNot(key.contains)
    require(nonKey.nonEmpty, "updates must carry non-key columns to merge")
    val deduped = updates
      .groupBy(key.map(col): _*)
      .agg(max(struct(nonKey.map(col): _*)).as("__v"))
      .select(cols.map(c => if (key.contains(c)) col(c) else col(s"__v.$c")): _*)
      .cache()
    try {
      val envelopes = ConsolidatedStore.batchEnvelopes(deduped)
      if (envelopes.isEmpty) return MergeStats(0L, 0L, 0L)
      // the deduped batch size rides the envelope collect (KeyRanges.rows,
      // same action) — the per-attempt `deduped.count()` job is gone
      val nDeduped = envelopes.map(_.rows).sum
      // Bounded retry-with-recompute: an INSERT-bearing merge that loses
      // its version race to a file-disjoint append was computed on stale
      // global state (its insert keys were deduped and its LogIDs based
      // on the pre-append snapshot — blind archive rebase could land
      // duplicate keys or colliding ids). commitReplacing rolls the
      // footprint back and signals StaleReplacingCommit; re-read the
      // committed state and redo the computation — the fleet's routine
      // CDC-racing-append case lands without operator intervention.
      // Updates-only merges keep the cheap blind rebase (their output
      // depends only on the touched files). Overlapping rewrites still
      // abort to the caller (ConcurrentCommitException).
      var attempt = 0
      while (true) {
        attempt += 1
        try
          return mergeAttempt(spark, path, deduped, nDeduped, envelopes, cols,
            partitionBy, sortWithin, txnId, afterStateRead, beforeCommit)
            .copy(attempts = attempt, staleRecomputes = attempt - 1)
        catch {
          case e: StoreLog.StaleReplacingCommit =>
            // the budget counts RECOMPUTES (retries), not the initial
            // compute: attempt N failing stale means N-1 recomputes spent
            if (attempt - 1 >= MaxStaleRecomputes)
              throw new StoreLog.ConcurrentCommitException(
                s"merge on $path recomputed $MaxStaleRecomputes times " +
                  s"against racing appends and still lost: ${e.getMessage}")
        }
      }
      throw new IllegalStateException("unreachable")
    } finally deduped.unpersist()
  }

  /** Recompute budget for insert-bearing merges racing disjoint appends:
    * each retry is O(batch + overlap) against the NEW state, and a
    * steady-state fleet's append cadence makes consecutive losses
    * geometrically unlikely; exhaustion degrades to the same loud abort
    * an overlap produces.
    */
  private val MaxStaleRecomputes = 3

  private def mergeAttempt(
      spark: SparkSession, path: String, deduped: DataFrame,
      nDeduped: Long, envelopes: Seq[KeyRanges], cols: Seq[String],
      partitionBy: Seq[String], sortWithin: Seq[String],
      txnId: Option[String], afterStateRead: () => Unit,
      beforeCommit: () => Unit): MergeStats = {
    // a pre-log store BASELINES before the state read (not at commit
    // time): the attempt's staleness anchor below must be a version the
    // log can compare claims against, and the old commit-time baseline
    // sat in its own attempt's (stateReadAt, claim) window
    // (foreign layouts skip the baseline — the state read below throws
    // for them without a stray commit)
    StoreLog.baselineIfUnlogged(spark, path)
    // the version this attempt's computation is anchored to, captured
    // BEFORE any state read (anchor ≤ every read, or staleness hides):
    // everything below — the head state, the key/LogID probe, the
    // insert dedup, its maxLogId — describes the
    // store AS OF this version or newer. An insert-bearing merge passes
    // it to commitReplacing: a commit landing during the COMPUTE
    // (invisible to the version claim, which is captured after staging)
    // is exactly as invalidating as a lost claim — without the gate the
    // merge lands with key dedup and a LogID base from the pre-racer
    // snapshot (silent duplicate ids). A read seeing NEWER state than
    // the anchor only over-triggers the gate (an extra recompute), never
    // under-triggers it.
    val stateReadAt = StoreLog.currentVersion(spark, path)
    afterStateRead()
    // probe and rewrite the COMMITTED live set only (same rule as
    // Compaction.rewriteCow and StoreDelete): a listing would see the
    // published-but-unclaimed files of any in-flight appender, and
    // absorbing one into `touched` would archive a batch whose commit
    // hasn't landed. (Insert-bearing merges that lose their claim to a
    // racing append recompute from the new committed state — see
    // mergeHooked's retry loop.)
    val state = ConsolidatedStore.committedState(spark, path,
      singleWriter = true).getOrElse(throw new IllegalArgumentException(
        s"merge needs a graft-managed layout (foreign subdirs found): $path"))
    val key = Schemas.dedupKey
    locally {
      val overlapping = state.live
        .filter(f => envelopes.exists(b => StoreMeta.overlaps(f, b)))
      val rootQ = StoreMeta.qualifiedPath(spark, path)

      // key+LogID probe over zone-overlapping files only (column-pruned)
      val matched =
        if (overlapping.isEmpty) null
        else spark.read
          .option("basePath", path).schema(Schemas.consolidated)
          .parquet(overlapping.map(f => s"$path/${f.file}"): _*)
          .withColumn("__file", input_file_name())
          .select(key.map(col) :+ col("LogID") :+ col("__file"): _*)
          .alias("ex")
          .join(deduped.select(key.map(col): _*).alias("in"),
            keyCond("ex", "in"), "left_semi")
          .cache()
      try {
        // ONE probe action materializes the cached `matched` AND yields
        // both observables the old count() + distinct().collect() pair
        // produced: per-file matched counts sum to nUpd, their keys are
        // the touched file set (store keys are unique, so per-file
        // counts partition the matches)
        val perFile: Seq[(String, Long)] =
          if (matched == null) Nil
          else matched.groupBy("__file").count().collect()
            .map(r => (StoreMeta.relativize(rootQ, r.getString(0)),
              r.getLong(1))).toSeq
        val nUpd = perFile.map(_._2).sum
        val touched: Seq[String] = perFile.map(_._1).sorted

        val replacement =
          if (nUpd == 0L) None
          else Some(deduped.alias("in")
            .join(matched.drop("__file").alias("ex"), keyCond("in", "ex"), "inner")
            .select(col("ex.LogID").as("LogID") +:
              cols.map(c => col(s"in.$c").as(c)): _*))
        val insertRows =
          if (matched == null) deduped
          else deduped.alias("in")
            .join(matched.alias("ex"), keyCond("in", "ex"), "left_anti")
        val nIns = nDeduped - nUpd
        if (nUpd == 0L && nIns == 0L) return MergeStats(0L, 0L, 0L)

        val survivors =
          if (touched.isEmpty) None
          else Some(spark.read
            .option("basePath", path).schema(Schemas.consolidated)
            .parquet(touched.map(f => s"$path/$f"): _*)
            .alias("ex")
            .join(deduped.select(key.map(col): _*).alias("in"),
              keyCond("ex", "in"), "left_anti"))

        val inserts =
          if (nIns == 0L) None
          else Some(ConsolidatedStore.withLogIdsFrom(
            state.maxLogId, insertRows, batchRows = nIns))

        // cheap pre-stage staleness probe: an insert-bearing merge whose
        // anchor is already behind the log will be rolled back by the
        // commit-time gate anyway — discover it HERE, before paying the
        // full rewrite, staging, publish, and archive the rollback would
        // undo. One small log read; the commit-time gate stays the
        // authoritative backstop for racers landing after this probe.
        if (nIns > 0L && StoreLog.currentVersion(spark, path) > stateReadAt)
          throw new StoreLog.StaleReplacingCommit(
            s"merge on $path: version advanced past compute anchor " +
              s"$stateReadAt before staging — recomputing on fresh state")

        val out = (inserts.toSeq ++ replacement.toSeq ++ survivors.toSeq)
          .reduce(_ unionByName _)
        val laidOut =
          if (sortWithin.isEmpty) out
          else out.sortWithinPartitions(sortWithin.map(col): _*)
        // stage (executes the rewrite while the originals are readable),
        // archive the originals, THEN promote: plain directory readers
        // never see a matched row's original and replacement together.
        // Adds are the exact files this merge created — a concurrent
        // appender's in-flight (published, uncommitted) files can never
        // be absorbed into this commit by a listing diff.
        // The new file's zone-map stats ride the staged write
        // (CollectMetrics, exactly-once per action — the append-path
        // fusion) whenever the rewrite lands as one flat file; otherwise
        // the new files' footers are scanned before the claim.
        val (obs, observed) =
          ConsolidatedStore.appendObservation(laidOut)
        val (stageDir, newFiles) = Staging.stage(spark, path, observed, partitionBy)
        val v = StoreLog.currentVersion(spark, path) + 1
        if (touched.nonEmpty)
          StoreLog.archive(spark, path, v,
            touched.map(f => (new Path(s"$path/$f"), f)))
        Staging.promote(spark, path, stageDir, newFiles)
        val newStats =
          if (newFiles.size == 1 && partitionBy.isEmpty)
            Seq(ConsolidatedStore.observedStats(obs.get, newFiles.head))
          else StoreMeta.scanStats(spark, path, newFiles)
        beforeCommit()
        // optimistic claim: an updates-only merge rebases its archive
        // past file-disjoint racers (its output depends only on the
        // touched files); an INSERT-bearing merge computed its keys/ids
        // from global state, so a disjoint racer rolls it back for the
        // caller's recompute loop. Overlapping rewrites roll back + throw.
        StoreLog.commitReplacing(spark, path, "merge",
          adds = newStats, removes = touched, archivedAt = v, txn = txnId,
          rebaseDisjoint = nIns == 0L,
          stateReadAt = if (nIns == 0L) None else Some(stateReadAt))
        MergeStats(nUpd, nIns, touched.size.toLong)
      } finally if (matched != null) matched.unpersist()
    }
  }
}
