package graft.store

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Schemas

/** Copy-on-write predicate DELETE from the consolidated store — the
  * physical form of the reference's retention proc
  * (`Utility.CleanupSQLBackupHistoryConsolidated`, sql:398-424), which
  * loop-deletes `where backup_start_date < @CleanupToDate` 500 rows at a
  * time. On immutable parquet the delete is file-level:
  *
  *   1. ONE column-pruned pass computes, per file, (matching, total) row
  *      counts — the scan reads only the predicate's columns.
  *   2. Files where every row matches are DROPPED whole — no rewrite, no
  *      data movement. Under a time-ordered ingest (or after
  *      [[graft.maintenance.Compaction.zorderCompact]]) this is the
  *      common case for retention: old files age out entirely, so a
  *      100 TB purge moves only the boundary files' bytes.
  *   3. Files with a partial match are rewritten without their matching
  *      rows (survivor copy-on-write, same shape as [[StoreMerge]]).
  *
  * Dropped and rewritten originals are archived under the commit's
  * history dir, so pre-delete snapshots stay readable and
  * [[StoreLog.changes]] can report the deleted rows. Rows where the
  * predicate is NULL are kept (SQL `DELETE WHERE` semantics: only
  * predicate-TRUE rows go).
  */
object StoreDelete {

  final case class DeleteStats(
    deleted: Long, filesDropped: Long, filesRewritten: Long)

  /** Delete rows matching `predicate`. `partitionBy`/`sortWithin` must
    * match the store's appends (same contract as
    * [[ConsolidatedStore.append]]).
    *
    * @param fileVerdict optional zone-map pre-classification of each
    *   file against the predicate: `Some(true)` = EVERY row matches
    *   (drop whole — no data scan, row count comes from parquet footers),
    *   `Some(false)` = NO row matches (untouched — no scan at all),
    *   `None` = unknown (pay the column-pruned counting scan). The
    *   caller owns soundness: a wrong verdict deletes or keeps wrong
    *   rows. [[purgeExpired]] derives it from the files'
    *   backup_start_date envelopes, which is what turns a 100 TB
    *   retention purge into a metadata operation on all but the one
    *   boundary file.
    */
  def delete(spark: SparkSession, path: String, predicate: Column,
      partitionBy: Seq[String] = Nil,
      sortWithin: Seq[String] = Seq("database_name", "last_lsn"),
      fileVerdict: FileStats => Option[Boolean] = _ => None): DeleteStats = {
    // the appenders' committed-state read: a pre-log store is baselined
    // first (v1 = every live file), so a crash inside this delete stays
    // repairable, and a racing replacer's archive→commit window is
    // waited out — a committed-live file that is off disk mid-swap would
    // otherwise be silently EXCLUDED from the candidates, and if an
    // unrelated append bumps the version this delete's commit rebases
    // disjointly — predicate-matching rows in that file durably survive
    // a "successful" delete with no error anywhere.
    //
    // Candidates are the COMMITTED live set only (same rule as
    // Compaction.rewriteCow): the directory also lists a concurrent
    // appender's published-but-unclaimed batch. Absorbing such a file into this
    // delete's removes would archive rows whose commit hasn't landed
    // (silently lost once it does) and breaks the disjointness that
    // lets racing appends rebase this commit.
    val state = ConsolidatedStore.committedState(spark, path,
      singleWriter = true).getOrElse(throw new IllegalArgumentException(
        s"delete needs a graft-managed layout (foreign subdirs found): $path"))
    val candidates = state.live
    if (candidates.isEmpty) return DeleteStats(0L, 0L, 0L)
    val rootQ = StoreMeta.qualifiedPath(spark, path)
    val hit = coalesce(predicate, lit(false))

    val verdicts = candidates.map(f => f.file -> fileVerdict(f))
    val wholeFiles = verdicts.collect { case (f, Some(true)) => f }.sorted
    val unknown = verdicts.collect { case (f, None) => f }

    val perFile =
      if (unknown.isEmpty) Nil
      else spark.read
        .option("basePath", path).schema(Schemas.consolidated)
        .parquet(unknown.map(f => s"$path/$f"): _*)
        .groupBy(input_file_name().as("__file"))
        .agg(count(lit(1)).as("n"),
          sum(when(hit, 1L).otherwise(0L)).as("n_del"))
        .collect().toSeq
        .map(r => (StoreMeta.relativize(rootQ, r.getString(0)),
          r.getLong(1), r.getLong(2)))

    // all-match files: row count from parquet footers only (count(*)
    // aggregate pushdown — no column data is read)
    val wholeRows =
      if (wholeFiles.isEmpty) 0L
      else spark.read
        .option("basePath", path).schema(Schemas.consolidated)
        .parquet(wholeFiles.map(f => s"$path/$f"): _*)
        .count()

    val deleted = perFile.map(_._3).sum + wholeRows
    if (deleted == 0L) return DeleteStats(0L, 0L, 0L)
    val dropped =
      (wholeFiles ++ perFile.collect { case (f, n, d) if d == n => f }).sorted
    val partial = perFile.collect { case (f, n, d) if d > 0 && d < n => f }.sorted

    // stage (executes the survivor rewrite while the originals are
    // readable), archive the removed originals, THEN promote — readers
    // never see a surviving row's original and rewrite together. Adds
    // are the exact survivor files this delete created, never a
    // directory-listing diff that could absorb a concurrent appender's
    // in-flight files into this commit.
    // survivor-file stats ride the staged write (CollectMetrics — the
    // append/merge-path fusion) whenever the rewrite lands as one flat
    // file; otherwise the promoted files' footers are scanned before the
    // claim
    var obs: org.apache.spark.sql.Observation = null
    val staged: Option[(String, Seq[String])] =
      if (partial.isEmpty) None
      else {
        val survivors = spark.read
          .option("basePath", path).schema(Schemas.consolidated)
          .parquet(partial.map(f => s"$path/$f"): _*)
          .filter(!hit)
        val laidOut =
          if (sortWithin.isEmpty) survivors
          else survivors.sortWithinPartitions(sortWithin.map(col): _*)
        val (o, observed) = ConsolidatedStore.appendObservation(laidOut)
        obs = o
        Some(Staging.stage(spark, path, observed, partitionBy))
      }
    val newFiles = staged.map(_._2).getOrElse(Nil)

    val removed = dropped ++ partial
    // belt-and-braces: nothing to remove and nothing staged must not
    // claim an archive home or write an empty replacing commit (an
    // empty-removes commit is never vacuumed and every repair re-walks
    // its history dir)
    if (removed.isEmpty && staged.isEmpty)
      return DeleteStats(deleted, 0L, 0L)
    val v = StoreLog.currentVersion(spark, path) + 1
    StoreLog.archive(spark, path, v,
      removed.map(f => (new Path(s"$path/$f"), f)))
    staged.foreach { case (d, fl) => Staging.promote(spark, path, d, fl) }
    val newStats =
      if (newFiles.size == 1 && partitionBy.isEmpty && obs != null)
        Seq(ConsolidatedStore.observedStats(obs.get, newFiles.head))
      else StoreMeta.scanStats(spark, path, newFiles)
    // optimistic claim (see StoreLog.commitReplacing): disjoint racers
    // rebase, overlapping rewrites roll back and abort
    StoreLog.commitReplacing(spark, path, "delete",
      adds = newStats, removes = removed, archivedAt = v)
    DeleteStats(deleted, dropped.size.toLong, partial.size.toLong)
  }

  /** The reference retention proc against the store: compute the cutoff
    * (newest start date older than `now - retentionDays` — the cutoff
    * row itself survives, sql:404-408), then [[delete]] everything
    * strictly below it.
    *
    * Both phases run off the committed files' backup_start_date
    * envelopes when the store has a log:
    *
    *   - the CUTOFF (max start date below the threshold) folds the
    *     per-file maxima that sit entirely below the threshold on the
    *     driver and scans only the files whose envelope STRADDLES it —
    *     under a time-correlated layout that is one boundary file;
    *   - the DELETE classifies each file by envelope: entirely below the
    *     cutoff → dropped whole (footer-count only), entirely at/above →
    *     untouched (no scan), straddling → counting scan + survivor
    *     rewrite. Sound because `backup_start_date` is non-null in the
    *     consolidated schema, so min/max cover every row.
    *
    * Stores without a log (and foreign layouts) fall back to the full
    * column-pruned scan for the cutoff; the delete baselines an unlogged
    * store first.
    */
  def purgeExpired(spark: SparkSession, path: String, retentionDays: Int,
      now: java.sql.Timestamp,
      partitionBy: Seq[String] = Nil): DeleteStats = {
    val files = ConsolidatedStore.loggedHead(spark, path).map(_.live)
    val threshold = new java.sql.Timestamp(
      now.getTime - retentionDays * 86400000L)
    val thresholdUs = StoreMeta.micros(threshold)

    val cutoffUs: Option[Long] = files match {
      case Some(fs) if fs.nonEmpty && fs.forall(_.startMaxUs != null) =>
        val belowMeta = fs
          .filter(f => f.startMaxUs < thresholdUs && f.startMaxUs != Long.MinValue)
          .map(_.startMaxUs.longValue)
        val straddling = fs
          .filter(f => f.startMinUs < thresholdUs && f.startMaxUs >= thresholdUs)
        val scanned: Option[Long] =
          if (straddling.isEmpty) None
          else Option(spark.read
            .option("basePath", path).schema(Schemas.consolidated)
            .parquet(straddling.map(f => s"$path/${f.file}"): _*)
            .filter(col("backup_start_date") < lit(threshold))
            .agg(max(unix_micros(col("backup_start_date")))).head().get(0))
            .map(_.asInstanceOf[Long])
        (belowMeta ++ scanned).reduceOption(_ max _)
      case _ =>
        graft.maintenance.Retention.cleanupCutoff(
          ConsolidatedStore.read(spark, path).select("backup_start_date"),
          retentionDays, now).map(StoreMeta.micros)
    }

    cutoffUs match {
      case None => DeleteStats(0L, 0L, 0L)
      case Some(cUs) =>
        val c = new java.sql.Timestamp(Math.floorDiv(cUs, 1000L))
        c.setNanos((Math.floorMod(cUs, 1000000L) * 1000L).toInt)
        delete(spark, path, col("backup_start_date") < lit(c), partitionBy,
          fileVerdict = f =>
            if (f.startMinUs == null || f.startMaxUs == null) None
            else if (f.startMaxUs < cUs) Some(true) // every row expired
            else if (f.startMinUs >= cUs) Some(false) // every row survives
            else None)
    }
  }
}
