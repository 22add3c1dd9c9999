package graft.maintenance

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.store.{Staging, StoreLog, StoreMeta}

/** Small-file compaction for the consolidated store. Incremental
  * ETL appends one file set per (source, batch); at streaming cadence a
  * year of appends is hundreds of thousands of KB-sized files, and scan
  * cost becomes file-listing + footer-reading, not IO. Compaction
  * rewrites the table into range-partitioned files sorted on
  * `(database_name, last_lsn)` — the restore access path — so parquet
  * min/max row-group stats line up with the per-database predicates every
  * restore query pushes down (the same layout
  * `ConsolidatedStore.append` targets for a single batch, reasserted
  * table-wide).
  *
  * On a LOGGED store the rewrite is file-level copy-on-write under
  * optimistic concurrency, exactly the [[graft.store.StoreMerge]] /
  * [[graft.store.StoreDelete]] shape: read the log's live set, stage the
  * rewritten layout, archive the originals, promote the staged files,
  * and commit through [[StoreLog.commitReplacing]] — so a compaction racing concurrent
  * appends REBASES past them (a pure append's files are disjoint from
  * the files the compaction read and replaced; both commits land)
  * instead of losing every version race and starving under steady
  * appendConcurrent traffic. Only a racing rewrite of the same files
  * (another maintenance op — operationally serialized anyway) aborts.
  *
  * Logless stores keep the legacy whole-root sibling-dir swap (stage →
  * two renames), whose crash windows [[graft.store.StoreRepair]]
  * reconciles; a logged store's CoW crash windows are covered by the
  * standard log reconciliation (uncommitted files drop, over-eager
  * archives restore).
  */
object Compaction {

  /** @return number of data files after compaction. */
  def compact(
      spark: SparkSession, path: String,
      maxRecordsPerFile: Long = 5000000L): Long =
    rewrite(spark, path, maxRecordsPerFile)(
      _.repartitionByRange(col("database_name"), col("last_lsn"))
        .sortWithinPartitions("database_name", "last_lsn"))

  /** Z-order compaction: cluster on the Morton interleave of a hashed
    * `database_name` bin and a range-scaled `backup_finish_date` bin
    * ([[ZOrder]]) so BOTH the per-database restore paths and fleet-wide
    * time-range scans (retention cutoffs, point-in-time planning) prune
    * files — one physical order serving the reference's two leading index
    * columns (sql:34-36) at once. Use instead of [[compact]] when the
    * store is queried on both axes; same commit protocol.
    *
    * @return number of data files after the rewrite.
    */
  def zorderCompact(
      spark: SparkSession, path: String,
      maxRecordsPerFile: Long = 5000000L): Long = {
    import org.apache.spark.sql.functions.{max, min, unix_micros}
    if (StoreMeta.listDataFiles(spark, path)
        .getOrElse(Nil).isEmpty) return 0L // empty store: no-op (see rewrite)
    val bounds = spark.read.parquet(path)
      .agg(min(unix_micros(col("backup_finish_date"))),
        max(unix_micros(col("backup_finish_date")))).head()
    val (lo, hi) =
      if (bounds.isNullAt(0)) (0L, 0L) else (bounds.getLong(0), bounds.getLong(1))
    rewrite(spark, path, maxRecordsPerFile) { df =>
      val z = ZOrder.mortonCode(
        ZOrder.hashBin16(col("database_name")),
        ZOrder.rangeBin16(unix_micros(col("backup_finish_date")), lo, hi))
      df.withColumn("__z", z)
        .repartitionByRange(col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
    }
  }

  private def rewrite(
      spark: SparkSession, path: String, maxRecordsPerFile: Long)(
      layout: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Long = {
    // a fully-deleted store has nothing to lay out (and no schema to
    // infer from the directory) — compaction is a no-op, not a crash
    if (StoreMeta.listDataFiles(spark, path)
        .getOrElse(Nil).isEmpty) return 0L
    if (StoreLog.currentVersion(spark, path) > 0)
      rewriteCow(spark, path, maxRecordsPerFile)(layout)
    else rewriteBySwap(spark, path, maxRecordsPerFile)(layout)
  }

  /** Logged-store rewrite: file-level CoW committed under optimistic
    * concurrency. Note the rewrite itself writes a FLAT layout — a hive
    * store comes out flat (with the partition column folded back into
    * the data), content preserved, its emptied partition dirs inert.
    */
  private def rewriteCow(
      spark: SparkSession, path: String, maxRecordsPerFile: Long)(
      layout: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Long = {
    // rewrite the COMMITTED live set only: a concurrent appender's
    // published-but-unclaimed files are invisible here, so they are
    // neither read nor removed — which is exactly what makes this
    // commit disjoint from (and commutative with) a racing append
    val head = StoreLog.headState(spark, path)
    val v0 = head.version
    val oldFiles = head.live.map(_.file)
    if (oldFiles.isEmpty) return dataFileCount(spark, path)
    // schema is INFERRED (with merging), not imposed: compaction must
    // preserve whatever schema the store actually carries — including
    // evolved columns beyond the consolidated baseline
    val df = spark.read
      .option("basePath", path)
      .option("mergeSchema", "true")
      .parquet(oldFiles.map(f => s"$path/$f"): _*)
    // stage (executes the rewrite while the originals are still in
    // place), THEN archive the originals, THEN promote the staged files:
    // plain directory readers never see original + rewrite rows together
    // — the inconsistent window is the two rename loops, with no
    // duplicate-row phase. A crash anywhere in it rolls back: the
    // archive sits at v0+1 > current, so StoreRepair restores the
    // originals and drops the staged/promoted rewrites as uncommitted.
    val (obs, observed) = graft.store.ConsolidatedStore
      .appendObservation(layout(df))
    val (stageDir, mine) = Staging.stage(spark, path, observed,
      maxRecordsPerFile = maxRecordsPerFile)
    // archive under v0+1's history dir so EVERY commit after our state
    // read lands in commitReplacing's intervening check (pure appends
    // rebase us; an overlapping rewrite aborts + repairs)
    StoreLog.archive(spark, path, v0 + 1,
      oldFiles.map(f => (new Path(s"$path/$f"), f)))
    Staging.promote(spark, path, stageDir, mine)
    // the commit carries the rewritten files' stats: observed during the
    // staged write when it landed as one non-empty file (the optimize and
    // purge rule), footer-scanned otherwise — a zero-row file gets
    // scanStats' empty-interval sentinel
    val newStats =
      if (mine.size == 1 && obs.get("n") != 0L)
        Seq(graft.store.ConsolidatedStore.observedStats(obs.get, mine.head))
      else StoreMeta.scanStats(spark, path, mine)
    StoreLog.commitReplacing(spark, path, "compact",
      adds = newStats, removes = oldFiles, archivedAt = v0 + 1)
    dataFileCount(spark, path)
  }

  /** Legacy whole-root staged rewrite for LOGLESS stores: apply
    * `layout`, write to a sibling dir, swap via two renames. (A logless
    * store has no commit protocol to
    * arbitrate with — the swap's crash windows are reconciled by
    * [[graft.store.StoreRepair]]'s compaction pre-pass.)
    */
  private def rewriteBySwap(
      spark: SparkSession, path: String, maxRecordsPerFile: Long)(
      layout: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Long = {
    val dst = new Path(path)
    val fs = dst.getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = new Path(path + "__compacting")
    val bak = new Path(path + "__precompact")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    if (fs.exists(bak)) fs.delete(bak, true)

    layout(spark.read.parquet(path))
      .write
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .mode("overwrite")
      .parquet(tmp.toString)

    require(fs.rename(dst, bak), s"compaction swap failed: $dst -> $bak")
    require(fs.rename(tmp, dst), s"compaction swap failed: $tmp -> $dst")
    // carry an (empty) log dir if one existed pre-swap so the store's
    // logging state survives the rewrite
    val logInBak = new Path(bak, StoreLog.dirName)
    if (fs.exists(logInBak)) {
      require(fs.rename(logInBak, new Path(dst, StoreLog.dirName)),
        s"compaction log carry failed: $logInBak")
      val histInBak = new Path(bak, StoreLog.historyDirName)
      if (fs.exists(histInBak))
        require(
          fs.rename(histInBak, new Path(dst, StoreLog.historyDirName)),
          s"compaction history carry failed: $histInBak")
      val oldFiles = StoreMeta.listDataFiles(spark, bak.toString).getOrElse(Nil)
      val newFiles = StoreMeta.listDataFiles(spark, path).getOrElse(Nil)
      val v = StoreLog.currentVersion(spark, path) + 1
      StoreLog.archive(spark, path, v,
        oldFiles.map(fl => (new Path(bak, fl), fl)))
      StoreLog.commit(spark, path, "compact",
        adds = StoreMeta.scanStats(spark, path, newFiles), removes = oldFiles)
    }
    fs.delete(bak, true)
    dataFileCount(spark, path)
  }

  /** Incremental small-file OPTIMIZE: bin-pack only files smaller than
    * `minBytes` into consolidated rewrites, leaving every
    * already-large-enough file untouched BY IDENTITY. [[compact]] and
    * [[zorderCompact]] rewrite the whole table (right after a backfill,
    * or to re-cluster); this is the steady-state maintenance shape
    * between them — a store receiving trickle appends accumulates one
    * small file per batch, and folding them costs O(small files), not
    * O(table). Replaced originals archive under the commit's history dir
    * ([[graft.store.StoreLog]]) so pre-optimize snapshots stay readable;
    * the commit carries only the new files' stats. Commits through [[StoreLog.commitReplacing]],
    * so concurrent appends rebase it rather than starve it.
    *
    * @return (filesRewritten, filesAfter)
    */
  def optimizeSmall(
      spark: SparkSession, path: String, minBytes: Long,
      maxRecordsPerFile: Long = 5000000L): (Long, Long) = {
    val listed = StoreMeta.listDataFilesWithSize(spark, path).getOrElse(
      throw new IllegalArgumentException(
        s"optimize needs a graft-managed layout: $path"))
    val sizes = listed.toMap
    val all = listed.map(_._1)
    // on a logged store, bin-pack the COMMITTED live set only — a racing
    // appender's published-but-unclaimed files must not be absorbed into
    // this commit's removes (they belong to the appender's commit)
    val head = StoreLog.headState(spark, path)
    val candidates =
      if (head.version == 0) all
      else all.filter(head.live.map(_.file).toSet)
    // sizes come with the listing — no per-file getFileStatus round trips
    val small = candidates.filter(f => sizes(f) < minBytes).sorted
    if (small.size < 2) return (0L, dataFileCount(spark, path))

    // bin-pack: one output file per minBytes of input (the whole point —
    // without an explicit target the range partitioning would re-shard
    // the handful of rows across the session's shuffle partitions)
    val totalBytes = small.map(sizes).sum
    val target = math.max(1L,
      (totalBytes + minBytes - 1) / minBytes).toInt
    val packed = spark.read
      .option("basePath", path)
      .schema(graft.model.Schemas.consolidated)
      .parquet(small.map(f => s"$path/$f"): _*)
      .repartitionByRange(target, col("database_name"), col("last_lsn"))
      .sortWithinPartitions("database_name", "last_lsn")
    // stage → archive → promote (see rewriteCow): readers never see the
    // originals and their bin-packed copy at once. The packed file's
    // zone-map stats ride the staged write (CollectMetrics — the
    // append/merge-path fusion) whenever the pack lands as one file.
    val (obs, observed) = graft.store.ConsolidatedStore
      .appendObservation(packed)
    val (stageDir, mine) = Staging.stage(spark, path, observed,
      maxRecordsPerFile = maxRecordsPerFile)

    // a pre-log store BASELINES first (v1 = every live file) and then
    // takes the logged path like everyone else: the old logless branch
    // deleted un-archived originals after the promote, so a crash in
    // that window left durable duplicate rows — and a rerun bin-packed
    // the duplicates again (content-agnostic), compounding them
    StoreLog.baselineIfUnlogged(spark, path)
    val v = StoreLog.currentVersion(spark, path) + 1
    StoreLog.archive(spark, path, v,
      small.map(f => (new Path(s"$path/$f"), f)))
    Staging.promote(spark, path, stageDir, mine)
    // the packed file's stats: observed during the staged write when it
    // landed as one file, footer-scanned otherwise
    val newStats =
      if (mine.size == 1)
        Seq(graft.store.ConsolidatedStore.observedStats(obs.get, mine.head))
      else StoreMeta.scanStats(spark, path, mine)
    // optimistic claim: concurrent appends are disjoint (their files
    // are neither read nor removed here) and rebase this commit;
    // overlapping rewrites roll back and abort
    StoreLog.commitReplacing(spark, path, "optimize",
      adds = newStats, removes = small, archivedAt = v)
    (small.size.toLong, dataFileCount(spark, path))
  }

  /** Parquet data-file count of a table directory (recursive, skips
    * _SUCCESS and hidden files) — the health metric compaction drives
    * down.
    */
  def dataFileCount(spark: SparkSession, path: String): Long = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    // manual recursion so hidden/metadata DIRECTORIES (_graft_log, the
    // _graft_history archive) are skipped whole — fs.listFiles(p, true)
    // would descend into them and count archived data files as live
    def walk(dir: Path): Long = {
      var n = 0L
      fs.listStatus(dir).foreach { e =>
        val name = e.getPath.getName
        if (!name.startsWith(".") && !name.startsWith("_")) {
          if (e.isDirectory) n += walk(e.getPath)
          else if (name.endsWith(".parquet")) n += 1
        }
      }
      n
    }
    if (fs.exists(p)) walk(p) else 0L
  }
}
