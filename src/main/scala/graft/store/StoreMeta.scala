package graft.store

import java.math.{BigDecimal => JBigDecimal}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.Schemas

/** Zone-map statistics of one consolidated-store data file: running max
  * LogID plus min/max of the four dedup-key columns (reference sql:33).
  *
  * `file` is the path RELATIVE to the store root, so hive-partitioned
  * layouts (`database_name=.../part-*.parquet`) are first-class: the
  * partition-carried key columns are reconstructed at scan time via
  * `basePath` and show up in these stats like any data column.
  *
  * `devNullCount` counts rows whose `physical_device_name` is null.
  * SQL Server's unique index treats NULLs as equal (sql:33 dedups a
  * re-extracted NULL-device row), so a null key IS joinable under the
  * store's null-safe anti-join — a file needs to be consulted when both
  * it and the batch carry null-device rows, even though `min`/`max`
  * ignore nulls. `devMin`/`devMax` are null iff every device name in the
  * file is null.
  */
final case class FileStats(
    file: String, // path relative to the store root
    logIdMax: Long,
    lastLsnMin: JBigDecimal,
    lastLsnMax: JBigDecimal,
    firstLsnMin: JBigDecimal,
    firstLsnMax: JBigDecimal,
    dbMin: String,
    dbMax: String,
    devMin: String,
    devMax: String,
    devNullCount: Long,
    devHashes: Seq[Long] = null,
    // backup_start_date envelope in unix micros (the column is non-null
    // in the consolidated schema, so min/max cover every row). Boxed and
    // null = unrecorded (pre-migration sidecar row) — readers and the
    // retention fast path treat null as "consult the file". Serves the
    // reference's date-keyed access paths: the retention proc's
    // `backup_start_date < @CleanupToDate` (sql:404-408) and the
    // point-in-time restore bound (sql:131).
    startMinUs: java.lang.Long = null,
    startMaxUs: java.lang.Long = null)

/** Min/max of the dedup-key columns over one incoming (deduped) batch —
  * or over one `database_name` group of it: the append path computes one
  * envelope per database (the natural batch grouping), so a fleet batch
  * spanning lexicographically distant databases prunes to their files
  * only, not every file between them. Mins/maxes ignore nulls;
  * `devNullCount` carries the has-null-device bit the ranges lose.
  */
final case class KeyRanges(
    lastLsnMin: JBigDecimal,
    lastLsnMax: JBigDecimal,
    firstLsnMin: JBigDecimal,
    firstLsnMax: JBigDecimal,
    dbMin: String,
    dbMax: String,
    devMin: String,
    devMax: String,
    devNullCount: Long,
    devHashes: Seq[Long] = null,
    // deduped row count of this batch group (-1 = not recorded): lets
    // the append pick its write regime (trickle vs bootstrap fan-out)
    // without a separate count action — the count is an upper bound on
    // the post-anti-join rows, and the regime boundary only needs the
    // upper bound (see ConsolidatedStore.claimOnce)
    rows: Long = -1L)

/** Store-metadata sidecar: the Spark analog of the reference's unique
  * index on `(last_lsn, first_lsn, database_name, physical_device_name)`
  * (sql:33) actually being an *index*. Without it every idempotent
  * append pays a full scan of the consolidated table twice — once for
  * `max(LogID)` and once for the anti-join's key side — which is
  * O(table) per trickle batch and the one shape that cannot survive a
  * 100 TB store.
  *
  * The sidecar is LOG-STRUCTURED: `<root>/_graft_meta` (underscore-
  * prefixed, so table scans never see it) holds JSON-lines segments
  * written and read DRIVER-side (metadata must never schedule a cluster
  * job; legacy Spark-written parquet segments still load and fold away),
  * and a normal append writes ONE new small segment describing just its
  * new files ([[saveDelta]]) — O(batch) sidecar bytes, not O(store). A full
  * rewrite ([[save]], the fold) happens only when reconciliation found
  * drift or the segment count passed a threshold — the same
  * log + periodic checkpoint shape a transaction log uses, minus the
  * transactional claims: this is a pure CACHE, never a correctness
  * dependency. [[load]] reconciles it against the directory listing on
  * every append — entries for vanished files (compaction, manual
  * cleanup) are dropped, files missing from the sidecar (first run,
  * post-compaction, a crashed sidecar write) are scanned once and folded
  * back in. A deleted or corrupt sidecar degrades to one rebuild scan,
  * not to wrong answers.
  */
object StoreMeta {

  val dirName = "_graft_meta"

  /** Fold (full-rewrite) the segment log when an append would push it
    * past this many segments: load cost is a read of every segment, so
    * unbounded trickle appends would slowly grow it back to the O(store)
    * rewrite this design removed — 64 keeps the log read driver-trivial
    * while amortizing the fold to 1/64 appends.
    */
  val SegmentFoldThreshold = 64

  /** Max distinct device hashes recorded per file/envelope; above it the
    * set is dropped (null) and pruning falls back to min/max ranges.
    * 256 longs = 2 KB — sidecar rows stay metadata-sized while covering
    * the typical few-devices-per-file reality.
    */
  val DevHashSetCap = 256

  private val metaSchema = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("logid_max", LongType, nullable = false),
    StructField("last_lsn_min", Schemas.lsnType, nullable = true),
    StructField("last_lsn_max", Schemas.lsnType, nullable = true),
    StructField("first_lsn_min", Schemas.lsnType, nullable = true),
    StructField("first_lsn_max", Schemas.lsnType, nullable = true),
    StructField("db_min", StringType, nullable = true),
    StructField("db_max", StringType, nullable = true),
    StructField("dev_min", StringType, nullable = true),
    StructField("dev_max", StringType, nullable = true),
    // nullable for migration: pre-log-structured sidecars lack the
    // column; such rows read as null and are treated as unrecorded, so
    // they heal via one rescan instead of mis-pruning null-device keys
    StructField("dev_null_count", LongType, nullable = true),
    // exact xxhash64 set of the file's distinct non-null device names,
    // capped at [[DevHashSetCap]] (null = overflowed or pre-migration —
    // conservative, range-only pruning). An exact secondary "index" for
    // the highest-cardinality key column: device names are near-unique
    // per (set, stripe), so min/max ranges of neighboring files overlap
    // almost always while their actual device SETS almost never do.
    StructField("dev_hashes", ArrayType(LongType, containsNull = false),
      nullable = true),
    // backup_start_date min/max in unix micros; nullable for migration
    // (pre-r9 segments read as null = unrecorded, conservative consult)
    StructField("start_min_us", LongType, nullable = true),
    StructField("start_max_us", LongType, nullable = true)))

  /** Result of [[load]]: reconciled per-file stats, whether the sidecar
    * on disk drifted from the listing (caller should fold a full rewrite
    * even if the append itself writes nothing), and the current segment
    * count (drives the fold threshold).
    */
  final case class Loaded(files: Seq[FileStats], dirty: Boolean, segments: Int) {
    def maxLogId: Long = files.foldLeft(0L)((m, f) => math.max(m, f.logIdMax))
  }

  /** Root-relative paths of a store directory's data files, recursively.
    * Subdirectories must be hive-style `key=value` partition dirs (the
    * only layout whose directory names the `basePath` read option can
    * turn back into columns); any other subdirectory means a foreign
    * layout → None, and callers fall back to the full-scan append.
    */
  def listDataFiles(spark: SparkSession, root: String): Option[Seq[String]] =
    listDataFilesWithSize(spark, root).map(_.map(_._1))

  /** [[listDataFiles]] carrying each file's length — sizes come with the
    * directory listing for free, so policy probes (small-file
    * maintenance) never pay a per-file `getFileStatus` round trip.
    */
  private[graft] def listDataFilesWithSize(
      spark: SparkSession, root: String): Option[Seq[(String, Long)]] = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) return Some(Nil)
    val names = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    def walk(dir: Path, prefix: String): Boolean = { // false = foreign layout
      val entries = fs.listStatus(dir)
      var i = 0
      while (i < entries.length) {
        val e = entries(i)
        val n = e.getPath.getName
        if (!n.startsWith("_") && !n.startsWith(".")) {
          if (e.isDirectory) {
            if (!n.contains("=")) return false
            if (!walk(e.getPath, s"$prefix$n/")) return false
          } else if (n.endsWith(".parquet")) names += s"$prefix$n" -> e.getLen
        }
        i += 1
      }
      true
    }
    if (walk(p, "")) Some(names.toSeq) else None
  }

  /** Whether the store dir holds ANY data file — a short-circuit walk,
    * because the emptiness probe sits on the hot read path and must not
    * pay an O(#files) listing. A non-hive subdirectory counts as data
    * (foreign layout — the caller's reader decides what to do with it).
    */
  private[graft] def hasAnyDataFile(
      spark: SparkSession, root: String): Boolean = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) return false
    def walk(dir: Path): Boolean = {
      val entries = fs.listStatus(dir)
      var i = 0
      while (i < entries.length) {
        val e = entries(i)
        val n = e.getPath.getName
        if (!n.startsWith("_") && !n.startsWith(".")) {
          if (e.isDirectory) {
            if (!n.contains("=") || walk(e.getPath)) return true
          } else if (n.endsWith(".parquet")) return true
        }
        i += 1
      }
      false
    }
    walk(p)
  }

  /** Driver-side cache of parsed sidecar segments, keyed by qualified
    * segment path. Sound because published segments are IMMUTABLE:
    * [[appendSegment]] stages under a fresh UUID and renames into place,
    * nothing ever rewrites a published segment, and folds only DELETE
    * consumed segments (UUID names cannot recur) — so a hit returns
    * exactly what a re-read would parse, and no invalidation protocol
    * exists to get wrong. This turns the repeat-load cost a claim
    * loop / merge / pruned read pays from O(#files) JSON parse into
    * O(new segments since the last load): the linear `meta_load` term
    * the file-count probe measures is paid once per segment per driver,
    * not once per planning call. Only [[load]] reads through the cache;
    * the fold's capture reads ([[saveHooked]]) stay direct so a segment
    * vanishing mid-fold still surfaces as the vanished-racer
    * disposition, byte-identical to the uncached behavior.
    *
    * Two-tier bound: segments whose row count fits the budget share a
    * total-row LRU ([[SegCacheMaxRows]]); an OVER-budget segment (the
    * post-fold working set of a very large store — the thing most worth
    * caching) is exempt from the row budget and capped by COUNT instead
    * ([[SegCacheMaxOversized]], LRU among themselves). A single-tier
    * row budget would evict the oversized resident on the next put of
    * any small delta and thrash every subsequent load back to a full
    * re-parse. Memory note: an oversized entry duplicates a Loaded the
    * driver materializes on every load anyway, and changing
    * [[SegCacheMaxRows]] (test seam) must be followed by
    * [[segCacheClear]] — tier accounting is computed at put time.
    */
  private[graft] var SegCacheMaxRows: Long = 1L << 17
  private[graft] var SegCacheMaxOversized: Int = 4
  private val segCache =
    new java.util.LinkedHashMap[String, Seq[FileStats]](64, 0.75f, true)
  private var segCacheBoundedRows: Long = 0L
  private var segCacheOversized: Int = 0

  private[graft] def segCacheClear(): Unit = segCache.synchronized {
    segCache.clear(); segCacheBoundedRows = 0L; segCacheOversized = 0
  }

  private[graft] def segCacheSize: Int = segCache.synchronized(segCache.size)

  private def cacheGet(key: String): Option[Seq[FileStats]] =
    segCache.synchronized(Option(segCache.get(key)))

  private def cachePut(key: String, v: Seq[FileStats]): Unit =
    segCache.synchronized {
      def oversized(s: Seq[FileStats]): Boolean = s.size > SegCacheMaxRows
      def drop(s: Seq[FileStats]): Unit =
        if (oversized(s)) segCacheOversized -= 1
        else segCacheBoundedRows -= s.size
      val prev = segCache.put(key, v)
      if (prev != null) drop(prev)
      if (oversized(v)) segCacheOversized += 1
      else segCacheBoundedRows += v.size
      // evict eldest-first within each tier; never the entry just put
      val it = segCache.entrySet().iterator()
      while ((segCacheBoundedRows > SegCacheMaxRows ||
        segCacheOversized > SegCacheMaxOversized) && it.hasNext) {
        val e = it.next()
        if (e.getKey != key) {
          val evictable =
            if (oversized(e.getValue)) segCacheOversized > SegCacheMaxOversized
            else segCacheBoundedRows > SegCacheMaxRows
          if (evictable) { drop(e.getValue); it.remove() }
        }
      }
    }

  /** [[readSegmentStats]] through the segment cache. JSON misses parse
    * driver-side one segment at a time; legacy parquet misses batch into
    * ONE Spark read (as the uncached reader did) and attribute rows back
    * to their segment via `input_file_name` for per-segment caching. A
    * throwing read caches nothing.
    */
  private def readSegmentStatsCached(spark: SparkSession, metaDir: String,
      segs: Seq[String]): Seq[FileStats] = {
    val qp = qualifiedPath(spark, metaDir).toString
    val out = Seq.newBuilder[FileStats]
    val pqMisses = Seq.newBuilder[String]
    segs.foreach { s =>
      cacheGet(s"$qp/$s") match {
        case Some(v) => out ++= v
        case None if s.endsWith(".parquet") => pqMisses += s
        case None =>
          val stats = readSegmentStats(spark, metaDir, Seq(s))
          cachePut(s"$qp/$s", stats)
          out ++= stats
      }
    }
    val pq = pqMisses.result()
    if (pq.nonEmpty) {
      val byFile = spark.read.schema(metaSchema)
        .parquet(pq.map(s => s"$metaDir/$s"): _*)
        .withColumn("__seg", input_file_name())
        .collect().toSeq
        .groupBy(r => new Path(r.getString(r.length - 1)).getName)
      pq.foreach { s =>
        val stats = byFile.getOrElse(s, Nil).map(fromRow)
        cachePut(s"$qp/$s", stats)
        out ++= stats
      }
    }
    out.result()
  }

  /** Read all sidecar segments and reconcile them with the actual file
    * listing. None = unsupported layout (fall back to full scans).
    */
  def load(spark: SparkSession, root: String): Option[Loaded] =
    listDataFiles(spark, root).map { actual =>
      val actualSet = actual.toSet
      val mp = s"$root/$dirName"
      // a racing fold deletes its captured segments after publishing the
      // folded replacement — a reader caught between listing and read
      // retries on a FRESH listing (which carries the folded segment);
      // anything else unreadable is a corrupt sidecar, treated as absent.
      // Segments are read DRIVER-side (JSON lines; legacy Spark-written
      // parquet segments still load through one Spark read) — sidecar
      // metadata never schedules a cluster job.
      var attempt = 0
      var state: (Seq[FileStats], Int) = null
      while (state == null) {
        try {
          state =
            if (StorePath.exists(spark, mp)) {
              val segs = segmentFileNames(spark, mp)
              if (segs.isEmpty) (Nil, 0)
              else (readSegmentStatsCached(spark, mp, segs), segs.size)
            } else (Nil, 0)
        } catch {
          case e: Exception if StoreLog.fileVanished(e) && attempt < 8 =>
            attempt += 1
          case _: Exception => state = (Nil, 0)
        }
      }
      val (recorded, segments) = state
      // rows with devNullCount < 0 are pre-migration entries: rescan them
      // once rather than guess at their null-device population. Segments
      // may overlap after a heal — first row per file wins (single pass;
      // this runs on every planning call, so no groupBy allocation here)
      val seen = new java.util.HashSet[String]()
      val usable = recorded.filter(f => f.devNullCount >= 0 && seen.add(f.file))
      val kept = usable.filter(f => actualSet.contains(f.file))
      val unknown = actualSet -- kept.map(_.file)
      val healed =
        if (unknown.isEmpty) kept
        else kept ++ scanStats(spark, root, unknown.toSeq.sorted)
      Loaded(healed,
        dirty = kept.size != recorded.size || unknown.nonEmpty,
        segments = segments)
    }

  /** Compute [[FileStats]] for specific data files by scanning just
    * them — the heal path (and the stats pass over freshly written
    * batch files, which is O(batch)). `basePath` makes the read
    * reconstruct partition-directory columns for hive layouts, so the
    * stats see `database_name` even when it lives in the dir name.
    */
  def scanStats(
      spark: SparkSession, root: String, files: Seq[String]): Seq[FileStats] = {
    if (files.isEmpty) return Nil
    val rootPath = qualifiedPath(spark, root)
    val grouped = spark.read
      .option("basePath", rootPath.toString)
      .schema(Schemas.consolidated)
      .parquet(files.map(f => s"$root/$f"): _*)
      .groupBy(input_file_name().as("__file"))
      .agg(
        max("LogID").as("logid_max"),
        min("last_lsn").as("last_lsn_min"), max("last_lsn").as("last_lsn_max"),
        min("first_lsn").as("first_lsn_min"), max("first_lsn").as("first_lsn_max"),
        min("database_name").as("db_min"), max("database_name").as("db_max"),
        min("physical_device_name").as("dev_min"),
        max("physical_device_name").as("dev_max"),
        sum(when(col("physical_device_name").isNull, 1L).otherwise(0L))
          .as("dev_null_count"),
        sort_array(collect_set(when(col("physical_device_name").isNotNull,
          xxhash64(col("physical_device_name"))))).as("dev_hashes"),
        min(unix_micros(col("backup_start_date"))).as("start_min_us"),
        max(unix_micros(col("backup_start_date"))).as("start_max_us"))
      .collect().toSeq
    // a file written outside the store (no LogID column) reads as all-NULL
    // LogIDs: name it instead of failing on the row access below
    val noLogIds = grouped.filter(_.isNullAt(1))
      .map(r => relativize(rootPath, r.getString(0)))
    if (noLogIds.nonEmpty)
      throw new IllegalStateException(
        s"data files under $root lack LogIDs (written outside the store?): " +
          noLogIds.sorted.mkString(", "))
    // input_file_name() may return a zero-row file's name never (no rows
    // → no group): emit a sentinel so load() does not re-mark such a
    // file unknown-and-dirty on every subsequent append. Its date range
    // is the EMPTY interval (min > max) so date-bounded reads prune it.
    val seen = grouped.map(r => relativize(rootPath, r.getString(0))).toSet
    val sentinels = files.filterNot(seen).map { f =>
      FileStats(f, 0L, null, null, null, null, null, null, null, null, 0L,
        devHashes = Seq.empty,
        startMinUs = java.lang.Long.MAX_VALUE,
        startMaxUs = java.lang.Long.MIN_VALUE)
    }
    grouped.map { r =>
      val hashes = r.getSeq[Long](11)
      FileStats(
        relativize(rootPath, r.getString(0)),
        r.getLong(1),
        r.getDecimal(2), r.getDecimal(3), r.getDecimal(4), r.getDecimal(5),
        r.getString(6), r.getString(7),
        if (r.isNullAt(8)) null else r.getString(8),
        if (r.isNullAt(9)) null else r.getString(9),
        r.getLong(10),
        devHashes = if (hashes.size > DevHashSetCap) null else hashes,
        startMinUs = r.getLong(12),
        startMaxUs = r.getLong(13))
    } ++ sentinels
  }

  private[graft] def qualifiedPath(spark: SparkSession, root: String): Path = {
    val p = new Path(root)
    p.getFileSystem(spark.sessionState.newHadoopConf()).makeQualified(p)
  }

  /** Store-root-relative path of an `input_file_name()` URI. Compared on
    * URI paths so scheme/authority spelling differences between the
    * qualified root and Spark's file-name rendering cannot break the
    * prefix match.
    */
  private[graft] def relativize(root: Path, fileUri: String): String = {
    val rootPath = root.toUri.getPath
    val filePath = new Path(fileUri).toUri.getPath
    require(filePath.startsWith(rootPath + "/"),
      s"file $filePath not under store root $rootPath")
    filePath.substring(rootPath.length + 1)
  }

  /** Fold: collapse the segment log to one segment holding `files` PLUS
    * any captured racer delta's stats for data files still present in
    * the directory. Used when [[load]] found drift, when the segment
    * count passed [[SegmentFoldThreshold]], and by compaction's re-seed.
    *
    * Multi-writer shape: the pre-existing segment files are CAPTURED
    * first and READ — a delta appended by a concurrent writer between
    * the caller's `load()` and this fold describes real files the caller
    * never saw; dropping it would force a dirty-heal rescan of those
    * files on every subsequent load. Captured stats are kept iff their
    * file still exists on disk and the caller didn't supply its own
    * entry (the caller's `files` deliberately OMIT entries for data
    * files it removed — resurrecting those would churn). The folded
    * segment is published via a staged rename, then exactly the
    * captured segment files are deleted; an uncaptured racing delta
    * survives untouched, and nothing here can clobber a peer's
    * in-flight write.
    */
  def save(spark: SparkSession, root: String, files: Seq[FileStats]): Unit =
    saveHooked(spark, root, files)(_ => ())

  /** [[save]] with a test seam: `afterCapture(segments)` runs between
    * the segment capture and their read — the window a racing fold's
    * deletes land in.
    */
  private[graft] def saveHooked(spark: SparkSession, root: String,
      files: Seq[FileStats])(afterCapture: Seq[String] => Unit): Unit = {
    val mp = new Path(s"$root/$dirName")
    val f = mp.getFileSystem(spark.sessionState.newHadoopConf())
    val captured = if (f.exists(mp)) segmentFileNames(spark, s"$root/$dirName")
      else Nil
    afterCapture(captured)
    // per-SEGMENT read, so each captured segment gets the disposition
    // its own outcome earns:
    //   - read OK     → its stats fold into this segment; delete it
    //     (every row it held has a copy in our folded output);
    //   - vanished    → a racing fold consumed it; ITS folded output
    //     carries the rows — nothing of ours to delete;
    //   - corrupt     → a crashed writer's torn segment; delete it or
    //     every future load() degrades to a full heal rescan forever —
    //     its entries rebuild from the (immutable) data files on the
    //     next heal, exactly the self-healing the sidecar contract
    //     documents.
    // Deleting exactly what we folded (plus corpses) means a delta a
    // racer never captured is NEVER discarded, and a corrupt segment is
    // never immortal.
    val capturedStats = scala.collection.mutable.ArrayBuffer.empty[FileStats]
    val deletable = scala.collection.mutable.ArrayBuffer.empty[String]
    captured.foreach { seg =>
      try {
        capturedStats ++= readSegmentStats(spark, s"$root/$dirName", Seq(seg))
        deletable += seg
      } catch {
        case e: Exception if StoreLog.fileVanished(e) => ()
        case _: Exception => deletable += seg // torn segment: drop, heal later
      }
    }
    val extras = {
      val known = files.map(_.file).toSet
      val present =
        if (capturedStats.isEmpty) Set.empty[String]
        else listDataFiles(spark, root).getOrElse(Nil).toSet
      capturedStats.toSeq
        .filter(s => !known(s.file) && present(s.file))
        .groupBy(_.file).map(_._2.head).toSeq
    }
    appendSegment(spark, root, files ++ extras)
    // tolerate already-deleted (a racing fold consumed the same segment)
    deletable.foreach(c => f.delete(new Path(s"$root/$dirName/$c"), false))
  }

  /** Driver-side read of specific sidecar segments (JSON + legacy
    * parquet), no reconciliation.
    */
  private def readSegmentStats(spark: SparkSession, metaDir: String,
      segs: Seq[String]): Seq[FileStats] = {
    val (jsonSegs, pqSegs) = segs.partition(_.endsWith(".json"))
    val fromJson = jsonSegs.flatMap(s =>
      readSegmentLines(spark, new Path(s"$metaDir/$s")).map(parseStats))
    val fromPq =
      if (pqSegs.isEmpty) Nil
      else spark.read.schema(metaSchema)
        .parquet(pqSegs.map(s => s"$metaDir/$s"): _*)
        .collect().toSeq.map(fromRow)
    fromJson ++ fromPq
  }

  /** Append ONE new segment describing just `files` — the O(batch)
    * sidecar maintenance path of a clean trickle append.
    */
  def saveDelta(spark: SparkSession, root: String, files: Seq[FileStats]): Unit =
    appendSegment(spark, root, files)

  /** Write one sidecar segment — a DRIVER-side JSON-lines file (one
    * object per [[FileStats]]) staged under a per-writer name and
    * renamed into place. The sidecar is driver-scale metadata (one row
    * per data file, segments bounded by the fold threshold), so it must
    * never schedule a cluster job to read or write: an append's sidecar
    * maintenance is two filesystem calls, not a Spark stage. Unique
    * names + rename also mean concurrent sidecar writers (an append's
    * delta racing a compaction's re-seed) both land with no shared
    * staging to clobber. Same shape as the [[StoreLog]] commit files.
    */
  private def appendSegment(
      spark: SparkSession, root: String, files: Seq[FileStats]): Unit = {
    val bytes = files.map(renderStats)
      .mkString("\n").getBytes(StandardCharsets.UTF_8)
    val id = java.util.UUID.randomUUID().toString
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    val stagingDir = new Path(s"$root/$dirName/$stagingDirName")
    fs.mkdirs(stagingDir)
    val tmp = new Path(stagingDir, id)
    val out = fs.create(tmp, false)
    try out.write(bytes) finally out.close()
    val dst = new Path(s"$root/$dirName/seg-$id.json")
    require(fs.rename(tmp, dst), s"sidecar segment publish failed: $tmp")
  }

  val stagingDirName = "_staging"

  /** Names of the sidecar's segment files (hidden staging excluded):
    * `seg-*.json` (current) plus `*.parquet` (legacy Spark-written
    * segments — still read for migration, rewritten as JSON and deleted
    * by the next fold).
    */
  private def segmentFileNames(
      spark: SparkSession, metaDir: String): Seq[String] = {
    val p = new Path(metaDir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) return Nil
    fs.listStatus(p).toSeq.collect {
      case e if e.isFile &&
        (e.getPath.getName.endsWith(".json") ||
          e.getPath.getName.endsWith(".parquet")) &&
        !e.getPath.getName.startsWith("_") &&
        !e.getPath.getName.startsWith(".") => e.getPath.getName
    }
  }

  /** Shared factory for the streaming segment codec below. Jackson
    * streaming (not json4s ASTs) because the per-row parse cost is part
    * of the cold `meta_load` slope the file-count probe measures (the
    * fold renders O(#files) rows through the writer too); the probe's
    * committed reading has the before/after.
    */
  private val jsonFactory = new com.fasterxml.jackson.core.JsonFactory()

  private[graft] def renderStats(f: FileStats): String = {
    val w = new java.io.StringWriter(256)
    val g = jsonFactory.createGenerator(w)
    def strF(k: String, v: String): Unit =
      if (v != null) g.writeStringField(k, v)
    def decF(k: String, v: JBigDecimal): Unit =
      if (v != null) g.writeStringField(k, v.toPlainString)
    g.writeStartObject()
    g.writeStringField("file", f.file)
    g.writeNumberField("logid_max", f.logIdMax)
    decF("last_lsn_min", f.lastLsnMin); decF("last_lsn_max", f.lastLsnMax)
    decF("first_lsn_min", f.firstLsnMin); decF("first_lsn_max", f.firstLsnMax)
    strF("db_min", f.dbMin); strF("db_max", f.dbMax)
    strF("dev_min", f.devMin); strF("dev_max", f.devMax)
    g.writeNumberField("dev_null_count", f.devNullCount)
    if (f.devHashes != null) {
      g.writeFieldName("dev_hashes")
      g.writeStartArray()
      f.devHashes.foreach(g.writeNumber)
      g.writeEndArray()
    }
    if (f.startMinUs != null)
      g.writeNumberField("start_min_us", f.startMinUs.longValue)
    if (f.startMaxUs != null)
      g.writeNumberField("start_max_us", f.startMaxUs.longValue)
    g.writeEndObject()
    g.close()
    w.toString
  }

  private[graft] def parseStats(line: String): FileStats = {
    import com.fasterxml.jackson.core.JsonToken
    val p = jsonFactory.createParser(line)
    try {
      var file: String = null
      var logIdMax: java.lang.Long = null
      var lastLsnMin: JBigDecimal = null; var lastLsnMax: JBigDecimal = null
      var firstLsnMin: JBigDecimal = null; var firstLsnMax: JBigDecimal = null
      var dbMin: String = null; var dbMax: String = null
      var devMin: String = null; var devMax: String = null
      var devNullCount = -1L // absent = pre-migration row (rescan once)
      var devHashes: Seq[Long] = null
      var startMinUs: java.lang.Long = null; var startMaxUs: java.lang.Long = null
      // absent/null/mistyped optional fields → null, matching the json4s
      // reader this replaces (which matched on JString/JInt only)
      def str(): String =
        if (p.currentToken() == JsonToken.VALUE_STRING) p.getText else null
      def dec(): JBigDecimal =
        if (p.currentToken() == JsonToken.VALUE_STRING)
          new JBigDecimal(p.getText)
        else null
      def lng(): java.lang.Long =
        if (p.currentToken() == JsonToken.VALUE_NUMBER_INT)
          java.lang.Long.valueOf(p.getLongValue)
        else null
      require(p.nextToken() == JsonToken.START_OBJECT,
        s"sidecar row is not a JSON object: $line")
      while (p.nextToken() != JsonToken.END_OBJECT) {
        val name = p.currentName()
        p.nextToken()
        name match {
          case "file" => file = str()
          case "logid_max" => logIdMax = lng()
          case "last_lsn_min" => lastLsnMin = dec()
          case "last_lsn_max" => lastLsnMax = dec()
          case "first_lsn_min" => firstLsnMin = dec()
          case "first_lsn_max" => firstLsnMax = dec()
          case "db_min" => dbMin = str()
          case "db_max" => dbMax = str()
          case "dev_min" => devMin = str()
          case "dev_max" => devMax = str()
          case "dev_null_count" => devNullCount =
            Option(lng()).map(_.longValue).getOrElse(-1L)
          case "dev_hashes" =>
            if (p.currentToken() == JsonToken.START_ARRAY) {
              val b = Seq.newBuilder[Long]
              while (p.nextToken() != JsonToken.END_ARRAY) b += p.getLongValue
              devHashes = b.result()
            }
          case "start_min_us" => startMinUs = lng()
          case "start_max_us" => startMaxUs = lng()
          case _ => p.skipChildren() // forward-compat: ignore unknown keys
        }
        // a KNOWN key holding an unexpected container reads as null above
        // (the json4s reader's benign disposition) but its tokens must
        // still be consumed — otherwise the field/value pairing desyncs
        // and the END_OBJECT test never matches (nextToken() returns null
        // at end-of-input forever: a driver hang, not a throw)
        if (p.currentToken() == JsonToken.START_ARRAY ||
          p.currentToken() == JsonToken.START_OBJECT) p.skipChildren()
      }
      // a row without identity or LogID watermark is torn, not optional —
      // throw so the caller's corrupt-segment disposition applies (the
      // json4s reader NPE'd here; keep "torn row throws")
      require(file != null && logIdMax != null,
        s"sidecar row missing file/logid_max: $line")
      FileStats(file, logIdMax.longValue,
        lastLsnMin, lastLsnMax, firstLsnMin, firstLsnMax,
        dbMin, dbMax, devMin, devMax, devNullCount,
        devHashes = devHashes,
        startMinUs = startMinUs, startMaxUs = startMaxUs)
    } finally p.close()
  }

  private[store] def readSegmentLines(
      spark: SparkSession, path: Path): Seq[String] =
    new String(StoreLog.readBytesOf(spark, path), StandardCharsets.UTF_8)
      .split('\n').toSeq.map(_.trim).filter(_.nonEmpty)

  /** Conjunctive read-predicate bounds on the columns the sidecar keeps
    * envelopes for — the read-side twin of [[KeyRanges]]. Each component
    * is optional; an unset component constrains nothing. This is the
    * file-level form of the restore surface's sargable predicates
    * (SURVEY §2.2 P4/P5/P6: database equality, LSN range, point-in-time)
    * and the retention proc's date cutoff — i.e. the reference's
    * covering-index access paths (sql:35-39) as zone-map file skipping.
    */
  final case class ReadBounds(
      databases: Option[Set[String]] = None, // database_name ∈ set
      lastLsnGt: Option[JBigDecimal] = None, // last_lsn >  x (chain scans)
      lastLsnLte: Option[JBigDecimal] = None, // last_lsn <= x
      startBefore: Option[java.sql.Timestamp] = None, // backup_start_date <  t
      startAtLeast: Option[java.sql.Timestamp] = None) { // backup_start_date >= t
    def unconstrained: Boolean =
      databases.isEmpty && lastLsnGt.isEmpty && lastLsnLte.isEmpty &&
        startBefore.isEmpty && startAtLeast.isEmpty
  }

  /** unix micros of a Timestamp (getTime already carries the millis;
    * only the sub-milli part of getNanos is added on top).
    */
  private[graft] def micros(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos % 1000000L) / 1000L

  /** Whether a file's envelope can hold a row satisfying `b`. Unknown
    * (null) stats are conservative — the file is consulted. Exact
    * row-level filtering still happens after the read; this only skips
    * files that provably contain no match.
    */
  def mayContain(f: FileStats, b: ReadBounds): Boolean = {
    val dbOk = b.databases match {
      case Some(dbs) =>
        f.dbMin == null || f.dbMax == null ||
          dbs.exists(d => cmpUtf8(f.dbMin, d) <= 0 && cmpUtf8(d, f.dbMax) <= 0)
      case None => true
    }
    def lsnGtOk = b.lastLsnGt.forall(x =>
      f.lastLsnMax == null || f.lastLsnMax.compareTo(x) > 0)
    def lsnLteOk = b.lastLsnLte.forall(x =>
      f.lastLsnMin == null || f.lastLsnMin.compareTo(x) <= 0)
    def startBeforeOk = b.startBefore.forall(t =>
      f.startMinUs == null || f.startMinUs < micros(t))
    def startAtLeastOk = b.startAtLeast.forall(t =>
      f.startMaxUs == null || f.startMaxUs >= micros(t))
    dbOk && lsnGtOk && lsnLteOk && startBeforeOk && startAtLeastOk
  }

  /** Row-level residual of [[ReadBounds]] — applied after the pruned
    * read so `readWhere(bounds)` ≡ `read().filter(residual)` exactly.
    */
  def residual(b: ReadBounds): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, lit}
    val preds = Seq(
      b.databases.map(dbs =>
        col("database_name").isin(dbs.toSeq.sorted.map(x => x: Any): _*)),
      b.lastLsnGt.map(x => col("last_lsn") > lit(x)),
      b.lastLsnLte.map(x => col("last_lsn") <= lit(x)),
      b.startBefore.map(t => col("backup_start_date") < lit(t)),
      b.startAtLeast.map(t => col("backup_start_date") >= lit(t))).flatten
    if (preds.isEmpty) lit(true) else preds.reduce(_ && _)
  }

  /** Files whose key ranges can contain a key from the batch envelope —
    * the anti-join's existing side. Unknown (null) lsn/db stats are
    * conservative (overlap). Device names: ranges compare over the
    * non-null populations, and the null populations match iff BOTH sides
    * hold null-device rows (null-safe key equality, matching SQL
    * Server's NULLs-are-equal unique index).
    */
  def overlapping(files: Seq[FileStats], b: KeyRanges): Seq[FileStats] =
    files.filter(f => overlaps(f, b))

  def overlaps(f: FileStats, b: KeyRanges): Boolean =
    decOverlap(f.lastLsnMin, f.lastLsnMax, b.lastLsnMin, b.lastLsnMax) &&
      decOverlap(f.firstLsnMin, f.firstLsnMax, b.firstLsnMin, b.firstLsnMax) &&
      strOverlap(f.dbMin, f.dbMax, b.dbMin, b.dbMax) &&
      devOverlap(f, b)

  private def fromRow(r: Row): FileStats = FileStats(
    r.getString(0), r.getLong(1),
    r.getDecimal(2), r.getDecimal(3), r.getDecimal(4), r.getDecimal(5),
    if (r.isNullAt(6)) null else r.getString(6),
    if (r.isNullAt(7)) null else r.getString(7),
    if (r.isNullAt(8)) null else r.getString(8),
    if (r.isNullAt(9)) null else r.getString(9),
    if (r.isNullAt(10)) -1L else r.getLong(10), // -1 = pre-migration row
    devHashes = if (r.isNullAt(11)) null else r.getSeq[Long](11),
    startMinUs = if (r.isNullAt(12)) null else java.lang.Long.valueOf(r.getLong(12)),
    startMaxUs = if (r.isNullAt(13)) null else java.lang.Long.valueOf(r.getLong(13)))

  private def decOverlap(
      fMin: JBigDecimal, fMax: JBigDecimal,
      bMin: JBigDecimal, bMax: JBigDecimal): Boolean =
    fMin == null || fMax == null || bMin == null || bMax == null ||
      !(fMax.compareTo(bMin) < 0 || fMin.compareTo(bMax) > 0)

  private def strOverlap(
      fMin: String, fMax: String, bMin: String, bMax: String): Boolean =
    fMin == null || fMax == null || bMin == null || bMax == null ||
      !(cmpUtf8(fMax, bMin) < 0 || cmpUtf8(fMin, bMax) > 0)

  private def devOverlap(f: FileStats, b: KeyRanges): Boolean = {
    val nullsMeet = f.devNullCount != 0 && b.devNullCount != 0
    if (nullsMeet) return true
    // exact device-set check when both sides recorded their (capped)
    // hash sets: near-unique device names make range overlap vacuous,
    // while the actual SETS of two unrelated files are disjoint — this
    // is what turns "every file between the batch's min and max device"
    // into "files sharing an actual device". Hash collisions only ever
    // ADD a file (conservative); both sides hash with the same xxhash64.
    if (f.devHashes != null && b.devHashes != null)
      return sortedIntersect(f.devHashes, b.devHashes)
    f.devMin != null && f.devMax != null && b.devMin != null && b.devMax != null &&
      !(cmpUtf8(f.devMax, b.devMin) < 0 || cmpUtf8(f.devMin, b.devMax) > 0)
  }

  /** Whether two ascending Long seqs share an element (two-pointer). */
  private def sortedIntersect(a: Seq[Long], b: Seq[Long]): Boolean = {
    val ai = a.iterator.buffered
    val bi = b.iterator.buffered
    while (ai.hasNext && bi.hasNext) {
      val c = java.lang.Long.compare(ai.head, bi.head)
      if (c == 0) return true
      if (c < 0) ai.next() else bi.next()
    }
    false
  }

  /** UTF-8 byte-order comparison — matches Spark's binary string
    * ordering (which parquet min/max stats and `min`/`max` aggregates
    * use); `String.compareTo` compares UTF-16 code units and disagrees
    * for supplementary characters, which would mis-prune.
    */
  private[graft] def cmpUtf8(a: String, b: String): Int = {
    val x = a.getBytes(StandardCharsets.UTF_8)
    val y = b.getBytes(StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }
}
