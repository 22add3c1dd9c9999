package graft.store

import java.math.{BigDecimal => JBigDecimal}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

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
    // null = unrecorded (a pre-migration stats row) — readers and the
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

/** Zone-map statistics of the consolidated store: the Spark analog of
  * the reference's unique index on `(last_lsn, first_lsn,
  * database_name, physical_device_name)` (sql:33) actually being an
  * *index*. Without it every idempotent append pays a full scan of the
  * consolidated table twice — once for `max(LogID)` and once for the
  * anti-join's key side — which is O(table) per trickle batch and the
  * one shape that cannot survive a 100 TB store.
  *
  * The stats live in the commit log: each [[StoreLog]] commit carries
  * one [[FileStats]] row per file it adds, and every log checkpoint
  * holds the stats of every live file, so [[StoreLog.headState]] returns
  * the live files WITH their stats from one log read — written and read
  * driver-side (metadata never schedules a cluster job). This object
  * holds the stats themselves: the footer scan that computes them
  * ([[scanStats]]), their one-line JSON codec ([[renderStats]] /
  * [[parseStats]]), and the pruning predicates over them.
  */
object StoreMeta {

  /** Max distinct device hashes recorded per file/envelope; above it the
    * set is dropped (null) and pruning falls back to min/max ranges.
    * 256 longs = 2 KB — stats rows stay metadata-sized while covering
    * the typical few-devices-per-file reality.
    */
  val DevHashSetCap = 256

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

  /** Compute [[FileStats]] for specific data files by scanning just
    * them — the stats a writer commits for files whose write observed
    * none (hive layouts, fanned-out batches, compaction), the baseline
    * of a store that predates the log, and the one-time upgrade of live
    * files whose commit predates stats in the log. O(files scanned). `basePath` makes the read
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
    // input_file_name() never returns a zero-row file's name (no rows →
    // no group): emit a sentinel so such a file still gets its stats row.
    // Its date range is the EMPTY interval (min > max) so date-bounded
    // reads prune it.
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

  /** Shared factory for the one-line stats codec below — the rows a
    * commit carries per added file and a checkpoint per live file.
    * Jackson streaming (not json4s ASTs) because the per-row parse cost
    * is the slope of the head-state read the file-count probe measures
    * (a checkpoint holds one row per live file).
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
        s"stats row is not a JSON object: $line")
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
      // throw, so a torn commit or checkpoint reads as unreadable
      require(file != null && logIdMax != null,
        s"stats row missing file/logid_max: $line")
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

  /** Conjunctive read-predicate bounds on the columns the stats keep
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
