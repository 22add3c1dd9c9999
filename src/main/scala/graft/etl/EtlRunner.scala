package graft.etl

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, first, lit, max, sum}

import graft.store.{ConsolidatedStore, WatermarkStore}

/** One ETL cycle result for one source server. */
/** @param wmReadRetries listing-instability events
  *   ([[graft.store.WatermarkStore.ReadHealth]] total: retries + stale
  *   fallbacks + best-effort merges) observed during this run's
  *   control-table read — same value on every result of a run. Nonzero
  *   is sound (the CRDT absorbs staleness) but persistent values flag a
  *   pathological fold-storm on the watermark table.
  */
final case class SourceBatchResult(
    server: String,
    extracted: Long,
    appended: Long,
    newWatermark: Option[Timestamp],
    error: Option[String],
    wmReadRetries: Long = 0L
)

/** The reference's driver loop (`Invoke-SQLBackupHistoryETL.ps1:31-73`)
  * with its exactly-once triangle (SURVEY §7 hard-part 7):
  *
  *  1. 5-minute watermark rewind on extract (ps:20) — catches late rows;
  *  2. idempotent dedup append (sql:33) — makes the overlap harmless;
  *  3. watermark advanced to the batch max(backup_finish_date) only
  *     AFTER a successful load (ps:44-67), never on an empty batch.
  *
  * Failure semantics preserved (SURVEY §2.9): extract failure skips that
  * server and continues; load/watermark failure aborts the run.
  *
  * The reference iterates servers strictly sequentially; each server's
  * pipeline is already fully distributed here, and independent servers
  * can safely run from concurrent driver threads because appends target
  * the same idempotent store through its optimistic commit protocol
  * ([[ConsolidatedStore.append]]).
  */
object EtlRunner {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  val DefaultWatermark: Timestamp = Timestamp.valueOf("1900-01-01 00:00:00")

  /** @param parallelism >1 runs that many source extracts concurrently
    *   from driver threads (each pipeline is already fully distributed;
    *   concurrency overlaps source I/O). By default loads run one after
    *   another, in server order.
    * @param concurrentLoads overlap the LOAD phase too, `parallelism`
    *   loads at a time, and report a failed load on its server's result
    *   instead of aborting the run. Every load is the same
    *   [[ConsolidatedStore.append]] either way: its optimistic commit
    *   protocol arbitrates interleavings (a lost version claim redoes
    *   the dedup against the winner's state), and watermark advances
    *   run unlocked — [[WatermarkStore.advance]] is a per-server
    *   max-merge CRDT append, safe under arbitrary interleaving within
    *   and across JVMs (WatermarkConcurrencySpec). With a fleet of
    *   hundreds of sources this removes the one remaining sequential
    *   stage of the driver loop. Note the per-server appended COUNTS
    *   become schedule-dependent when sources overlap (whoever commits
    *   first owns the shared keys); the stored set, LogID uniqueness,
    *   and watermark advancement do not. [[WatermarkStore.write]] (the
    *   whole-table reset) is an OPERATOR action for
    *   initialization/rewinds and is deliberately never called from
    *   this runner — resets must not race a live fleet. Two RUNNERS
    *   overlapping on one store (cron overlap, operator + schedule)
    *   both land whatever this flag says. The exception is a foreign
    *   (non-hive) store layout: it has no commit log, its whole-table
    *   append is single-writer, and overlapping loads on it are
    *   unsupported.
    * @param maintenance when set, the runner ends each cycle that landed
    *   rows with [[graft.maintenance.StoreMaintenance.runIfDue]] — the
    *   steady-state small-file fold a trickle fleet needs to keep the
    *   store's file count (and every O(#files) planning term) bounded.
    *   Best-effort: the loads and watermark advances have already
    *   committed, so a maintenance failure is logged, never rethrown.
    */
  def runOnce(
      spark: SparkSession,
      sources: Map[String, MsdbSources],
      consolidatedPath: String,
      watermarkPath: String,
      parallelism: Int = 1,
      concurrentLoads: Boolean = false,
      maintenance: Option[graft.maintenance.StoreMaintenance.Policy] = None)
      : Seq[SourceBatchResult] =
    runOnceDeferred(spark, sources.map { case (k, v) => k -> (() => v) },
      consolidatedPath, watermarkPath, parallelism, concurrentLoads,
      maintenance)

  /** [[runOnce]] with DEFERRED source construction — the fleet entry
    * point. A JDBC relation resolves its schema at CONSTRUCTION (one
    * connection per relation, before any extract runs), so a fleet
    * driver that eagerly builds `Map[String, MsdbSources]` for hundreds
    * of servers dies on the first unreachable one — outside the
    * per-server isolation this runner promises. Passing thunks (e.g.
    * `() => JdbcBackupSource.sources(spark, srv)`) moves the connection
    * into the per-server try: an unreachable server becomes a skipped
    * `SourceBatchResult` with an error, exactly like a failed extract
    * (ps:91-95).
    */
  def runOnceDeferred(
      spark: SparkSession,
      sources: Map[String, () => MsdbSources],
      consolidatedPath: String,
      watermarkPath: String,
      parallelism: Int = 1,
      concurrentLoads: Boolean = false,
      maintenance: Option[graft.maintenance.StoreMaintenance.Policy] = None)
      : Seq[SourceBatchResult] =
    runOnceWatermarkAware(spark,
      sources.map { case (k, f) => k -> ((_: Timestamp) => f()) },
      consolidatedPath, watermarkPath, parallelism, concurrentLoads,
      maintenance)

  /** The JDBC fleet entry point: per server, per run, the backupset read
    * is automatically range-partitioned from the server's effective
    * watermark window ([[graft.sources.JdbcBackupSource.autoPartitioning]])
    * — N>1 slices for a backlog-wide window (first ETL, long outage),
    * one connection for the steady-state trickle. No caller-computed
    * bounds; the watermark the runner already holds IS the lower bound.
    */
  def runOnceJdbc(
      spark: SparkSession,
      servers: Map[String, graft.sources.SourceServer],
      consolidatedPath: String,
      watermarkPath: String,
      parallelism: Int = 1,
      concurrentLoads: Boolean = false,
      maxSlices: Int = 8,
      now: () => Timestamp = () => new Timestamp(System.currentTimeMillis()),
      relations: graft.sources.JdbcBackupSource.RelationNames =
        graft.sources.JdbcBackupSource.RelationNames(),
      extraOptions: Map[String, String] = Map.empty,
      maintenance: Option[graft.maintenance.StoreMaintenance.Policy] = None)
      : Seq[SourceBatchResult] =
    runOnceWatermarkAware(spark,
      servers.map { case (name, srv) =>
        name -> ((since: Timestamp) => graft.sources.JdbcBackupSource
          .sources(spark, srv,
            graft.sources.JdbcBackupSource
              .autoPartitioning(since, now(), maxSlices),
            relations, extraOptions))
      },
      consolidatedPath, watermarkPath, parallelism, concurrentLoads,
      maintenance)

  /** [[runOnceDeferred]] whose source builders receive the server's
    * EFFECTIVE watermark (post-rewind) — the seam that lets a fleet
    * caller shape the remote read from the window it is about to
    * extract (see [[runOnceJdbc]]).
    */
  def runOnceWatermarkAware(
      spark: SparkSession,
      sources: Map[String, Timestamp => MsdbSources],
      consolidatedPath: String,
      watermarkPath: String,
      parallelism: Int = 1,
      concurrentLoads: Boolean = false,
      maintenance: Option[graft.maintenance.StoreMaintenance.Policy] = None)
      : Seq[SourceBatchResult] = {
    // contention observed reading the control table, stamped on every
    // per-server result (the read is once per run). Per-CALL health from
    // the read itself — a concurrent sibling run's retries never bleed
    // into this run's stamp (the JVM-global ReadStats still accumulate
    // the fleet-wide view)
    val (watermarks, wmHealth) =
      WatermarkStore.readWithHealth(spark, watermarkPath)
    val wmReadRetries = wmHealth.total
    val ordered = sources.toSeq.sortBy(_._1)

    // Duplicate-delivery extract sharing: two servers whose thunks yield
    // the SAME MsdbSources instance at the SAME effective watermark
    // produce byte-identical extract plans (the q64 shape — one fixture
    // delivered under two server names; also any fleet driver that
    // fans one physical source out under aliases). Extract once, share
    // the checkpointed batch, and refcount so the LAST sharer's load
    // releases the blocks (the eager-release memory bound is kept).
    // Identity is reference identity — separately-constructed sources
    // never share, so the real fleet path (distinct servers) keeps full
    // per-server isolation and parallelism.
    final class SrcKey(val ref: AnyRef, val wm: Timestamp) {
      override def hashCode: Int =
        System.identityHashCode(ref) * 31 + wm.hashCode
      override def equals(o: Any): Boolean = o match {
        case k: SrcKey => (k.ref eq ref) && k.wm == wm
        case _ => false
      }
    }
    // One extracted-and-deduped batch + its lazily-collected envelopes
    // (both store-INdependent, so sharers reuse them — not just the
    // extract). `checkpointed` is the single materialization backing
    // `deduped`; refs counts the sharers still holding it, and the last
    // one's load releases the blocks.
    final class SharedBatch(
        val checkpointed: DataFrame, val deduped: DataFrame,
        val n: Long, val wm: Option[Timestamp]) {
      val refs = new java.util.concurrent.atomic.AtomicInteger(0)
      private[this] var prep: graft.store.ConsolidatedStore.PreparedBatch = _
      def prepared: graft.store.ConsolidatedStore.PreparedBatch =
        synchronized {
          if (prep == null)
            prep = graft.store.ConsolidatedStore.PreparedBatch(deduped,
              graft.store.ConsolidatedStore.batchEnvelopes(deduped))
          prep
        }
      def releaseIfLast(): Unit =
        if (refs.decrementAndGet() <= 0) releaseAll()
      def releaseAll(): Unit = release(checkpointed)
    }
    val extractMemo = new java.util.concurrent.ConcurrentHashMap[
      SrcKey, Either[String, SharedBatch]]()

    // phase 1 (parallelizable): extract + materialize. Spark is lazy, so
    // "extract failure" is only observable at materialization — the eager
    // localCheckpoint inside the try is what makes skip-this-server-only
    // work.
    //
    // localCheckpoint, NOT cache: servers pointing at the same source
    // produce byte-identical extract plans, and the CacheManager dedups
    // identical plans into one shared entry — so cache/unpersist cycles
    // across servers and runs (exactly this loop's shape) can leave a
    // later consumer bound to a dropped entry, silently recomputing the
    // whole extract once per downstream action (measured: a 6 s append
    // becoming 108 s). Checkpoint blocks are plan-identity-free, live in
    // evictable storage memory, and are collected with the RDD reference.
    // Lineage truncation is safe here: a lost block fails the run, and
    // the reference driver's retry semantics (re-run the batch) are
    // exactly what the idempotent dedup-append is designed to absorb.
    def extractOne(server: String, src: Timestamp => MsdbSources) = {
      val wm = watermarks.getOrElse(server, DefaultWatermark)
      try {
        // src() INSIDE the try: JDBC relation construction connects to
        // the server (schema resolution) and must skip-this-server too.
        // The builder receives the effective (rewound) watermark — the
        // JDBC fleet path derives its range partitioning from it.
        val since = ExtractTransform.rewind(wm)
        val s = src(since)
        // computeIfAbsent serializes concurrent sharers of one key (the
        // second waits, then reuses); distinct keys stay fully parallel.
        // A failed extract memoizes its Left — every sharer of the same
        // source+watermark would fail identically.
        val res = extractMemo.computeIfAbsent(new SrcKey(s, since), _ =>
          try {
            val raw = ExtractTransform.extract(s, since, sortOutput = false)
            // fuse the idempotent-dedup shuffle with the batch
            // bookkeeping: one groupBy over the dedup key keeps a
            // consistent arbitrary row per key (all `first()`s in one
            // aggregation read the same first-seen row — dropDuplicates'
            // exact contract, including NULLs grouped equal) while
            // per-key count/max recover the RAW extracted count and the
            // watermark candidate. The source is read ONCE and the ONE
            // checkpoint backs both the result row and every load —
            // previously the raw batch was materialized only to be
            // aggregated and re-shuffled by each append's dropDuplicates.
            val keys = graft.store.ConsolidatedStore.dedupKey
            val keySet = keys.toSet
            val aggs =
              raw.columns.filterNot(keySet).toSeq.map(c => first(c).as(c)) ++
                Seq(count(lit(1)).as("_dup_cnt"),
                  max("backup_finish_date").as("_wm_max"))
            val ck = raw.groupBy(keys.map(raw(_)): _*)
              .agg(aggs.head, aggs.tail: _*)
              .localCheckpoint()
            val r = ck.agg(sum("_dup_cnt"), max("_wm_max")).head()
            val deduped = ck.select(raw.columns.map(col).toSeq: _*)
            Right(new SharedBatch(ck, deduped,
              if (r.isNullAt(0)) 0L else r.getLong(0),
              if (r.isNullAt(1)) None else Some(r.getTimestamp(1))))
          } catch { case e: Exception => Left(e.getClass.getSimpleName) })
        res.foreach(_.refs.incrementAndGet())
        res
      } catch { case e: Exception => Left(e.getClass.getSimpleName) }
    }
    val extracted =
      if (parallelism <= 1) ordered.map { case (s, src) => s -> extractOne(s, src) }
      else {
        import scala.concurrent._
        import scala.concurrent.duration.Duration
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(
          java.util.concurrent.Executors.newFixedThreadPool(parallelism))
        try Await.result(
          Future.sequence(ordered.map { case (s, src) =>
            Future(s -> extractOne(s, src)) }), Duration.Inf)
        finally ec.asInstanceOf[ExecutionContextExecutorService].shutdown()
      }

    // phase 2: load then advance, per server. Failures here abort the
    // whole run (Add-BackupHistoryToTarget.ps1:104-113). One at a time
    // by default; `concurrentLoads` overlaps them — the append's commit
    // protocol arbitrates either way, and watermark advances need no
    // lock (the control table is a per-server max-merge CRDT).
    def loadOne(server: String, e: Either[String, SharedBatch])
        : SourceBatchResult = e match {
      case Left(err) =>
        // extract failed: skip server, keep going (ps:91-95)
        SourceBatchResult(server, 0, 0, None, Some(s"extract failed: $err"))
      case Right(sb) =>
        val n = sb.n
        try {
          if (n == 0) {
            // empty batch: do not advance the watermark (ps:69-71)
            SourceBatchResult(server, 0, 0, None, None)
          } else {
            val newWm = sb.wm.get
            // the store-independent preamble (dedup + envelopes) is
            // shared across sharers of this batch, across this server's
            // own retries, and across every optimistic attempt of the
            // version-claim loop
            val appended = ConsolidatedStore.appendPrepared(spark,
              consolidatedPath, sb.prepared)
            WatermarkStore.advance(spark, watermarkPath, server, newWm)
            SourceBatchResult(server, n, appended, Some(newWm), None)
          }
        } catch {
          // overlapped loads report per-server failures instead of
          // letting one server's exhausted version races (a transient
          // contention signal) rethrow through Await and abort every
          // sibling's in-flight load. The watermark was not advanced, so
          // the next run re-extracts this batch and the idempotent
          // dedup absorbs it. Sequential loads keep the reference's
          // abort-the-run semantics (Add-BackupHistoryToTarget.ps1:104-113).
          case scala.util.control.NonFatal(e) if concurrentLoads =>
            SourceBatchResult(server, n, 0, None,
              Some(s"load failed: ${e.getClass.getSimpleName}: ${e.getMessage}"))
        } finally
          // refcounted eager release: the LAST sharer of a memoized
          // batch frees the checkpoint blocks; sole owners free at once
          sb.releaseIfLast()
    }
    try {
      val results =
        if (!concurrentLoads || parallelism <= 1)
          extracted.map { case (s, e) => loadOne(s, e) }
        else {
          import scala.concurrent._
          import scala.concurrent.duration.Duration
          implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(
            java.util.concurrent.Executors.newFixedThreadPool(parallelism))
          try Await.result(
            Future.sequence(extracted.map { case (s, e) =>
              Future(loadOne(s, e)) }), Duration.Inf)
          finally ec.asInstanceOf[ExecutionContextExecutorService].shutdown()
        }
      // steady-state maintenance: fold accumulated small trickle files
      // once the policy says it's due. AFTER the loads and advances
      // (all durable by now) and best-effort — the cycle's results do
      // not depend on it, and optimizeSmall's replacing commit already
      // arbitrates any concurrent writer. Deliberately NOT gated on
      // this cycle having appended: a store already past the threshold
      // (policy adopted late, or a prior attempt that failed) must get
      // its overdue fold even from quiet cycles — the not-due probe is
      // one directory listing.
      maintenance.foreach { p =>
        try graft.maintenance.StoreMaintenance
          .runIfDue(spark, consolidatedPath, p)
        catch {
          case scala.util.control.NonFatal(e) =>
            log.warn(s"post-run store maintenance failed on " +
              s"$consolidatedPath (layout intact — optimize commits " +
              "atomically; next due cycle retries): " + e)
        }
      }
      if (wmReadRetries == 0) results
      else results.map(_.copy(wmReadRetries = wmReadRetries))
    } finally
      // an aborted serialized run (load failure rethrows, the reference's
      // abort-the-run semantics) must not strand the remaining servers'
      // checkpointed batches until ContextCleaner GC — release is
      // idempotent, so re-releasing the already-loaded ones is free
      extracted.foreach {
        case (_, Right(sb)) => sb.releaseAll()
        case _ => ()
      }
  }

  /** Free a localCheckpoint'd batch's storage blocks as soon as its load
    * is done: a long-lived driver looping over many servers/cycles would
    * otherwise hold every batch's blocks until the RDD reference happens
    * to be GC'd (ContextCleaner timing), accumulating storage memory
    * between collections.
    */
  private def release(batch: DataFrame): Unit = graft.util.Checkpoints.release(batch)
}
