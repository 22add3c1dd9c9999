package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.model.Schemas

/** Structured Streaming flavor of the incremental ETL (SURVEY §2.9).
  *
  * The reference is a scheduled micro-batch loop with per-source
  * watermarks; EtlRunner reproduces that faithfully in batch. This module
  * is the continuous counterpart: the same exactly-once triangle becomes
  * `withWatermark(5 minutes)` (the late-row lookback,
  * ps:Get-BackupHistoryToETL.ps1:20) + `dropDuplicates` on the unique-key
  * columns (the ignore_dup_key index, sql:33); the sink append is the
  * idempotent load. Every transform here also runs in plain batch — the
  * streaming/batch unification is the point of building on Spark.
  */
object StreamingEtl {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Watermarked streaming dedup — state is bounded by the watermark
    * horizon, so at scale the dedup state store holds only the lookback
    * window, not the table. `dropDuplicatesWithinWatermark` is required
    * for that bound: plain `dropDuplicates` on keys that exclude the
    * event-time column never evicts state. The reference's re-extract
    * overlap is exactly the within-watermark duplicate this handles
    * (ps:Get-BackupHistoryToETL.ps1:20 5-minute lookback).
    */
  def dedupStream(incoming: DataFrame): DataFrame =
    incoming
      .withWatermark("backup_finish_date", "5 minutes")
      .dropDuplicatesWithinWatermark(Schemas.dedupKey)

  /** Tumbling-window per-event-type aggregates (streaming-compatible:
    * append mode once the watermark passes the window end; also a plain
    * batch query). Output keeps the epoch-aligned window start.
    */
  def eventWindowAgg(events: DataFrame, windowLength: String = "6 hours",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLength).as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum("value"), 2).as("sum_value"))
      .select(
        unix_timestamp(col("w.start")).as("window_start_epoch"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Sliding-window per-event-type aggregates: length/slide windows (an
    * event lands in length/slide windows at once — Spark's window()
    * generator fans each row out before the aggregation). Same
    * streaming/batch unification as the tumbling form.
    */
  def eventSlidingWindowAgg(
      events: DataFrame,
      windowLength: String = "6 hours",
      slide: String = "3 hours",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLength, slide).as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum("value"), 2).as("sum_value"))
      .select(
        unix_timestamp(col("w.start")).as("window_start_epoch"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Continuous ETL: a watermarked-dedup stream sunk into the
    * consolidated store via foreachBatch — the streaming twin of
    * `EtlRunner.runOnce`'s triangle. Exactly-once composes from two
    * halves: Spark's checkpointed offsets make each micro-batch
    * delivered at-least-once, and `ConsolidatedStore.append`'s key-based
    * dedup makes redelivery a no-op (the same argument the batch path
    * makes for the 5-minute rewind; reference sql:33 +
    * ps:Get-BackupHistoryToETL.ps1:20). The watermark table advances
    * AFTER each batch's append, mirroring advance-after-load
    * (ps:Invoke-SQLBackupHistoryETL.ps1:52-65).
    *
    * Several streams may share `consolidatedPath` — the natural fleet
    * deployment runs one stream per source server into one store: the
    * append's optimistic commit protocol lets every writer land, and
    * the watermark advance is a cross-JVM-safe CRDT.
    *
    * @param maintenance when set, each non-empty micro-batch ends with
    *   [[graft.maintenance.StoreMaintenance.runIfDue]] — a continuous
    *   sink is the WORST small-file generator (one store file per
    *   trigger, forever), so the long-running deployment needs the
    *   small-file fold wired in, not remembered. Best-effort after the
    *   append and advance are durable, exactly like the batch runner's
    *   option; with concurrent multi-stream writers the optimize's
    *   replacing commit arbitrates as usual.
    * @return the started query; callers own its lifecycle.
    */
  /** @param sourceBytes when >= 0, the source volume feeding this
    *   stream: the stateful dedup's state-partition count is derived
    *   from it ([[StreamTuning.statePartitions]]) instead of freezing
    *   the session's batch shuffle default into the checkpoint.
    */
  def runStream(
      spark: SparkSession,
      incoming: DataFrame,
      server: String,
      consolidatedPath: String,
      watermarkPath: String,
      checkpointDir: String,
      maintenance: Option[graft.maintenance.StoreMaintenance.Policy] = None,
      sourceBytes: Long = -1L)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    def build: org.apache.spark.sql.streaming.StreamingQuery =
      runStreamQuery(spark, incoming, server, consolidatedPath,
        watermarkPath, checkpointDir, maintenance)
    if (sourceBytes >= 0L)
      StreamTuning.withStatePartitions(spark, sourceBytes)(build)
    else build
  }

  private def runStreamQuery(
      spark: SparkSession,
      incoming: DataFrame,
      server: String,
      consolidatedPath: String,
      watermarkPath: String,
      checkpointDir: String,
      maintenance: Option[graft.maintenance.StoreMaintenance.Policy])
      : org.apache.spark.sql.streaming.StreamingQuery =
    dedupStream(incoming).writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        // pin the micro-batch once: count+max and the append's own
        // dedup scans would otherwise re-execute the source plan per
        // action (three times per trigger)
        val pinned = batch.toDF().localCheckpoint()
        try {
          val r = pinned.agg(count(lit(1)), max("backup_finish_date")).head()
          if (r.getLong(0) > 0L) {
            val newWm = r.getTimestamp(1)
            graft.store.ConsolidatedStore.append(
              batch.sparkSession, consolidatedPath, pinned)
            graft.store.WatermarkStore.advance(
              batch.sparkSession, watermarkPath, server, newWm)
            maintenance.foreach { p =>
              try graft.maintenance.StoreMaintenance
                .runIfDue(batch.sparkSession, consolidatedPath, p)
              catch {
                case scala.util.control.NonFatal(e) =>
                  log.warn("post-batch store maintenance failed on " +
                    s"$consolidatedPath (cache-only effect; next due " +
                    "trigger retries): " + e)
              }
            }
          }
        } finally graft.util.Checkpoints.release(pinned)
      }
      .start()

  /** Stream-stream interval join — the continuous twin of
    * [[graft.operators.BandJoin]]: all (left, right) pairs sharing `keys`
    * with `0 <= rightTs - leftTs <= maxGapSeconds` (inclusive, identical
    * band semantics). Both sides are watermarked and the join condition
    * is time-range-bounded, which is exactly what lets Spark evict join
    * state past `watermark + maxGap` — without either, state grows with
    * the stream. Inner joins emit on match (no append-mode withholding),
    * so the streamed result converges to the batch bandJoin output; the
    * equivalence is asserted in StreamingSpec. Also runs as plain batch.
    */
  /** @param joinType "inner" (emit on match) or "left_outer": unmatched
    *                  left rows additionally emit null-extended once the
    *                  right-side watermark passes the end of their match
    *                  window (`leftTs + maxGap`) — the state eviction that
    *                  bounds outer-join memory is also what schedules the
    *                  null emission.
    */
  def intervalJoinStream(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTs: String,
      rightTs: String,
      maxGapSeconds: Long,
      watermark: String = "10 minutes",
      joinType: String = "inner"): DataFrame = {
    require(keys.nonEmpty, "intervalJoinStream needs at least one key")
    val l = left.select(keys.map(col) ++
        left.columns.filterNot(keys.contains).map(c => col(c).as(s"l_$c")): _*)
      .withWatermark(s"l_$leftTs", watermark)
    val r = right.select(keys.map(col) ++
        right.columns.filterNot(keys.contains).map(c => col(c).as(s"r_$c")): _*)
      .withWatermark(s"r_$rightTs", watermark)
    val cond = keys.map(k => l(k) === r(k)).reduce(_ && _) &&
      expr(s"r_$rightTs >= l_$leftTs AND " +
        s"r_$rightTs <= l_$leftTs + INTERVAL $maxGapSeconds SECONDS")
    l.join(r, cond, joinType).select(
      keys.map(k => l(k)) ++
        left.columns.filterNot(keys.contains).map(c => col(s"l_$c")) ++
        right.columns.filterNot(keys.contains).map(c => col(s"r_$c")): _*)
  }

  /** events.parquet as a stream — the streaming twin of Tables.events.
    * readStream needs an explicit schema, so probe the file's actual
    * schema with a batch read first: `ts` has been parquet
    * TIMESTAMP(NANOS) (→ long under the legacy conf) in some driver data
    * generations and TIMESTAMP(MICROS)-NTZ in others; a hardcoded schema
    * that disagrees with the file null-decodes `ts` and the watermark
    * then silently drops every row. Reads only the events table's files
    * (the sf dir holds nine other tables whose files a whole-dir glob
    * would also list and null-decode).
    *
    * The probe (a footer read + file-listing DataSource resolution on
    * the driver) is MEMOIZED per (session, dir): a file's schema is
    * immutable metadata, and every stream over the same dir repeated it
    * — the two-source queries (stream-stream joins, double-delivery
    * dedup) twice per lifecycle and the restart-recovery rows once per
    * lifecycle per run. Schema memoization is planning metadata, not
    * result caching — every micro-batch still reads the parquet.
    */
  private val schemaMemo = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), StructType]

  def eventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val fileSchema = schemaMemo.getOrElseUpdate((spark, sfDir),
      spark.read.parquet(s"$sfDir/events.parquet").schema)
    val stream = spark.readStream.schema(fileSchema)
      // events.parquet is a single file; the source's basePath must stay
      // the directory, so select it with a glob filter instead of a path
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
    val ts = fileSchema("ts").dataType match {
      case LongType => expr("timestamp_micros(ts div 1000)")
      case _ => col("ts").cast("timestamp")
    }
    stream.withColumn("ts", ts)
  }
}
