package graft.restore

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.store.{ConsolidatedStore, StoreMeta}

/** The scalar restore-chain procs (reference sql:103-396) bound directly
  * to a consolidated STORE instead of an already-materialized frame: each
  * lookup reads through [[ConsolidatedStore.readWhere]], so the logged
  * per-file (database_name, last_lsn) envelopes — the zone-map form of
  * the reference's covering indexes (sql:35-39) — prune the scan to the
  * files that can hold the requested chain before any data is read.
  *
  * At 100 TB this is the difference between "open every file's footer to
  * find one database's backups" and "open the handful of files whose
  * envelope intersects (db, lsn > chosen full)". Semantics are exactly
  * [[RestoreQueries]]'s: the pruned read composes a residual row filter,
  * so results match the unpruned path row-for-row (gated in EtlSpec).
  */
object RestoreStore {

  private def forDb(spark: SparkSession, store: String, db: String,
      lastLsnGt: Option[BigDecimal] = None,
      startAtMost: Option[java.sql.Timestamp] = None): DataFrame =
    ConsolidatedStore.readWhere(spark, store, StoreMeta.ReadBounds(
      databases = Some(Set(db)),
      lastLsnGt = lastLsnGt.map(_.bigDecimal),
      // `backup_start_date <= t` as a strict bound: < t + 1µs (timestamps
      // are µs-granular, so the two are equivalent and prune identically)
      startBefore = startAtMost.map { t =>
        val b = new java.sql.Timestamp(t.getTime)
        b.setNanos(t.getNanos)
        val us = StoreMeta.micros(b) + 1L
        val r = new java.sql.Timestamp(Math.floorDiv(us, 1000L))
        r.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
        r
      }))

  /** Scalar `GetLatestFullBackup...` (sql:103-183) over a store. The
    * point-in-time bound (P6) prunes FILES too: a PIT restore to last
    * Tuesday never opens files whose whole date envelope is newer.
    */
  def latestFullBackupFor(spark: SparkSession, store: String,
      databaseName: String, key: String,
      asOf: Option[java.sql.Timestamp] = None): DataFrame =
    RestoreQueries.latestFullBackupFor(
      forDb(spark, store, databaseName, startAtMost = asOf),
      databaseName, key,
      asOf.map(org.apache.spark.sql.functions.lit))

  /** Scalar `GetRemainingLogBackups...` (sql:188-268) over a store: the
    * `last_lsn > @LastLSN` chain predicate prunes files too, not just
    * row groups — a long-lived database's aged backup files are never
    * opened.
    */
  def remainingLogBackupsFor(spark: SparkSession, store: String,
      databaseName: String, key: String, lastLsn: BigDecimal): DataFrame =
    RestoreQueries.remainingLogBackupsFor(
      forDb(spark, store, databaseName, Some(lastLsn)),
      databaseName, key, lastLsn)

  /** Scalar `GetLastDiffBackup...` (sql:271-396) over a store. */
  def lastDiffBackupFor(spark: SparkSession, store: String,
      databaseName: String, key: String, lastLsn: BigDecimal): DataFrame =
    RestoreQueries.lastDiffBackupFor(
      forDb(spark, store, databaseName, Some(lastLsn)),
      databaseName, key, lastLsn)
}
