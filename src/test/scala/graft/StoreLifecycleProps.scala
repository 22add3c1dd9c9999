package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}

import graft.maintenance.Compaction
import graft.store.{ConsolidatedStore, StoreDelete, StoreLog, StoreMerge,
  StoreMeta}

/** Adversarial round-trip property for the copy-on-write store: a RANDOM
  * sequence of append / merge / delete / compact / optimize / z-order
  * operations must
  *
  *   (a) leave exactly the state a naive in-memory key→value model
  *       predicts (values included — merges must take, dup appends must
  *       not),
  *   (b) keep EVERY intermediate version snapshot-readable, each equal
  *       to the model state recorded when that version committed, and
  *   (c) compose over the change feed: for every version v,
  *       snapshot(1) ⊕ changes(1,v) ≡ snapshot(v), applied per LogID —
  *       which makes span composition changes(a,b)+changes(b,c) ≡
  *       changes(a,c) hold for all cuts (each side reconstructs the
  *       same end state from the same start).
  *
  * After every op the log's head state must describe the directory
  * exactly: each live file's recorded zone-map stats equal a footer
  * scan, field for field, and pruned reads equal the full scan.
  *
  * One generative test guarding the whole store surface (q101,
  * q114–q116, q120, q122, q123, q135) against cross-operation
  * regressions no single-op spec would catch.
  */
class StoreLifecycleProps extends Properties("store-lifecycle") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(3) // each case replays a full op sequence

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-lifecycle").toString + "/t"

  // tiny key space: cross-op key collisions are the common case
  private final case class K(db: String, lsn: Int, dev: Option[String])

  // every non-key value is a pure function of (key, bump): within-batch
  // duplicates are bit-identical (no keep-which ambiguity) and the model
  // can predict stored values exactly
  private def value(k: K, bump: Int): Int =
    k.lsn * 7 + (k.db.hashCode.abs % 97) + bump * 1000

  private sealed trait Op
  private case class Append(rows: List[K]) extends Op
  // the optimistic multi-writer entry point, exercised in-sequence: its
  // committed-state dedup and staged publish must be indistinguishable
  // from the serialized append to every reader, snapshot, and change feed
  private case class AppendC(rows: List[K]) extends Op
  private case class Merge(rows: List[K], bump: Int) extends Op
  private case class DeleteDb(db: String) extends Op
  private case class DeleteLsnBelow(lsn: Int) extends Op
  private case object Compact extends Op
  private case object Optimize extends Op
  private case object ZOrder extends Op

  private val genKey: Gen[K] = for {
    db <- Gen.oneOf("dbA", "dbC", "dbE")
    lsn <- Gen.choose(1, 12)
    dev <- Gen.oneOf(Some("d1"), Some("d2"), None)
  } yield K(db, lsn, dev)

  private val genOp: Gen[Op] = Gen.frequency(
    3 -> Gen.choose(3, 12).flatMap(Gen.listOfN(_, genKey)).map(Append(_)),
    2 -> Gen.choose(3, 12).flatMap(Gen.listOfN(_, genKey)).map(AppendC(_)),
    3 -> (for {
      n <- Gen.choose(2, 8)
      rows <- Gen.listOfN(n, genKey)
      bump <- Gen.choose(1, 5)
    } yield Merge(rows.distinctBy(k => (k.db, k.lsn, k.dev)), bump)),
    1 -> Gen.oneOf("dbA", "dbC", "dbE").map(DeleteDb(_)),
    1 -> Gen.choose(2, 10).map(DeleteLsnBelow(_)),
    1 -> Gen.const(Compact),
    1 -> Gen.const(Optimize),
    1 -> Gen.const(ZOrder))

  private val genOps: Gen[List[Op]] = for {
    first <- Gen.choose(4, 10).flatMap(Gen.listOfN(_, genKey)) // seed data
    n <- Gen.choose(3, 6)
    ops <- Gen.listOfN(n, genOp)
    // guaranteed last: the optimistic multi-writer append
    racer <- Gen.choose(3, 8).flatMap(Gen.listOfN(_, genKey))
  } yield (Append(first) :: ops) :+ AppendC(racer)

  private def frame(rows: List[K], bump: Int): DataFrame =
    rows.map { k =>
      (k.db, k.dev.orNull, s"2024-01-0${(k.lsn % 9) + 1} 00:00:00",
        k.lsn.toLong * 100, k.lsn.toLong * 100 + 99, value(k, bump))
    }.toDF("database_name", "physical_device_name", "t_s",
        "first_l", "last_l", "CompressedSizeMB")
      .withColumn("backup_start_date", col("t_s").cast("timestamp"))
      .withColumn("backup_finish_date", col("t_s").cast("timestamp"))
      .withColumn("first_lsn", col("first_l").cast("decimal(25,0)"))
      .withColumn("last_lsn", col("last_l").cast("decimal(25,0)"))
      .withColumn("BackupType", lit("Log"))
      .drop("t_s", "first_l", "last_l")
      // full consolidated schema minus LogID: merge unions the batch
      // with full-schema survivors, so partial frames don't union
      .transform { df =>
        graft.model.Schemas.consolidated.fields
          .filterNot(f => f.name == "LogID" || df.columns.contains(f.name))
          .foldLeft(df)((d, f) =>
            d.withColumn(f.name, lit(null).cast(f.dataType)))
      }

  /** (key → CompressedSizeMB) of a store read/snapshot frame. */
  private def observe(df: DataFrame): Map[K, Option[Int]] =
    df.select(col("database_name"), col("physical_device_name"),
        col("last_lsn").cast("long").as("lsnx"),
        col("CompressedSizeMB"))
      .collect().map { r =>
        K(r.getString(0), (r.getLong(2) / 100).toInt,
          Option(r.getString(1))) ->
          (if (r.isNullAt(3)) None else Some(r.getInt(3)))
      }.toMap

  /** LogID-keyed rows for the CDF composition check. */
  private def byId(df: DataFrame): Map[Long, String] =
    df.select(col("LogID"), col("database_name"), col("last_lsn"),
        col("physical_device_name"), col("CompressedSizeMB"))
      .collect().map(r => r.getLong(0) -> r.toString).toMap

  property("random op sequences: model parity, snapshots, CDF composition") =
    Prop.forAll(genOps) { ops =>
      val path = tmp()
      var model = Map.empty[K, Int]
      // version → expected model state when that version was current
      var versionStates = Map.empty[Int, Map[K, Int]]
      ops.foreach { op =>
        op match {
          case Append(rows) =>
            ConsolidatedStore.append(spark, path, frame(rows, 0))
            rows.foreach(k =>
              if (!model.contains(k)) model += k -> value(k, 0))
          case AppendC(rows) =>
            ConsolidatedStore.appendConcurrent(spark, path, frame(rows, 0))
            rows.foreach(k =>
              if (!model.contains(k)) model += k -> value(k, 0))
          case Merge(rows, bump) =>
            StoreMerge.merge(spark, path, frame(rows, bump))
            rows.foreach(k => model += k -> value(k, bump))
          case DeleteDb(db) =>
            StoreDelete.delete(spark, path, col("database_name") === db)
            model = model.filter { case (k, _) => k.db != db }
          case DeleteLsnBelow(n) =>
            StoreDelete.delete(spark, path, col("last_lsn") < n.toLong * 100)
            model = model.filter { case (k, _) => k.lsn >= n }
          case Compact => Compaction.compact(spark, path, 1000000L)
          case Optimize => Compaction.optimizeSmall(spark, path, 1 << 20)
          case ZOrder => Compaction.zorderCompact(spark, path, 1000000L)
        }
        versionStates += StoreLog.currentVersion(spark, path) -> model

        // the head state's stats ≡ a footer scan of the live files, and
        // pruned reads ≡ full-scan reads, at EVERY step: zone-map file
        // skipping and the device hash index prune, never answer
        val drift = StoreTestKit.statsDrift(spark, path)
        assert(drift.isEmpty,
          s"stats drift after ${op.getClass.getSimpleName}: $drift")
        val full = ConsolidatedStore.read(spark, path)
        val boundShapes = Seq(
          StoreMeta.ReadBounds(databases = Some(Set("dbA", "dbE")),
            lastLsnGt = Some(new java.math.BigDecimal(300)),
            lastLsnLte = Some(new java.math.BigDecimal(900))),
          StoreMeta.ReadBounds(
            startBefore = Some(java.sql.Timestamp.valueOf("2024-01-05 00:00:00"))))
        val okPruned = boundShapes.forall { b =>
          observe(ConsolidatedStore.readWhere(spark, path, b)) ==
            observe(full.filter(StoreMeta.residual(b)))
        }
        val okDevice =
          observe(ConsolidatedStore.readForDevice(spark, path, "d1")) ==
            observe(full.filter(col("physical_device_name") <=> "d1"))
        assert(okPruned && okDevice,
          s"pruned-read drift after ${op.getClass.getSimpleName}: " +
            s"pruned=$okPruned device=$okDevice")
      }

      // (a) final state ≡ model, values included
      val vMax = StoreLog.currentVersion(spark, path)
      val finalGot = observe(StoreLog.snapshot(spark, path, vMax))
      val finalExp = model.map { case (k, v) => k -> Some(v) }
      val okFinal = finalGot == finalExp

      // (b) every recorded version snapshot-readable and model-exact
      val okVersions = versionStates.forall { case (v, st) =>
        observe(StoreLog.snapshot(spark, path, v)) ==
          st.map { case (k, x) => k -> Some(x) }
      }

      // (c) CDF composition: snapshot(1) ⊕ changes(1,v) == snapshot(v),
      // and the two-span application over a middle cut agrees
      def applyChanges(base: Map[Long, String], from: Int, to: Int): Map[Long, String] = {
        val ch = StoreLog.changes(spark, path, from, to)
        val dels = ch.filter(col("_change_type") === "delete")
        val ups = ch.filter(col("_change_type").isin("insert", "update_post"))
        (base -- byId(dels).keys) ++ byId(ups)
      }
      val base = byId(StoreLog.snapshot(spark, path, 1))
      val okCdf = (1 to vMax).forall { v =>
        applyChanges(base, 1, v) == byId(StoreLog.snapshot(spark, path, v))
      }
      val mid = (1 + vMax) / 2
      val okCompose =
        applyChanges(applyChanges(base, 1, mid), mid, vMax) ==
          applyChanges(base, 1, vMax)

      Prop(okFinal && okVersions && okCdf && okCompose) :|
        s"final=$okFinal versions=$okVersions cdf=$okCdf compose=$okCompose " +
        s"ops=${ops.map(_.getClass.getSimpleName).mkString(",")} vMax=$vMax"
    }
}
