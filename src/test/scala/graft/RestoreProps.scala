package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.propBoolean

import graft.restore.RestoreQueries
import graft.script.{FleetRestorePlanner, RestoreScriptGenerator, RestoreScriptOptions}
import graft.store.ConsolidatedStore

/** Property-based invariants over random backup timelines (SURVEY §5.4):
  * chain-selection rules and ETL idempotence must hold for ANY history,
  * not just the golden fixtures.
  */
class RestoreProps extends Properties("restore") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8) // each case runs Spark jobs

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private final case class SetSpec(typ: String, stripes: Int, copyOnly: Boolean)

  private val genSet: Gen[SetSpec] = for {
    typ <- Gen.frequency(3 -> "Full", 2 -> "Diff", 5 -> "Log")
    stripes <- Gen.choose(1, 3)
    copyOnly <- Gen.frequency(4 -> false, 1 -> true)
  } yield SetSpec(typ, stripes, copyOnly)

  private val genTimeline: Gen[List[SetSpec]] = for {
    n <- Gen.choose(4, 18)
    sets <- Gen.listOfN(n, genSet)
  } yield sets

  /** Materialize a timeline: set i gets LSN range [i*100, i*100+99] and
    * start time base+i hours; every stripe shares the set's scalars.
    */
  private def frame(sets: List[SetSpec]): DataFrame = {
    val rows = sets.zipWithIndex.flatMap { case (s, i) =>
      (0 until s.stripes).map { st =>
        (i.toLong * 10 + st, s.typ, s"X:/bk/s${i}_$st.bak",
          f"2024-01-01 ${i % 24}%02d:00:00", (i + 1) * 100L,
          (i + 1) * 100L + 99, s.copyOnly, 2, "db", "srv", "ag")
      }
    }
    rows.toDF("LogID", "BackupType", "physical_device_name", "start_s",
        "first_l", "last_l", "is_copy_only", "device_type",
        "database_name", "server_name", "ag_name")
      .withColumn("backup_start_date", col("start_s").cast("timestamp"))
      .withColumn("backup_finish_date", col("start_s").cast("timestamp"))
      .withColumn("first_lsn", col("first_l").cast("decimal(25,0)"))
      .withColumn("last_lsn", col("last_l").cast("decimal(25,0)"))
      .withColumn("position", lit(1))
      .drop("start_s", "first_l", "last_l")
  }

  property("latestFull keeps exactly the max-LSN full, all its stripes") =
    Prop.forAll(genTimeline) { sets =>
      val fulls = sets.zipWithIndex.filter(_._1.typ == "Full")
      val got = RestoreQueries.latestFullBackupFor(frame(sets), "db", "srv")
        .select("last_lsn").as[BigDecimal].collect()
      if (fulls.isEmpty) got.isEmpty
      else {
        val best = fulls.map(_._2).max
        got.length == sets(best).stripes &&
          got.forall(_ == BigDecimal((best + 1) * 100 + 99))
      }
    }

  property("lastDiff: after base, before any newer non-copy-only full") =
    Prop.forAll(genTimeline) { sets =>
      val base = BigDecimal(100) // set 0's last_lsn region
      val got = RestoreQueries.lastDiffBackupFor(frame(sets), "db", "srv", base)
        .select("last_lsn").as[BigDecimal].collect().toList
      val blocking = sets.zipWithIndex
        .filter { case (s, i) => s.typ == "Full" && !s.copyOnly &&
          BigDecimal((i + 1) * 100 + 99) > base }
        .map { case (_, i) => BigDecimal((i + 1) * 100 + 99) }
        .sorted.headOption
      val eligible = sets.zipWithIndex
        .filter { case (s, i) =>
          val lsn = BigDecimal((i + 1) * 100 + 99)
          s.typ == "Diff" && lsn > base && blocking.forall(lsn < _) }
        .map { case (_, i) => BigDecimal((i + 1) * 100 + 99) }
      if (eligible.isEmpty) got.isEmpty
      else got.nonEmpty && got.forall(_ == eligible.max)
    }

  property("remainingLogs: strictly ascending, all past the base LSN") =
    Prop.forAll(genTimeline) { sets =>
      val base = BigDecimal(250)
      val got = RestoreQueries.remainingLogBackupsFor(frame(sets), "db", "srv", base)
        .select("last_lsn").as[BigDecimal].collect().toList
      got.forall(_ > base) && got == got.sorted &&
        got.distinct.size == sets.zipWithIndex.count { case (s, i) =>
          s.typ == "Log" && BigDecimal((i + 1) * 100 + 99) > base }
    }

  property("merge-append is idempotent for any overlap split") =
    Prop.forAll(genTimeline, Gen.choose(0, 100)) { (sets, pct) =>
      val df = frame(sets).cache()
      try {
        val total = df.count()
        val firstN = (total * pct / 100).toInt
        val first = df.limit(firstN)
        val fresh1 = ConsolidatedStore.mergeNew(
          spark.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](), df.schema),
          first)
        val fresh2 = ConsolidatedStore.mergeNew(first, df)
        // re-merging everything over the first batch adds exactly the rest
        fresh1.count() + fresh2.count() == total &&
          ConsolidatedStore.mergeNew(df, df).isEmpty
      } finally { df.unpersist(); () }
    }

  /** A planner timeline: each set has its own start time (hours apart),
    * LSN range and device type; fulls may sit on a non-restorable device
    * (7 = virtual device) and any set may be striped, so the first log
    * after the restore time can be a striped set. Stripe names mix ASCII,
    * a BMP character and a surrogate pair, whose UTF-16 and UTF-8 orders
    * differ.
    */
  private final case class PlanSet(
      typ: String, stripes: Int, copyOnly: Boolean, deviceType: Int)

  private val genPlanSet: Gen[PlanSet] = for {
    typ <- Gen.frequency(3 -> "Full", 2 -> "Diff", 5 -> "Log")
    stripes <- Gen.frequency(3 -> 1, 2 -> 2, 1 -> 3)
    copyOnly <- Gen.frequency(4 -> false, 1 -> true)
    deviceType <- Gen.frequency(6 -> 2, 2 -> 9, 1 -> 7)
  } yield PlanSet(typ, stripes, copyOnly, deviceType)

  private val stripeNames = Vector("a", "\uFF21", "\uD83D\uDE00")

  private val genPlanCase: Gen[(List[PlanSet], Int, Boolean, Int)] = for {
    n <- Gen.choose(3, 16)
    sets <- Gen.listOfN(n, genPlanSet)
    k <- Gen.choose(0, n) // the restore time falls before set k
    exact <- Gen.frequency(3 -> false, 1 -> true) // ... or at its start
    rot <- Gen.choose(0, 2) // which name the first stripe takes
  } yield (sets, k, exact, rot)

  private val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
  private def startOf(i: Int) = new Timestamp(base + i * 3600000L)

  private def planFrame(sets: List[PlanSet], rot: Int): DataFrame = {
    val rows = sets.zipWithIndex.flatMap { case (s, i) =>
      (0 until s.stripes).map { st =>
        val name = stripeNames((st + rot) % stripeNames.size)
        (i.toLong * 10 + st, s.typ, s"X:/bk/s${i}_$name.bak", startOf(i),
          (i + 1) * 100L, (i + 1) * 100L + 99, s.copyOnly, s.deviceType,
          "db", "srv")
      }
    } :+ // another server's backup of the same database, never planned
      ((9999L, "Full", "X:/bk/other.bak", startOf(0), 50L, 99L, false, 2,
        "db", "srv2"))
    rows.toDF("LogID", "BackupType", "physical_device_name",
        "backup_start_date", "first_l", "last_l", "is_copy_only",
        "device_type", "database_name", "server_name")
      .withColumn("ag_name", lit("ag"))
      .withColumn("backup_finish_date", col("backup_start_date"))
      .withColumn("first_lsn", col("first_l").cast("decimal(25,0)"))
      .withColumn("last_lsn", col("last_l").cast("decimal(25,0)"))
      .withColumn("position", (col("LogID") % 10 + 1).cast("int"))
      .withColumn("DBFileInformation", lit(null).cast("string"))
      .drop("first_l", "last_l")
  }

  property("generate equals the fleet planner's chain for its pair") =
    Prop.forAll(genPlanCase) { case (sets, k, exact, rot) =>
      val t = if (exact) startOf(k) else new Timestamp(startOf(k).getTime - 1800000L)
      val bh = planFrame(sets, rot)
      val fleet = FleetRestorePlanner.planAll(bh, "server_name", t)
        .filter(col("database_name") === "db" && col("key") === "srv")
        .select("restore_id", "backup_type", "backup_start_date", "last_lsn",
          "from_clause", "physical_devices", "stopat")
        .as[(Long, String, Timestamp, BigDecimal, String, String, Boolean)]
        .collect().sortBy(_._1).toSeq
      val scalar =
        try RestoreScriptGenerator.generate(spark, bh,
          RestoreScriptOptions(sourceDb = "db", sourceServer = Some("srv"),
            restoreToTime = Some(t))).steps.map(s =>
            (s.RestoreID, s.BackupType, s.backup_start_date, s.last_lsn,
              s.from_clause, s.physical_devices, s.stop_at.isDefined))
        catch { case _: IllegalStateException => Seq.empty } // no full by t
      (scalar == fleet) :| s"scalar=$scalar fleet=$fleet"
    }
}
