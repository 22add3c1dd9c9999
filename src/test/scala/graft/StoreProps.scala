package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}

import graft.store.ConsolidatedStore

/** The zone maps' one non-negotiable invariant: pruning must
  * NEVER drop a true duplicate. For any sequence of (overlapping,
  * null-carrying) batches, both entries of the claim loop (`append`,
  * `appendConcurrent`) and the full-scan append must leave identical
  * stores — rows, null-safe keys and LogIDs: the commit log and its
  * stats are an arbiter and an index, not a semantics change.
  */
class StoreProps extends Properties("store") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5) // each case replays appends on two stores

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-storeprops").toString + "/t"

  // a deliberately tiny key space: collisions across batches (including
  // NULL devices, the NULLs-are-equal index case) are the common case,
  // not the edge case
  private final case class K(db: String, lsn: Int, dev: Option[String])

  private val genRow: Gen[K] = for {
    db <- Gen.oneOf("dbA", "dbC", "dbE", "dbZ")
    lsn <- Gen.choose(1, 25)
    dev <- Gen.oneOf(Some("d1"), Some("d2"), None)
  } yield K(db, lsn, dev)

  private val genBatches: Gen[List[List[K]]] = for {
    nb <- Gen.choose(2, 4)
    batches <- Gen.listOfN(nb, Gen.choose(4, 30).flatMap(Gen.listOfN(_, genRow)))
  } yield batches

  private def frame(rows: List[K]): DataFrame =
    rows.map(k => (k.db, k.dev.orNull, s"2024-01-0${(k.lsn % 9) + 1} 00:00:00",
        k.lsn.toLong * 100, k.lsn.toLong * 100 + 99))
      .toDF("database_name", "physical_device_name", "t_s", "first_l", "last_l")
      .withColumn("backup_start_date", col("t_s").cast("timestamp"))
      .withColumn("backup_finish_date", col("t_s").cast("timestamp"))
      .withColumn("first_lsn", col("first_l").cast("decimal(25,0)"))
      .withColumn("last_lsn", col("last_l").cast("decimal(25,0)"))
      .drop("t_s", "first_l", "last_l")

  // every column the batches carry plus the assigned LogID, keys
  // null-safe (Row.toString renders a null device as "null")
  private def contents(path: String): Seq[String] =
    spark.read.parquet(path)
      .select((Seq("LogID", "database_name", "physical_device_name",
        "backup_start_date", "backup_finish_date", "first_lsn", "last_lsn")
      ).map(col): _*)
      .collect().map(_.toString).sorted.toSeq

  private def keys(path: String): Seq[String] =
    spark.read.parquet(path)
      .select(ConsolidatedStore.dedupKey.map(col): _*)
      .collect().map(_.toString).toSeq

  property("append ≡ appendConcurrent ≡ appendFullScan, any batch sequence") =
    Prop.forAll(genBatches) { batches =>
      val plain = tmp(); val conc = tmp(); val full = tmp()
      batches.foreach { b =>
        val df = frame(b)
        ConsolidatedStore.append(spark, plain, df)
        ConsolidatedStore.appendConcurrent(spark, conc, df)
        ConsolidatedStore.appendFullScan(spark, full, df,
          partitionBy = Nil, sortWithin = Seq("database_name", "last_lsn"))
      }
      val (p, c, f) = (contents(plain), contents(conc), contents(full))
      val sane = // every store really deduped: unique null-safe keys
        Seq(plain, conc, full).map(keys).forall(k => k.distinct.size == k.size)
      val consistent = Seq(plain, conc)
        .forall(s => StoreTestKit.statsDrift(spark, s).isEmpty)
      Prop(p == f && c == f && sane && consistent) :|
        s"append=${p.size} appendConcurrent=${c.size} full=${f.size}"
    }
}
