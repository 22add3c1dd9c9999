package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only phase profiler for q76 (DSIR). Run via
  * `runMain graft.tools.ProfileDsir <sfDir>`.
  */
object ProfileDsir {
  import ProfileEtl.t

  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = graft.Tables.documents(spark, dir)
    docs.count()
    for (rep <- 1 to 2) {
      val ratios = t(s"[$rep] fitFlagged") {
        graft.pipeline.Dsir.fitLogRatiosFlagged(
          docs, col("lang") === "en", "text", 2048)
      }
      t(s"[$rep] gramBuckets only (agg size)") {
        docs.select(
          sum(size(graft.pipeline.Dsir.gramBuckets(col("text"), 2048))))
          .collect()
      }
      val scored = t(s"[$rep] score+checkpoint") {
        graft.pipeline.Dsir.score(docs, "doc_id", "text", ratios)
          .localCheckpoint()
      }
      t(s"[$rep] topk+join") {
        val top = graft.pipeline.Dsir.selectTopK(scored, "doc_id", 100)
          .select(col("doc_id"), lit(1).as("selected"))
        scored.join(broadcast(top), Seq("doc_id"), "left").count()
      }
    }
    spark.stop()
  }
}
