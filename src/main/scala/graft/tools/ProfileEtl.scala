package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev-only phase profiler for the end-to-end ETL (q64). Not part of the
  * library surface; run via `runMain graft.tools.ProfileEtl <sfDir>`.
  */
object ProfileEtl {
  def t[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime(); val r = f
    println(f"[prof] $name%-34s ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
  }

  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftExtensions.install(spark)
    val src = graft.etl.MsdbDerivation.sources(spark, dir)
    for (rep <- 1 to 3) {
      t(s"[$rep] full runOnce x2 (2 srv)") {
        val tmp2 = java.nio.file.Files.createTempDirectory("prof-e2e2").toString
        val servers = Map("srvA" -> src, "srvB" -> src)
        graft.etl.EtlRunner.runOnce(spark, servers, s"$tmp2/c", s"$tmp2/w")
        graft.etl.EtlRunner.runOnce(spark, servers, s"$tmp2/c", s"$tmp2/w")
      }
    }
    spark.stop()
  }
}
