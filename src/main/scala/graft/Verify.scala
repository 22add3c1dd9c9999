package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // same scale-adaptive reduce sizing as the Bench session (see
      // Bench.scala) — values are config-independent; this only trims
      // the dump's tiny-task overhead
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        sys.env.getOrElse("SPARK_GRAFT_PARALLELISM_FIRST", "true"))
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        sys.env.getOrElse("SPARK_GRAFT_AQE_CACHED", "true"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftExtensions.install(spark)
    // comma-separated substrings to restrict the dump; unset dumps every
    // query
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    dump(spark, sfDir, outDir, n => only.forall(_.exists(n.contains)))
    spark.stop()
  }

  /** Write `oracle_sql.json` and each selected query's result as parquet
    * under `outDir/<name>/` — the shape `scripts/check.py` compares.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      selected: String => Boolean): Unit = {
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in an oracle's SQL would otherwise make the compare's
    // json.load fail and silently drop every oracle.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (n, _) => selected(n) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    // oracle_sql.json FIRST, before any query runs: if this process is
    // killed mid-dump (timeout, OOM), the compare still has its oracle
    // map and every completed query dir, not an empty `{}`
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    SparkEntry.queries
      .filter { case (n, _) => selected(n) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
  }
}
