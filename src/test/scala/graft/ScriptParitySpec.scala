package graft

import java.nio.file.Files

import scala.sys.process.{Process, ProcessLogger}

import org.scalatest.funsuite.AnyFunSuite

/** DuckDB oracle parity at sf0.001 of the restore planner's three query
  * rows — q18 (the chain), q19 (the rendered commands, byte for byte)
  * and q39 (the fleet plan with the server→AG fallback) — and of four
  * store rows: q108 (aggregates answered from the log's zone-map stats
  * alone), q115 (the stats-driven retention purge), q122 (the device
  * lookup over the logged device-hash sets) and q146 (crash repair).
  * The rows are dumped the way `graft.Verify` dumps them and compared by
  * `scripts/check.py`. The compare needs python3 with duckdb; if either
  * is missing the spec fails.
  */
class ScriptParitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val names =
    Set("q18_restore_chain", "q19_restore_script", "q39_fleet_restore_plan",
      "q108_store_stats_only", "q115_store_purge", "q122_device_lookup",
      "q146_store_repair")

  test("q18/q19/q39 and store rows q108/q115/q122/q146 match DuckDB at sf0.001") {
    val out = Files.createTempDirectory("script-parity").toString
    Verify.dump(spark, TestSpark.sf, out, names.contains)
    val log = new StringBuilder
    val exit = Process(Seq("python3", "scripts/check.py", TestSpark.sf, out))
      .!(ProcessLogger(l => log ++= l + "\n", l => log ++= l + "\n"))
    assert(exit == 0, log.toString)
    assert(log.toString.contains(s"${names.size}/${names.size} queries match"),
      log.toString)
  }
}
