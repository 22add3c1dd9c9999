package graft

import java.nio.file.Files

import scala.sys.process.{Process, ProcessLogger}

import org.scalatest.funsuite.AnyFunSuite

/** DuckDB oracle parity of the restore planner's three query rows: q18
  * (the chain), q19 (the rendered commands, byte for byte) and q39 (the
  * fleet plan with the server→AG fallback) at sf0.001, dumped the way
  * `graft.Verify` dumps them and compared by `scripts/check.py`. The
  * compare needs python3 with duckdb; if either is missing the spec fails.
  */
class ScriptParitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val names =
    Set("q18_restore_chain", "q19_restore_script", "q39_fleet_restore_plan")

  test("q18, q19 and q39 match their DuckDB oracles at sf0.001") {
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
