package graft

import java.nio.file.Files

import scala.sys.process.{Process, ProcessLogger}

import org.scalatest.funsuite.AnyFunSuite

/** DuckDB oracle parity of the restore planner's two query rows: q18 (the
  * chain) and q19 (the rendered commands, byte for byte) at sf0.001,
  * dumped the way `graft.Verify` dumps them and compared by
  * `scripts/check.py`. The compare needs python3 with duckdb; if either
  * is missing the spec fails.
  */
class ScriptParitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val names = Set("q18_restore_chain", "q19_restore_script")

  test("q18 and q19 match their DuckDB oracles at sf0.001") {
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
