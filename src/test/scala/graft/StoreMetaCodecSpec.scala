package graft

import java.math.{BigDecimal => JBigDecimal}

import org.scalatest.funsuite.AnyFunSuite

import graft.store.{FileStats, StoreMeta}

/** The one-line zone-map stats codec (streaming JSON render/parse) —
  * the rows each commit carries per added file and each log checkpoint
  * per live file.
  */
class StoreMetaCodecSpec extends AnyFunSuite {

  private val exotic = FileStats(
    file = "database_name=wéird \"db\"/part-00\\x.parquet",
    logIdMax = Long.MaxValue,
    lastLsnMin = new JBigDecimal("1234567890123456789012345"),
    lastLsnMax = new JBigDecimal("9999999999999999999999999"),
    firstLsnMin = new JBigDecimal("0"),
    firstLsnMax = null,
    dbMin = "aa\nnew\tline",
    dbMax = "δb-寿司",
    devMin = null,
    devMax = null,
    devNullCount = 3L,
    devHashes = Seq(-9223372036854775808L, -1L, 0L, 42L, Long.MaxValue),
    startMinUs = java.lang.Long.valueOf(-62135596800000000L),
    startMaxUs = java.lang.Long.valueOf(253402300799999999L))

  test("render/parse round-trips every field shape") {
    val cases = Seq(
      exotic,
      // all-null optionals (empty file sentinel shape, empty hash set)
      FileStats("f.parquet", 0L, null, null, null, null, null, null, null,
        null, 0L, devHashes = Seq.empty,
        startMinUs = java.lang.Long.MAX_VALUE,
        startMaxUs = java.lang.Long.MIN_VALUE),
      // null hash set (overflowed) + null dates (pre-migration)
      FileStats("g.parquet", 7L, new JBigDecimal("5"), new JBigDecimal("6"),
        new JBigDecimal("1"), new JBigDecimal("2"), "db1", "db2",
        "/dev/a", "/dev/b", 0L))
    cases.foreach { f =>
      val line = StoreMeta.renderStats(f)
      assert(!line.contains("\n"), s"stats row must be one line: $line")
      val back = StoreMeta.parseStats(line)
      assert(back == f, s"round-trip mismatch:\n  in : $f\n  out: $back")
    }
  }

  test("parse treats absent optionals as unknown and torn rows as errors") {
    val min = StoreMeta.parseStats("""{"file":"x.parquet","logid_max":5}""")
    assert(min.file == "x.parquet" && min.logIdMax == 5L)
    assert(min.lastLsnMin == null && min.dbMin == null &&
      min.devHashes == null && min.startMinUs == null)
    assert(min.devNullCount == -1L, "absent dev_null_count = pre-migration")
    // unknown keys skipped (forward compat), known ones still land
    val fwd = StoreMeta.parseStats(
      """{"file":"y.parquet","logid_max":1,"future_obj":{"a":[1,2]},""" +
        """"dev_null_count":2}""")
    assert(fwd.file == "y.parquet" && fwd.devNullCount == 2L)
    // torn rows throw (a torn commit or checkpoint reads as unreadable)
    intercept[Exception](StoreMeta.parseStats("""{"file":"trunc"""))
    intercept[Exception](StoreMeta.parseStats("""{"logid_max":3}"""))
    intercept[Exception](StoreMeta.parseStats("""{"file":"z.parquet"}"""))
    // a KNOWN scalar key holding a container must read as null (the
    // json4s reader's benign disposition) WITHOUT desyncing the token
    // stream — the unconsumed-container bug looped forever here
    val cont = StoreMeta.parseStats(
      """{"db_min":["a",{"x":1}],"file":"c.parquet","logid_max":9,""" +
        """"dev_min":{"k":[2,3]},"start_min_us":7}""")
    assert(cont.file == "c.parquet" && cont.logIdMax == 9L)
    assert(cont.dbMin == null && cont.devMin == null)
    assert(cont.startMinUs == 7L, "fields after the container still land")
    // dev_hashes with a non-array value: benign null, stream intact
    val mh = StoreMeta.parseStats(
      """{"file":"d.parquet","logid_max":1,"dev_hashes":{"bad":true},""" +
        """"dev_null_count":5}""")
    assert(mh.devHashes == null && mh.devNullCount == 5L)
  }
}
