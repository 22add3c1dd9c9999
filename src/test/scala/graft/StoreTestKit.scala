package graft

import org.apache.spark.sql.SparkSession

import graft.store.{FileStats, StoreLog, StoreMeta}

/** Store-spec helpers over the commit log's head state. */
object StoreTestKit {

  /** Stats for a file a spec commits by name alone (no data behind it). */
  def stub(file: String): FileStats =
    FileStats(file, 0L, null, null, null, null, null, null, null, null, 0L)

  /** The head state's stats of every live file. */
  def liveStats(spark: SparkSession, path: String): Seq[FileStats] =
    StoreLog.headState(spark, path).live

  /** Where the head state disagrees with the store's data files: its live
    * set must be exactly the directory's data files, and each file's
    * recorded stats must equal a footer scan, field for field (LogID
    * max, LSN/db/device ranges, null count, device hashes, start
    * envelope). Empty = exact.
    */
  def statsDrift(spark: SparkSession, path: String): Seq[String] = {
    val live = liveStats(spark, path).sortBy(_.file)
    val onDisk = StoreMeta.listDataFiles(spark, path).get.sorted
    if (live.map(_.file) != onDisk)
      Seq(s"live ${live.map(_.file)} vs on disk $onDisk")
    else live.zip(StoreMeta.scanStats(spark, path, onDisk).sortBy(_.file))
      .collect { case (l, s) if l != s => s"recorded $l vs scanned $s" }
  }
}
