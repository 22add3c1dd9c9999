package fleetbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Outside-in layer tracing. The program is not changed: time and work
  * are attributed from the benchmark's side of each call into a layer's
  * public functions, from Spark's listener bus and from Hadoop's
  * FileSystem statistics.
  *
  * Spans form three levels — op → layer call → Spark job — and live in
  * memory until [[write]]. A layer call's self time (`driver_s`) is its
  * wall time minus the union of its jobs' intervals. A job is charged to
  * the layer whose file is the first measured frame of its call site
  * (e.g. `collect at StoreLog.scala:NN` → store), else to the layer call
  * that was open on the submitting thread.
  *
  * With tracing off every method is a plain pass-through.
  */
final class Tracer(val on: Boolean) {
  import Tracer._

  private val ids = new AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val sqlSites = new ConcurrentHashMap[Long, String]()
  private val counters = scala.collection.mutable.HashMap.empty[String, Double]
  @volatile private var opId = 0L
  @volatile private var opSpan = 0L
  @volatile private var muted = false

  def add(name: String, v: Double): Unit =
    if (on && !muted) counters.synchronized(counters(name) = counters.getOrElse(name, 0.0) + v)

  def set(name: String, v: Double): Unit = if (on) counters.synchronized(counters(name) = v)

  /** One timed operation of the workload; returns its wall seconds. */
  def op(kind: String)(body: => Unit): Double = {
    val t0 = System.nanoTime()
    if (on && !muted) {
      opId += 1
      opSpan = ids.incrementAndGet()
    }
    body
    val t1 = System.nanoTime()
    if (on && !muted) spans.add(Span(opSpan, s"op.$kind", t0, t1, 0L, opId, ""))
    (t1 - t0) / 1e9
  }

  /** Work that is not a timed op — set-up and the benchmark's own output
    * checks: untraced, its jobs tagged so the listener skips them.
    */
  def untraced[A](sc: SparkContext)(body: => A): A =
    if (!on || muted) body
    else {
      val prev = sc.getLocalProperty(SpanProp)
      sc.setLocalProperty(SpanProp, s"0:$CheckLayer")
      muted = true
      try body
      finally {
        muted = false
        sc.setLocalProperty(SpanProp, prev)
      }
    }

  /** A call into layer `layer`'s public function `fn`. */
  def call[A](sc: SparkContext, layer: String, fn: String)(body: => A): A =
    if (!on || muted) body
    else {
      val id = ids.incrementAndGet()
      val prev = sc.getLocalProperty(SpanProp)
      sc.setLocalProperty(SpanProp, s"$id:$layer")
      val fs0 = fsStats()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        val fs1 = fsStats()
        sc.setLocalProperty(SpanProp, prev)
        spans.add(Span(id, s"$layer.$fn", t0, t1, opSpan, opId, layer))
        add(s"$layer.calls", 1)
        add(s"$layer.wall_s", (t1 - t0) / 1e9)
        add(s"$layer.fs_read_ops", (fs1._1 - fs0._1).toDouble)
        add(s"$layer.fs_write_ops", (fs1._2 - fs0._2).toDouble)
        add(s"$layer.fs_bytes_written", (fs1._3 - fs0._3).toDouble)
      }
    }

  def listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
      val (parent, spanLayer) = tag match {
        case Some(t) =>
          val Array(id, l) = t.split(":", 2)
          (id.toLong, l)
        case None => (0L, "")
      }
      // a SQL action's call site is recorded on the user thread when the
      // execution starts; its jobs may be submitted from AQE's threads
      val site = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(sqlSites.get(id.toLong)))
        .getOrElse(e.stageInfos.headOption.map(_.details).getOrElse(""))
      // set-up and check jobs are not charged to the layers
      if (spanLayer != Tracer.CheckLayer) {
        val layer = layerOf(site).getOrElse(if (spanLayer.nonEmpty) spanLayer else "other")
        jobs.put(e.jobId, new Job(e.jobId, layer, parent, e.time * 1000000L))
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
        add(s"$layer.jobs", 1)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        sqlSites.put(s.executionId, s.details)
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endNs = e.time * 1000000L)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      Option(stageJob.get(e.stageInfo.stageId)).flatMap(j => Option(jobs.get(j)))
        .foreach(j => stageDone(j.layer, e.stageInfo))
    }
  }

  private def stageDone(layer: String, info: StageInfo): Unit = {
    val m = info.taskMetrics
    add(s"$layer.stages", 1)
    add(s"$layer.tasks", info.numTasks.toDouble)
    if (m != null) {
      add(s"$layer.executor_cpu_s", m.executorCpuTime / 1e9)
      add(s"$layer.shuffle_bytes",
        (m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead).toDouble)
      add(s"$layer.input_records", m.inputMetrics.recordsRead.toDouble)
    }
  }

  /** Per-layer self time: each call's wall time minus the union of the
    * intervals of the jobs it submitted. Listener events carry
    * millisecond wall-clock times; span times are converted to the same
    * clock.
    */
  private def selfTimes(): Unit = {
    val byParent = jobs.values.asScala.groupBy(_.parent)
    val offset = System.currentTimeMillis() * 1000000L - System.nanoTime()
    spans.asScala.filter(_.layer.nonEmpty).foreach { s =>
      val a = s.startNs + offset
      val b = s.endNs + offset
      val ivs = byParent.getOrElse(s.id, Nil)
        .map(j => (math.max(a, j.startNs), math.min(b, if (j.endNs > 0) j.endNs else b)))
        .filter { case (x, y) => y > x }.toSeq.sortBy(_._1)
      var busy = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      ivs.foreach { case (x, y) =>
        if (x > curE) { busy += math.max(0L, curE - curS); curS = x; curE = y }
        else curE = math.max(curE, y)
      }
      busy += math.max(0L, curE - curS)
      add(s"${s.layer}.driver_s", math.max(0L, (b - a) - busy) / 1e9)
    }
  }

  /** Every per-layer metric, zero where a layer saw no work. */
  def metrics(): Map[String, Double] = {
    selfTimes()
    val base = for (l <- Layers; m <- PerLayer) yield s"$l.$m" -> 0.0
    val extra = Extras.map(_ -> 0.0)
    (base ++ extra).toMap ++ counters.synchronized(counters.toMap).filter {
      case (k, _) => Layers.exists(l => k.startsWith(l + ".")) }
  }

  /** Spans as JSON lines: ops, layer calls and jobs with their parents. */
  def write(path: java.nio.file.Path): Unit = if (on) {
    val offset = System.currentTimeMillis() * 1000000L - System.nanoTime()
    val lines = spans.asScala.toSeq.sortBy(_.startNs).map { s =>
      f"""{"id":${s.id},"name":"${s.name}","start_ns":${s.startNs + offset},""" +
        f""""end_ns":${s.endNs + offset},"parent":${s.parent},"op":${s.op}}"""
    } ++ jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      s"""{"id":"job-${j.id}","name":"job.${j.layer}","start_ns":${j.startNs},""" +
        s""""end_ns":${j.endNs},"parent":${j.parent}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  val SpanProp = "fleetbench.span"

  /** Span tag of the benchmark's own output checks; their jobs are not
    * charged to any layer.
    */
  val CheckLayer = "check"

  /** The measured layers, named after the repo's modules. */
  val Layers: Seq[String] = Seq("etl", "store", "maintenance", "restore", "script")

  val PerLayer: Seq[String] = Seq("calls", "wall_s", "driver_s", "fs_read_ops",
    "fs_write_ops", "fs_bytes_written", "jobs", "stages", "tasks",
    "executor_cpu_s", "shuffle_bytes", "input_records")

  val Extras: Seq[String] = Seq("etl.rows_extracted", "etl.rows_appended",
    "etl.wm_read_retries", "store.data_files", "store.log_versions",
    "maintenance.optimize_runs", "maintenance.files_rewritten",
    "maintenance.rows_purged", "script.steps", "restore.chains")

  final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
      parent: Long, op: Long, layer: String)

  final class Job(val id: Int, val layer: String, val parent: Long,
      val startNs: Long) {
    @volatile var endNs: Long = 0L
  }

  private val Frame = """graft\.([a-z]+)\.""".r

  /** The first frame of a call site that lies in a measured layer. */
  def layerOf(callSite: String): Option[String] =
    callSite.linesIterator.flatMap(l => Frame.findFirstMatchIn(l).map(_.group(1)))
      .find(Layers.contains)

  /** (read ops, write ops, bytes written) in this JVM — driver and local
    * executors alike: operations from [[CountingFileSystem]], bytes from
    * Hadoop's FileSystem statistics.
    */
  @annotation.nowarn("cat=deprecation")
  def fsStats(): (Long, Long, Long) =
    (CountingFileSystem.reads.get, CountingFileSystem.writes.get,
      org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.map(_.getBytesWritten).sum)
}
