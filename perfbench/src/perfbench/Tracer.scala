package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** A driver-side span: one timed section of a traced run. Times are
  * epoch milliseconds so they compare with Spark's task times. */
final case class Span(runId: String, id: Int, name: String, parent: Int, startMs: Long, endMs: Long) {
  def durMs: Long = endMs - startMs
}

/** Collects spans in memory; written out once when the run ends. */
final class Spans(val runId: String) {
  private val next = new AtomicInteger(0)
  private val done = new ConcurrentLinkedQueue[Span]()

  def apply[T](name: String, parent: Int = -1)(f: Int => T): T = {
    val id = next.incrementAndGet()
    val t0 = System.currentTimeMillis()
    try f(id)
    finally done.add(Span(runId, id, name, parent, t0, System.currentTimeMillis()))
  }

  def all: Vector[Span] = done.asScala.toVector.sortBy(_.id)

  /** A span's duration minus the time its direct children cover. */
  def selfMs(s: Span): Long = {
    val kids = all.filter(_.parent == s.id).map(k => (k.startMs max s.startMs, k.endMs min s.endMs))
    s.durMs - Intervals.coveredMs(kids)
  }
}

object Intervals {
  /** Length of the union of [start, end) intervals. */
  def coveredMs(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    covered
  }
}

/** One finished task, already attributed to a layer. */
final case class TaskRec(
    layer: String, stageId: Int, launchMs: Long, finishMs: Long,
    gcMs: Long, shuffleWrite: Long, spill: Long, inputBytes: Long, outputBytes: Long,
    failed: Boolean) {
  def durMs: Long = finishMs - launchMs
}

/** Per-layer totals of the tasks a [[Tracer]] saw. */
final case class LayerStats(
    busyS: Double, tasks: Int, maxTaskS: Double, medianTaskS: Double, skew: Double,
    shuffleWriteBytes: Long, spillBytes: Long, gcS: Double, failedTasks: Int,
    stages: Int, exchangeStages: Int)

/** SparkListener that attributes every stage to a layer.
  *
  * A stage's layer is the layer of the SQL execution its job belongs to;
  * `classify` derives it from the execution's call site
  * (`SparkListenerSQLExecutionStart.details`), which names the program
  * frames that started the query. AQE's asynchronous stages carry their
  * execution id but not a useful call site of their own, so attributing
  * through the execution covers them too. Jobs outside any SQL execution
  * fall back to the stage's own call site, and a job started under
  * [[Tracer.LayerProperty]] belongs to the layer it names. */
final class Tracer(classify: String => String) extends SparkListener {
  private val execLayer = TrieMap.empty[Long, String]
  private val stageLayer = TrieMap.empty[Int, String]
  private val stageIsExchange = TrieMap.empty[Int, Boolean]
  private val stageScans = TrieMap.empty[Int, Boolean]
  private val jobs = new AtomicInteger(0)
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val open = new AtomicInteger(0)
  @volatile private var lastEventMs = System.currentTimeMillis()

  private def touch(): Unit = lastEventMs = System.currentTimeMillis()

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      execLayer(e.executionId) = classify(e.details); touch()
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    open.incrementAndGet(); touch()
    jobs.incrementAndGet()
    val props = Option(e.properties)
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    val layer = props.flatMap(p => Option(p.getProperty(Tracer.LayerProperty)))
      .orElse(exec.flatMap(id => execLayer.get(id.toLong)))
      .getOrElse(e.stageInfos.headOption.map(s => classify(s.details)).getOrElse("other"))
    e.stageIds.foreach(s => stageLayer.putIfAbsent(s, layer))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = { open.decrementAndGet(); touch() }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    stageIsExchange.putIfAbsent(info.stageId, false)
    if (info.rddInfos.exists(_.name.contains("FileScanRDD"))) stageScans(info.stageId) = true
    touch()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    touch()
    // a stage whose tasks are shuffle-map tasks feeds an exchange
    if (e.taskType == "ShuffleMapTask") stageIsExchange(e.stageId) = true
    val m = Option(e.taskMetrics)
    val info = e.taskInfo
    tasks.add(TaskRec(
      stageLayer.getOrElse(e.stageId, "other"), e.stageId, info.launchTime, info.finishTime,
      m.map(_.jvmGCTime).getOrElse(0L),
      m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      m.map(_.diskBytesSpilled).getOrElse(0L),
      m.map(_.inputMetrics.bytesRead).getOrElse(0L),
      m.map(_.outputMetrics.bytesWritten).getOrElse(0L),
      failed = e.reason != Success))
  }

  /** Block until the listener bus has delivered every event of the
    * finished jobs (no job open and no event for `quietMs`). */
  def drain(quietMs: Long = 300, timeoutMs: Long = 20000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (System.currentTimeMillis() < deadline &&
      (open.get() > 0 || System.currentTimeMillis() - lastEventMs < quietMs)) Thread.sleep(20)
  }

  def allTasks: Vector[TaskRec] = tasks.asScala.toVector
  def jobCount: Int = jobs.get
  def stageCount: Int = stageIsExchange.size
  def exchangeStageCount: Int = stageIsExchange.count(_._2)

  /** Busy seconds of the stages that scan parquet files. */
  def scanBusyS: Double = allTasks.filter(t => stageScans.contains(t.stageId)).map(_.durMs).sum / 1000.0

  def layers: Map[String, LayerStats] =
    allTasks.groupBy(_.layer).map { case (layer, ts) => layer -> Tracer.stats(ts, stageIsExchange) }
}

object Tracer {
  /** Local property that names the layer of the jobs a thread starts;
    * it overrides call-site attribution. */
  val LayerProperty = "perfbench.layer"

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Skew of a set of stages: max ÷ median task time of each stage with
    * at least two tasks, weighted by the stage's busy time. */
  def skew(ts: Seq[TaskRec]): Double = {
    val perStage = ts.groupBy(_.stageId).values.filter(_.size >= 2).toSeq.map { st =>
      val d = st.map(_.durMs.toDouble)
      val med = math.max(median(d), 1.0)
      (d.sum, d.max / med)
    }
    val w = perStage.map(_._1).sum
    if (w == 0) 0.0 else perStage.map { case (b, k) => b * k }.sum / w
  }

  def stats(ts: Seq[TaskRec], exchange: collection.Map[Int, Boolean]): LayerStats = {
    val d = ts.map(_.durMs / 1000.0)
    val stageIds = ts.map(_.stageId).distinct
    LayerStats(
      busyS = d.sum, tasks = ts.size,
      maxTaskS = if (d.isEmpty) 0.0 else d.max, medianTaskS = median(d), skew = skew(ts),
      shuffleWriteBytes = ts.map(_.shuffleWrite).sum, spillBytes = ts.map(_.spill).sum,
      gcS = ts.map(_.gcMs).sum / 1000.0, failedTasks = ts.count(_.failed),
      stages = stageIds.size, exchangeStages = stageIds.count(s => exchange.getOrElse(s, false)))
  }
}
