package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the run, on the `System.nanoTime` clock. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    start: Long, end: Long) {
  def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent,
    "name" -> name, "layer" -> layer, "start_ns" -> start, "end_ns" -> end)
}

/** In-memory span recorder. Disabled, it records nothing and costs one
  * branch per call; enabled, spans stay in memory until the run ends. */
final class Spans(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val buf = new ConcurrentLinkedQueue[Span]()

  def add(parent: Long, name: String, layer: String, start: Long,
      end: Long): Unit =
    if (enabled) buf.add(Span(ids.incrementAndGet(), parent, name, layer,
      start, end))

  /** Reserve an id for a span whose end is not known yet. */
  def reserve(): Long = if (enabled) ids.incrementAndGet() else 0L

  def close(id: Long, parent: Long, name: String, layer: String,
      start: Long, end: Long): Unit =
    if (enabled) buf.add(Span(id, parent, name, layer, start, end))

  def all: Seq[Span] = buf.asScala.toSeq.sortBy(_.id)
}

/** Spark-side counters for the traced run: a listener for jobs, stages
  * and tasks, and a query-execution listener for the SQL metrics of each
  * executed plan. Work is attributed to the job group the harness sets
  * around each call (`SparkContext.setJobGroup`); the local property
  * `perfbench.span` carries the enclosing span so each job becomes a
  * child span. */
final class SparkTrace(spans: Spans) extends SparkListener
    with QueryExecutionListener {

  final class Acc {
    val jobs, pinJobs, stages, tasks = new AtomicLong
    val taskMs, gcMs, shuffleWrite, shuffleRead, spill = new AtomicLong
    val peakTaskMem = new AtomicLong
    val pinNs = new AtomicLong
    def toMap: Map[String, Any] = Map(
      "jobs" -> jobs.get, "pin_jobs" -> pinJobs.get, "stages" -> stages.get,
      "tasks" -> tasks.get, "task_ms" -> taskMs.get, "gc_ms" -> gcMs.get,
      "shuffle_write_bytes" -> shuffleWrite.get,
      "shuffle_read_bytes" -> shuffleRead.get, "spill_bytes" -> spill.get,
      "peak_task_mem_bytes" -> peakTaskMem.get, "pin_ns" -> pinNs.get)
  }

  // epoch-millis event times → nanoTime clock
  private val clockOffsetNs =
    System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def toNano(epochMs: Long): Long = epochMs * 1000000L - clockOffsetNs

  private val groups = new ConcurrentHashMap[String, Acc]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobs = new ConcurrentHashMap[Int, SparkTrace.JobInfo]()
  private val execGroup = new ConcurrentHashMap[Long, String]()
  private val opRecords = new ConcurrentLinkedQueue[(Long, Map[String, (Long, Double)])]()

  private def acc(g: String): Acc = groups.computeIfAbsent(g, _ => new Acc)
  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      .getOrElse("-")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(e.properties)
    val parent = Option(e.properties)
      .flatMap(p => Option(p.getProperty("perfbench.span")))
      .map(_.toLong).getOrElse(0L)
    val site = e.stageInfos.map(_.name).sorted.headOption.getOrElse("")
    // every localCheckpoint in the engine goes through graft.Pins.pin, so
    // a pin job is one whose call site is in Pins.scala
    val pin = e.stageInfos.exists(_.name.contains("Pins.scala"))
    e.stageInfos.foreach(s => stageGroup.put(s.stageId, g))
    jobs.put(e.jobId, SparkTrace.JobInfo(g, parent, toNano(e.time), pin, site))
    val a = acc(g)
    a.jobs.incrementAndGet()
    if (pin) a.pinJobs.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.remove(e.jobId)).foreach { j =>
      val end = toNano(e.time)
      spans.add(j.parent, if (j.pin) s"pin ${j.site}" else s"job ${j.site}",
        if (j.pin) "pins" else "spark", j.start, end)
      if (j.pin) acc(j.group).pinNs.addAndGet(end - j.start)
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageGroup.put(e.stageInfo.stageId, groupOf(e.properties))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    acc(stageGroup.getOrDefault(e.stageInfo.stageId, "-")).stages
      .incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val a = acc(stageGroup.getOrDefault(e.stageId, "-"))
    a.tasks.incrementAndGet()
    if (m != null) {
      a.taskMs.addAndGet(m.executorRunTime)
      a.gcMs.addAndGet(m.jvmGCTime)
      a.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      a.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      a.spill.addAndGet(m.memoryBytesSpilled)
      a.peakTaskMem.getAndAccumulate(m.peakExecutionMemory, math.max)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      s.jobGroupId.foreach(g => execGroup.put(s.executionId, g))
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val fam = scala.collection.mutable.Map.empty[String, (Long, Double)]
    planNodes(qe.executedPlan).foreach { p =>
      family(p.nodeName).foreach { f =>
        val ms = p.metrics.values.map { m =>
          m.metricType match {
            case "timing" => m.value.toDouble
            case "nsTiming" => m.value / 1e6
            case _ => 0.0
          }
        }.sum
        val rows = p.metrics.get("numOutputRows")
          .orElse(p.metrics.get("shuffleRecordsWritten")).map(_.value)
          .getOrElse(0L)
        val (r0, m0) = fam.getOrElse(f, (0L, 0.0))
        fam(f) = (r0 + rows, m0 + ms)
      }
    }
    opRecords.add((qe.id, fam.toMap))
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  /** Every physical node that ran, looking through adaptive wrappers and
    * query stages; a reused exchange is skipped (its metrics belong to
    * the exchange it reuses, which is visited once). */
  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => planNodes(s.plan)
    case _: ReusedExchangeExec => Seq.empty
    case other => other +: (other.children ++ other.subqueries)
      .flatMap(planNodes)
  }

  private def family(node: String): Option[String] = {
    val n = node.toLowerCase
    if (n.contains("scan")) Some("scan")
    else if (n.contains("exchange")) Some("exchange")
    else if (n.contains("aggregate")) Some("aggregate")
    else if (n.contains("join") || n.contains("cartesian")) Some("join")
    else if (n.contains("generate")) Some("generate")
    else if (n.contains("window")) Some("window")
    else if (n == "sort") Some("sort")
    else None
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Counters per job group plus op-family totals per job group. */
  def dump(): Map[String, Any] = {
    val ops = scala.collection.mutable.Map.empty[String,
      scala.collection.mutable.Map[String, (Long, Double)]]
    opRecords.asScala.foreach { case (id, fam) =>
      val g = Option(execGroup.get(id)).getOrElse("-")
      val m = ops.getOrElseUpdate(g, scala.collection.mutable.Map.empty)
      fam.foreach { case (f, (r, ms)) =>
        val (r0, m0) = m.getOrElse(f, (0L, 0.0))
        m(f) = (r0 + r, m0 + ms)
      }
    }
    Map(
      "groups" -> groups.asScala.map { case (g, a) => g -> a.toMap }.toMap,
      "ops" -> ops.map { case (g, m) =>
        g -> m.map { case (f, (r, ms)) =>
          f -> Map("rows_out" -> r, "ms" -> ms) }.toMap }.toMap)
  }
}

object SparkTrace {
  final case class JobInfo(group: String, parent: Long, start: Long,
      pin: Boolean, site: String)
}
