package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.SparkShim

/** One timed interval around a call into a layer. `parent` is the id
  * of the enclosing span, -1 for a root. Wall-clock milliseconds sit
  * beside the monotonic nanos so spans line up with Spark's job
  * event times. */
final case class Span(
    id: Int, parent: Int, name: String,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans in memory. While `enabled`, every span runs its Spark
  * jobs under a job group named after the span, which
  * [[SparkCounters]] attributes to it; a disabled tracer only runs
  * the body, so untraced operations pay nothing. */
final class Tracer(spark: SparkSession) {
  var enabled = false
  val spans = ArrayBuffer[Span]()
  private var open = List.empty[Int]

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
      val id = spans.size
      val startMs = System.currentTimeMillis()
      val startNs = System.nanoTime()
      spans += Span(id, open.headOption.getOrElse(-1), name, startNs, startNs,
        startMs, startMs)
      open = id :: open
      sc.setJobGroup(name, name)
      try body
      finally {
        val endNs = System.nanoTime()
        spans(id) = spans(id).copy(endNs = endNs,
          endMs = System.currentTimeMillis())
        open = open.tail
        if (prevGroup == null) sc.clearJobGroup()
        else sc.setJobGroup(prevGroup, prevGroup)
      }
    }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** A span's duration minus the part of it its child spans cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum
}

/** Spark counters per job group, i.e. per traced span name: jobs,
  * stages, task metrics, the job intervals (to derive driver-only
  * time), and the CSV bytes each SQL execution scanned. Listener
  * callbacks run on Spark's listener bus; read the totals only after
  * [[SparkShim.drainListenerBus]] has drained it. */
final class SparkCounters extends SparkListener {
  final class Acc {
    var jobs, stages, tasks = 0L
    var cpuNs, runMs, gcMs, shuffleWrite, shuffleRead, spill, input = 0L
    var peakExecMem = 0L
    val jobIntervals = ArrayBuffer[(Long, Long)]()
  }
  private val groups = mutable.Map[String, Acc]()
  private val stageGroup = mutable.Map[Int, String]()
  private val runningJobs = mutable.Map[Int, (String, Long)]()
  private val execGroup = mutable.Map[Long, String]()
  // (group, (scan metric id, bytes)) for every traced SQL execution
  private val groupScans = ArrayBuffer[(String, Seq[(Long, Long)])]()

  def acc(group: String): Acc = synchronized(groups.getOrElseUpdate(group, new Acc))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        acc(g).jobs += 1
        e.stageIds.foreach(stageGroup(_) = g)
        runningJobs(e.jobId) = (g, e.time)
      }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    runningJobs.remove(e.jobId).foreach { case (g, t) =>
      acc(g).jobIntervals += ((t, e.time)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageGroup.get(e.stageInfo.stageId).foreach(acc(_).stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val a = acc(g)
      a.tasks += 1
      a.cpuNs += m.executorCpuTime
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.diskBytesSpilled
      a.peakExecMem = math.max(a.peakExecMem, m.peakExecutionMemory)
      a.input += m.inputMetrics.bytesRead
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized(s.jobGroupId.foreach(execGroup(s.executionId) = _))
    case end: SparkListenerSQLExecutionEnd =>
      for (g <- synchronized(execGroup.get(end.executionId));
           qe <- SparkShim.queryExecution(end)) {
        val scans = csvScans(qe.executedPlan)
        synchronized(groupScans += g -> scans)
      }
    case _ =>
  }

  /** Bytes of CSV input the group's queries scanned. A scan inside a
    * persisted frame's plan is shared by every query that reads the
    * frame but runs once, so scans count once per metric id. */
  def csvBytes(group: String): Long = synchronized {
    groupScans.filter(_._1 == group).flatMap(_._2).toMap.values.sum
  }

  /** Wall time of `span` during which none of its group's jobs ran. */
  def driverOnlySeconds(span: Span): Double = synchronized {
    val clipped = groups.get(span.name).toSeq.flatMap(_.jobIntervals)
      .map { case (a, b) => (math.max(a, span.startMs), math.min(b, span.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var reach = span.startMs
    clipped.foreach { case (a, b) =>
      if (b > reach) { covered += b - math.max(a, reach); reach = b }
    }
    math.max(0.0, span.seconds - covered / 1e3)
  }

  private def csvScans(plan: SparkPlan): Seq[(Long, Long)] = {
    val found = ArrayBuffer[(Long, Long)]()
    def walk(p: SparkPlan): Unit = {
      p match {
        case f: FileSourceScanExec if f.relation.fileFormat.isInstanceOf[CSVFileFormat] =>
          f.metrics.get("filesSize").foreach(m => found += m.id -> m.value)
        case _ =>
      }
      // adaptive plans, query stages, reused exchanges and persisted
      // frames hold the executed nodes outside `children`; inner
      // children carry command plans and subqueries
      (p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case r: ReusedExchangeExec => Seq(r.child)
        case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
        case other => other.children ++
          other.innerChildren.collect { case c: SparkPlan => c }
      }).foreach(walk)
    }
    walk(plan)
    found.toSeq
  }
}
