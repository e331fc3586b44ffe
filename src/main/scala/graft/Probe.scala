package graft

import graft.core.Session
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanLike, SQLExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import scala.jdk.CollectionConverters._
import scala.util.Try

/** Dev probe over the registry faces whose names match a regex (the
  * convention of Verify's third argument), in a session at Bench's
  * parallelism (`SPARK_GRAFT_CPUS`, default 32) after Bench's warm-up:
  * {{{
  *   sbt "runMain graft.Probe time <sfDir> <regex> [reps]"
  *   sbt "runMain graft.Probe plan <sfDir> <regex> [outDir]"
  * }}}
  * `time` runs each face once unmeasured, then `reps` times (default 3)
  * through `count()`. Each rep prints its wall time, jobs, stages, tasks
  * and rows, then one line per job (id, ms, call site, stages, tasks);
  * a last line per face gives the minimum wall time. A rep's jobs are
  * the jobs of a job group set for that rep alone.
  *
  * `plan` executes each face (an unexecuted adaptive plan prints only
  * its initial plan), then prints counts of the executed plan's nodes
  * by class and the plan itself, to stdout or to `<outDir>/<face>.txt`.
  *
  * A face that throws is reported on stderr; the others still run, and
  * the probe exits non-zero.
  */
object Probe {
  final case class Job(id: Int, ms: Long, site: String, stages: Int, tasks: Int)

  final case class Rep(seconds: Double, rows: Long, jobs: Seq[Job]) {
    def stages: Int = jobs.map(_.stages).sum
    def tasks: Int = jobs.map(_.tasks).sum
  }

  final case class Timing(warm: Rep, reps: Seq[Rep])

  /** Executed-plan node counts: broadcast hash joins, sort-merge joins,
    * shuffle exchanges, file scans, file scans with data filters pushed
    * to the reader, and whole-stage codegen subtrees. */
  final case class PlanCounts(
      bhj: Int, smj: Int, exchanges: Int, scans: Int, pushed: Int,
      codegen: Int)

  final case class Plan(counts: PlanCounts, text: String)

  /** Times each face: one unmeasured warm rep, then `reps` measured ones.
    * An unknown name or a face that throws gives a Left. */
  def time(spark: SparkSession, sfDir: String, faces: Seq[String],
      reps: Int): Seq[(String, Either[Throwable, Timing])] = {
    val log = new JobLog
    val sc = spark.sparkContext
    sc.addSparkListener(log)
    try faces.map { face =>
      face -> Try {
        val fn = lookup(face)
        def rep(tag: String): Rep = {
          val group = s"graft.Probe/$face/$tag"
          sc.setJobGroup(group, group)
          val t0 = System.nanoTime()
          val rows = try fn(spark, sfDir).count() finally sc.clearJobGroup()
          val seconds = (System.nanoTime() - t0) / 1e9
          Rep(seconds, rows, log.jobsOf(sc, group))
        }
        Timing(rep("warm"), (1 to reps).map(r => rep(r.toString)))
      }.toEither
    }
    finally sc.removeSparkListener(log)
  }

  /** Executes the face under its own SQL execution id, as a Dataset
    * action does, then reads its executed plan. */
  def plan(spark: SparkSession, sfDir: String,
      face: String): Either[Throwable, Plan] = Try {
    val qe = lookup(face)(spark, sfDir).queryExecution
    SQLExecution.withNewExecutionId(qe, Some(s"graft.Probe plan $face"))(
      qe.toRdd.count())
    Plan(counts(qe.executedPlan), qe.executedPlan.toString)
  }.toEither

  private object Nodes extends AdaptiveSparkPlanHelper

  private def counts(plan: SparkPlan): PlanCounts = {
    val nodes = Nodes.collectWithSubqueries(plan) { case p => p }
    val scans = nodes.collect { case s: FileSourceScanLike => s }
    PlanCounts(
      bhj = nodes.count(_.isInstanceOf[BroadcastHashJoinExec]),
      smj = nodes.count(_.isInstanceOf[SortMergeJoinExec]),
      exchanges = nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
      scans = scans.size,
      pushed = scans.count(_.dataFilters.nonEmpty),
      codegen = nodes.count(_.isInstanceOf[WholeStageCodegenExec]))
  }

  private def lookup(face: String) = SparkEntry.queries.getOrElse(face,
    throw new NoSuchElementException(s"no face named $face"))

  /** Per-job records of the listener bus, keyed by the job group each
    * job started in. A stage counts toward the first job that lists it. */
  private final class JobLog extends SparkListener {
    private final class Live(val group: String, val site: String,
        val start: Long) {
      @volatile var end: Long = -1L
      val stages = new AtomicInteger
      val tasks = new AtomicInteger
    }
    private val jobs = new ConcurrentHashMap[Int, Live]()
    private val stageJob = new ConcurrentHashMap[Int, Int]()

    override def onJobStart(j: SparkListenerJobStart): Unit = {
      def prop(k: String) =
        Option(j.properties).flatMap(p => Option(p.getProperty(k)))
      val site = prop("callSite.short")
        .getOrElse(j.stageInfos.lastOption.map(_.name).getOrElse("?"))
      j.stageIds.foreach(stageJob.putIfAbsent(_, j.jobId))
      jobs.put(j.jobId,
        new Live(prop("spark.jobGroup.id").orNull, site, j.time)): Unit
    }

    override def onJobEnd(j: SparkListenerJobEnd): Unit = {
      Option(jobs.get(j.jobId)).foreach(_.end = j.time)
      synchronized(notifyAll())
    }

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      ofStage(s.stageInfo.stageId).foreach(_.stages.incrementAndGet())

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      ofStage(t.stageId).foreach(_.tasks.incrementAndGet())

    private def ofStage(stage: Int): Option[Live] =
      Option(stageJob.get(stage)).flatMap(id => Option(jobs.get(id)))

    private def of(group: String): Seq[(Int, Live)] =
      jobs.asScala.toSeq.filter(_._2.group == group).sortBy(_._1)

    /** The jobs of `group`, once each has reported its end. The bus
      * delivers events in order, so when it delivers the end of a fence
      * job submitted after the group's last action, it has delivered the
      * start of every job the group started. */
    def jobsOf(sc: SparkContext, group: String): Seq[Job] = {
      val fence = s"$group/fence"
      sc.setJobGroup(fence, fence)
      try sc.parallelize(Seq(0), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000000000L
      def done = of(fence).exists(_._2.end >= 0) &&
        of(group).forall(_._2.end >= 0)
      synchronized {
        while (!done) {
          if (System.nanoTime() > deadline)
            throw new IllegalStateException(
              s"jobs of $group did not report their end within 60 s")
          wait(100L)
        }
      }
      of(fence).foreach { case (id, _) => jobs.remove(id) }
      of(group).map { case (id, l) =>
        jobs.remove(id)
        Job(id, l.end - l.start, l.site, l.stages.get, l.tasks.get)
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val usage = "usage: graft.Probe time <sfDir> <regex> [reps] | " +
      "plan <sfDir> <regex> [outDir]"
    require(args.length >= 3 && Set("time", "plan")(args(0)), usage)
    val Array(mode, sfDir, regex) = args.take(3)
    val faces = SparkEntry.queries.keys.toSeq.sorted
      .filter(regex.r.findFirstIn(_).isDefined)
    if (faces.isEmpty) {
      System.err.println(s"[probe] no face matches $regex")
      sys.exit(2)
    }
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    Bench.warm(spark, sfDir)
    val failed = mode match {
      case "time" =>
        val reps = args.lift(3).map(_.toInt).getOrElse(3)
        require(reps >= 1, usage)
        time(spark, sfDir, faces, reps).count {
          case (face, Right(t)) =>
            t.reps.zipWithIndex.foreach { case (r, i) =>
              println(f"[probe] $face rep ${i + 1}: ${r.seconds}%.2f s, " +
                s"${r.jobs.size} jobs, ${r.stages} stages, ${r.tasks} tasks, " +
                s"${r.rows} rows")
              r.jobs.foreach(j => println(f"[job] ${j.id}%5d ${j.ms}%7d ms  " +
                s"${j.site} [${j.stages} stages/${j.tasks} tasks]"))
            }
            println(f"[probe] $face min ${t.reps.map(_.seconds).min}%.2f s " +
              s"over ${t.reps.size} reps")
            false
          case (face, Left(e)) => report(face, e)
        }
      case "plan" =>
        val outDir = args.lift(3)
        outDir.foreach(new java.io.File(_).mkdirs())
        faces.count { face =>
          plan(spark, sfDir, face) match {
            case Right(p) =>
              val c = p.counts
              println(s"[plan] $face bhj=${c.bhj} smj=${c.smj} " +
                s"exch=${c.exchanges} scans=${c.scans} pushed=${c.pushed} " +
                s"wsc=${c.codegen}")
              outDir match {
                case Some(d) => java.nio.file.Files.writeString(
                  java.nio.file.Paths.get(d, s"$face.txt"), p.text)
                case None => println(p.text)
              }
              false
            case Left(e) => report(face, e)
          }
        }
    }
    spark.stop()
    if (failed > 0) {
      System.err.println(s"[probe] $failed face(s) failed")
      sys.exit(1)
    }
  }

  private def report(face: String, e: Throwable): Boolean = {
    System.err.println(s"[probe] $face failed: $e")
    true
  }
}
