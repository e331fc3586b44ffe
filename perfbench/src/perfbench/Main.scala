package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.perfbench.SparkShim

/** Largest heap occupancy seen right after a garbage collection while
  * `active`: the live data the program holds, not GC timing. */
final class HeapWatch {
  @volatile var active = false
  @volatile var peakBytes = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val listener: NotificationListener = (n: Notification, _: AnyRef) =>
    if (active && n.getType ==
        GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(
        n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      peakBytes = math.max(peakBytes, used)
    }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }
}

/** The benchmark inside one JVM. Writes its raw measurements to
  * `--result` as JSON; run.py turns them into the reported metrics.
  *
  * Untraced, a pipeline workload builds the indexes exactly once: a
  * user runs `graft.Main process` in a fresh JVM each time and pays
  * the cold start (class loading, JIT, Spark codegen) on every build,
  * so the benchmark measures that build, one JVM per sample.
  * refresh_study serves refreshes from one long-lived session, so it
  * sets up, warms up, and then times refreshes back to back for the
  * requested seconds.
  *
  * Traced, every workload runs the same passes over its corpus, so
  * every layer is measured on every workload: one traced pipeline
  * build, the layer probes, then the store set-up and one traced
  * refresh. */
object Main {
  final case class Opts(
      workload: String, seed: Long, corpus: String, manifest: String,
      work: String, seconds: Double, trace: Boolean, cores: Int,
      result: String)

  private val Workloads = Set("pipeline_wide", "pipeline_deep_ontology",
    "refresh_study")
  // the refresh loop times at least this many refreshes
  private val MinRefreshes = 2

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val o = Opts(need("workload"), need("seed").toLong, need("corpus"),
      need("manifest"), need("work"), need("seconds").toDouble,
      need("trace") == "1", need("cores").toInt, need("result"))
    require(Workloads(o.workload), s"unknown workload ${o.workload}")
    o
  }

  /** The session graft.Main builds, with scratch space inside `work`. */
  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The refresh target: the study of median size. Study sizes by
    * rank are fixed per corpus shape and the seed decides which study
    * holds each rank, so every seed refreshes a study of the same size. */
  def pickStudy(m: Manifest): String =
    m.studies.sortBy(s => (-m.donorsPerStudy(s), s)).apply(m.studies.size / 2)

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val m = Manifest.read(o.manifest)
    val errors = ArrayBuffer[String]()
    var attempted, failed = 0
    val latencies = ArrayBuffer[Double]()
    val metrics = mutable.LinkedHashMap[String, Double]()
    val result = new java.util.LinkedHashMap[String, AnyRef]()
    def sinceJvmStart: Double =
      (System.currentTimeMillis() -
        ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val spark = session(o)
    val tr = new Tracer(spark)
    val pipeline = new PipelineBuild(spark, o.corpus, s"${o.work}/pipeline", m)
    val refresh = new StudyRefresh(spark, o.corpus, s"${o.work}/refresh", m,
      pickStudy(m))
    val op: Operation = if (o.workload == "refresh_study") refresh else pipeline

    /** One checked operation; its latency in seconds, or None when it
      * threw. An operation that completes but fails the output gate
      * keeps its latency and counts as failed. */
    def once(op: Operation): Option[Double] = {
      attempted += 1
      System.gc()
      val t0 = System.nanoTime()
      val thrown =
        try { op.run(tr); Nil }
        catch { case NonFatal(e) => Seq(s"${e.getClass.getName}: ${e.getMessage}") }
      val dt = (System.nanoTime() - t0) / 1e9
      val problems = if (thrown.isEmpty) op.check() else thrown
      System.err.println(f"[perfbench] ${op.getClass.getSimpleName}: $dt%.3f s" +
        (if (tr.enabled) " (traced)" else "") +
        problems.map("\n[perfbench]   " + _).mkString)
      if (problems.nonEmpty) {
        failed += 1
        errors ++= problems
      }
      if (thrown.isEmpty) Some(dt) else None
    }
    def setUpRefresh(): Unit = {
      val problems = refresh.setup()
      if (problems.nonEmpty) { failed += 1; errors ++= problems }
    }

    if (!o.trace && (op eq pipeline)) {
      result.put("setup_s", Double.box(sinceJvmStart))
      once(pipeline).foreach(latencies += _)
    } else if (!o.trace) {
      setUpRefresh()
      once(refresh) // warm-up
      result.put("setup_s", Double.box(sinceJvmStart))
      val t0 = System.nanoTime()
      var n = 0
      while (n < MinRefreshes || (System.nanoTime() - t0) / 1e9 < o.seconds) {
        n += 1
        once(refresh).foreach(latencies += _)
      }
    } else {
      val counters = new SparkCounters
      val sc = spark.sparkContext
      def traced[A](body: => A): A = {
        sc.addSparkListener(counters)
        tr.enabled = true
        try body
        finally {
          tr.enabled = false
          SparkShim.drainListenerBus(sc)
          sc.removeSparkListener(counters)
        }
      }
      // a traced run does each operation once, so each span name
      // below has exactly one span
      def one(name: String): Span = tr.named(name) match {
        case Seq(s) => s
        case ss => sys.error(s"want one $name span, got ${ss.size}")
      }

      // one cold pipeline build, as the untraced pipeline workloads time it
      val heap = new HeapWatch
      heap.active = true
      traced(once(pipeline)).foreach(metrics("trace.pipeline_traced_s") = _)
      heap.active = false
      metrics("jvm.peak_heap_mb") = heap.peakBytes / 1048576.0
      metrics("trace.pipeline_self_s") = tr.selfSeconds(one("op.pipeline"))
      for (stage <- Seq("etl.preprocess", "etl.index_write")) {
        metrics(s"${stage}_s") = one(stage).seconds
        metrics(s"$stage.jobs") = counters.acc(stage).jobs.toDouble
      }
      metrics("etl.index_write.tsv_bytes_read") =
        counters.csvBytes("etl.index_write").toDouble

      // the layer probes, in their own pass
      metrics ++= traced(Probes.run(spark, o.corpus,
        s"${o.work}/pipeline/stage1", s"${o.work}/probe", tr))
      metrics("etl.indexes.jobs") = counters.acc("probe.indexes").jobs.toDouble

      // the refresh path: the first refresh after the store is built
      setUpRefresh()
      traced(once(refresh)).foreach(metrics("trace.refresh_traced_s") = _)
      metrics("etl.refresh.rebuild_s") = one("etl.refresh.rebuild").seconds
      metrics("etl.refresh.readback_s") = one("etl.refresh.readback").seconds
      metrics("etl.refresh.jobs") = (counters.acc("etl.refresh.rebuild").jobs +
        counters.acc("etl.refresh.readback").jobs).toDouble

      for (span <- Seq("etl.preprocess", "etl.index_write",
          "etl.refresh.rebuild", "etl.refresh.readback")) {
        val a = counters.acc(span)
        val cpu = a.cpuNs / 1e9
        Seq(
          "jobs" -> a.jobs.toDouble, "stages" -> a.stages.toDouble,
          "tasks" -> a.tasks.toDouble, "executor_cpu_s" -> cpu,
          "executor_run_s" -> a.runMs / 1e3, "gc_s" -> a.gcMs / 1e3,
          "shuffle_write_bytes" -> a.shuffleWrite.toDouble,
          "shuffle_read_bytes" -> a.shuffleRead.toDouble,
          "spill_bytes" -> a.spill.toDouble, "input_bytes" -> a.input.toDouble,
          "driver_only_s" -> counters.driverOnlySeconds(one(span)),
          "peak_exec_mem_mb" -> a.peakExecMem / 1048576.0,
          "cpu_utilization" -> cpu / (one(span).seconds * o.cores))
          .foreach { case (k, v) => metrics(s"spark.$span.$k") = v }
      }

      result.put("spans", tr.spans.map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startMs, "seconds" -> s.seconds,
        "self_seconds" -> tr.selfSeconds(s)).asJava).asJava)
    }
    spark.stop()

    result.put("op", if (op eq refresh) "refresh" else "pipeline")
    result.put("attempted", Int.box(attempted))
    result.put("failed", Int.box(failed))
    result.put("errors", errors.distinct.take(20).asJava)
    result.put("latencies_s", latencies.map(Double.box).asJava)
    result.put("input_rows", Long.box(op.inputRows))
    result.put("input_bytes", Long.box(op.inputBytes))
    result.put("output_bytes", Long.box(op.outputBytes))
    result.put("digest", op.contentDigest)
    result.put("study", refresh.study)
    result.put("metrics", metrics.map { case (k, v) => k -> Double.box(v) }.asJava)
    new ObjectMapper().writerWithDefaultPrettyPrinter()
      .writeValue(new File(o.result), result)
  }
}
