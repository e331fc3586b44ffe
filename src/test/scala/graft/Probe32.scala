package graft

/** Dev-only job/stage/task profiler at BENCH-like core count (the
  * WithSpark probes run local[4], which hides per-partition scheduling
  * overhead that only bites at local[32]):
  * `sbt "Test/runMain graft.Probe32 <sfDir> <face,face> [reps]"`.
  * Session mirrors Bench (SPARK_GRAFT_CPUS, shuffle.partitions=cpus);
  * prints per-rep wall, job/stage/task counts. */
object Probe32 {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val faces = args(1).split(",").toSeq
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Session.local(cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    graft.queries.SimilarityQueries.warm(spark, sfDir)
    graft.queries.IndexQueries.warm(spark)
    graft.queries.TextQueries.warm(spark, sfDir)
    graft.queries.SourceQueries.warm(spark, sfDir)
    val verbose = sys.env.get("PROBE32_VERBOSE").contains("1")
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val stages = new java.util.concurrent.atomic.AtomicInteger()
    val tasks = new java.util.concurrent.atomic.AtomicInteger()
    val jobStartNs =
      new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet()
          if (verbose) {
            val site = Option(j.properties)
              .flatMap(p => Option(p.getProperty("callSite.short")))
              .getOrElse(j.stageInfos.lastOption.map(_.name).getOrElse("?"))
            val nTasks = j.stageInfos.map(_.numTasks).sum
            jobStartNs.put(j.jobId, (System.nanoTime(),
              s"$site [${j.stageInfos.size} stages/$nTasks tasks]")): Unit
          }
        }
        override def onJobEnd(
            j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          if (verbose) Option(jobStartNs.remove(j.jobId)).foreach {
            case (t0, site) =>
              println(f"[job] ${j.jobId}%4d ${(System.nanoTime() - t0) / 1e6}%8.1f ms  $site")
          }
        }
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted)
            : Unit = {
          stages.incrementAndGet(): Unit
        }
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          tasks.incrementAndGet(): Unit
        }
      })
    faces.foreach { face =>
      (1 to reps).foreach { r =>
        jobs.set(0); stages.set(0); tasks.set(0)
        val t0 = System.nanoTime()
        val n = SparkEntry.queries(face)(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300) // listener bus is async; let it drain
        println(f"[probe32] $face rep $r: $dt%.2f s, ${jobs.get()} jobs, " +
          s"${stages.get()} stages, ${tasks.get()} tasks, $n rows")
      }
    }
    spark.stop()
  }
}
