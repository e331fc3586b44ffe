package graft

/** Dev-only single-query timer: `runMain graft.QTime <sfDir> <q> [reps]`
  * — times `count()` per rep after one warmup, printing each rep. The
  * full-registry picture comes from [[Bench]]; this isolates one query
  * from inter-query noise when tuning it.
  */
object QTime {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Session.local(cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    graft.core.Tables.all.foreach(t =>
      try graft.core.Tables.load(spark, sfDir, t).count() catch { case _: Throwable => })
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      fn(spark, sfDir).count() // warmup
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[qtime] $name reps=${times.map(t => f"$t%.2f").mkString(",")} " +
        f"min=${times.min}%.2f")
    }
    spark.stop()
  }
}
