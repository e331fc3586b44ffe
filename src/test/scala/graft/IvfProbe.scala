package graft

import org.apache.spark.sql.functions._

/** Dev-only: phase timing of the IVF top-k path at bench parallelism —
  * where do q_knn_ivf's ~3-4 s go (centroid build vs assignment expr
  * codegen vs join/topk)?
  * `sbt "Test/runMain graft.IvfProbe <sfDir> [reps]"`. */
object IvfProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args.lift(1).map(_.toInt).getOrElse(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Session.local(cpus.toInt)
    spark.sparkContext.setLogLevel(sys.env.getOrElse("PROBE_LOGLVL", "ERROR"))
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[ivf] $label: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    }
    (1 to reps).foreach { rep =>
      println(s"== rep $rep ==")
      val e = t("load+spread") {
        val d = graft.core.Tables.embeddings(spark, sfDir)
        d.count(); d
      }
      val centroids = t("ivfCentroids (seeds + 1 lloyd)") {
        graft.ops.Similarity.probeCentroids(e, "vec_id", "embedding", 16, 1)
      }
      t("corpus argmax assignment, LITERAL EXPR, count") {
        graft.ops.Similarity
          .probeAssignExpr(e, "vec_id", "embedding", centroids).count()
      }
      t("query ranked explode, LITERAL EXPR, count") {
        graft.ops.Similarity.probeQueryExpr(
          e.filter(col("vec_id") < 10), "vec_id", "embedding",
          centroids, 8).count()
      }
      val scored = t("scored join (corpus assign ⋈ query probes), count") {
        val c = graft.ops.Similarity
          .probeAssignExpr(e, "vec_id", "embedding", centroids)
        val q = broadcast(graft.ops.Similarity.probeQueryExpr(
          e.filter(col("vec_id") < 10), "vec_id", "embedding",
          centroids, 8))
        val s = c.join(q, Seq("__cid"))
          .filter(col("query_id") =!= col("neighbor_id"))
          .select(col("query_id"), col("neighbor_id"),
            graft.ops.Similarity.probeCosine(
              col("__qv"), col("__cv")).as("cosine"))
        s.count(); s
      }
      t("scored join count AGAIN (same frame)") { scored.count() }
      val n = scored.count()
      println(s"[ivf] scored rows: $n")
      if (sys.env.get("IVF_EXPLAIN").contains("1"))
        println(scored.queryExecution.executedPlan.toString.take(4000))
      t("TopKPerGroup over scored, count") {
        graft.plans.TopKPerGroup.topK(
          scored, Seq("query_id"), "cosine", "neighbor_id", 5).count()
      }
      t("full ivfTopK count") {
        graft.ops.Similarity.ivfTopK(
          e, e.filter(col("vec_id") < 10), "vec_id", "embedding",
          k = 5, numCentroids = 16, nProbe = 8).count()
      }
    }
    spark.stop()
  }
}
