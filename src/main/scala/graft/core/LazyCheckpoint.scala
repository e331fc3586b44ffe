package graft.core

import org.apache.spark.sql.DataFrame

/** Shared-result pin for a frame with more than one downstream
  * consumer: a local checkpoint that materializes the subtree once so
  * every consumer reads executor-local blocks instead of re-running
  * the (often expensive) upstream pipeline.
  *
  * `apply` is EAGER as of round 18 (it was construction-lazy before).
  * Two measured reasons:
  *
  *  - a LAZY checkpoint consumed by several AQE stage futures races:
  *    independent downstream stages materialize concurrently, each
  *    computes the not-yet-stored checkpoint partitions, and the
  *    expensive subtree runs 2-4× (q_dbscan's candidate-pair frame
  *    showed four concurrent ~1-1.5 s jobs computing the same probe
  *    join at 32 cores). Eager materialization stores the blocks
  *    before any consumer plans, so the subtree runs exactly once.
  *  - laziness forced AQE OFF for the pinned subtree (a lazy
  *    `localCheckpoint(eager = false)` under AQE still materializes
  *    every intermediate stage at construction, defeating the point),
  *    which cost the subtree adaptive coalescing AND skew handling:
  *    every internal exchange ran at static
  *    `spark.sql.shuffle.partitions` — 32 near-empty tasks per stage
  *    on dim-sized frames locally, and no skew splitting at scale.
  *    Eager pins run as ordinary AQE queries.
  *
  * Every engine call site constructs the pin inside the operator that
  * immediately consumes it (the driver's Bench/Verify execute each
  * face as soon as it is built), so eagerness moves work a few
  * milliseconds earlier within the same timed region — results and
  * plans (`ExistingRDD` pins) are unchanged.
  *
  * Trade-offs carried over unchanged: local checkpoints store blocks
  * on executors WITHOUT lineage — executor loss mid-query fails the
  * query instead of recomputing (a batch retry re-runs the stage; an
  * always-on deployment should swap in `persist` or a reliable
  * `checkpoint()`). Blocks are reclaimed by the ContextCleaner once
  * the frame is unreachable.
  */
object LazyCheckpoint {
  def apply(df: DataFrame): DataFrame = df.localCheckpoint()

  /** The pre-round-18 construction-lazy variant, for the one contract
    * that REQUIRES job-free construction: [[graft.ops.Summary]]'s
    * lattice builders are documented (and PlanShapeSpec-pinned) to
    * launch no Spark job until the caller acts. Planning happens with
    * AQE disabled — `localCheckpoint(eager = false)` is NOT lazy under
    * adaptive execution: `AdaptiveSparkPlanExec.execute()` would
    * materialize every intermediate query stage at construction.
    * The session conf flips for the duration of the (job-free)
    * planning call, which another driver thread planning concurrently
    * in the same session could observe. The rule that keeps this safe:
    * `lazily` frames are built on the calling thread, before any
    * concurrent action starts ([[ConcurrentActions]] runs actions on
    * frames built beforehand).
    */
  def lazily(df: DataFrame): DataFrame = {
    val conf = df.sparkSession.conf
    val key = "spark.sql.adaptive.enabled"
    val prev = conf.get(key, "true")
    conf.set(key, "false")
    try df.localCheckpoint(eager = false)
    finally conf.set(key, prev)
  }
}
