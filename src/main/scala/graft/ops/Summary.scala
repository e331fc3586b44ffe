package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Summary lattices: per-group countDistinct matrices over a complete
  * key universe (reference: indexes/Summary.scala:12-130).
  *
  * The reference builds the complete (group × category) universe with a
  * `crossJoin` guarded by `repartition(1)` on both sides (a Spark-3.1
  * planner workaround, Summary.scala:9,23-25) and merges per-entity
  * summaries with chained full-outer joins (Summary.scala:115-121).
  * Here: the universe sides are tiny dimension `distinct()`s, so we
  * `broadcast` them (no repartition hack, no shuffle), and the merge is
  * a left join of partial aggregates — equivalent semantics
  * (the full-join keys included every non-key column, making it a
  * de-dup union; SURVEY.md §2.3 J8), one exchange instead of six.
  */
object Summary {

  /** A construction-lazy local checkpoint: the lattice builders below
    * are documented (and PlanShapeSpec-pinned) to launch no Spark job
    * until the caller acts, so they cannot pin with the eager
    * `localCheckpoint()` every other operator uses. Planning happens
    * with AQE disabled — `localCheckpoint(eager = false)` is NOT lazy
    * under adaptive execution: `AdaptiveSparkPlanExec.execute()` would
    * materialize every intermediate query stage at construction. The
    * session conf flips for the duration of the (job-free) planning
    * call, which another driver thread planning concurrently in the
    * same session could observe. The rule that keeps this safe: a
    * lattice is built on the calling thread, before any concurrent
    * action starts ([[graft.core.ConcurrentActions]] runs actions on
    * frames built beforehand). Like every local checkpoint, the blocks
    * carry no lineage: executor loss fails the query instead of
    * recomputing it.
    */
  private def lazily(df: DataFrame): DataFrame = {
    val conf = df.sparkSession.conf
    val key = "spark.sql.adaptive.enabled"
    val prev = conf.get(key, "true")
    conf.set(key, "false")
    try df.localCheckpoint(eager = false)
    finally conf.set(key, prev)
  }

  /** countDistinct of `distinctCounts` per (groupKeys × category), with
    * zero-filled rows for categories absent in a group.
    *
    * Single fact scan: the (group × category) universe is derived from
    * the partial aggregate itself — every group and every category that
    * exists appears in `partial`, so projecting its key sides and
    * cross-joining reconstructs the same universe the reference builds
    * from two extra scans of the input (Summary.scala:15-25,33-39).
    * The partial is dimension-sized by construction (groups ×
    * categories present), so it is localCheckpointed once and feeds
    * all three consumers from cache. The checkpoint is LAZY
    * (`lazily` — plain `eager = false` still runs the shuffle map
    * stages under AQE): constructing the frame launches no job
    * (PlanShapeSpec pins this) — the partial materializes on first
    * action and is shared thereafter.
    */
  def lattice(
      facts: DataFrame,
      groupKeys: Seq[String],
      categoryCol: String,
      distinctCounts: Map[String, Column]): DataFrame = {
    val aggs = distinctCounts.toSeq.sortBy(_._1).map { case (as, c) =>
      countDistinct(c).as(as)
    }
    val partial = lazily(facts
      .groupBy((groupKeys :+ categoryCol).map(col): _*)
      .agg(aggs.head, aggs.tail: _*))
    val groups = partial.select(groupKeys.map(col): _*).distinct()
    val cats = partial.select(col(categoryCol)).distinct()
    val universe = groups.crossJoin(broadcast(cats))
    // the zero-fill join broadcasts the partial: it is dimension-sized
    // by construction, but rides a checkpointed RDD whose stats
    // Catalyst cannot see — without the hint this planned as a
    // sort-merge join (two exchanges + sorts over dimension rows)
    val joined = universe.join(
      broadcast(partial), groupKeys :+ categoryCol, "left")
    distinctCounts.keys.foldLeft(joined) { (df, as) =>
      df.withColumn(as, coalesce(col(as), lit(0L)))
    }
  }

  /** The un-checkpointed long-format partial behind [[latticeUnpivot]]
    * — exposed separately because the eager localCheckpoint hides the
    * fact scans from every downstream executed plan, so the
    * single-scan property must be pinned on THIS frame (PlanShapeSpec).
    */
  private[graft] def unpivotPartial(
      facts: DataFrame,
      groupKeys: Seq[String],
      fields: Seq[String],
      distinctCounts: Map[String, Column]): DataFrame = {
    require(fields.nonEmpty, "at least one field to unpivot")
    require(distinctCounts.nonEmpty, "at least one distinct count")
    val counts = distinctCounts.toSeq.sortBy(_._1)
    val long = facts
      .select(
        (groupKeys.map(col) ++
          counts.map { case (as, c) => c.as(s"__v_$as") } :+
          explode(array(fields.map(f =>
            struct(lit(f).as("kind"), col(f).cast("string").as("key")))
            : _*)).as("__kk")): _*)
      .select(
        (groupKeys.map(col) ++
          counts.map { case (as, _) => col(s"__v_$as") } ++
          Seq(col("__kk.kind").as("kind"), col("__kk.key").as("key"))): _*)
      .filter(col("key").isNotNull)
    val aggs = counts.map { case (as, _) =>
      countDistinct(col(s"__v_$as")).as(as)
    }
    long
      .groupBy((groupKeys ++ Seq("kind", "key")).map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Multi-field lattice from ONE fact scan (vs one [[lattice]] call
    * per field = one full scan of the fact per field): unpivot
    * `fields` into (kind, key) long rows with a single generator,
    * aggregate once, and zero-fill each kind's universe independently.
    * The universe is groups-of-kind ⋈ keys-of-kind — an equi-join on
    * `kind`, NOT a cross of all kinds × all keys — so the output is
    * row-for-row the union of per-field [[lattice]] results (with a
    * `kind` discriminator column). Keys are cast to string; null keys
    * are dropped before aggregation.
    *
    * The aggregated partial is lazily checkpointed (`lazily`) so
    * the groups/keys/zero-fill consumers share one computation
    * instead of re-running the fact scan three times, and
    * constructing the frame costs nothing until an action runs.
    */
  def latticeUnpivot(
      facts: DataFrame,
      groupKeys: Seq[String],
      fields: Seq[String],
      distinctCounts: Map[String, Column],
      extraKeys: Option[DataFrame] = None): DataFrame = {
    val partial = lazily(
      unpivotPartial(facts, groupKeys, fields, distinctCounts))
    val groups = partial.select((groupKeys :+ "kind").map(col): _*).distinct()
    // extraKeys widens the zero-fill universe beyond what these facts
    // contain — the incremental-refresh hook: a partial rebuild must
    // zero-fill against the full corpus's (kind, key) dimension, which
    // rides in from the prior snapshot (Indexes.refreshStudyIndex)
    val derived = partial.select(col("kind"), col("key")).distinct()
    val cats = extraKeys.fold(derived)(e =>
      derived.unionByName(e.select(col("kind"), col("key"))).distinct())
    val universe = groups.join(broadcast(cats), Seq("kind"))
    // broadcast the dimension-sized partial — same rationale as
    // [[lattice]]'s zero-fill join
    val joined = universe.join(
      broadcast(partial), groupKeys ++ Seq("kind", "key"), "left")
    distinctCounts.keys.foldLeft(joined) { (df, as) =>
      df.withColumn(as, coalesce(col(as), lit(0L)))
    }
  }

  /** Existence flag per group: `count > 0` as boolean (reference:
    * Summary.scala:141-145 `countDistinct("*")` + toBoolean — rewritten
    * per SURVEY §2.4 A4 as a cheaper count-gt-0).
    */
  def existenceFlag(
      facts: DataFrame,
      groupKeys: Seq[String],
      as: String): DataFrame =
    facts
      .groupBy(groupKeys.map(col): _*)
      .agg(max(lit(true)).as(as)) // any surviving group exists by definition
}
