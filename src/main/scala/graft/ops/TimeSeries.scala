package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Time-series regularization: put a ragged event stream onto a
  * fixed-grain per-key timeline (resample), then carry the last
  * observation forward across the empty buckets.
  *
  * Not in the reference's inventory (its `events`-style streams stop at
  * windowed aggregation — SURVEY.md §2.8); a feature/metrics pipeline
  * needs the dense grid: model features join against "the value as of
  * hour H" for EVERY hour, not just hours that happened to see events.
  *
  * Scale shape (100 TB): the fact table is touched exactly once, by the
  * (key, bucket) aggregation — everything after operates on the
  * bucket-grain aggregate, which is smaller by the events-per-bucket
  * ratio. The spine derives from a key-grain (lo, hi) aggregate and
  * explodes map-side (`sequence`), so no driver ever sees a timeline.
  * Per-key spine length = key's active range / grain — document the
  * grain choice: a key active for a year at 1-minute grain is 525 600
  * rows, all in one window partition. The forward-fill window runs
  * partitioned by key with a running frame, so Spark's streaming window
  * evaluator never buffers more than one bucket row.
  */
object TimeSeries {

  /** Dense per-key fixed-grain timeline with forward fill.
    *
    * @param events   input frame
    * @param key      partition key column name (series identity)
    * @param ts       event-time column (timestamp)
    * @param valueAgg aggregation computing each bucket's observed value
    *                 (e.g. `sum(col("value").cast("decimal(18,2)"))`);
    *                 deterministic aggregates only — float sums drift
    *                 under partition order, route money through decimal
    * @param truncUnit bucket grain as a `date_trunc` unit
    *                 ("minute" | "hour" | "day" | "week" | ...); the
    *                 spine's step interval is DERIVED from it (one
    *                 grain parameter — a caller-supplied step coarser
    *                 than the grain would build a spine that misses
    *                 observed buckets, and the left join would then
    *                 silently drop those observations; a finer one
    *                 would fabricate sub-grain gap rows)
    * @return (key, bucket, value, filled, observed): `value` is the
    *         bucket's own aggregate (null in gaps), `filled` carries
    *         the last non-null value forward (null until the key's
    *         first observation — leading edges are NOT back-filled),
    *         `observed` marks real vs gap rows
    */
  /** Spine step per trunc grain: `date_trunc(u, lo)` is always on the
    * grain's grid, so stepping by exactly one grain keeps every spine
    * point a valid bucket value (week = 7 days from a Monday-aligned
    * lo; quarter = 3 months from a quarter-start lo). Deriving this
    * here (instead of taking a second caller parameter) makes a
    * grain/step mismatch unrepresentable. */
  private val stepFor: Map[String, String] = Map(
    "year" -> "INTERVAL 1 YEAR", "quarter" -> "INTERVAL 3 MONTH",
    "month" -> "INTERVAL 1 MONTH", "week" -> "INTERVAL 7 DAY",
    "day" -> "INTERVAL 1 DAY", "hour" -> "INTERVAL 1 HOUR",
    "minute" -> "INTERVAL 1 MINUTE", "second" -> "INTERVAL 1 SECOND")

  def gapFill(
      events: DataFrame,
      key: String,
      ts: String,
      valueAgg: Column,
      truncUnit: String = "hour"): DataFrame = {
    require(events.columns.contains(key), s"missing key column '$key'")
    require(events.columns.contains(ts), s"missing time column '$ts'")
    // date_trunc silently yields null on a bogus unit — fail loudly at
    // the driver instead of emitting an all-null bucket column
    require(stepFor.contains(truncUnit.toLowerCase),
      s"unsupported trunc unit '$truncUnit' (one of ${stepFor.keySet})")
    val step = stepFor(truncUnit.toLowerCase)
    require(!Seq("bucket", "value", "filled", "observed").contains(key),
      s"key column '$key' collides with a gapFill output column")
    // one fact-table pass: bucket-grain aggregate. Checkpointed
    // because BOTH the spine (span aggregate) and the left join read
    // it — unchecked, each consumer re-scans the fact table (measured;
    // PlanShapeSpec pins the single scan). The frame is bucket-grain:
    // smaller than the input by the events-per-bucket ratio.
    val perBucket = events
      .groupBy(col(key), date_trunc(truncUnit, col(ts)).as("bucket"))
      .agg(valueAgg.as("value")).localCheckpoint()
    // key-grain span, exploded into the dense spine map-side
    val spine = perBucket
      .groupBy(col(key))
      .agg(min(col("bucket")).as("__lo"), max(col("bucket")).as("__hi"))
      .select(col(key),
        explode(sequence(col("__lo"), col("__hi"), expr(step)))
          .as("bucket"))
    val w = Window.partitionBy(key).orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine
      .join(perBucket, Seq(key, "bucket"), "left")
      .select(
        col(key), col("bucket"),
        col("value"),
        last(col("value"), ignoreNulls = true).over(w).as("filled"),
        col("value").isNotNull.as("observed"))
  }

  /** LINEAR-interpolation gap fill — the numeric companion to
    * [[gapFill]]'s carry-forward: gaps between two observations take
    * the straight line between them (sensor/metric series where LOCF
    * fabricates plateaus). Because the spine is a UNIFORM grid, the
    * interpolation weights are spine-row OFFSETS — exact integers —
    * so with an integral `valueAgg` (cents grid) the interpolated
    * value is the exact rational
    * `(vp·(rn_next−rn_prev) + (vn−vp)·(rn−rn_prev)) / (rn_next−rn_prev)`
    * and the one rounded division runs on identical operands in both
    * engines. Leading and trailing edges (no observation on one side)
    * stay NULL — interpolation only happens BETWEEN observations,
    * extrapolation is the caller's explicit decision.
    *
    * Scale shape: [[gapFill]]'s one fact pass + spine, plus three
    * ordered windows over each key's spine run (row index, last-
    * non-null backward, first-non-null forward) sharing one
    * partitioning — a single exchange.
    */
  def gapFillLinear(
      events: DataFrame,
      key: String,
      ts: String,
      valueAgg: Column,
      truncUnit: String = "hour"): DataFrame = {
    val base = gapFill(events, key, ts, valueAgg, truncUnit)
      .drop("filled")
    val wAll = Window.partitionBy(key).orderBy("bucket")
    val wBack = wAll.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wFwd = wAll.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val rn = row_number().over(wAll)
    val obsRn = when(col("value").isNotNull, col("__rn"))
    base
      .withColumn("__rn", rn)
      .withColumn("__pv", last(col("value"), ignoreNulls = true).over(wBack))
      .withColumn("__pr", last(obsRn, ignoreNulls = true).over(wBack))
      .withColumn("__nv", first(col("value"), ignoreNulls = true).over(wFwd))
      .withColumn("__nr", first(obsRn, ignoreNulls = true).over(wFwd))
      .withColumn("interp",
        when(col("observed"), col("value").cast("double"))
          .when(col("__pv").isNotNull && col("__nv").isNotNull,
            round(
              (col("__pv") * (col("__nr") - col("__pr")) +
                (col("__nv") - col("__pv")) * (col("__rn") - col("__pr")))
                .cast("double") / (col("__nr") - col("__pr")), 6)))
      .select(col(key), col("bucket"), col("value"), col("interp"),
        col("observed"))
  }

  /** Batch sessionization: split each key's event stream wherever the
    * gap to the previous event exceeds `gapSeconds`, and aggregate the
    * runs into session rows — the batch sibling of the engine's
    * streaming `session_window`/`mapGroupsWithState` faces
    * (`streaming/EventStream.scala`), for backfills and historical
    * replays where the corpus is already at rest.
    *
    * Shape: ONE shuffle, on the key. Both windows (the lag probe and
    * the running boundary sum) and the final groupBy share the same
    * (key) partitioning, so Catalyst plans a single exchange and the
    * session aggregation is partition-local. Per-task memory is one
    * window row at a time (running frame), never a buffered session.
    * At 100 TB the only knob that matters is key cardinality — a
    * single hot key serializes its own timeline (inherent to the
    * semantics: session boundaries are a sequential scan of that
    * key's history).
    *
    * Determinism: ordering ties on `tsCol` are broken by `idCol`; a
    * tie's gap is 0 ≤ gapSeconds, so boundaries — and therefore every
    * output row — are independent of the tie order and of
    * partitioning. Gap comparison is exact integer microseconds.
    *
    * @return one row per session: (key, session_idx — 1-based per
    *         key in time order, session_start, session_end, n_events)
    */
  def sessionize(
      events: DataFrame,
      key: String,
      tsCol: String,
      idCol: String,
      gapSeconds: Long): DataFrame = {
    require(gapSeconds > 0, s"gap must be positive, got $gapSeconds")
    for (c <- Seq(key, tsCol, idCol))
      require(events.columns.contains(c), s"missing column '$c'")
    val order = Window.partitionBy(col(key)).orderBy(col(tsCol), col(idCol))
    val run = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val us = unix_micros(col(tsCol))
    val boundary = when(
      lag(us, 1).over(order).isNull ||
        us - lag(us, 1).over(order) > gapSeconds * 1000000L,
      lit(1L)).otherwise(lit(0L))
    events
      .select(col(key), col(tsCol), col(idCol))
      .withColumn("session_idx", sum(boundary).over(run))
      .groupBy(col(key), col("session_idx"))
      .agg(
        min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"),
        count(lit(1)).as("n_events"))
  }

  /** Per-group OLS trend slope over INTEGRAL (x, y) — "is this
    * domain's quality drifting, and which way": the direction/rate
    * complement to the PSI magnitude gates. Cancellation-free
    * cross-multiplied form (the exact-PCA device):
    * slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²), numerator and
    * denominator kept as exact DECIMAL(38,0) — bit-portable across
    * engines/layouts — with one final division on identical operands.
    * Caller snaps x/y to integer grids (days, cents); groups where x
    * never varies (den = 0) are dropped rather than emitting ±inf.
    *
    * Scale shape: ONE map-side-combined aggregation over one scan —
    * five running sums per group, dim-sized output; nothing else.
    */
  def trendSlopes(
      df: DataFrame, group: String, x: Column, y: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val agg = df
      .select(col(group), x.cast(dec).as("__x"), y.cast(dec).as("__y"))
      .groupBy(col(group))
      .agg(count(lit(1)).cast(dec).as("__n"),
        sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
        sum(col("__x") * col("__y")).as("__sxy"),
        sum(col("__x") * col("__x")).as("__sxx"))
    agg
      .select(col(group), col("__n").cast("long").as("n"),
        (col("__n") * col("__sxy") - col("__sx") * col("__sy"))
          .cast(dec).as("__num"),
        (col("__n") * col("__sxx") - col("__sx") * col("__sx"))
          .cast(dec).as("__den"))
      .filter(col("__den") =!= 0)
      .select(col(group), col("n"),
        col("__num").cast("string").as("num"),
        col("__den").cast("string").as("den"),
        round(col("__num").cast("double") / col("__den").cast("double"),
          9).as("slope"))
  }

  /** One-sided CUSUM changepoint/anomaly detection (Page 1954) per
    * key — the sequential complement to the PSI/KS DISTRIBUTION gates
    * ([[graft.ops.Drift]]): those compare two slices after the fact;
    * CUSUM watches a stream of per-event values and flags the moment
    * a persistent upward shift begins, where a fixed threshold on
    * single values would either false-alarm on noise or miss a slow
    * drift.
    *
    *   S_t = max(0, S_{t-1} + (x_t − k))      (drift allowance k)
    *   alarm when S_t > h
    *
    * The recursion has the classic CLOSED FORM
    * `S_t = cs_t − min(0, min_{j≤t} cs_j)` over the cumulative sum
    * cs of (x − k) — two ordered windows (running sum, running min),
    * NO recursion, so it runs as ordinary per-key window aggregation
    * AND replays exactly in any SQL engine. `value` must be integral
    * (cents grid): every S_t is then an exact BIGINT, and alarms are
    * bit-portable.
    *
    * Determinism: `order` must be a TOTAL order within each key
    * (e.g. (ts, event_id)) — ties would make the running min
    * layout-dependent.
    *
    * Scale shape: ONE shuffle on the key, two window passes over
    * each key's ordered run. A hot key is a bigger sorted run, never
    * driver state; at 100 TB partition further by (key, day) and
    * carry S across boundaries with the same closed form if runs
    * outgrow a task.
    */
  def cusum(
      df: DataFrame, key: String, order: Seq[Column],
      value: Column, drift: Long, threshold: Long): DataFrame = {
    require(order.nonEmpty, "cusum needs an ordering")
    val w = Window.partitionBy(col(key)).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cs = sum(value.cast("long") - lit(drift)).over(w)
    df.withColumn("__cs", cs)
      .withColumn("s_u",
        col("__cs") - least(min(col("__cs")).over(w), lit(0L)))
      .withColumn("alarm", col("s_u") > lit(threshold))
      .drop("__cs")
  }
}
