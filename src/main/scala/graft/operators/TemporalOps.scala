package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Time-series regularization over irregular telemetry — the resample /
 * gap-fill step a vehicle-position feed (the reference's HFP data model:
 * one row per vehicle per ~second, with radio dropouts) needs before any
 * grid-aligned analytics (occupancy heatmaps, per-hour rollups, model
 * training windows).
 *
 * Design notes (100 TB shape):
 *  - The anchor pairs come from ONE keyed lag window (`lead` over the
 *    per-key time order) — the same single shuffle every keyed window op
 *    pays; no self-join on the timeline.
 *  - Grid rows are GENERATED, not joined: `sequence()` + `explode` emits
 *    exactly the missing grid instants per gap, so output volume is
 *    proportional to the holes being filled, never to `keys × full grid`
 *    (the naive calendar cross-join that kills at scale).
 *  - `maxGapS` bounds the blow-up: a key that vanishes for a month does
 *    not explode 2.6M interpolated seconds — beyond the cap the gap is
 *    left open (the honest answer for telemetry: the vehicle was off).
 *  - All interpolation arithmetic is integer (floor-division lerp), so
 *    results are bit-identical across engines, partitionings and reruns —
 *    the property every oracle-gated operator in this engine holds.
 */
object TemporalOps {

  /**
   * Floor division on integral columns via `pmod` (Spark's `div` and
   * DuckDB's `//` both truncate toward zero, which differs from floor on
   * negative operands — and lerp deltas ARE negative whenever the series
   * descends). Requires b > 0. The subtraction makes the dividend an
   * exact multiple of b, and the divide is a native codegen'd
   * `IntegralDivide` — pure long arithmetic, exact over the whole long
   * range except a > Long.MinValue + b (the `a − pmod` adjustment
   * itself would wrap below MinValue; every epoch stamp is ten orders
   * of magnitude inside the bound). The earlier double-typed `/`
   * silently mis-bucketed dividends past 2^52, e.g. raw
   * epoch-nanosecond timestamps.
   */
  def floorDiv(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.Bridge
    // total floor-mod, NOT pmod: Spark's pmod only corrects a negative
    // remainder, so for a NEGATIVE divisor it picks the wrong
    // representative (pmod(137, -2) = 1, not -1) and the quotient comes
    // out ceil instead of floor — caught by DifferentialFuzzSpec's
    // signed-operand sweep against Math.floorDiv. The correction is
    // sign-agreement: r += b whenever r and b disagree in sign.
    val r = a % b
    val rmod = when(r =!= 0 && ((r < 0) =!= (b < 0)), r + b).otherwise(r)
    Bridge.column(new org.apache.spark.sql.catalyst.expressions.IntegralDivide(
      Bridge.expression(a - rmod), Bridge.expression(b)))
  }

  /**
   * Linear-interpolation gap fill onto a regular grid.
   *
   * Input: one row per (key, t, v) observation, `t` in epoch seconds
   * (long), `v` an integer metric (e.g. fixed-point cents), `tie` a
   * unique per-key tiebreaker making the time order total (duplicate
   * timestamps: the LAST row in (t, tie) order anchors the gap to the
   * next observation, matching "latest fix wins" telemetry semantics).
   *
   * Output: ONLY the interpolated rows — (key, grid_t, v_interp) for
   * every grid instant `grid_t = k*gridStepS` strictly inside an
   * observation gap of at most `maxGapS` seconds, with
   * `v_interp = v0 + floor((v1-v0)*(grid_t-t0) / (t1-t0))`.
   * Magnitude bound for the exact-arithmetic guarantee:
   * |v1-v0| * maxGapS must stay below 2^52 (cents-scale metrics with
   * day-scale caps are ~12 orders of magnitude inside it).
   */
  def gapFillInterpolate(
      df: DataFrame,
      key: String, t: String, tie: String, v: String,
      gridStepS: Long, maxGapS: Long): DataFrame = {
    require(gridStepS > 0 && maxGapS > 0)
    // internal names are __-prefixed so no caller key/column name can
    // collide with them (TemporalOpsSpec pins this with key = "k")
    val w = Window.partitionBy(key).orderBy(col("__t0"), col("__tie0"))
    val pairs = df
      .select(col(key), col(t).as("__t0"), col(tie).as("__tie0"), col(v).as("__v0"))
      .withColumn("__t1", lead("__t0", 1).over(w))
      .withColumn("__v1", lead("__v0", 1).over(w))
      .filter(col("__t1").isNotNull && col("__t1") > col("__t0") &&
        col("__t1") - col("__t0") <= maxGapS)
      // grid instants strictly inside (t0, t1): first multiple of the
      // step after t0, last multiple before t1
      .withColumn("__k0", floorDiv(col("__t0"), lit(gridStepS)) + 1)
      .withColumn("__k1", floorDiv(col("__t1") - 1, lit(gridStepS)))
      .filter(col("__k1") >= col("__k0"))
    pairs
      .select(col(key), col("__t0"), col("__v0"), col("__t1"), col("__v1"),
        explode(expr("sequence(__k0, __k1)")).as("__grid_k"))
      .select(
        col(key),
        (col("__grid_k") * gridStepS).as("grid_t"),
        (col("__v0") + floorDiv(
          (col("__v1") - col("__v0")) * (col("__grid_k") * gridStepS - col("__t0")),
          col("__t1") - col("__t0"))).as("v_interp"))
  }

  /**
   * Last-observation-carried-forward fill: for every input row, the most
   * recent non-null `v` at or before it in the per-key (t, tie) order —
   * the step-function twin of [[gapFillInterpolate]] (interpolation
   * invents intermediate values; LOCF repeats the last reading, which is
   * the right semantics for state-like metrics: door status, assigned
   * route, last-reported battery level). Rows before a key's first
   * observation stay null — LOCF never invents a reading.
   *
   * Returns ALL input rows with `<v>_filled` appended; `v` itself is
   * untouched, so downstream can distinguish observed from carried.
   *
   * One keyed window over the same single shuffle every per-key order op
   * pays; `last(ignoreNulls)` keeps O(1) state per partition-frame, and
   * the unbounded-preceding frame is the running-aggregate fast path
   * (no per-row rescan).
   */
  def locfFill(df: DataFrame, key: String, t: String, tie: String,
      v: String): DataFrame = {
    val w = Window.partitionBy(key).orderBy(col(t), col(tie))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn(s"${v}_filled", last(col(v), ignoreNulls = true).over(w))
  }

  /**
   * OHLC downsampling: collapse an irregular per-key series into
   * `step`-sized time buckets, each summarized by its first (open),
   * max (high), min (low) and last (close) value plus count and sum —
   * the standard resample for telemetry/market feeds, and the
   * aggregation a dashboard runs before plotting a 100 TB series.
   *
   * open/close use `min_by`/`max_by` over the COMPOSITE (t, tie) order,
   * so duplicate timestamps resolve deterministically (the same total-
   * order discipline as every windowed operator here).
   *
   * Scale shape: ONE map-side-combinable aggregate — min_by/max_by/
   * min/max/sum/count all have O(1) partial state and merge
   * associatively, so the series never needs a per-key sort (the window
   * formulation pays one; an aggregate pays a partial-combine shuffle of
   * one row per (key, bucket) per map task). Bucket ids are exact
   * integer floor-division of the epoch stamp.
   */
  def resampleOhlc(df: DataFrame, key: String, t: String, tie: String,
      v: String, step: Long): DataFrame = {
    require(step > 0)
    df.withColumn("bucket_t", floorDiv(col(t), lit(step)) * step)
      .groupBy(col(key), col("bucket_t"))
      .agg(
        count(lit(1)).as("n"),
        min_by(col(v), struct(col(t), col(tie))).as("open"),
        max(col(v)).as("high"),
        min(col(v)).as("low"),
        max_by(col(v), struct(col(t), col(tie))).as("close"),
        sum(col(v)).as("total"))
  }

  /**
   * Gaps-and-islands interval coalescing: merge each key's overlapping
   * or touching [start, end] intervals into maximal covered "islands" —
   * the service-coverage primitive a telemetry warehouse runs constantly
   * (when was each vehicle actually in service; what fraction of the day
   * did the feed cover; how many distinct outages), and the interval
   * union that turns per-event validity spans into SCD-style coverage.
   *
   * Semantics: intervals sort per key by (start, end); an interval opens
   * a new island iff its start is strictly greater than the running max
   * end of all earlier intervals (touching endpoints merge — coverage is
   * closed-interval). Output: one row per island with its span, interval
   * count, and covered length.
   *
   * Determinism under exact (start, end) ties is structural: tied rows
   * can never open an island relative to each other (start ≤ running
   * max end by construction), so island ids and every aggregate are
   * identical under any tie order — no tiebreaker column needed.
   *
   * Scale shape: ONE hash exchange on the key serves both windows (the
   * preceding-rows max and the running island-id sum share the same
   * partitioning and sort — Spark plans a single Window node pair over
   * one Sort), and the rollup reuses the exchange via AQE. Only (key,
   * start, end) rows move; rows-frame running aggregates keep O(1)
   * state. Degenerate inputs (end < start, null start) are dropped, not
   * propagated into an engine-dependent ordering.
   */
  def coalesceIntervals(df: DataFrame, key: String, startCol: String,
      endCol: String): DataFrame = {
    val prev = Window.partitionBy(key).orderBy(col("__s"), col("__e"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val run = Window.partitionBy(key).orderBy(col("__s"), col("__e"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col(key), col(startCol).cast("long").as("__s"),
        col(endCol).cast("long").as("__e"))
      .filter(col("__s").isNotNull && col("__e") >= col("__s"))
      .withColumn("__pmax", max(col("__e")).over(prev))
      .withColumn("__new",
        when(col("__pmax").isNull || col("__s") > col("__pmax"), 1L)
          .otherwise(0L))
      .withColumn("__island", sum(col("__new")).over(run))
      .groupBy(col(key), col("__island").as("island_id"))
      .agg(min("__s").as("island_start"), max("__e").as("island_end"),
        count(lit(1)).as("n_intervals"))
      .select(col(key), col("island_id"), col("island_start"),
        col("island_end"),
        (col("island_end") - col("island_start")).as("covered"),
        col("n_intervals"))
  }

  /**
   * Time-weighted average — the TWAP/telemetry-mean primitive: each
   * observation holds its value until the key's next observation, and
   * the key's average weighs each value by how long it held, not by how
   * often it was sampled (an idle vehicle reporting once an hour and a
   * busy one reporting every second get comparable means; a plain AVG
   * would be dominated by the chatty key's samples).
   *
   * Semantics: per key, order observations by (t, tie); segment i spans
   * [t_i, t_{i+1}) carrying v_i; the last observation spans nothing and
   * is dropped (its holding time is unknown — inventing one would be a
   * policy, not a measurement). Output per key: twa = ⌊Σ v_i·dur_i /
   * Σ dur_i⌋ in v's own fixed-point unit, the covered span, and the
   * segment count. Keys whose observations all share one timestamp have
   * zero span and are dropped (0/0 is not an average). Division is
   * truncation-toward-zero in BOTH engines (Spark decimal `div`, DuckDB
   * `//` — verified identical), so negative-valued inputs stay
   * cross-engine exact too; for v ≥ 0 truncation IS floor.
   *
   * Scale shape: the lead window and the per-key aggregate share ONE
   * hash exchange on the key (same partitioning, AQE reuses it); only
   * (key, t, tie, v) rows move. The v·dur products sum in decimal128 —
   * a long sum wraps at 9.2e18, which a 5e17-per-segment product
   * reaches after ~18 segments.
   */
  def timeWeightedAvg(df: DataFrame, key: String, tCol: String,
      tieCol: String, vCol: String): DataFrame = {
    val w = Window.partitionBy(key).orderBy(col("__t"), col("__tie"))
    df.select(col(key), col(tCol).cast("long").as("__t"),
        col(tieCol).as("__tie"), col(vCol).cast("long").as("__v"))
      .filter(col("__t").isNotNull && col("__v").isNotNull)
      .withColumn("__dur", lead(col("__t"), 1).over(w) - col("__t"))
      .filter(col("__dur").isNotNull)
      .groupBy(col(key))
      .agg(sum(col("__v").cast("decimal(38,0)") * col("__dur")).as("__num"),
        sum(col("__dur")).as("__den"),
        count(lit(1)).as("n_seg"))
      .filter(col("__den") > 0)
      .select(col(key),
        expr("cast(__num div cast(__den as decimal(38,0)) as bigint)")
          .as("twa"),
        col("__den").as("span"), col("n_seg"))
  }

  /**
   * First-order state-transition matrix — the path-analytics readout
   * ("after a view, what happens next, how often") and the empirical
   * Markov kernel behind journey modeling, next-event prediction
   * features, and anomaly scoring of event sequences (a transition that
   * is rare in the matrix is a suspicious hop).
   *
   * Semantics: per key, order events by (t, tie); every adjacent pair
   * emits one (from, to) transition; each key's LAST event emits
   * nothing (its successor is unobserved — inventing a terminal state
   * would be a modeling choice, left to callers who can append sentinel
   * rows). prob_ppm = ⌊10⁶·cnt / from_total⌋, so a from-state's row
   * probabilities sum to ≤ 1e6 with the deficit < |to-states| µ.
   *
   * Scale shape: the lead window pays the one keyed exchange every
   * sequence operator pays; transitions then aggregate map-side to
   * ≤ |states|² rows, and the from_total window runs on THAT aggregated
   * frame — per-key sequences never re-shuffle for the totals. All
   * integer arithmetic.
   */
  def transitionMatrix(df: DataFrame, key: String, tCol: String,
      tieCol: String, stateCol: String): DataFrame = {
    val w = Window.partitionBy(key).orderBy(col(tCol), col(tieCol))
    val wFrom = Window.partitionBy("from_state")
    df.select(col(key), col(tCol), col(tieCol),
        col(stateCol).as("from_state"))
      .withColumn("to_state", lead(col("from_state"), 1).over(w))
      .filter(col("to_state").isNotNull)
      .groupBy("from_state", "to_state")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("from_total", sum(col("cnt")).over(wFrom))
      .select(col("from_state"), col("to_state"), col("cnt"),
        col("from_total"),
        expr("(cnt * 1000000) div from_total").as("prob_ppm"))
  }

  /**
   * Cohort retention analysis — the "did week-N's new users come back in
   * week N+k" triangle every product/telemetry warehouse maintains, and
   * the acquisition-quality readout for a corpus whose rows carry a user
   * and a time (for HFP: did vehicles first seen in service week N still
   * report in week N+k).
   *
   * Semantics: a user's cohort is the `bucketUs`-bucket of their FIRST
   * event; for every (cohort, offset) the count of distinct cohort users
   * active in bucket cohort+offset, plus that count as ppm of the cohort
   * size (the offset-0 row — every user is active in their own first
   * bucket by definition, so offset 0 IS the cohort census and
   * retained_ppm ≤ 1,000,000 always).
   *
   * Scale shape: the min-bucket window and the (user, cohort, offset)
   * distinct both key on the user — ONE user-keyed exchange serves both
   * (AQE reuses the partitioning), and only (user, bucket) pairs ride
   * it. The rollup then shuffles one row per distinct (cohort, offset,
   * user) — already deduped — and the cohort-size window runs on the
   * aggregated triangle (≤ cohorts × offsets rows), never on data. All
   * integer arithmetic; `t` is epoch micros (long).
   */
  def cohortRetention(df: DataFrame, userCol: String, tCol: String,
      bucketUs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = df.select(col(userCol).as("uid"),
      floorDiv(col(tCol), lit(bucketUs)).as("wk"))
    val triangle = w
      .withColumn("cohort", min("wk").over(Window.partitionBy("uid")))
      .select(col("uid"), col("cohort"), (col("wk") - col("cohort")).as("off"))
      .distinct()
      .groupBy(col("cohort").as("cohort_bucket"), col("off").as("bucket_offset"))
      .agg(count(lit(1)).as("n_users"))
    triangle
      .withColumn("cohort_size",
        max(when(col("bucket_offset") === 0, col("n_users")))
          .over(Window.partitionBy("cohort_bucket")))
      .select(col("cohort_bucket"), col("bucket_offset"), col("n_users"),
        expr("(n_users * 1000000) div cohort_size").as("retained_ppm"))
  }

  /**
   * Multi-touch attribution — the marketing/journey-analytics answer to
   * "which channel caused this conversion": every conversion event
   * distributes credit over the touch events that preceded it (back to
   * the previous conversion), under the three standard models at once —
   * first-touch (the earliest touch gets the whole conversion),
   * last-touch (the latest), and linear (every touch gets an equal
   * floor-ppm share). Touches after a user's LAST conversion are
   * honestly unattributed (the conversion they would fund never
   * happened) and credit nothing.
   *
   * The touch→conversion assignment is the reverse-running-count trick,
   * not a join: over each user's timeline ordered DESCENDING, the
   * running count of conversions seen so far gives every row a group id
   * that equals exactly the id its nearest FOLLOWING conversion assigns
   * itself (the conversion counts itself first). Rows with group id 0
   * precede no conversion. One keyed window shuffle replaces the
   * per-conversion interval join a naive formulation pays.
   *
   * Scale shape: all four windows (reverse conversion count, group
   * size, forward/backward row_number) share the one user-keyed
   * Exchange — Spark plans them as consecutive Window nodes over the
   * same partitioning, so the timeline shuffles ONCE. The channel
   * rollup then aggregates map-side. Linear credit is floor(1e6 /
   * n_touches) ppm per touch — integer-exact, identical in DuckDB, and
   * deliberately NOT forced to sum to 1e6 per conversion (the remainder
   * is the documented floor loss, ≤ n_touches − 1 ppm).
   */
  def attribution(df: DataFrame, key: String, tCol: String, tieCol: String,
      stateCol: String, convState: String): DataFrame = {
    val asc = Window.partitionBy(key, "conv_grp")
      .orderBy(col(tCol), col(tieCol))
    val desc = Window.partitionBy(key, "conv_grp")
      .orderBy(col(tCol).desc, col(tieCol).desc)
    val revCount = Window.partitionBy(key)
      .orderBy(col(tCol).desc, col(tieCol).desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col(key), col(tCol), col(tieCol),
        col(stateCol).as("channel"),
        // null-safe: a NULL channel is a touch (channel NULL), matching
        // the oracle's CASE WHEN ... THEN 1 ELSE 0 (null → 0), not a
        // silently dropped row
        coalesce(col(stateCol) === convState, lit(false))
          .cast("int").as("is_conv"))
      .withColumn("conv_grp", sum("is_conv").over(revCount))
      // touches only: conversions carry no channel credit themselves,
      // and grp 0 rows trail the user's last conversion
      .filter(col("is_conv") === 0 && col("conv_grp") >= 1)
      .withColumn("n_touches", count(lit(1)).over(
        Window.partitionBy(key, "conv_grp")))
      .withColumn("rn_first", row_number().over(asc))
      .withColumn("rn_last", row_number().over(desc))
      .groupBy(col("channel"))
      .agg(
        count(lit(1)).as("touches"),
        sum(when(col("rn_first") === 1, 1L).otherwise(0L)).as("first_touch"),
        sum(when(col("rn_last") === 1, 1L).otherwise(0L)).as("last_touch"),
        sum(expr("1000000 div n_touches")).as("linear_ppm"))
  }

  /**
   * Clamped (floor-at-zero) running balance — the ledger recurrence
   * b_i = max(0, b_{i-1} + x_i) that inventory positions, prepaid
   * accounts and token-bucket rate limiters all follow. The recurrence
   * is non-associative, so it looks like it demands a sequential
   * per-key fold; it does not. The one-sided clamp has a closed form
   * (the Skorokhod reflection identity, the same one behind maximum-
   * drawdown):
   *
   *   b_i = S_i − min(0, min_{k ≤ i} S_k)      where S = prefix sums
   *
   * i.e. the clamped walk is the free walk minus its own running
   * minimum (floored at 0). Proof sketch: both sides satisfy the
   * recurrence and agree at i = 0; the running min only moves when the
   * clamp binds. A TWO-sided clamp (floor and cap) genuinely needs the
   * fold — that restriction is the documented boundary of this
   * operator.
   *
   * So the whole ledger costs exactly one user-keyed window shuffle:
   * prefix sum, running min of it, and a lag of the running min (to
   * flag the rows where the clamp BINDS: S_i < runmin_{i−1} means the
   * free step would have gone below the floor). Keys parallelize
   * independently — no global order anywhere. All long arithmetic.
   *
   * Output: one row per input row with `balance` (post-clamp), `free`
   * (unclamped prefix sum) and `clamped` (this step hit the floor).
   */
  /**
   * Per-key EWMA smoother with dyadic decay α = 1/2 — the control-chart
   * / trend-line recurrence e_i = (e_{i−1} + x_i) div 2, seeded
   * e_1 = x_1 (`div` = truncating division, identical in Spark and
   * DuckDB even for negative sums — the lattice is defined on trunc,
   * not floor, exactly so no sign restriction is needed).
   * Unlike [[clampedBalance]] this recurrence has NO closed form over
   * windows (the clamp identity was a gift; exponential decay with
   * per-step flooring is not), so it uses the sequential-integer-
   * lattice discipline of StatsOps.kmSurvival: the estimator is DEFINED
   * as the floored dyadic walk, the Spark `aggregate` fold and the
   * DuckDB recursive CTE traverse the identical lattice, and results
   * hash-gate cross-engine. α fixed at 1/2 keeps every step a single
   * integer shift — an arbitrary rational α would floor differently
   * only in magnitude, not in kind.
   *
   * Scale shape: one keyed shuffle into collect_list, fold inside the
   * aggregation buffer, explode back out — state per key is its own
   * history (the operator's documented bound: keyed series of warehouse
   * cardinality, ~10³ rows/key, not unbounded telemetry).
   * Emits every input row with its smoothed value `e` and the step
   * deviation x − e_{i−1} (the control-chart signal; null for the seed
   * row, which has no forecast to deviate from).
   */
  /** Tie contract: the fold sorts the whole (t, tie, x) struct, so even
    * duplicate (t, tie) keys order deterministically by value — the
    * result is partition-independent for ANY input
    * (TemporalOpsPropertySpec proves it). */
  def ewmaSmooth(df: DataFrame, key: String, tCol: String, tieCol: String,
      valueCol: String): DataFrame = {
    val folded = df
      .groupBy(col(key))
      .agg(array_sort(collect_list(struct(col(tCol).as("t"),
        col(tieCol).as("tie"), col(valueCol).as("x")))).as("steps"))
      .select(col(key), explode(expr(
        """aggregate(steps,
             cast(array() as array<struct<t: bigint, tie: bigint,
               x: bigint, e: bigint, dev: bigint>>),
             (acc, s) -> acc || array(named_struct(
               't', s.t, 'tie', s.tie, 'x', s.x,
               'e', CASE WHEN size(acc) = 0 THEN s.x
                    ELSE (element_at(acc, -1).e + s.x) div 2 END,
               'dev', CASE WHEN size(acc) = 0 THEN CAST(null AS BIGINT)
                      ELSE s.x - element_at(acc, -1).e END)))"""))
        .as("step"))
    folded.select(col(key), col("step.t").as("t"), col("step.tie").as("tie"),
      col("step.x").as("x"), col("step.e").as("e"), col("step.dev").as("dev"))
  }

  /** Tie contract: (t, tie) must be a total order per key. The clamp
    * recurrence is non-associative, so rows DUPLICATED on (t, tie) take
    * an arbitrary (partition-dependent) relative order — the result is
    * then one of the tie-permutation folds, not a fixed one
    * (TemporalOpsSpec pins this contract). Callers with tie-prone keys
    * should widen the tie column (e.g. add a row id). */
  def clampedBalance(df: DataFrame, key: String, tCol: String,
      tieCol: String, amountCol: String): DataFrame = {
    val w = Window.partitionBy(key).orderBy(col(tCol), col(tieCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ord = Window.partitionBy(key).orderBy(col(tCol), col(tieCol))
    df.withColumn("free", sum(col(amountCol)).over(w))
      .withColumn("runmin", least(lit(0L), min(col("free")).over(w)))
      .withColumn("clamped",
        col("free") < lag(col("runmin"), 1, 0L).over(ord))
      .withColumn("balance", col("free") - col("runmin"))
      .drop("runmin")
  }

  /**
   * FIFO lot matching — the cost-basis / inventory-consumption pairing
   * (each outflow consumes the OLDEST remaining inflow lots): securities
   * tax lots, warehouse picks, and prepaid-credit burn-down all follow
   * it. Like [[clampedBalance]] this looks inherently sequential and is
   * not: on each side's own cumulative-quantity axis, lot i occupies the
   * half-open interval [cumQ_{i-1}, cumQ_i) and demand j likewise, and
   * FIFO pairs exactly the interval OVERLAPS — matched quantity
   * `min(hi_l, hi_d) − max(lo_l, lo_d)` where positive. So the whole
   * match is two per-key window cumsums plus one key-equi join with an
   * overlap predicate.
   *
   * Scale shape: the join is hash-partitioned on `key` alone; within a
   * key the overlap pairs form a staircase of at most `lots + demands − 1`
   * matches (each match exhausts at least one side's interval), so the
   * per-key work is linear in the key's rows and the join never
   * all-pairs. Unmatched tails (ending inventory / unfilled demand) are
   * the rows the overlap predicate drops; callers recover them from the
   * cumulative frames if needed.
   *
   * Inputs carry (key, t, tie, qty > 0); `isLot` selects the inflow
   * side. Output: one row per (lot, demand) match with the matched qty
   * and both timestamps (hold time = dT − lT is the FIFO holding
   * period).
   */
  def fifoMatch(df: DataFrame, key: String, tCol: String, tieCol: String,
      qtyCol: String, isLotCol: String): DataFrame = {
    val w = Window.partitionBy(col(key), col(isLotCol))
      .orderBy(col(tCol), col(tieCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = df
      .withColumn("hi", sum(col(qtyCol)).over(w))
      .withColumn("lo", col("hi") - col(qtyCol))
    val lots = cum.filter(col(isLotCol))
      .select(col(key), col(tCol).as("lot_t"), col(tieCol).as("lot_tie"),
        col("lo").as("l_lo"), col("hi").as("l_hi"))
    val demands = cum.filter(!col(isLotCol))
      .select(col(key).as("d_key"), col(tCol).as("d_t"),
        col(tieCol).as("d_tie"), col("lo").as("d_lo"), col("hi").as("d_hi"))
    lots.join(demands,
        col(key) === col("d_key") &&
          col("l_lo") < col("d_hi") && col("d_lo") < col("l_hi"))
      .select(col(key), col("lot_t"), col("lot_tie"), col("d_t"),
        col("d_tie"),
        (least(col("l_hi"), col("d_hi")) -
          greatest(col("l_lo"), col("d_lo"))).as("matched_qty"))
  }

  /**
   * Time-bounded funnel: the earliest completion of an ordered stage
   * sequence where each step lands within `maxGap` of the previous one —
   * signup → click-within-a-week → purchase-within-a-week, the
   * conversion readout marketing actually wants (q79's unbounded funnel
   * credits a purchase two years after the click). Earliest-completion
   * semantics: stage k's timestamp is the MINIMUM event time that is
   * strictly after stage k−1's chosen time and within its gap — greedy
   * earliest is optimal here (taking any later qualifying event can only
   * shrink the next stage's window), so the fold is one min-aggregate
   * join per stage, not a search.
   *
   * Shape: per stage one key-equi join + groupBy on the SAME key — the
   * chain re-uses one hash partitioning end to end; stage frames only
   * ever shrink (each is a subset of the previous stage's converters).
   * The gap predicate also makes every join a bounded range join: an
   * executor never buffers more than one gap-window of a key's events.
   */
  def funnelWithin(ev: DataFrame, key: String, tCol: String,
      typeCol: String, stages: Seq[String], maxGap: Long): DataFrame = {
    require(stages.nonEmpty)
    val head = ev.filter(col(typeCol) === stages.head)
      .groupBy(col(key))
      .agg(min(col(tCol)).as("t_1"))
    // chain(k) = keys that reached stage k+1, with t_1..t_{k+1}; each
    // frame is a subset of its predecessor and its earlier-stage times
    // are carried through unchanged (prev has one row per key), so the
    // final left-join assembly below can take stage k's time from
    // chain(k) directly.
    val chain = stages.zipWithIndex.drop(1).scanLeft(head) {
      case (prev, (stage, i)) =>
        ev.filter(col(typeCol) === stage).as("e")
          .join(prev.as("p"), col(s"e.$key") === col(s"p.$key") &&
            col(s"e.$tCol") > col(s"p.t_$i") &&
            col(s"e.$tCol") <= col(s"p.t_$i") + maxGap)
          .groupBy(col(s"e.$key").as(key))
          .agg(min(col(s"p.t_1")).as("t_1"),
            (2 to i).map(j => min(col(s"p.t_$j")).as(s"t_$j")) :+
              min(col(s"e.$tCol")).as(s"t_${i + 1}"): _*)
    }
    val assembled = chain.tail.zipWithIndex.foldLeft(head) {
      case (acc, (frame, idx)) =>
        val tc = s"t_${idx + 2}"
        acc.join(frame.select(col(key), col(tc)), Seq(key), "left")
    }
    assembled.withColumn("stage_reached",
      (1 to stages.size).foldLeft(lit(0L)) { (acc, k) =>
        when(col(s"t_$k").isNotNull, lit(k.toLong)).otherwise(acc)
      })
  }

  /**
   * Session path mining: the most frequent within-session event-type
   * sequences — the "how do users actually move through the product"
   * readout behind navigation design and funnel hypothesis generation
   * (the funnel ops TEST a path; this one DISCOVERS which paths are
   * worth testing). Sessionization is the q20 gap rule (a row opens a
   * new session when it arrives more than `gap` after its predecessor);
   * each session's path is its event types joined in (t, tie) order.
   *
   * Shape: one user-keyed window pair (lag → break flags → running sum
   * = session ids) and one (user, session) aggregate build the paths —
   * both on the same key prefix, so AQE reuses the user Exchange; the
   * path-frequency count then aggregates the SESSION-sized frame, never
   * raw events, and the final top-k is a TakeOrderedAndProject, not a
   * sort. The in-row path string is bounded by session length —
   * pathological never-idle keys should be capped upstream (the q45
   * packing ops bound the same way).
   */
  def sessionPaths(df: DataFrame, key: String, tCol: String, tieCol: String,
      typeCol: String, gap: Long, topK: Int): DataFrame = {
    val ord = Window.partitionBy(key).orderBy(col(tCol), col(tieCol))
    val sess = df
      .withColumn("brk",
        when(col(tCol) - lag(col(tCol), 1).over(ord) > gap, 1L)
          .when(lag(col(tCol), 1).over(ord).isNull, 1L)
          .otherwise(0L))
      .withColumn("sess", sum(col("brk")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    sess
      .groupBy(col(key), col("sess"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col(tCol).as("t"),
          col(tieCol).as("tie"), col(typeCol).as("et")))),
        s => s.getField("et")), ">").as("path"))
      .groupBy("path")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(topK)
  }

  /**
   * Arrival-cadence profile: per-key inter-arrival gap percentiles
   * (p25/p50/p75 as discrete order statistics — the value AT rank
   * ceil(q·n), never an interpolated float) plus the IQR-over-median
   * regularity ratio in floor-ppm. A near-zero ratio means a metronome
   * (bot heartbeats, cron); a large one means bursts. Exact integer
   * arithmetic end to end, so both engines agree bitwise.
   *
   * One key-partitioned window pair: lag() for gaps, then a second
   * window ranks gaps per key; the percentile picks are a group-max over
   * rank predicates, not a sort of the whole frame. Rank is taken over
   * (gap, tie) — a total order — but the SELECTED value depends only on
   * the gap sort position, so tie placement never changes the output.
   */
  def cadenceProfile(df: DataFrame, key: String, tCol: String,
      tieCol: String): DataFrame = {
    val ord = Window.partitionBy(key).orderBy(col(tCol), col(tieCol))
    val gaps = df
      .withColumn("gap", col(tCol) - lag(col(tCol), 1).over(ord))
      .filter(col("gap").isNotNull)
    val byGap = Window.partitionBy(key).orderBy(col("gap"), col(tieCol))
    val ranked = gaps
      .withColumn("rn", row_number().over(byGap).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(key)))
    def pick(pct: Int): Column =
      max(when(col("rn") * 100 >= col("n") * pct &&
        (col("rn") - 1) * 100 < col("n") * pct, col("gap")))
    ranked.groupBy(col(key))
      .agg(max(col("n")).as("n_gaps"),
        pick(25).as("p25"), pick(50).as("p50"), pick(75).as("p75"))
      .withColumn("iqr", col("p75") - col("p25"))
      .withColumn("regularity_ppm",
        expr("1000000L * iqr div nullif(p50, 0)"))
  }

  /**
   * Seasonal-naive forecast backtest — the rolling-origin evaluation
   * harness every forecasting deployment needs BEFORE trusting a model:
   * "how wrong would the dumbest seasonal forecast (periodic carry-
   * forward: f_p = value_{p−season}) have been on history?" Any real
   * model must beat this floor, and the error metrics here (WAPE, bias)
   * are the same ones the real model's backtest reports — the harness is
   * the operator, the naive forecast is its built-in reference model.
   *
   * Input is the PRE-AGGREGATED series (group, period, value) — one row
   * per group-period, period an integer index (epoch-day, epoch-week…).
   * Every period whose season-back predecessor exists is an evaluation
   * point (holes in the series evaluate nothing — a missing base period
   * forecasts nothing rather than hallucinating zero). Per group:
   *   n_eval        evaluation points
   *   sum_abs_err   Σ|actual − forecast|          (exact integer units)
   *   wape_ppm      ⌊10⁶·Σ|a−f| / Σa⌋            (weighted abs % error)
   *   bias_ppm      ⌊10⁶·Σ(f−a) / Σa⌋            (signed over/under)
   * WAPE (not MAPE) deliberately: per-period a=0 division poisons MAPE,
   * while WAPE's single denominator Σa is stable and scale-free; bias
   * uses the floorDiv pmod identity because its numerator is signed.
   * Non-negative values are the caller's contract (revenue/counts) —
   * a negative Σa nulls the ppm columns rather than emitting a
   * wrong-signed floor.
   *
   * Scale shape: the seasonal base is an EQUI-join of the aggregated
   * frame to itself on (group, period − season) — co-partitioned on the
   * group hash both sides, output ≤ input, never a window over facts;
   * the metrics are one map-side-combined aggregate on top. At 100 TB
   * the facts were already reduced to |groups × periods| rows upstream.
   */
  def seasonalNaiveBacktest(agg: DataFrame, group: String,
      periodCol: String, valueCol: String, season: Int): DataFrame = {
    val base = agg.select(col(group).as("__g"),
      (col(periodCol) + season).as("__p"), col(valueCol).as("forecast"))
    agg.select(col(group), col(periodCol), col(valueCol).as("actual"))
      .join(base, col(group) === col("__g") && col(periodCol) === col("__p"))
      .groupBy(col(group))
      .agg(
        count(lit(1)).as("n_eval"),
        sum(abs(col("actual") - col("forecast"))).as("sum_abs_err"),
        sum(col("actual")).as("sum_actual"),
        sum(col("forecast") - col("actual")).as("sum_signed_err"))
      .select(col(group), col("n_eval"), col("sum_abs_err"),
        col("sum_actual"),
        when(col("sum_actual") > 0,
          expr("(1000000L * sum_abs_err) div sum_actual")).as("wape_ppm"),
        when(col("sum_actual") > 0,
          floorDiv(lit(1000000L) * col("sum_signed_err"),
            col("sum_actual"))).as("bias_ppm"))
  }

  /**
   * Rolling distinct active users (DAU / WAU / stickiness) — the
   * engagement dashboard primitive, and the canonical "you cannot
   * window-DISTINCT at scale" exercise: neither Spark nor any shuffle
   * engine supports count(DISTINCT) over a moving window on the fact
   * stream, and collecting per-day user sets to the driver is the
   * classic scale-killer. The distributed shape instead:
   *
   *   facts → (user, day) dedup                  [ONE hash shuffle]
   *        → explode each user-day to the ≤W window days it covers
   *        → (user, cover-day) dedup             [bounded ×W blow-up]
   *        → count per day = exact rolling distinct
   *
   * Each user-day row expands to exactly W (window) rows, so the
   * intermediate is W·|user-days| — linear, partition-parallel, no
   * driver state, no quadratic self-join; the second dedup collapses a
   * user's overlapping activity inside the window. DAU comes from the
   * first deduped frame; stickiness_ppm = ⌊10⁶·dau/wau⌋ (the DAU/WAU
   * ratio product teams track). Output keeps only days with dau > 0 —
   * window tails beyond observed activity are a grid question (q76),
   * not an engagement one. dayCol is an integer day index (epoch-day).
   */
  def rollingActiveUsers(df: DataFrame, userCol: String, dayCol: String,
      window: Int): DataFrame = {
    val userDays = df.select(col(userCol).as("u"), col(dayCol).as("d"))
      .distinct()
    val dau = userDays.groupBy(col("d")).agg(count(lit(1)).as("dau"))
    val wau = userDays
      .select(col("u"), explode(sequence(col("d"),
        col("d") + (window - 1))).as("cover"))
      .distinct()
      .groupBy(col("cover")).agg(count(lit(1)).as("wau"))
    dau.join(wau, col("d") === col("cover"))
      .select(col("d").as("day"), col("dau"), col("wau"),
        expr("(1000000L * dau) div wau").as("stickiness_ppm"))
  }

  /**
   * Growth accounting — the engagement decomposition behind every
   * "is this product growing?" dashboard (Social Capital's accounting
   * identity): each period's actives split into NEW (first activity
   * ever), RETAINED (also active the previous period) and RESURRECTED
   * (active before, but not the previous period), while CHURNED counts
   * users active the previous period who went silent — so
   * actives(p) = new + retained + resurrected and
   * actives(p−1) = retained(p) + churned(p). The quick ratio
   * (new + resurrected) / churned reads growth efficiency; it ships in
   * floor ppm, null when nobody churned (no fake infinity).
   *
   * Shape: (user, period) dedup, then ONE user-keyed window provides
   * lag (classification) and lead (churn detection) off the same sort;
   * churn events emit at period+1, capped at the observed maximum
   * period (beyond the data's edge "churn" is unknowable, not zero) —
   * the max rides a 1-row broadcast. Output rows are (period,
   * 4 counts + ratio); a period can appear with only churn (everyone
   * went quiet) — counts coalesce to 0, never null.
   */
  def growthAccounting(df: DataFrame, userCol: String,
      periodCol: String): DataFrame = {
    val ud = df.select(col(userCol).as("u"), col(periodCol).as("p"))
      .distinct()
    val w = Window.partitionBy(col("u")).orderBy(col("p"))
    val marked = ud
      .withColumn("prev", lag(col("p"), 1).over(w))
      .withColumn("next", lead(col("p"), 1).over(w))
    val status = marked.select(col("p"),
      when(col("prev").isNull, "new")
        .when(col("prev") === col("p") - 1, "retained")
        .otherwise("resurrected").as("kind"))
    val maxP = ud.agg(max(col("p")).as("max_p"))
    val churn = marked
      .filter(col("next").isNull || col("next") > col("p") + 1)
      .crossJoin(broadcast(maxP))
      .filter(col("p") + 1 <= col("max_p"))
      .select((col("p") + 1).as("p"), lit("churned").as("kind"))
    status.union(churn)
      .groupBy(col("p"))
      .agg(
        coalesce(sum(when(col("kind") === "new", 1L)), lit(0L)).as("n_new"),
        coalesce(sum(when(col("kind") === "retained", 1L)), lit(0L))
          .as("n_retained"),
        coalesce(sum(when(col("kind") === "resurrected", 1L)), lit(0L))
          .as("n_resurrected"),
        coalesce(sum(when(col("kind") === "churned", 1L)), lit(0L))
          .as("n_churned"))
      .select(col("p").as("period"), col("n_new"), col("n_retained"),
        col("n_resurrected"), col("n_churned"),
        when(col("n_churned") > 0,
          expr("(1000000L * (n_new + n_resurrected)) div n_churned"))
          .as("quick_ratio_ppm"))
  }

  /**
   * Session entry/exit/bounce analysis — the page-flow readout beside
   * path mining ([[sessionPaths]] finds sequences; this scores each
   * event type's role): per type, how many sessions CONTAIN it, how
   * many ENTER on it (first event), EXIT on it (last event), and
   * BOUNCE on it (single-event session — enter ≡ exit); the exit rate
   * exits/contains in floor ppm is the "where do people leave"
   * dashboard column.
   *
   * One gap sessionization ([[q20's]] lag + running-sum discipline) on
   * one user-keyed (t, tie) window; first/last flags are rank
   * predicates off the SAME sort (row_number asc + per-session count
   * — no second sort); containment dedups (session, type); the three
   * per-type aggregates are tiny and broadcast-join back together.
   * Ties are impossible by contract (tie column completes a total
   * order).
   */
  def sessionExitRates(df: DataFrame, userCol: String, tCol: String,
      tieCol: String, typeCol: String, gapUs: Long): DataFrame = {
    val byUser = Window.partitionBy(col(userCol))
      .orderBy(col(tCol), col(tieCol))
    val run = byUser.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    val sess = df
      .withColumn("brk",
        when(col(tCol) - lag(col(tCol), 1).over(byUser) > gapUs, 1L)
          .when(lag(col(tCol), 1).over(byUser).isNull, 1L)
          .otherwise(0L))
      .withColumn("sid", sum(col("brk")).over(run))
    val bySess = Window.partitionBy(col(userCol), col("sid"))
    val flagged = sess
      .withColumn("rn",
        row_number().over(bySess.orderBy(col(tCol), col(tieCol))))
      .withColumn("n", count(lit(1)).over(bySess))
      .localCheckpoint(true)
    val contain = flagged
      .select(col(userCol), col("sid"), col(typeCol).as("etype"))
      .distinct()
      .groupBy(col("etype")).agg(count(lit(1)).as("n_contain"))
    val enterExit = flagged
      .groupBy(col(typeCol).as("etype"))
      .agg(
        coalesce(sum(when(col("rn") === 1, 1L)), lit(0L)).as("n_enter"),
        coalesce(sum(when(col("rn") === col("n"), 1L)), lit(0L))
          .as("n_exit"),
        coalesce(sum(when(col("n") === 1, 1L)), lit(0L)).as("n_bounce"))
    contain.join(broadcast(enterExit), Seq("etype"))
      .select(col("etype"), col("n_contain"), col("n_enter"),
        col("n_exit"), col("n_bounce"),
        expr("(1000000L * n_exit) div n_contain").as("exit_rate_ppm"))
  }

  /**
   * Day-of-week seasonal index — the third leg of the forecasting
   * trio ([[seasonalNaiveBacktest]] scores the naive model,
   * [[StatsOps.lagCorrelation]] detects the cycle, this QUANTIFIES it):
   * per (group, weekday), the ratio of the weekday's mean to the
   * group's overall mean in floor ppm — the multiplicative seasonal
   * factor a calendar-adjusted forecast or anomaly detector divides
   * out. 10⁶ = a flat weekday.
   *
   * Weekday is pure epoch-day arithmetic — (day + 3) mod 7, 0 = Monday
   * (1970-01-01 was a Thursday) — NOT a calendar function: both
   * engines compute the identical integer with no timezone/locale
   * surface. The index is evaluated ratio-of-ratios exactly:
   * (Σ_dow · n_all · 10⁶) div (n_dow · Σ_all) on decimal128, where n
   * counts OBSERVED days (a day with no activity contributes neither
   * mean — the gap-fill question is q76's). Input is the
   * pre-aggregated (group, day, value) frame; one (group, dow)
   * aggregate + per-group totals as a window over the 7-row frame.
   */
  def seasonalIndex(daily: DataFrame, group: String, dayCol: String,
      valueCol: String): DataFrame = {
    val byDow = daily
      // pmod, not %: for pre-1970 (negative) epoch days both engines'
      // % returns negative remainders, silently widening the
      // documented 0=Monday 7-value grid to 13 buckets
      .groupBy(col(group), pmod(col(dayCol) + 3, lit(7)).as("dow"))
      .agg(count(lit(1)).as("n_days"), sum(col(valueCol)).as("sum_v"))
    val byGrp = Window.partitionBy(col(group))
    byDow
      .withColumn("n_all", sum(col("n_days")).over(byGrp))
      .withColumn("sum_all", sum(col("sum_v")).over(byGrp))
      .select(col(group), col("dow"), col("n_days"), col("sum_v"),
        when(col("sum_all") =!= 0,
          expr("(cast(sum_v as decimal(38,0)) * n_all * 1000000) div " +
            "(cast(n_days as decimal(38,0)) * sum_all)"))
          .as("index_ppm"))
  }

  /**
   * Peak-rate / burst detection — "what is the most events this key
   * ever fired inside any `windowUs` span, and when": the rate-limit
   * sizing and abuse-detection readout a per-bucket count (q31's
   * tumbling windows) systematically UNDERSTATES, because a burst
   * straddling a bucket boundary splits across two buckets — the
   * sliding window anchored at every event sees it whole. Each event
   * counts the events in [t, t + windowUs] (inclusive — both engines'
   * RANGE frames agree); the per-key peak keeps the EARLIEST achieving
   * timestamp (rank over (count desc, t) — a total order, so the
   * argmax is deterministic).
   *
   * Shape: one keyed (t)-ordered RANGE-frame count + one rank window
   * on the SAME partitioning (one Exchange serves both); nothing
   * leaves the executors but the per-key peak row. The frame holds no
   * buffered rows beyond the window span per key — bounded by the
   * burst the caller is hunting.
   */
  def peakRate(df: DataFrame, key: String, tCol: String,
      windowUs: Long): DataFrame = {
    val byT = Window.partitionBy(col(key)).orderBy(col(tCol))
    val counted = df
      .withColumn("win_count",
        count(lit(1)).over(byT.rangeBetween(0L, windowUs)))
    val best = Window.partitionBy(col(key))
      .orderBy(col("win_count").desc, col(tCol))
    counted
      .withColumn("rn", row_number().over(best))
      .filter(col("rn") === 1)
      .select(col(key), col("win_count").as("peak_count"),
        col(tCol).as("peak_t"))
  }

  /**
   * Rolling EXACT median over the trailing `window` buckets — the
   * robust centerline the EWMA ([[ewmaSmooth]]) and rolling beta
   * ([[StatsOps.rollingBeta]]) family lacks: one wild bucket drags a
   * rolling mean for the whole window but moves the rolling median at
   * most one rank. Defined as the LOWER median (rank ⌈n/2⌉ of the
   * sorted window — a value that occurred, never an interpolated
   * float; q139/q156's discrete-order-statistic discipline).
   *
   * Operates on the PRE-AGGREGATED (key, bucket, value) frame — the
   * OHLC/EWMA/beta rule: windows over |keys|·|buckets| rows, never raw
   * events, so the collect_list window holds ≤ `window` longs per row
   * and the in-row sort is O(W log W) on a caller-bounded W. Emits the
   * window size alongside (warm-up rows have n < window — the caller
   * decides whether a 3-bucket median is meaningful).
   */
  /**
   * Funnel stage-latency percentiles — the "HOW LONG between stages"
   * companion to [[funnelWithin]]'s "how many reach stage k": per
   * adjacent stage transition, the p25/p50/p75 of (t_k − t_{k−1}) over
   * users who made the transition — the numbers an activation team
   * actually tunes against (a funnel can convert well but take a week
   * at one hop). Greedy-earliest anchor times come from funnelWithin
   * unchanged; delays are exact integer micros; percentiles are
   * discrete order statistics on a total (delay, key) order (the
   * q139/q156 pick — observed values, never interpolated).
   *
   * Shape: funnelWithin's per-user frame (one row per entered user) is
   * already the small side; stacking the K−1 transition frames and one
   * (stage)-keyed rank window costs |entered users|·(K−1) rows.
   * Non-transitioning users are absent from their stage's rank — the
   * latency of a conversion that didn't happen is not 0, it's absent.
   */
  def funnelStageLatency(ev: DataFrame, key: String, tCol: String,
      typeCol: String, stages: Seq[String], maxGap: Long): DataFrame = {
    require(stages.size >= 2, "need at least two stages")
    val f = funnelWithin(ev, key, tCol, typeCol, stages, maxGap)
      .localCheckpoint(true)
    val delays = (2 to stages.size).map { k =>
      f.filter(col(s"t_$k").isNotNull)
        .select(lit(k.toLong - 1).as("transition"), col(key).as("k"),
          (col(s"t_$k") - col(s"t_${k - 1}")).as("delay"))
    }.reduce(_ union _)
    val w = Window.partitionBy(col("transition"))
    val ranked = delays
      .withColumn("rn", row_number()
        .over(w.orderBy(col("delay"), col("k"))).cast("long"))
      .withColumn("n", count(lit(1)).over(w))
    def pick(pct: Int): Column =
      max(when(col("rn") * 100 >= col("n") * pct &&
        (col("rn") - 1) * 100 < col("n") * pct, col("delay")))
    ranked.groupBy(col("transition"))
      .agg(max(col("n")).as("n_transitions"),
        pick(25).as("p25_us"), pick(50).as("p50_us"),
        pick(75).as("p75_us"), max(col("delay")).as("max_us"))
  }

  def rollingMedian(buckets: DataFrame, key: String, bucketCol: String,
      valueCol: String, window: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val w = Window.partitionBy(col(key)).orderBy(col(bucketCol))
      .rowsBetween(-(window - 1), Window.currentRow)
    buckets
      .withColumn("win", sort_array(collect_list(col(valueCol)).over(w)))
      .select(col(key), col(bucketCol), col(valueCol),
        size(col("win")).cast("long").as("n_win"),
        element_at(col("win"),
          expr("cast((size(win) + 1) div 2 as int)")).as("rolling_med"))
  }
}
