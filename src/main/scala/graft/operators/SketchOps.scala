package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Mergeable distinct-count sketches as STANDING STATE — the approximate
 * twin of [[MergeOps.mergeAggStates]]: where q81 maintains exact
 * count/sum states by addition, a distinct count is not distributive,
 * so its incrementally-maintainable form is a sketch (Apache
 * DataSketches HLL, built into Spark 4 as `hll_sketch_agg` /
 * `hll_union` / `hll_sketch_estimate`). A state table stores one sketch
 * BINARY per key; a delta batch folds in by sketch union — never by
 * re-scanning history. This is how a 100 TB warehouse keeps "distinct
 * users per route per month" current at delta cost.
 *
 * Determinism note: HLL estimates are deterministic for a given input
 * SET (insertion order and partitioning don't change the register
 * state), but they are engine-implementation-specific — DuckDB's
 * approx_count_distinct uses different registers, so this family is
 * spec-gated (union-vs-direct equivalence, bounded relative error vs
 * exact) rather than oracle-gated, like the other engine-specific
 * surfaces (BucketedJoinSpec).
 */
object SketchOps {

  /** log2 of HLL register count: 12 ⇒ 4096 registers ⇒ ~1.6% RSE —
    * DataSketches' default geometry. */
  val DefaultLgK = 12

  /**
   * Build the sketch state for one batch: one row per key with the
   * HLL sketch of `value` and the exact row count (the count rides
   * along as the q81-style additive measure — one state table serves
   * both). Map-side partial sketches combine before the shuffle: only
   * (key, register-array) rows move.
   */
  def sketchState(df: DataFrame, keys: Seq[String], value: Column,
      lgK: Int = DefaultLgK): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(
        hll_sketch_agg(value, lit(lgK)).as("distinct_sketch"),
        count(lit(1)).as("n_rows"))

  /**
   * Fold a delta batch's state into the standing state: full-outer on
   * the key, sketches union (`hll_union` with `allowDifferentLgK` set,
   * so a re-tuned delta geometry merges into an older state —
   * DataSketches downgrades to the coarser K), counts add — the exact
   * mirror of [[MergeOps.mergeAggStates]] with union as the measure
   * combiner.
   */
  def mergeSketchStates(state: DataFrame, delta: DataFrame,
      keys: Seq[String]): DataFrame = {
    val t = state.as("t")
    val s = delta.as("s")
    val cond = keys.map(k => col(s"t.$k") <=> col(s"s.$k")).reduce(_ && _)
    t.join(s, cond, "full_outer").select(
      keys.map(k => coalesce(col(s"t.$k"), col(s"s.$k")).as(k)) ++ Seq(
        when(col("t.distinct_sketch").isNull, col("s.distinct_sketch"))
          .when(col("s.distinct_sketch").isNull, col("t.distinct_sketch"))
          // third arg = allowDifferentLgK (positional: the Scala API
          // overload doesn't admit the named form)
          .otherwise(hll_union(col("t.distinct_sketch"),
            col("s.distinct_sketch"), true))
          .as("distinct_sketch"),
        (coalesce(col("t.n_rows"), lit(0L)) + coalesce(col("s.n_rows"), lit(0L)))
          .as("n_rows")): _*)
  }

  /** Read the state: per-key estimated distinct count + exact rows. */
  def estimate(state: DataFrame, keys: Seq[String]): DataFrame =
    state.select(
      keys.map(col) ++ Seq(
        hll_sketch_estimate(col("distinct_sketch")).as("distinct_est"),
        col("n_rows")): _*)
}
