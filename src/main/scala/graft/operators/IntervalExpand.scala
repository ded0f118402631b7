package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Date-interval expansion — the scalable rewrite of the reference's
  * calendar range joins.
  *
  * The reference expands each line item to one row per service-period
  * day with `CROSS JOIN calendar` + range bounds
  * (deferred_revenue.sql:112-122, closed interval) and a non-equi join
  * (recognized_revenue.sql:92-94, half-open interval). Spark plans
  * both as BroadcastNestedLoopJoin: every fact row is tested against
  * every calendar row — O(facts × spine) compares even though the
  * output is only O(Σ period days). At 100 TB that is the difference
  * between a linear, shuffle-free `Generate` (explode) and a
  * nested-loop join that never finishes.
  *
  * `expandDays` is therefore the engine's canonical form: a
  * whole-stage-codegen `Generate(sequence(...))` with zero shuffle and
  * output exactly proportional to the result. `rangeJoinSpine` keeps
  * the literal join formulation for semantics testing — the two are
  * asserted equal in IntervalExpandSpec.
  */
object IntervalExpand {

  /** One output row per day in [start, end] (closed interval — the
    * deferred_revenue.sql:118-122 semantics). Rows where start > end
    * or either bound is null produce no output (matches the inner
    * range join). NB: a bare sequence(a, b) would generate a
    * DESCENDING range when a > b — the `when` guard nulls those out
    * and explode drops them. */
  def expandDays(df: DataFrame, start: Column, end: Column,
                 as: String = "as_of_date"): DataFrame =
    df.withColumn(as, explode(when(start <= end, sequence(start, end))))

  /** Half-open variant [start, end) — recognized_revenue.sql:92-94.
    * Zero-length periods (start == end) produce no rows. */
  def expandDaysHalfOpen(df: DataFrame, start: Column, end: Column,
                         as: String = "recognition_date"): DataFrame =
    df.withColumn(as,
      explode(when(start < end, sequence(start, date_sub(end, 1)))))

  /** Literal spine range join (BroadcastNestedLoopJoin) — the
    * reference's formulation, kept as a correctness oracle for the
    * explode rewrite. `spine` must be a single-date-column frame. */
  def rangeJoinSpine(df: DataFrame, spine: DataFrame, spineCol: String,
                     start: Column, end: Column,
                     closedEnd: Boolean = true): DataFrame = {
    val hi = if (closedEnd) col(spineCol) <= end else col(spineCol) < end
    df.join(broadcast(spine), col(spineCol) >= start && hi, "inner")
  }

  /** Calendar date spine [lo, hi] — calendar.sql:18-20's
    * GENERATE_DATE_ARRAY + UNNEST. A single-row seed exploded to one
    * row per day; no data read, no shuffle. */
  def dateSpine(df: DataFrame, lo: Column, hi: Column,
                as: String = "date_day"): DataFrame =
    df.select(explode(sequence(lo, hi)).as(as))

  /** Merge overlapping half-open intervals per key into their
    * disjoint "islands" — the gaps-and-islands primitive behind
    * subscription coverage, session stitching and entitlement
    * windows. [[expandDays]] answers the same questions by exploding
    * one row per day — linear in COVERED DAYS; this merges in
    * O(intervals) and never materializes the days, the shape that
    * survives decade-long intervals at 100 TB.
    *
    * Intervals are half-open [start, end): touching intervals
    * (a.end == b.start) CHAIN into one island, zero-length intervals
    * (start == end) cover nothing but still seed an island if
    * isolated — callers filter them first if unwanted. Works on any
    * orderable numeric/date type; the classic two-window algorithm
    * (running max of prior ends → new-island flag → running island
    * id) shares ONE partition-and-sort per key: the second window
    * reuses the first's shuffle and ordering, and per-key window
    * state is O(1). Determinism: ties order by (start, end) — no
    * row_number arbitrariness.
    *
    * @return (keyCol, island_start, island_end) — one row per island
    */
  def mergeIntervals(df: DataFrame, keyCol: String, start: Column,
                     end: Column): DataFrame = {
    val base = Window.partitionBy(col(keyCol))
      .orderBy(col("_s").asc, col("_e").asc)
    val priorMaxEnd = max(col("_e")).over(
      base.rowsBetween(Window.unboundedPreceding, -1))
    val isNew = when(priorMaxEnd.isNull || col("_s") > priorMaxEnd, 1)
      .otherwise(0)
    df.select(col(keyCol), start.as("_s"), end.as("_e"))
      .withColumn("_island", sum(isNew).over(
        base.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(keyCol), col("_island"))
      .agg(min(col("_s")).as("island_start"),
        max(col("_e")).as("island_end"))
      .drop("_island")
  }

  /** Per-key coverage report from merged islands: island count and
    * total covered span (Σ island_end − island_start — exact for
    * integral bounds). */
  def intervalCoverage(df: DataFrame, keyCol: String, start: Column,
                      end: Column): DataFrame =
    mergeIntervals(df, keyCol, start, end)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_islands"),
        sum(col("island_end") - col("island_start")).as("covered"))

  // --------------- persisted islands store (the incremental shape)

  /** Epoch fold: re-merge the partials' islands. Islands are a
    * MERGEABLE EXACT SUMMARY — merging is idempotent and associative
    * on interval sets, so
    * `islands(A ∪ B) = islands(islands(A) ∪ islands(B))`: each epoch
    * stores O(islands) rows, never raw intervals, and any read/fold
    * order gives the same disjoint set. The sketch-store discipline
    * with zero approximation. */
  private def islandsFold(keyCol: String)(partials: DataFrame): DataFrame =
    mergeIntervals(
      partials.select(col(keyCol), col("island_start"), col("island_end")),
      keyCol, col("island_start"), col("island_end"))

  /** Erasure is a REBUILD, never a filter: island merging is lossy —
    * an island that absorbed a victim's interval cannot be un-merged,
    * so the erased state is [[mergeIntervals]] over the retained raw
    * intervals. */
  private[operators] val islandsStore = StoreFamily.flat("interval_islands",
    param => islandsFold(param("keyCol")), StoreFamily.Rebuild())

  /** A stored coverage summary (`interval_islands`): merged islands
    * per key, the key column in the manifest. Each write and append
    * takes [[mergeIntervals]] output (an append may overlap earlier
    * epochs — island merging is idempotent, unlike the additive
    * stores); a read re-merges per key, ≡ [[mergeIntervals]] over the
    * union of all raw intervals ever ingested, so coverage questions
    * over the whole history never re-read raw intervals. */
  def islands(keyCol: String): StoreFamily.Bound =
    islandsStore.bind("keyCol" -> keyCol)
}
