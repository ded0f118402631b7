package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TopK

/** Hash-reservoir sample sketch — the MERGEABLE quantile/profile
  * sketch of the engine's sketch algebra (sibling of the KMV
  * cardinality sketch in [[Cardinality]]): per group, keep the k rows
  * whose md5-derived 52-bit id hash is smallest, carrying each
  * sampled row's VALUE next to its selecting hash. Because the hash
  * is a deterministic uniform stand-in for randomness, the kept rows
  * are a uniform k-sample of the group — quantiles of the sample
  * values estimate the group's quantiles — and, like every bottom-k
  * construction, the sketch COMPOSES: the k smallest of two sketches'
  * union is exactly the sketch of the union of their row sets, so
  * shards/epochs/groups merge without touching data again.
  *
  * Versus the built-ins: `percentile` sorts each group (a mega-group
  * is one task at 100 TB — q88's subject) and `approx_percentile`
  * (GK) is engine-internal state that neither composes across
  * engines nor replays. This sketch is k (hash, id, value) triples of
  * plain arithmetic any engine can rebuild — the q147 oracle
  * reconstructs the identical sample in DuckDB and the quantiles
  * match bit-for-bit (the cross-engine auditability contract of
  * q125/q131).
  *
  * The same sketch doubles as a row-count estimator: the selecting
  * hashes of ROW ids are exactly a KMV bottom-k over rows, so
  * (k−1)/(h₍k₎/2^52) estimates the group's ROW count (where
  * [[Cardinality.kmvSketch]] hashes values and estimates DISTINCTS).
  *
  * Scale shape: one bounded-heap aggregation ([[TopK.top_kv]]) —
  * every scan partition reduces each group to ≤ k triples map-side,
  * the shuffle carries k × partitions tiny rows per group, and the
  * result is O(k) per group however large the group. Deterministic:
  * every run, retry and engine selects the same sample (a rand()
  * reservoir reshuffles per run — silently unreproducible profiles).
  *
  * Reference scope: the reference pipeline has no profiling surface —
  * north-star (corpus profiling) beyond parity.
  */
object SampleSketch {

  /** Per-group sample sketch: ascending-by-(h52, id) array of
    * struct<h52: long, id: long, v: double>, the ≤ k rows with
    * smallest id hash. NULL ids can't be ranked and NULL values
    * can't be profiled — both are excluded, matching the exact
    * side's NULL-ignoring aggregates. */
  def sampleSketch(df: DataFrame, group: Column, id: Column,
                   value: Column, k: Int): DataFrame = {
    require(k >= 2, s"sample sketch needs k >= 2, got $k")
    val rows = df.select(group.as("group"),
      Curation.hashOrderKey(id).as("h52"),
      id.cast("long").as("_id"), value.cast("double").as("v"))
      .filter(col("h52").isNotNull && col("_id").isNotNull &&
        col("v").isNotNull && !isnan(col("v")))
    rows.groupBy(col("group"))
      // best-first by score = -h52 (ties: smaller id) = ascending h52
      .agg(TopK.top_kv(k)(-col("h52").cast("double"), col("_id"),
        col("v")).as("mins"))
      // best-first under score = -h52 IS ascending h52 — no reversal
      .select(col("group"), transform(col("mins"), m =>
        struct((-m.getField("_1")).cast("long").as("h52"),
          m.getField("_2").as("id"),
          m.getField("_3").as("v"))).as("sketch"))
  }

  /** Union of two sample sketches: the k smallest (h52, id) of the
    * merged triple sets — exactly the sketch of the unioned row sets
    * (closure, like [[Cardinality.kmvUnionSketch]]); lexicographic
    * struct sort IS (h52, id) order. `array_union` dedups triples,
    * so merging overlapping epochs never double-samples a row. */
  def mergeSketch(a: Column, b: Column, k: Int): Column =
    slice(array_sort(array_union(a, b)), 1, k)

  /** Lower-quantile of the sample's values: the value at 1-based
    * index ⌊(n−1)·p⌋+1 of the ascending value list — a pure index
    * rule (no interpolation arithmetic), so the result is an ACTUAL
    * data value and replays bit-identically in any engine. NULL on
    * an empty sketch. */
  def sketchQuantile(sketch: Column, p: Double): Column = {
    require(p >= 0.0 && p <= 1.0, s"quantile p must be in [0,1], got $p")
    val vals = array_sort(transform(sketch, s => s.getField("v")))
    when(size(sketch) === 0, lit(null).cast("double"))
      .otherwise(element_at(vals,
        (floor((size(sketch) - 1) * lit(p)) + 1).cast("int")))
  }

  /** Row-count estimate from the selecting hashes (the KMV formula
    * over row ids): exact size under k sampled rows, else
    * (k−1)/(h₍k₎/2^52). */
  def sketchRowEstimate(sketch: Column, k: Int): Column =
    when(size(sketch) < k, size(sketch).cast("double"))
      .otherwise(lit((k - 1).toDouble) /
        (element_at(sketch, k).getField("h52").cast("double") /
          lit(Cardinality.HashSpace)))

  /** Report: per-group sample size, lower-quantiles and row-count
    * estimate from already-built sketches ([[sampleSketch]] output, a
    * stored profile table or [[sampleSketchIndexRead]] output). */
  def reportFromSketches(sketches: DataFrame, k: Int,
                         ps: Seq[Double]): DataFrame = {
    val qCols = ps.map(p => sketchQuantile(col("sketch"), p)
      .as(s"p${(p * 100).round}"))
    sketches.select(Seq(col("group"),
      size(col("sketch")).cast("long").as("n_sample")) ++
      qCols :+ round(sketchRowEstimate(col("sketch"), k), 4).as("n_est"): _*)
  }

  // --------------------- persisted profile store (incremental shape)

  /** Epoch fold: per group, merge the epoch partials' sketches —
    * bottom-k of the deduped concatenation, the array form of
    * [[mergeSketch]] over N partials (associative and
    * order-independent, because bottom-k of a union only depends on
    * the union; `array_distinct` keeps an overlapping replayed
    * partial from double-sampling a row, mirroring `array_union`). */
  private def sketchFold(k: Int)(partials: DataFrame): DataFrame =
    partials.groupBy(col("group"))
      .agg(slice(array_sort(array_distinct(flatten(
        collect_list(col("sketch"))))), 1, k).as("sketch"))

  /** Erasure is a REBUILD (the HLL store's rationale): a bottom-k
    * value sample cannot re-admit the entries a victim displaced, so
    * [[sampleSketch]] is recomputed over the retained corpus. */
  private[operators] val sketchStore = StoreFamily.flat("sample_sketch",
    param => sketchFold(param("k").toInt), StoreFamily.Rebuild())
  private[graft] def indexMeta(k: Int, keyName: String,
                               valueName: String): IndexMeta =
    IndexMeta(sketchStore.name, "k" -> k, "keyName" -> keyName,
      "valueName" -> valueName)

  /** Bootstrap a stored profile: one (group, sketch) row per group in
    * the epoch layout, with `k` and the key/value derivations
    * recorded in the `_GRAFT_META` manifest — probing with a
    * different k (or a different metric) is the silent-divergence
    * class the manifest refuses. The corpus is profiled ONCE; every
    * later batch appends its own k-sample and the store answers
    * quantiles over the whole history without any rescan. */
  def sampleSketchIndexWrite(index: DataFrame, path: String, k: Int,
                             keyName: String, valueName: String): Unit = {
    EpochIndex.bootstrap(index, path)
    IndexMeta.write(index.sparkSession, path,
      indexMeta(k, keyName, valueName))
  }

  /** Append one batch's per-group sketch as a new epoch (idempotent
    * per epoch name; manifest-checked). */
  def sampleSketchIndexAppend(spark: org.apache.spark.sql.SparkSession,
                              path: String, partial: DataFrame,
                              epoch: String, k: Int, keyName: String,
                              valueName: String): Unit = {
    IndexMeta.check(spark, path, indexMeta(k, keyName, valueName))
    EpochIndex.append(partial, path, epoch)
  }

  /** Checked read: one merged sketch per group across the compacted
    * base and live epochs — ≡ [[sampleSketch]] over the union of the
    * profiled row sets (bottom-k closure). */
  def sampleSketchIndexRead(spark: org.apache.spark.sql.SparkSession,
                            path: String, k: Int, keyName: String,
                            valueName: String,
                            excludeEpoch: Option[String] = None): DataFrame = {
    IndexMeta.check(spark, path, indexMeta(k, keyName, valueName))
    sketchFold(k)(EpochIndex.read(spark, path, excludeEpoch,
      bootstrapName = "sampleSketchIndexWrite"))
  }
}
