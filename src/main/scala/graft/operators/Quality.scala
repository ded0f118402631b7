package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Quality-score composition and calibration — the layer that turns
  * the engine's independent per-document quality signals (hashed-LM
  * perplexity [[LmFilter.lmPerplexity]], DSIR importance
  * [[Splits.dsirLogWeights]], the heuristic screens of
  * [[Relevance.qualityFilter]]) into ONE keep/drop decision with
  * per-source thresholds.
  *
  * The calibration primitive is CCNet's head/middle/tail bucketing
  * (reference: the `stripe_sync` pipeline has no analog — this is
  * north-star surface): a raw score threshold that is right for one
  * source is wrong for another (web text and reference text have
  * different perplexity ranges), so CCNet cuts each source's score
  * distribution at fixed QUANTILES and applies the keep policy to the
  * bucket, not the score. [[qualityBuckets]] is that operator for any
  * score column; [[gateReasons]] folds any set of named boolean gates
  * into the keep + named-reasons verdict shape every filter in this
  * engine reports ([[Relevance.qualityFilter]]'s contract, made
  * reusable).
  *
  * Scale shape (100 TB posture): thresholds come from
  * [[Percentiles.interpolated]] — two bounded passes over the scores,
  * never a per-source sort window — and the resulting cut table is
  * one row per source (report-scale), broadcast back onto the score
  * stream. The corpus never shuffles for calibration; only the
  * fixed-width (source, score) projection does, inside the percentile
  * machinery.
  */
object Quality {

  /** Store-family tag of the frozen-calibration snapshots
    * ([[qualityCutsWrite]]). */
  val CutsFamily = "quality_cuts"

  /** Each freeze IS a compacted base (publishVersion retention GCs
    * superseded versions), so the family has nothing to compact.
    * Erasure is a RE-FREEZE, not a filter: the thresholds are
    * quantiles FITTED on the calibration slice (every threshold is a
    * function of every score), so the only exact erasure is
    * [[qualityCuts]] over the retained slice, published with
    * `keepVersions = 1` — retaining the victim-fitted version would
    * keep the erased rows' influence readable on disk. */
  private[operators] val cutsStore = StoreFamily.snapshot(CutsFamily, "cuts")

  private def validateCuts(cuts: Seq[Double]): Unit = {
    require(cuts.nonEmpty && cuts.forall(p => p > 0.0 && p < 1.0),
      s"cuts must lie strictly inside (0, 1): $cuts")
    require(cuts == cuts.sorted && cuts.distinct == cuts,
      s"cuts must be strictly ascending: $cuts")
  }

  /** The calibration TABLE alone: per `byCols` group, the
    * interpolated quantile thresholds of `scoreCol` (SQL
    * `quantile_cont` semantics, bit-identical to DuckDB's), one row
    * per group with threshold columns `c0..c(n-1)`. This is what
    * [[qualityCutsWrite]] freezes and [[qualityBucketsWith]]
    * applies — computing it once on the calibration slice and
    * re-using it for every later batch is the CCNet production
    * shape (recalibrating per batch silently shifts thresholds with
    * the batch mix, making keep/drop decisions irreproducible). */
  def qualityCuts(scores: DataFrame, scoreCol: String, byCols: Seq[String],
                  cuts: Seq[Double] = Seq(1.0 / 3, 2.0 / 3)): DataFrame = {
    validateCuts(cuts)
    Percentiles.interpolated(scores, byCols, scoreCol,
      cuts.indices.map(i => s"c$i").zip(cuts)).drop("n")
  }

  /** Per-group quantile bucketing of a score column — CCNet
    * head/middle/tail, generalized: cut each `byCols` group's score
    * distribution at `cuts` (interpolated quantiles, SQL
    * `quantile_cont` semantics, bit-identical to DuckDB's) and label
    * each row by the bucket its score falls in: `score <= cut(0)` →
    * `labels(0)`, `<= cut(1)` → `labels(1)`, …, else `labels.last`.
    *
    * For an ascending badness score (perplexity), the defaults give
    * CCNet's exact semantics: head = the third of the source that
    * looks most like the reference corpus.
    *
    * Calibrates on `scores` ITSELF — the one-shot shape. For the
    * incremental pipeline (freeze calibration once, apply to every
    * batch) compute [[qualityCuts]] on the calibration slice, persist
    * with [[qualityCutsWrite]], and bucket batches through
    * [[qualityBucketsWith]] against the stored table.
    *
    * Rows with a NULL score get a NULL bucket (no score is not the
    * same as a bad score — the caller's gate decides what to do with
    * unscored docs, the way [[Relevance.qualityFilter]]'s `lm` check
    * fails unknowable fluency explicitly). Bucketing compares the
    * score EXACTLY as passed — calibrate on the rounded, emitted
    * signal (the engine-portable convention all oracle-checked
    * signals follow), not a private unrounded twin.
    *
    * @param as output bucket column name
    * @return `scores` + the `as` label column (threshold columns are
    *         internal and dropped) */
  def qualityBuckets(scores: DataFrame, scoreCol: String, byCols: Seq[String],
                     cuts: Seq[Double] = Seq(1.0 / 3, 2.0 / 3),
                     labels: Seq[String] = Seq("head", "middle", "tail"),
                     as: String = "bucket"): DataFrame =
    qualityBucketsWith(scores, scoreCol, byCols,
      qualityCuts(scores, scoreCol, byCols, cuts), labels, as)

  /** [[qualityBuckets]] against a PRE-COMPUTED (usually stored —
    * [[qualityCutsRead]]) threshold table: groups absent from the
    * calibration get NULL buckets (an uncalibrated source is
    * unknowable, not head — the NULL-score convention extended), and
    * the threshold table must carry exactly `labels.size - 1`
    * threshold columns `c0..c(n-1)` beside `byCols`.
    *
    * Scale shape: the cut table is one row per group (report-scale),
    * broadcast onto the score stream; the corpus never shuffles. */
  def qualityBucketsWith(scores: DataFrame, scoreCol: String,
                         byCols: Seq[String], thresholds: DataFrame,
                         labels: Seq[String] = Seq("head", "middle", "tail"),
                         as: String = "bucket"): DataFrame = {
    // numeric order, not lexicographic: "c10" must follow "c9", and a
    // non-c* stray column is rejected rather than mis-sorted
    val raw = thresholds.columns.filterNot(byCols.contains).toSeq
    require(raw.forall(_.matches("c\\d+")),
      s"threshold table must carry only c0..c(n-1) beside $byCols, got: $raw")
    val names = raw.sortBy(_.drop(1).toInt)
    require(names == (0 until names.size).map(i => s"c$i"),
      s"threshold table must carry c0..c(n-1) beside $byCols, got: $names")
    require(labels.size == names.size + 1,
      s"need ${names.size + 1} labels for ${names.size} thresholds, " +
        s"got ${labels.size}")
    val joined = scores.join(broadcast(thresholds), byCols, "left")
    val bucket = names.indices.reverse.foldLeft(lit(labels.last): Column) {
      (acc, i) => when(col(scoreCol) <= col(names(i)), lit(labels(i))).otherwise(acc)
    }
    joined
      .withColumn(as,
        when(col(scoreCol).isNotNull && col(names.head).isNotNull,
          bucket).otherwise(lit(null)))
      .drop(names: _*)
  }

  private[graft] def cutsMeta(scoreCol: String, byCols: Seq[String],
                              cuts: Seq[Double] = Seq(1.0 / 3, 2.0 / 3)): IndexMeta =
    IndexMeta(CutsFamily, "score" -> scoreCol,
      "by" -> byCols.mkString(","),
      "cuts" -> cuts.map(c => f"$c%.6f").mkString(","))

  /** Freeze a calibration: publish the [[qualityCuts]] table as an
    * atomically-versioned snapshot (the [[Layout.publishVersion]]
    * pointer flip — readers never see a half-written calibration,
    * and the retained versions are the "which calibration did shard
    * N ship under" time-travel window). Unlike the count stores this
    * family is NOT epoch-additive — each freeze supersedes the last
    * whole — so there is nothing to compact, ever; retention is
    * publishVersion's own GC. Returns the published version name. */
  def qualityCutsWrite(spark: org.apache.spark.sql.SparkSession,
                       root: String, thresholds: DataFrame,
                       scoreCol: String, byCols: Seq[String],
                       cuts: Seq[Double] = Seq(1.0 / 3, 2.0 / 3),
                       keepVersions: Int = 2): String = {
    validateCuts(cuts)
    val meta = cutsMeta(scoreCol, byCols, cuts)
    // a re-freeze under DIFFERENT parameters must refuse BEFORE any
    // data lands: a write-if-absent manifest would publish the new
    // thresholds behind the old contract, and every later
    // manifest-checked read would silently return quantiles computed
    // at the wrong cuts — the exact mixup the manifest exists for
    IndexMeta.read(spark, root).foreach { existing =>
      require(existing == meta,
        s"qualityCutsWrite: $root is already a frozen calibration for " +
          s"different parameters (${existing.params}) — one store is one " +
          "calibration contract; freeze changed score/grouping/quantiles " +
          "under a NEW root")
    }
    val version = Layout.publishVersion(spark, s"$root/cuts", keepVersions)(
      dir => thresholds.write.mode("overwrite").parquet(dir))
    IndexMeta.writeIfAbsent(spark, root, meta)
    version
  }

  /** Read the LIVE frozen calibration, manifest-checked: the store
    * must have been written for the same score column, grouping, and
    * quantiles — silently bucketing a perplexity batch against a
    * DSIR calibration is exactly the mixup the manifest exists to
    * refuse. */
  def qualityCutsRead(spark: org.apache.spark.sql.SparkSession,
                      root: String, scoreCol: String, byCols: Seq[String],
                      cuts: Seq[Double] = Seq(1.0 / 3, 2.0 / 3)): DataFrame = {
    IndexMeta.check(spark, root, cutsMeta(scoreCol, byCols, cuts))
    Layout.readVersioned(spark, s"$root/cuts")
  }

  /** Fold named boolean gates into the engine's standard filter
    * verdict: `reasons` = comma-joined names of FAILED checks (in the
    * given order, '' when all pass), `keep` = no check failed. A NULL
    * check outcome counts as failed (an unscorable doc must not pass
    * the gate that couldn't score it — [[Relevance.qualityFilter]]'s
    * `lm` convention). Pure per-row expression work: nothing
    * shuffles, nothing leaves whole-stage codegen. */
  def gateReasons(df: DataFrame, checks: Seq[(String, Column)],
                  keepCol: String = "keep",
                  reasonsCol: String = "reasons"): DataFrame = {
    require(checks.nonEmpty, "at least one check required")
    // concat_ws skips nulls: passed checks vanish from the report
    val reasons = concat_ws(",",
      checks.map { case (n, ok) => when(!coalesce(ok, lit(false)), lit(n)) }: _*)
    df.withColumn(reasonsCol, reasons)
      .withColumn(keepCol, col(reasonsCol) === "")
  }
}
