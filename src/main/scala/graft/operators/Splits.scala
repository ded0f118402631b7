package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic train/validation/test assignment for training-data
  * pipelines.
  *
  * The split is a pure function of the row's id — no rand(), no
  * state, no shuffle: re-running the pipeline, adding executors, or
  * reprocessing a single partition yields the identical assignment,
  * which is the property that matters when 100 TB of documents must
  * land in the same split on every run (a rand()-based split silently
  * reshuffles examples between train and test on retry — leakage).
  *
  * Bucket = first 8 hex chars of md5(id) parsed as an integer, mod
  * nBuckets. md5 is used (not xxhash64) because it is engine-portable:
  * DuckDB/BigQuery/Python produce the same digest, so the split can be
  * reproduced — and oracle-verified — outside Spark.
  */
object Splits {

  /** Uniform bucket in [0, nBuckets) from the id column. */
  def splitBucket(id: Column, nBuckets: Int = 100): Column =
    pmod(conv(substring(md5(id.cast("string").cast("binary")), 1, 8), 16, 10)
      .cast("long"), lit(nBuckets))

  /** Named split from cumulative percentage cut points: bucket <
    * trainPct → "train", < trainPct+valPct → "val", else → "test". */
  def assignSplit(id: Column, trainPct: Int = 80, valPct: Int = 10): Column = {
    val b = splitBucket(id, 100)
    when(b < trainPct, lit("train"))
      .when(b < trainPct + valPct, lit("val"))
      .otherwise(lit("test"))
  }

  /** Cluster-safe split: route every NEAR-DUP CLUSTER — not every
    * document — to one split, so a train document's near-duplicate
    * can never land in test. Hashing raw ids (q49's [[assignSplit]])
    * silently leaks: two near-identical documents have unrelated ids
    * and a 10% chance of straddling train/test, which is exactly the
    * contamination dedup exists to prevent. Hashing the CLUSTER id
    * closes it structurally: same cluster ⇒ same md5 bucket ⇒ same
    * split, for any cluster size, by construction.
    *
    * @param docs   the corpus; all columns ride through
    * @param idCol  document id
    * @param labels (id, cluster_id) from
    *               [[Dedup.connectedComponents]] over the verified
    *               near-dup pairs — only documents IN some pair need
    *               a row; everything else is its own singleton
    *               cluster (cluster_id = own id, same as what CC
    *               emits for a vertex with no edges)
    * @return docs columns + (cluster_id, split) — the split a pure
    *         engine-portable function of cluster_id, reproducible
    *         across runs/retries/engines
    *
    * Scale shape: one equi join on the id (labels hold only clustered
    * docs — usually a small fraction, broadcast when small) and a
    * scan-side md5; no shuffle of the corpus beyond the join. */
  def clusterSafeSplit(docs: DataFrame, idCol: String, labels: DataFrame,
                       trainPct: Int = 80, valPct: Int = 10): DataFrame =
    docs.join(labels.select(col("id").as(idCol), col("cluster_id")),
      Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col(idCol)))
      .withColumn("split", assignSplit(col("cluster_id"), trainPct, valPct))

  /** Deterministic stratified sample: per-stratum keep rates in basis
    * points (1/10000), e.g. Map("en" -> 2500) keeps 25% of English
    * rows. The rate table is integer basis points — not a Double — so
    * the cut point needs no float truncation that another engine
    * could round differently.
    *
    * The keep decision is `md5-bucket(id) < rate_bps`, the stratified
    * extension of [[splitBucket]]: a pure function of the row, so the
    * sample is reproducible across runs, retries and engines — the
    * property rand()-based `sampleBy` lacks. Rows whose stratum has no
    * configured rate get `defaultBps` (0 = drop). The rate map joins
    * in as a broadcast dimension: one scan, no shuffle of the fact.
    */
  def stratifiedSample(df: DataFrame, strataCol: String, idCol: String,
                       ratesBps: Map[String, Int],
                       defaultBps: Int = 0): DataFrame = {
    require(ratesBps.values.forall(r => r >= 0 && r <= 10000) &&
      defaultBps >= 0 && defaultBps <= 10000,
      "rates are basis points in [0, 10000]")
    val spark = df.sparkSession
    import spark.implicits._
    val dim = ratesBps.toSeq.toDF(strataCol, "_rate_bps")
    df.join(broadcast(dim), Seq(strataCol), "left")
      .filter(splitBucket(col(idCol), 10000) <
        coalesce(col("_rate_bps"), lit(defaultBps)))
      .drop("_rate_bps")
  }

  /** Training-mixture construction: select documents per source to
    * hit a per-source TOKEN budget `floor(weight × totalTokens)` —
    * the "30 % web, 20 % code…" recipe every pretraining run starts
    * from. Selection order within a source is (md5(id), id): a
    * deterministic engine-portable shuffle, so the mixture is
    * reproducible across runs/retries/engines like every sampler
    * here. A document is included iff the running token total THROUGH
    * it stays ≤ the source budget — a prefix cut in the shuffle
    * order: the first document that would overshoot ends that
    * source's selection, so the budget is never exceeded.
    *
    * Scale shape: the cumulative sum does NOT sort whole sources in
    * one task. The md5 order key is split at its leading hex chars
    * into 16^`shardHexChars` ranges whose lexicographic order IS the
    * selection order, so per-(source, shard) token masses (one tiny
    * aggregate, sources × shards rows to the driver — the
    * Percentiles boundary pattern) give exact global offsets; shards
    * whose offset already exceeds the budget are pruned BEFORE any
    * sort, and the window sort that remains is per-shard —
    * parallelism sources × shards, each a ~1/16^n slice of its
    * source.
    *
    * @return input rows that made the mixture, plus `cum_tokens` —
    *         the running per-source total through this row
    */
  def mixtureSample(df: DataFrame, idCol: String, tokenCol: String,
                    sourceCol: String, weights: Map[String, Double],
                    totalTokens: Long, shardHexChars: Int = 2): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ >= 0.0),
      "weights must be non-negative")
    require(shardHexChars >= 1 && shardHexChars <= 4,
      "shards are driver-held offsets: 16^n for n in [1,4]")
    val budgets: Map[String, Long] =
      weights.map { case (s, w) => s -> math.floor(w * totalTokens).toLong }
    val base = org.apache.spark.sql.graftbridge.Bridge.freshLeaf(df
      .withColumn("_budget", element_at(typedLit(budgets), col(sourceCol)))
      .filter(col("_budget").isNotNull && col("_budget") > 0)
      // a NULL id has no defined place in the selection order — fail
      // loudly rather than silently dropping or reordering the row
      .withColumn("_h", when(col(idCol).isNull, raise_error(lit(
          "mixtureSample: NULL id — the deterministic selection order needs every id")))
        .otherwise(md5(col(idCol).cast("string").cast("binary"))))
      .withColumn("_shard", substring(col("_h"), 1, shardHexChars))
      // checkpoint BEFORE the driver offset collect (the Percentiles
      // boundary pattern): the offsets and the window pass below must
      // read the SAME materialized rows, and the input scan runs once
      .localCheckpoint(true))
    // exact global offset per (source, shard): prefix-sum the shard
    // token masses on the driver
    val masses = BoundedRead.boundedDriverRead(
      base.groupBy(col(sourceCol), col("_shard"))
        // NULL tokens count zero (matching what sum() skips), so the
        // driver read below can never hit a NULL group sum
        .agg(sum(coalesce(col(tokenCol).cast("long"), lit(0L))).as("_mass")),
      maxRows = budgets.size * math.pow(16, shardHexChars).toInt,
      what = "Splits.mixtureSample shard masses",
      boundWhy = s"budgeted sources (${budgets.size}) x 16^shardHexChars " +
        s"($shardHexChars) possible (source, shard) groups")
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val offsets: Map[String, Long] = masses
      .groupBy(_._1)
      .flatMap { case (src, rows) =>
        val sorted = rows.sortBy(_._2)
        val prefix = sorted.scanLeft(0L)(_ + _._3)
        sorted.map(_._2).zip(prefix).map { case (sh, off) => s"$src|$sh" -> off }
      }
    base
      .withColumn("_off", element_at(typedLit(offsets),
        concat_ws("|", col(sourceCol), col("_shard"))))
      // shard-level pruning: a shard starting PAST the budget can
      // contribute nothing — drop it before the sort ever runs.
      // <= not <: at _off == _budget a zero-token row at the shard
      // head still satisfies cum <= budget and must be selected
      .filter(col("_off") <= col("_budget"))
      .withColumn("_cum", col("_off") + sum(coalesce(
        col(tokenCol).cast("long"), lit(0L))).over(
        Window.partitionBy(col(sourceCol), col("_shard"))
          .orderBy(col("_h"), col(idCol))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("_cum") <= col("_budget"))
      .select(df.columns.map(col) :+ col("_cum").as("cum_tokens"): _*)
  }

  /** Temperature-scaled source weights: w_s ∝ mass_s^alpha,
    * normalized — the standard recipe for boosting low-resource
    * sources in a multilingual/multi-domain mixture (alpha = 1 is
    * proportional sampling, alpha → 0 approaches uniform). Masses
    * aggregate to one row per source (bounded driver collect, summed
    * in sorted-source order for determinism); weights round
    * HALF_UP at `roundTo` decimals so another engine computing the
    * same formula lands on the identical budgets. */
  def temperatureWeights(df: DataFrame, sourceCol: String, tokenCol: String,
                         alpha: Double, roundTo: Int = 6): Map[String, Double] = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha in (0, 1]: $alpha")
    // zero-mass sources get NO entry (not weight 0.0): they cannot
    // contribute tokens, and an explicit 0 would read as "requested
    // but empty" downstream — mixtureSample drops unweighted sources
    val masses = BoundedRead.boundedDriverRead(
      df.groupBy(col(sourceCol))
        .agg(sum(coalesce(col(tokenCol).cast("long"), lit(0L))).as("_m")),
      maxRows = 1 << 20,
      what = "Splits.temperatureWeights source masses",
      boundWhy = "one row per source; a mixture recipe names its " +
        "sources, which are report-scale by construction")
      .map(r => (r.getString(0), math.pow(r.getLong(1).toDouble, alpha)))
      .filter(_._2 > 0.0)
      .sortBy(_._1)
    val tot = masses.map(_._2).sum
    require(tot > 0.0,
      "temperatureWeights: the corpus has no token mass — every source sums to zero")
    masses.map { case (s, p) =>
      s -> BigDecimal(p / tot)
        .setScale(roundTo, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.toMap
  }

  /** [[mixtureSample]] with [[temperatureWeights]] computed from the
    * corpus itself — one extra bounded aggregate, then the same
    * sharded prefix cut. */
  def temperatureMixture(df: DataFrame, idCol: String, tokenCol: String,
                         sourceCol: String, alpha: Double, totalTokens: Long,
                         shardHexChars: Int = 2): DataFrame =
    mixtureSample(df, idCol, tokenCol, sourceCol,
      temperatureWeights(df, sourceCol, tokenCol, alpha),
      totalTokens, shardHexChars)

  /** DSIR-style importance log-weights (Xie et al. 2023): score every
    * raw document by how target-domain-like its hashed n-gram feature
    * distribution is,
    *
    *   logw(doc) = Σ_{features f of doc} ln(p_target(f) / q_raw(f))
    *
    * with add-one-smoothed bucket probabilities over `buckets` hashed
    * bigram buckets. High-logw docs "look like" the target domain;
    * data selection keeps the top mass. The hash is the engine-
    * portable md5 bucket ([[splitBucket]] on the bigram string), so
    * the q139 oracle replays weights bit-for-bit — the smoothed ratio
    * is computed as ln((ct+1)·(Nr+B) / ((cr+1)·(Nt+B))), one division
    * and one log, the exact shape the oracle mirrors.
    *
    * Scale shape: two bounded (≤ `buckets`-row) count aggregates —
    * target and raw — broadcast back onto the per-document feature
    * stream; the per-doc score is one map-side-combined sum keyed by
    * the doc id. The corpus text never shuffles; only (doc, bucket)
    * pairs flow. `targetFilter` marks the in-domain subset (rows
    * where it is true contribute to p_target; ALL rows contribute to
    * q_raw and get scored).
    *
    * @return (idCol, n_feats, logw) — one row per input doc;
    *         feature-less docs score 0.0 with n_feats 0
    */
  def dsirLogWeights(df: DataFrame, idCol: String, textCol: String,
                     targetFilter: Column, buckets: Int = 1024,
                     roundTo: Int = 4): DataFrame =
    dsirScore(dsirFeats(df, idCol, textCol, targetFilter, buckets),
      dsirIndex(df, idCol, textCol, targetFilter, buckets),
      idCol, buckets, roundTo)

  /** One (idCol, _tgt, _b) row per hashed bigram occurrence —
    * THE feature extraction all DSIR paths share (the same
    * single-definition rule the boilerplate segmentation follows), so
    * full and incremental runs bucket byte-identically. Feature-less
    * docs keep their one null-bucket row (explode_outer) and survive
    * to the output contract. */
  private def dsirFeats(df: DataFrame, idCol: String, textCol: String,
                        targetFilter: Column, buckets: Int): DataFrame = {
    require(buckets > 0, "buckets must be > 0")
    df.select(col(idCol), targetFilter.as("_tgt"),
        explode_outer(graft.functions.TextFunctions.bigrams(col(textCol)))
          .as("_f"))
      .withColumn("_b", when(col("_f").isNotNull,
        splitBucket(col("_f"), buckets)))
  }

  /** Persisted DSIR feature index: per-bucket raw and target
    * occurrence counts — ≤ `buckets` fixed-width rows whatever the
    * corpus size, the table a 100 TB pipeline writes once at
    * corpus-build time and every later batch scores against. Like
    * the other persisted indexes (band keys, line counts, benchmark
    * grams), the schema records neither `buckets` nor the bigram
    * definition — persist them next to the index path; a mismatched
    * probe silently mis-buckets. */
  def dsirIndex(df: DataFrame, idCol: String, textCol: String,
                targetFilter: Column, buckets: Int = 1024): DataFrame =
    dsirFeats(df, idCol, textCol, targetFilter, buckets)
      .filter(col("_b").isNotNull)
      .groupBy(col("_b"))
      .agg(count(lit(1)).as("cr"),
        sum(when(col("_tgt"), 1L).otherwise(0L)).as("ct"))

  /** Score a NEW batch against a stored index — the daily-batch shape
    * of the persisted-index family: the reference corpora are never
    * re-read; the batch's feature stream joins ≤ `buckets` broadcast
    * count rows. Equals [[dsirLogWeights]] over the index's own
    * corpus bit-for-bit when scoring that corpus (spec-pinned). */
  def dsirScoreWithIndex(batch: DataFrame, idCol: String, textCol: String,
                         index: DataFrame, buckets: Int = 1024,
                         roundTo: Int = 4): DataFrame =
    dsirScore(dsirFeats(batch, idCol, textCol, lit(false), buckets),
      index, idCol, buckets, roundTo)

  // ------------------------------------------ persisted DSIR store
  private[graft] def dsirMeta(buckets: Int): IndexMeta =
    IndexMeta(dsirStore.name, "buckets" -> buckets)

  /** THE bucket-count fold — per-bucket (cr, ct) ADD across disjoint
    * batches. Shared by the epoch-scoped read and compaction. */
  private def dsirFold(partials: DataFrame): DataFrame =
    partials.groupBy(col("_b"))
      .agg(sum(col("cr")).as("cr"), sum(col("ct")).as("ct"))

  /** Erasure subtracts the victims' own [[dsirIndex]] partial — built
    * under the SAME `targetFilter` the store was (it decides ct). */
  private[operators] val dsirStore = StoreFamily.flat("dsir_buckets",
    _ => dsirFold, StoreFamily.Subtract(Seq("cr", "ct")))

  /** Persist a [[dsirIndex]] as an epoch-structured store (the
    * `_epoch=base` layout the other index families share), recording
    * `buckets` in the `_GRAFT_META` manifest — a probe bucketed
    * differently silently mis-buckets, so every read checks it. */
  def dsirIndexWrite(index: DataFrame, path: String, buckets: Int): Unit = {
    EpochIndex.bootstrap(index, path)
    IndexMeta.write(index.sparkSession, path, dsirMeta(buckets))
  }

  /** Manifest-checked epoch-scoped read: corpus-wide bucket counts =
    * per-epoch partials summed (≤ `buckets` rows whatever the epoch
    * count — this family's probe cost never grows with history, but
    * its FILE count does, which is what compaction bounds). */
  def dsirIndexRead(spark: org.apache.spark.sql.SparkSession, path: String,
                    buckets: Int,
                    excludeEpoch: Option[String] = None): DataFrame = {
    IndexMeta.check(spark, path, dsirMeta(buckets))
    dsirFold(EpochIndex.read(spark, path, excludeEpoch,
      bootstrapName = "dsirIndexWrite"))
  }

  /** Append one disjoint batch's bucket counts as a new epoch
    * (manifest-checked; idempotent under a repeated epoch name). */
  def dsirIndexAppend(spark: org.apache.spark.sql.SparkSession, path: String,
                      partial: DataFrame, epoch: String,
                      buckets: Int): Unit = {
    IndexMeta.check(spark, path, dsirMeta(buckets))
    EpochIndex.append(partial, path, epoch)
  }

  private def dsirScore(feats: DataFrame, counts: DataFrame, idCol: String,
                        buckets: Int, roundTo: Int): DataFrame = {
    val totals = counts.agg(
      coalesce(sum(col("cr")), lit(0L)).as("nr"),
      coalesce(sum(col("ct")), lit(0L)).as("nt"))
    val b = lit(buckets.toLong)
    // buckets the index never saw (a batch bigram absent from the
    // corpus) smooth as ct = cr = 0, exactly like add-one smoothing
    // says — NOT silently dropped from the sum; the when() keeps the
    // explode_outer null-feature row contribution-free
    val contrib = when(col("_b").isNotNull, log(
      ((coalesce(col("ct"), lit(0L)) + 1L) * (col("nr") + b)).cast("double") /
        ((coalesce(col("cr"), lit(0L)) + 1L) * (col("nt") + b)).cast("double")))
    feats
      .join(broadcast(counts), Seq("_b"), "left")
      .crossJoin(broadcast(totals))
      .groupBy(col(idCol))
      .agg(count(col("_b")).as("n_feats"),
        round(coalesce(sum(contrib), lit(0.0)), roundTo).as("logw"))
  }

  /** Fixed-size weighted sample WITHOUT replacement — the
    * Efraimidis–Spirakis A-ES scheme: each row gets key u^(1/w) with
    * u uniform in (0, 1], the k largest keys are the sample, and
    * inclusion probability is proportional to weight. This is the
    * EXACT-k companion to the Bernoulli weighted filter (q73): a
    * mixture recipe that says "exactly 50M docs, length-weighted"
    * cannot tolerate Bernoulli's size variance.
    *
    * u derives from the row id's md5 (the engine-wide determinism
    * rule — a rand() sample reshuffles per retry, silently breaking
    * train/test stability), and the key ROUNDS to `roundTo` dp with
    * an id tiebreak, so sample MEMBERSHIP is engine-independent
    * (pow differs at ulp level between libms — q170's oracle replays
    * the rounded key bit-for-bit).
    *
    * Scale shape: the key is a per-row projection; selection is the
    * bounded-heap [[graft.functions.TopK]] aggregation — every scan
    * partition reduces to ≤ k candidates map-side, never a global
    * sort. Non-positive/NULL weights are excluded (they have no
    * sampling mass).
    *
    * @return (idCol, es_key) — the k sampled ids, best-first
    */
  def weightedSampleK(df: DataFrame, idCol: String, weight: Column,
                      k: Int, roundTo: Int = 9): DataFrame = {
    require(k > 0, s"sample size must be positive: $k")
    val u = (Curation.hashOrderKey(col(idCol)) + lit(1)).cast("double") /
      lit(graft.operators.Cardinality.HashSpace)
    val key = round(pow(u, lit(1.0) / weight.cast("double")), roundTo)
    df.filter(weight.isNotNull && weight > 0)
      .select(col(idCol), key.as("es_key"))
      .agg(graft.functions.TopK.top_k(k)(col("es_key"), col(idCol))
        .as("top"))
      .select(explode(col("top")).as("t"))
      .select(col("t._2").as(idCol), col("t._1").as("es_key"))
  }
}
