package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hashed bigram language-model perplexity filter — the CCNet-style
  * quality gate: train token-level bigram counts on a REFERENCE
  * corpus (e.g. the in-language, known-good subset), then score every
  * candidate document by its per-bigram negative log-likelihood under
  * that model. Low perplexity ⇒ "looks like the reference corpus";
  * curation keeps the low-ppl mass (CCNet buckets head/middle/tail on
  * exactly this score). Complements [[Splits.dsirLogWeights]]: DSIR
  * ranks docs by target-vs-raw likelihood RATIO, this ranks by
  * absolute likelihood under one reference model — the two catch
  * different garbage (DSIR can't flag text that is rare in target
  * AND raw; the LM can).
  *
  * Model shape: P(w2 | w1) = (c2 + 1) / (c1 + V), add-one smoothed,
  * where c2 is the bigram's occurrence count and c1 the context
  * token's occurrence count as a bigram head, BOTH hashed into
  * fixed-width md5 bucket spaces (`bigramBuckets` / `ctxBuckets`) —
  * the Talbot–Osborne randomized-LM trick that makes the model a
  * bounded table instead of a vocabulary-sized one. V is taken as
  * `ctxBuckets` (the hashed next-token space). Hash collisions blur
  * probabilities both ways; for a FILTER score that ranks documents
  * this is the standard accepted trade (same contract as DSIR's
  * hashed buckets). md5 bucketing (not xxhash64) keeps every count
  * and score engine-portable — the q208 oracle replays them
  * bit-for-bit in DuckDB.
  *
  * Scale shape (100 TB posture): the trained model is ≤
  * `ctxBuckets + bigramBuckets` fixed-width rows whatever the
  * reference size — it broadcasts. Scoring is one map-side-combined
  * per-doc aggregation over the candidate's own bigram stream; the
  * candidate text never shuffles, only (doc, bucket) pairs flow,
  * exactly the [[Splits.dsirLogWeights]] topology. The persisted
  * store (write/append/compact) is the shared epoch layout: counts
  * ADD across disjoint reference batches, so the model grows by
  * appending partials, never by re-reading history.
  */
object LmFilter {

  /** One (idCol, _f, _b1, _b2) row per bigram occurrence: _b1 the
    * hashed CONTEXT bucket (first token of the bigram), _b2 the
    * hashed bigram bucket. THE feature extraction all LM paths share
    * (single-definition rule), so train and score bucket
    * byte-identically. Feature-less docs (< 2 tokens) keep their one
    * null-feature row (explode_outer) and survive to the score
    * contract with n_bigrams = 0. */
  private def lmFeats(df: DataFrame, idCol: String, textCol: String,
                      ctxBuckets: Int, bigramBuckets: Int): DataFrame = {
    require(ctxBuckets > 0, "ctxBuckets must be > 0")
    require(bigramBuckets > 0, "bigramBuckets must be > 0")
    df.select(col(idCol),
        explode_outer(graft.functions.TextFunctions.bigrams(col(textCol)))
          .as("_f"))
      .withColumn("_b1", when(col("_f").isNotNull,
        Splits.splitBucket(element_at(split(col("_f"), " "), 1), ctxBuckets)))
      .withColumn("_b2", when(col("_f").isNotNull,
        Splits.splitBucket(col("_f"), bigramBuckets)))
  }

  /** Train the hashed bigram LM: per-bucket occurrence counts, one
    * table with `_g` = 1 (context buckets) / 2 (bigram buckets) —
    * ≤ ctxBuckets + bigramBuckets rows whatever the reference corpus
    * size. Counts ADD across disjoint reference batches
    * ([[lmIndexMerge]]), which is what makes the persisted store's
    * epoch-append sound. */
  def lmIndex(ref: DataFrame, idCol: String, textCol: String,
              ctxBuckets: Int = 4096,
              bigramBuckets: Int = 32768): DataFrame = {
    val feats = lmFeats(ref, idCol, textCol, ctxBuckets, bigramBuckets)
      .filter(col("_f").isNotNull)
    feats.select(lit(1).as("_g"), col("_b1").as("_b"))
      .unionByName(feats.select(lit(2).as("_g"), col("_b2").as("_b")))
      .groupBy(col("_g"), col("_b"))
      .agg(count(lit(1)).as("c"))
  }

  /** Fold two disjoint batches' LM counts (same contract as the other
    * count-index families: per-bucket ADD). */
  def lmIndexMerge(index: DataFrame, batchIndex: DataFrame): DataFrame =
    lmFold(index.unionByName(batchIndex))

  /** Score documents under a trained LM: per-doc mean negative log
    * likelihood over its bigrams and the corresponding perplexity.
    *
    * nll = mean over bigrams of ln((c1 + V) / (c2 + 1)) with
    * V = ctxBuckets; ppl = exp(nll). Bigrams the model never saw
    * smooth as c1 = c2 = 0 (add-one says 1/V), NOT silently dropped.
    * Docs with < 2 tokens score (n_bigrams 0, nll 0.0, ppl 1.0) —
    * present in the output, flagged by n_bigrams, never filtered
    * here (thresholding is the caller's curation policy).
    *
    * @return (idCol, n_bigrams, nll, ppl) — doubles rounded to
    *         `roundTo` (engine-portable; summation-order drift is
    *         below the rounding) */
  def lmPerplexity(docs: DataFrame, idCol: String, textCol: String,
                   index: DataFrame, ctxBuckets: Int = 4096,
                   bigramBuckets: Int = 32768,
                   roundTo: Int = 4): DataFrame = {
    // An EMPTY model scores every doc at the constant ln(V) — a
    // mis-pathed store read would silently grade the whole corpus
    // identical, the same failure class the contamination guards
    // close. The probe is one limit(1) action on a ≤ (ctx + bigram)
    // buckets-row table; for a COMPUTED (non-stored) index the
    // upstream aggregation runs twice — cache()/localCheckpoint the
    // index first if that matters (stored reads are cheap parquet).
    require(!index.isEmpty,
      "lmPerplexity: EMPTY LM index — every doc would score the " +
        "constant ln(V); check the index path/build before scoring")
    val feats = lmFeats(docs, idCol, textCol, ctxBuckets, bigramBuckets)
    val ctx = index.filter(col("_g") === 1)
      .select(col("_b").as("_b1"), col("c").as("_c1"))
    val big = index.filter(col("_g") === 2)
      .select(col("_b").as("_b2"), col("c").as("_c2"))
    val v = lit(ctxBuckets.toLong)
    val contrib = when(col("_f").isNotNull, log(
      (coalesce(col("_c1"), lit(0L)) + v).cast("double") /
        (coalesce(col("_c2"), lit(0L)) + 1L).cast("double")))
    val nll0 = coalesce(avg(contrib), lit(0.0))
    feats
      .join(broadcast(ctx), Seq("_b1"), "left")
      .join(broadcast(big), Seq("_b2"), "left")
      .groupBy(col(idCol))
      .agg(count(col("_f")).as("n_bigrams"),
        round(nll0, roundTo).as("nll"),
        round(exp(nll0), roundTo).as("ppl"))
  }

  // ------------------------------------------------ persisted LM store
  /** Erasure subtracts the victims' own [[lmIndex]] count partial:
    * the store then scores every document exactly as an LM trained
    * without the victims would. */
  private[operators] val lmStore = StoreFamily.flat("lm_bigram", _ => lmFold,
    StoreFamily.Subtract(Seq("c"), absorbed = "trained on"))
  private[graft] def lmMeta(ctxBuckets: Int, bigramBuckets: Int): IndexMeta =
    IndexMeta(lmStore.name,
      "ctx_buckets" -> ctxBuckets, "bigram_buckets" -> bigramBuckets)

  /** THE count fold — per-(kind, bucket) ADD across epochs. Shared by
    * the epoch-scoped read and compaction. */
  private def lmFold(partials: DataFrame): DataFrame =
    partials.groupBy(col("_g"), col("_b")).agg(sum(col("c")).as("c"))

  /** Persist a trained [[lmIndex]] as an epoch-structured store,
    * recording both bucket widths in the manifest — a probe hashed
    * into a different bucket space silently mis-scores, so every
    * read checks them. */
  def lmIndexWrite(index: DataFrame, path: String,
                   ctxBuckets: Int, bigramBuckets: Int): Unit = {
    EpochIndex.bootstrap(index, path)
    IndexMeta.write(index.sparkSession, path,
      lmMeta(ctxBuckets, bigramBuckets))
  }

  /** Manifest-checked epoch-scoped read: model counts = per-epoch
    * partials summed (bounded rows whatever the epoch count). */
  def lmIndexRead(spark: org.apache.spark.sql.SparkSession, path: String,
                  ctxBuckets: Int, bigramBuckets: Int,
                  excludeEpoch: Option[String] = None): DataFrame = {
    IndexMeta.check(spark, path, lmMeta(ctxBuckets, bigramBuckets))
    lmFold(EpochIndex.read(spark, path, excludeEpoch,
      bootstrapName = "lmIndexWrite"))
  }

  /** Append one disjoint reference batch's counts as a new epoch
    * (manifest-checked; idempotent under a repeated epoch name). */
  def lmIndexAppend(spark: org.apache.spark.sql.SparkSession, path: String,
                    partial: DataFrame, epoch: String,
                    ctxBuckets: Int, bigramBuckets: Int): Unit = {
    IndexMeta.check(spark, path, lmMeta(ctxBuckets, bigramBuckets))
    EpochIndex.append(partial, path, epoch)
  }
}
