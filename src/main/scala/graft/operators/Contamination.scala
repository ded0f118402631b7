package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Benchmark-contamination detection: for every candidate training
  * document, how much of it appears verbatim (at n-gram granularity)
  * in a held-out benchmark set.
  *
  * Shape: explode each probe document into its DISTINCT word n-grams
  * (one row per n-gram), inner-join against the distinct n-gram set
  * of the benchmark corpus, count matches per document. The benchmark
  * side is tiny relative to the corpus (eval sets are thousands of
  * documents, the corpus is billions) so the join broadcasts; the
  * probe side never shuffles more than (doc_id, ngram) rows, and the
  * per-doc aggregation is map-side partial. Filtering to
  * `minOverlapRatio` at the end gives the standard decontamination
  * list.
  *
  * n-grams are joined as STRINGS, not engine-seeded hashes, so the
  * operator is oracle-checkable; at extreme scale swap the join key
  * for xxhash64(ngram) to shuffle 8-byte keys (same plan shape).
  */
object Contamination {

  /** n-gram strings of a text column (distinct, space-joined). */
  private def ngrams(textCol: String, n: Int) =
    Dedup.shingles(col(textCol), n)

  /** @param probe     candidate training documents
    * @param benchmark held-out eval documents (small side)
    * @return one row per probe doc: n-gram total, overlap count, ratio
    */
  def ngramOverlap(probe: DataFrame, benchmark: DataFrame,
                   idCol: String, textCol: String,
                   n: Int = 8): DataFrame = {
    val probeGrams = probe.select(col(idCol).as("doc_id"),
      explode(ngrams(textCol, n)).as("ng"))
    val benchGrams = benchmark
      .select(explode(ngrams(textCol, n)).as("ng"))
      .distinct()
    probeGrams
      .join(broadcast(benchGrams.withColumn("_hit", lit(1))), Seq("ng"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_ngrams"),
        count(col("_hit")).as("n_contaminated"))
      .withColumn("overlap_ratio",
        col("n_contaminated").cast("double") / col("n_ngrams").cast("double"))
  }

  // --------------------------------------- persisted benchmark gram index

  /** Distinct benchmark n-grams as md5 FINGERPRINTS — the persisted
    * form of the benchmark side, built ONCE at benchmark-registration
    * time and only probed per training batch (the decontamination twin
    * of `Dedup.bandIndex` / `boilerplateIndex`). Fingerprints,
    * not strings: the stored table carries fixed-width 32-hex-char
    * keys however long the grams are, and the eval text itself never
    * leaves the build job — a held-out benchmark's CONTENT staying out
    * of the shared index is a real leakage concern, not just a size
    * win. */
  def benchmarkGramIndex(benchmark: DataFrame, textCol: String,
                         n: Int = 8): DataFrame =
    benchmark
      .select(explode(ngrams(textCol, n)).as("_ng"))
      .select(md5(col("_ng").cast("binary")).as("gram_fp"))
      .distinct()

  /** Overwrite-mode plain parquet, versioned wholesale — which is also
    * its erasure form: the stored rows are corpus-wide DISTINCT
    * fingerprints with no item id to filter by, so erasing benchmark
    * items is this write over the retained benchmark (overwrite
    * deletes the old files). No manifest, so no store family. */
  def benchmarkGramIndexWrite(index: DataFrame, path: String): Unit =
    index.write.mode("overwrite").parquet(path)

  /** Probe a persisted benchmark index: identical output contract to
    * [[ngramOverlap]] (ContaminationSpec pins the equivalence), but
    * the benchmark corpus is never re-tokenized — the daily-batch
    * shape. The index broadcasts (eval suites are thousands of docs —
    * millions of grams at most — against a corpus of billions), so
    * the probe side never shuffles: per-doc counts are map-side
    * partial over the scan. */
  def incrementalNgramOverlap(probe: DataFrame, index: DataFrame,
                              idCol: String, textCol: String,
                              n: Int = 8): DataFrame = {
    // Same loud-failure contract as semanticCore: an empty (or
    // mis-pathed) persisted gram index would left-join to zero hits
    // and report overlap_ratio = 0 for EVERY probe doc — the silent
    // "fully clean corpus" verdict that is the worst possible failure
    // for a decontamination gate. The index is a cheap parquet read
    // (fixed-width fingerprints), so the limit(1) probe costs one
    // footer scan, and unlike ngramOverlap's inline benchmark there
    // is no caller-visible DataFrame whose emptiness the caller
    // could have checked themselves.
    require(!index.isEmpty,
      "incrementalNgramOverlap: benchmark gram index is EMPTY — a " +
        "missing or mis-pathed persisted index must fail loudly, not " +
        "report overlap_ratio=0 for every probe document")
    val probeGrams = probe
      .select(col(idCol).as("doc_id"), explode(ngrams(textCol, n)).as("_ng"))
      .select(col("doc_id"), md5(col("_ng").cast("binary")).as("gram_fp"))
    probeGrams
      .join(broadcast(index.select(col("gram_fp")).withColumn("_hit", lit(1))),
        Seq("gram_fp"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_ngrams"),
        count(col("_hit")).as("n_contaminated"))
      .withColumn("overlap_ratio",
        col("n_contaminated").cast("double") / col("n_ngrams").cast("double"))
  }

  /** Embedding-level (semantic) decontamination — the paraphrase gap
    * [[ngramOverlap]] cannot see: a benchmark item rewritten in other
    * words shares no verbatim 8-gram but sits next to the original in
    * embedding space. For every probe document, the maximum cosine
    * similarity against ANY benchmark embedding, the benchmark item
    * achieving it, and the ≥ `tau` contamination verdict.
    *
    * Scale shape — same posture as the n-gram family: the benchmark
    * side broadcasts (eval suites are thousands of vectors), the
    * probe corpus is scanned once and NEVER shuffles vectors — the
    * per-probe max is the bounded-heap [[graft.functions.TopK]]
    * aggregator with k=1, reduced map-side, so the shuffle carries
    * one (id, sim) pair per probe per partition. Cost is
    * O(|probe| × |benchmark|) dot products, embarrassingly parallel;
    * for benchmark sets too big to broadcast, pre-bucket both sides
    * with [[Similarity.ivfTopK]]'s cell assignment and run this
    * per cell (the q24 discipline).
    *
    * Similarity is rounded to `roundTo` decimals BEFORE ranking
    * (summation-order stability across engines — the q23 rule); ties
    * break toward the smallest benchmark id.
    *
    * @return (probe_id, nearest_bench_id, max_sim, contaminated) */
  def semanticOverlap(probe: DataFrame, benchmark: DataFrame,
                      idCol: String, vecCol: String, tau: Double,
                      roundTo: Int = 4): DataFrame =
    semanticCore(
      probe.select(col(idCol).as("probe_id"), col(vecCol).as("pvec")),
      benchmark.select(col(idCol).as("bench_id"), col(vecCol).as("bvec")),
      tau, roundTo)

  private def semanticCore(p: DataFrame, b: DataFrame,
                           tau: Double, roundTo: Int): DataFrame = {
    // An EMPTY benchmark side (an empty — or mis-pathed — persisted
    // index read by semanticOverlapStored) would make the cross join
    // produce zero rows: a caller joining probes back through the
    // output would silently drop the entire corpus, the worst possible
    // failure mode for a decontamination gate. Fail loudly instead —
    // the check is one limit(1) action on the side that broadcasts.
    // Cost note: this makes PLAN CONSTRUCTION eager, and for a
    // COMPUTED (non-stored) benchmark the upstream plan runs twice —
    // once for this probe, once in the join. Acceptable here because
    // benchmark sides are eval suites (thousands of rows, one embed
    // scan); a caller with an expensive computed benchmark should
    // cache()/localCheckpoint it before calling, which collapses the
    // double evaluation to one.
    require(!b.isEmpty,
      "semanticOverlap: benchmark side is EMPTY — a missing or " +
        "mis-pathed benchmark/index must fail loudly, not return an " +
        "empty verdict set that reads as a fully clean corpus")
    p.join(broadcast(b))
      .select(col("probe_id"), col("bench_id"),
        round(Similarity.cosine(col("pvec"), col("bvec")), roundTo).as("sim"))
      .groupBy(col("probe_id"))
      .agg(graft.functions.TopK.top_k(1)(col("sim"), col("bench_id")).as("top"))
      .select(col("probe_id"), explode(col("top")).as("t"))
      .select(col("probe_id"),
        col("t._2").as("nearest_bench_id"),
        col("t._1").as("max_sim"))
      .withColumn("contaminated", col("max_sim") >= tau)
  }

  /** Persisted benchmark-embedding index — [[benchmarkGramIndexWrite]]'s
    * semantic sibling, the daily-batch shape: embed the eval suites
    * ONCE, then probe every incoming batch against the store without
    * re-reading benchmark text (q111's discipline at the embedding
    * level). The index is a plain overwrite parquet (eval suites are
    * small and versioned wholesale, nothing to fold incrementally —
    * the epoch machinery would be weight without work here). Erasure
    * is this write over the retained benchmark: an in-place filtered
    * self-overwrite of the directory being read is the classic
    * self-read corruption. */
  def benchmarkVecIndexWrite(benchmark: DataFrame, idCol: String,
                             vecCol: String, path: String): Unit =
    benchmark.select(col(idCol).as("bench_id"), col(vecCol).as("bvec"))
      .write.mode("overwrite").parquet(path)

  def benchmarkVecIndexRead(spark: org.apache.spark.sql.SparkSession,
                            path: String): DataFrame =
    spark.read.parquet(path)

  /** The reverse view of [[semanticOverlap]] — the report the
    * EVAL-SET owner asks for: per benchmark item, how many training
    * documents it "burned" (contaminated), including the zero rows
    * that prove an item is clean. Attribution is by NEAREST benchmark
    * item only (each contaminated probe counts toward its argmax), so
    * the counts partition the contaminated probes — sum(n_burned) =
    * total contaminated. One aggregation over the overlap output plus
    * one left join against the (small) benchmark id list. */
  def burnReport(overlap: DataFrame, benchmark: DataFrame,
                 idCol: String): DataFrame =
    benchmark.select(col(idCol).as("bench_id"))
      .join(overlap.filter(col("contaminated"))
        .groupBy(col("nearest_bench_id").as("bench_id"))
        .agg(count(lit(1)).as("n_burned")), Seq("bench_id"), "left")
      .select(col("bench_id"), coalesce(col("n_burned"), lit(0L)).as("n_burned"))

  /** Probe a persisted benchmark-embedding index: identical output
    * contract to [[semanticOverlap]] (spec-pinned equivalence) with
    * the benchmark side loaded from the store. */
  def semanticOverlapStored(probe: DataFrame, index: DataFrame,
                            idCol: String, vecCol: String, tau: Double,
                            roundTo: Int = 4): DataFrame =
    semanticCore(
      probe.select(col(idCol).as("probe_id"), col(vecCol).as("pvec")),
      index.select(col("bench_id"), col("bvec")),
      tau, roundTo)

  /** Contamination PROPAGATED through near-duplicate clusters — the
    * hole direct n-gram overlap leaves open: a contaminated doc's
    * near-duplicate (a light paraphrase of the same benchmark item)
    * can clear the verbatim-gram threshold itself, and when dedup
    * keeps THAT copy as the cluster representative, the benchmark
    * leaks into training through the back door. The fix is
    * structural: contamination is a property of the near-dup
    * CLUSTER, not the document — every member inherits the cluster's
    * maximum overlap ratio (the same cluster-level reasoning
    * [[Splits.clusterSafeSplit]] applies to train/test assignment).
    *
    * Cluster edges come from [[Dedup.exactJoin]] under
    * [[Dedup.Jaccard]] (the q215
    * exact join — deterministic and oracle-replayable, where
    * LSH-seeded edges would not be) and collapse via
    * [[Dedup.connectedComponents]]. Docs not in any pair are their
    * own singleton cluster. Only PROBE docs are scored and
    * propagated; the benchmark side contributes grams, never rows.
    *
    * Scale shape: the exact join is prefix-filtered (never
    * all-pairs), CC runs on the (sparse) pair set, the gram overlap
    * is the [[ngramOverlap]] broadcast shape, and the propagation is
    * one cluster-keyed window over the per-doc ratio table.
    *
    * @return flagged docs only (cluster_ratio > flagThreshold):
    *         (doc_id, own_ratio, cluster_ratio, flagged_by_neighbor)
    *         — flagged_by_neighbor marks docs that would have
    *         SURVIVED the direct check */
  def propagatedOverlap(docs: DataFrame, benchFilter: org.apache.spark.sql.Column,
                        idCol: String, textCol: String, n: Int = 8,
                        pairThreshold: Double = 0.5, shingleK: Int = 3,
                        flagThreshold: Double = 0.1,
                        roundTo: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = Dedup.exactJoin(docs, idCol, textCol,
      Dedup.Jaccard(pairThreshold, shingleK)).select(col("id_a"), col("id_b"))
    val cc = Dedup.connectedComponents(pairs)
    val ratios = ngramOverlap(docs.filter(!benchFilter),
        docs.filter(benchFilter), idCol, textCol, n)
      .select(col("doc_id"), col("overlap_ratio").as("_own"))
    ratios
      .join(cc.select(col("id").as("doc_id"), col("cluster_id")),
        Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("cluster_ratio",
        max(col("_own")).over(Window.partitionBy(col("cluster_id"))))
      .filter(col("cluster_ratio") > flagThreshold)
      .select(col("doc_id"),
        round(col("_own"), roundTo).as("own_ratio"),
        round(col("cluster_ratio"), roundTo).as("cluster_ratio"),
        (col("_own") <= flagThreshold).as("flagged_by_neighbor"))
  }
}
