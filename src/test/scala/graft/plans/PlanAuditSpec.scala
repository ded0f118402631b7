package graft.plans

import graft.SparkSpecBase
import graft.queries.Catalog

/** Plan-shape regression gate: the invariants PlanAudit prints,
  * asserted. A lost pushdown, a broadcast that degrades to a
  * sort-merge or nested-loop join, or a new cartesian product fails
  * `sbt test` here instead of waiting for a judge (or a 100 TB run)
  * to read the plan.
  *
  * Plans are built with AQE off: executed stages under AQE print as
  * opaque QueryStage references that hide join/codegen internals, and
  * the static plan is what the cost-based choices below are made on.
  * Building `executedPlan` mostly only plans. Exceptions, all bounded
  * at this spec's sf0.001: operators with driver-side preprocessing
  * (exact percentiles' boundary collect, z-order min/max, mixture
  * sampling's shard offsets) run it at build time, and the
  * stage-barrier queries (q99/q100, plus the operator-internal
  * checkpoints in q101/q103) run their eager localCheckpoint stages
  * during construction — milliseconds here, but a new gate over a
  * checkpointed query is not free.
  */
class PlanAuditSpec extends SparkSpecBase {
  private val sfDir = "/root/testdata/sf0.001"

  private def withStaticPlans[T](body: => T): T = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body
    finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  private def planOf(name: String): String = withStaticPlans {
    Catalog.all.find(_.name == name)
      .getOrElse(fail(s"no catalog query named $name"))
      .fn(spark, sfDir).queryExecution.executedPlan.toString
  }

  /** Shuffle exchanges only — BroadcastExchange is the cheap kind the
    * audit WANTS to see, and ReusedExchange is a reuse marker. Counts
    * every `Exchange <partitioning>` spelling (hash, range, single,
    * round-robin, any future one) rather than an allowlist, so a stray
    * repartition(n) can't slip under the shuffle-count gates. */
  private def occurrences(plan: String, token: String): Int =
    plan.linesIterator.count(_.contains(token))

  private def shuffles(plan: String): Int =
    plan.linesIterator.count { l =>
      l.contains("Exchange ") &&
        !l.contains("BroadcastExchange") && !l.contains("ReusedExchange")
    }

  /** Widen-aware shuffle gate. At this spec's sf0.001 every scan is a
    * single split, so [[graft.operators.Par.widen]] legitimately
    * inserts ONE `REPARTITION_BY_NUM` hash exchange keyed by the row
    * id, BELOW the expensive projection it exists to parallelize; on
    * a scan with enough splits the same call provably adds nothing
    * (the "Par.widen contract" test). Asserts: zero shuffles, or
    * exactly the widen exchange — keyed by `key`, marked
    * REPARTITION_BY_NUM, and printed below (= after, in tree order)
    * the first Project, i.e. the small not-yet-expanded input is what
    * shuffles, never the expanded payload. */
  private def assertWidenOnlyShuffle(plan: String, key: String): Unit = {
    val lines = plan.linesIterator.toVector
    val ex = lines.zipWithIndex.filter { case (l, _) =>
      l.contains("Exchange ") &&
        !l.contains("BroadcastExchange") && !l.contains("ReusedExchange")
    }
    assert(ex.size <= 1, s"more than the one widen exchange:\n$plan")
    ex.foreach { case (l, i) =>
      assert(l.contains(s"hashpartitioning($key") &&
        l.contains("REPARTITION_BY_NUM"),
        s"non-widen exchange '${l.trim}' in:\n$plan")
      val firstProject = lines.indexWhere(_.contains(") Project"))
      assert(firstProject >= 0 && firstProject < i,
        s"widen exchange is not below the projection:\n$plan")
    }
  }

  test("no CartesianProduct anywhere in the catalog") {
    withStaticPlans {
      val offenders = Catalog.all.flatMap { q =>
        val plan = q.fn(spark, sfDir).queryExecution.executedPlan.toString
        if (plan.contains("CartesianProduct")) Some(q.name) else None
      }
      assert(offenders.isEmpty,
        s"cartesian products (all-pairs shuffles — never survive 100 TB): $offenders")
    }
  }

  test("q2 projection+filter: zero shuffles, filter reaches the parquet scan") {
    val plan = planOf("q2_filter_project")
    assert(shuffles(plan) === 0, plan)
    assert("""PushedFilters: \[[^\]]+\]""".r.findFirstIn(plan).isDefined,
      s"no pushed filters in scan:\n$plan")
  }

  test("q6 dim joins broadcast (no sort-merge), one agg shuffle") {
    val plan = planOf("q6_broadcast_join")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), s"dim join degraded to SMJ:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(shuffles(plan) <= 1, s"expected only the final agg shuffle:\n$plan")
  }

  test("q7 fact-to-orders equi join stays a hash join") {
    val plan = planOf("q7_fact_join")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("ShuffledHashJoin"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q16 top-k plans as TakeOrderedAndProject, not a global sort") {
    val plan = planOf("q16_topk")
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q23 cosine top-k: bounded-heap partial aggregate + tiny broadcast side") {
    val plan = planOf("q23_cosine_topk")
    // TopKAggregator is object-typed → ObjectHashAggregate with a
    // partial pass before the exchange (map-side heap merge)
    assert(plan.contains("ObjectHashAggregate"), plan)
    // the query side is the broadcast build of an NLJ — the corpus is
    // streamed, never broadcast, and never cartesian-shuffled
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q47 DSv2 NDJSON scan pushes filters and prunes columns") {
    val plan = planOf("q47_ndjson_pushdown")
    assert(plan.contains("NdjsonScan"), plan)
    assert("""PushedFilters=\[.+\]""".r.findFirstIn(plan).isDefined,
      s"NDJSON pushdown lost:\n$plan")
    assert(shuffles(plan) === 0, plan)
  }

  test("q59 band join bucketizes into an equi join (no nested loop)") {
    val plan = planOf("q59_band_join")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"band join degraded to BNLJ:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin") ||
      plan.contains("ShuffledHashJoin"), plan)
  }

  test("q1 grouped aggregate: partial agg before a single shuffle") {
    val plan = planOf("q1_agg")
    assert(shuffles(plan) === 1, plan)
    assert(plan.contains("HashAggregate"), plan)
  }

  test("q88 many-group percentiles: window, filter, and agg share ONE exchange") {
    val plan = planOf("q88_manygroup_percentile")
    // the variant's reason to exist: rank (Window), bracket filter, and
    // final aggregate all sit on the same hash partitioning — a second
    // exchange would mean Catalyst stopped recognizing the co-partitioning
    assert(shuffles(plan) === 1, plan)
    assert(plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q103 mixture sampling: every window is per-(source, shard), never whole-source") {
    val plan = planOf("q103_mixture_sample")
    // the operator's reason to exist vs a naive per-source window: the
    // cumulative sort must be sharded so no task sorts a whole source
    val windows = plan.linesIterator.filter(_.contains("Window ")).toSeq
    assert(windows.nonEmpty, plan)
    windows.foreach(w => assert(w.contains("_shard"),
      s"whole-source window sort (no _shard in partition spec): $w"))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q106 vocab coverage: bounded top-V cut, vocabulary joins back as broadcast") {
    val plan = planOf("q106_vocab_coverage")
    // the vocabulary cut must be a bounded TakeOrdered (vocabSize
    // rows), never a global Sort, and the lookup must broadcast —
    // a shuffled join here would re-shuffle the whole token stream
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q105 intra-doc line dedup: pure per-row projection, zero shuffles") {
    val plan = planOf("q105_intradoc_line_dedup")
    assert(shuffles(plan) === 0, plan)
    assert(!plan.contains("Window "), plan)
  }

  test("q95 z-order keys: pure scan+project, codegen'd, zero shuffles") {
    val plan = planOf("q95_zorder_key")
    // min/max run as a separate bounded agg job at build time; the
    // keyed output itself must stay a narrow codegen'd projection —
    // a shuffle here would mean the interleave stopped being a
    // per-row expression
    assert(shuffles(plan) === 0, plan)
    // "*(1) Project" = inside a whole-stage-codegen stage in
    // executedPlan.toString (the literal "WholeStageCodegen" label
    // only appears in formatted explain)
    assert(plan.contains("*(1) Project"), plan)
  }

  test("q96 equal-depth keys: boundary trees codegen'd; at most the widen exchange") {
    val plan = planOf("q96_zorder_equal_depth")
    // the quantile boundary passes run eagerly at build time; the
    // keyed output is scan + comparison-tree projections — anything
    // beyond Par.widen's one small pre-projection exchange, or a
    // codegen fallback, is the 26 s regression coming back
    assertWidenOnlyShuffle(plan, "l_orderkey")
    assert("""\*\(\d+\) Project""".r.findFirstIn(plan).isDefined, plan)
  }

  test("q100 stage barriers hold: the count assembly reads checkpoints, not the chain") {
    val plan = planOf("q100_curation_pipeline")
    // each of the seven count branches must read its stage's
    // materialized survivor set; without the barriers Catalyst
    // inlines the full dedup/decontamination chain into every branch
    // (measured: 406 parquet scans in the static plan, 4.7 s -> 2.7 s
    // at sf0.1 when fixed)
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans <= 6, s"q100 count assembly re-derives its stages: $scans parquet scans")
    assert("Scan ExistingRDD".r.findAllIn(plan).size >= 4,
      s"expected checkpointed stage leaves in:\n$plan")
  }

  test("q113 HTML strip: pure codegen'd projection, zero shuffles") {
    val plan = planOf("q113_html_strip")
    // the whole op is a regexp/replace chain — any exchange means a
    // shuffle crept into what must stay scan-speed row-local work
    assert(shuffles(plan) === 0, plan)
    assert(plan.contains("*(1) Project"), plan)
  }

  test("q111 incremental contamination: index probes as broadcast, stream never re-shuffles") {
    val plan = planOf("q111_incremental_contamination")
    // the gram-fp index must broadcast against the probe stream; a
    // SortMergeJoin would shuffle the full probe gram stream by key
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    // index-build distinct + final per-doc agg — nothing else
    assert(shuffles(plan) <= 2, plan)
  }

  test("q115/q116/q117 PQ family: codebooks and LUTs broadcast, heap top-k, no corpus sort") {
    for (name <- Seq("q115_product_quantization", "q116_pq_adc_search", "q117_ivf_pq")) {
      val plan = planOf(name)
      assert(plan.contains("BroadcastHashJoin"), s"$name:\n$plan")
      // q117 assembles codesWithCells in-query: ONE corpus-id
      // SortMergeJoin zipping codes to cells (a stored IVFPQ index has
      // it precomputed — see ivfPqIndexWrite). Codebook/LUT joins must
      // still broadcast everywhere: any second SMJ is a degradation.
      val smjBudget = if (name == "q117_ivf_pq") 1 else 0
      val smjs = plan.linesIterator.count(_.contains("SortMergeJoin"))
      assert(smjs <= smjBudget,
        s"$name: codebook/LUT join degraded to SMJ ($smjs > $smjBudget):\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$name:\n$plan")
    }
    // the ADC searches must rank via the bounded-heap aggregator (a
    // map-side partial ObjectHashAggregate), never a per-query window
    // sort of the corpus
    for (name <- Seq("q116_pq_adc_search", "q117_ivf_pq")) {
      val plan = planOf(name)
      assert(plan.contains("ObjectHashAggregate"), s"$name:\n$plan")
    }
  }

  test("q114 span removal: equi joins only, reassembly never shuffles token arrays") {
    val plan = planOf("q114_span_removal")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    // fingerprint stats, flagged join, island windows, span collect,
    // final doc join — each a bounded key-partitioned exchange; the
    // corpus token stream itself must not add a posexplode/regroup pair
    assert(shuffles(plan) <= 7, plan)
  }

  test("q118/q120/q121/q122 scan-speed projections: zero shuffles, codegen'd or per-partition") {
    // pretokenize and BPE are pure per-row expression work — a
    // shuffle in either means the scan path regressed. Tone detection
    // synthesizes its codec payload behind a Par.widen, so at this SF
    // it may carry the one small pre-expansion widen exchange (no-op
    // at scale) and nothing else; image hashing dropped its widen
    // after a scoped A/B showed the exchange cost more than the
    // parallelism bought (q124 6.6→4.7 s), so it may carry zero.
    for (name <- Seq("q118_pretokenize", "q120_bpe_encode")) {
      val plan = planOf(name)
      assert(shuffles(plan) === 0, s"$name grew a shuffle:\n$plan")
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"), s"$name:\n$plan")
    }
    for (name <- Seq("q121_dominant_tone", "q122_image_dhash")) {
      val plan = planOf(name)
      assertWidenOnlyShuffle(plan, "doc_id")
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"), s"$name:\n$plan")
    }
  }

  test("Par.widen contract: no-op on a scan with enough splits; one id-keyed exchange on a narrow one") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // "wide scan" stand-in: pin the split size to 1 byte so even this
    // tiny table yields more splits than cores — widen must return
    // the input DataFrame ITSELF (planning-only check, nothing runs)
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1")
    try {
      val wide = graft.operators.Par.widen(docs, "doc_id")
      assert(wide eq docs,
        "widen must add nothing when the scan already splits at least core-count ways")
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    // narrow scan (default 128 MB splits → one split at sf0.001):
    // widen fires as ONE deterministic hash repartition by the id
    val narrow = graft.operators.Par.widen(docs, "doc_id")
    val plan = withStaticPlans(narrow.queryExecution.executedPlan.toString)
    assert(shuffles(plan) === 1, plan)
    assert(plan.contains("hashpartitioning(doc_id") &&
      plan.contains("REPARTITION_BY_NUM"), plan)
  }

  test("q93/q97/q98 signature fronts: the sketch expression is never duplicated per band") {
    // The LSH signature fronts compute their sketch (minhash/simhash/
    // SRP) in a projection BELOW the banding projection that slices
    // `sig` once per band. Recompute safety of the barrier removal
    // (Par.widen below the projection instead of a post-projection
    // repartition) rests on CollapseProject's cheapness guard
    // REFUSING to collapse the two projections — if a Spark upgrade
    // relaxed that guard, the sketch would inline into every band
    // slice and the banding Project's output would carry `bands`
    // copies of the sketch call on one plan line (16× minhash, 4×
    // simhash/SRP — a silent recompute multiplier). Gate: no plan
    // line anywhere in these queries contains more than one sketch
    // call, and each query does contain its sketch (non-vacuous).
    // Per PLAN, the sketch is computed by exactly one Project — the
    // full-corpus run's: the store probe signatures and bands its
    // batch once (a pinned leaf) and derives both halves from it.
    val sketchOf = Map(
      "q93_incremental_lsh" -> "minhash_shingled(",
      "q97_incremental_simhash" -> "simhash64(",
      "q98_incremental_srp" -> "srp_signature(")
    for ((name, tok) <- sketchOf) {
      val plan = planOf(name)
      assert(plan.contains(tok), s"$name: sketch token $tok missing — gate is vacuous:\n$plan")
      val multi = plan.linesIterator.filter(l =>
        l.sliding(tok.length).count(_ == tok) > 1).toSeq
      assert(multi.isEmpty,
        s"$name: sketch duplicated into band consumers (CollapseProject " +
          s"guard regressed):\n${multi.mkString("\n")}")
      assert(sketchProjects(plan, tok) === 1,
        s"$name: the sketch is computed by more than the full run:\n$plan")
    }
  }

  /** Project nodes that compute the sketch `tok` — per plan, not per
    * line. */
  private def sketchProjects(plan: String, tok: String): Int =
    plan.linesIterator.count(l => l.contains("Project [") && l.contains(tok))

  test("in-memory LSH probes signature each batch once, for every family") {
    // The probe signatures and bands its batch ONCE, into a pinned
    // leaf, and derives the within-batch and batch×corpus halves from
    // that banded frame, so the assembled probe plan computes no batch
    // sketch at all. The index is a checkpointed leaf here, so every
    // sketch Project left in the plan would be the batch's.
    import graft.operators.Dedup
    import org.apache.spark.sql.functions.{col, pmod, lit, xxhash64}
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "text")
    val vecs = graft.sources.Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding")
    def plans(df: org.apache.spark.sql.DataFrame, idCol: String,
              valueCol: String, family: Dedup.LshFamily) =
      withStaticPlans {
        val batch = df.filter(pmod(col(idCol), lit(3)) === 0)
        val index = Dedup.bandIndex(
          df.filter(pmod(col(idCol), lit(3)) =!= 0), idCol, valueCol,
          family).localCheckpoint()
        (Dedup.lshPairs(batch, idCol, valueCol, family)
          .queryExecution.executedPlan.toString,
          Dedup.lshProbe(batch, idCol, valueCol, index, family)
            .queryExecution.executedPlan.toString)
      }
    val hashed = docs.select(col("doc_id"), xxhash64(col("text")).as("h"))
    val cases = Seq(
      ("MinHash", plans(docs, "doc_id", "text",
        Dedup.MinHash(threshold = 0.0)), "minhash_shingled("),
      ("SimHash", plans(docs, "doc_id", "text", Dedup.SimHash()),
        "simhash64("),
      ("Hamming64", plans(hashed, "doc_id", "h", Dedup.Hamming64()),
        "xxhash64(text"),
      ("SRP", plans(vecs, "vec_id", "embedding",
        Dedup.Srp(threshold = 0.9)), "srp_signature("))
    for ((family, (pairsPlan, probePlan), tok) <- cases) {
      // non-vacuous: the same batch's full run computes the sketch in
      // exactly one Project, spelled `tok`
      assert(sketchProjects(pairsPlan, tok) === 1,
        s"$family pairs plan:\n$pairsPlan")
      assert(sketchProjects(probePlan, tok) === 0,
        s"$family probe recomputes the batch sketch in its plan:\n$probePlan")
    }
  }

  test("q119 quality filter: only the LM model aggregates/joins shuffle") {
    val plan = planOf("q119_quality_filter")
    assert(!plan.contains("CartesianProduct"), plan)
    // exactly ONE BroadcastNestedLoopJoin is expected: the single-row
    // vocab scalar attaching via crossJoin(broadcast(...)) — the
    // broadcast-scalar idiom, not an all-pairs join. A second one
    // would be a real degradation.
    assert(plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) <= 1,
      plan)
    // c2/c1 model aggregates, vocab scalar, bigram-keyed and
    // history-keyed scoring joins, per-doc average, final doc join —
    // keyed exchanges only, bounded
    assert(shuffles(plan) <= 8, plan)
    assert(plan.contains("HashAggregate"), plan)
  }

  test("q123 image near-dup: one banding shuffle family, no all-pairs") {
    val plan = planOf("q123_image_neardup")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("SortMergeJoin"),
      s"bucket self-pairing must stay explode-over-lists, not a join:\n$plan")
    // sig repartition barrier, band groupBy, bucket distinct, pair
    // distinct — each keyed, none corpus-quadratic
    assert(shuffles(plan) <= 5, plan)
  }

  test("q125 count-min: sketch builds as map-side-combined aggregation") {
    val plan = planOf("q125_countmin_heavy_hitters")
    assert(!plan.contains("CartesianProduct"), plan)
    // partial aggregation before the exchange is what bounds the
    // shuffle to d·w rows per partition at any corpus size
    val firstAgg = plan.linesIterator.indexWhere(_.contains("HashAggregate"))
    assert(firstAgg >= 0, plan)
    assert(plan.contains("TakeOrderedAndProject"),
      s"exact top-k must be a bounded TakeOrdered, not a global sort:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q99 incremental-IVF barriers hold: one centroid pick, staged assignments") {
    val plan = planOf("q99_incremental_ivf")
    // centroids feed five subtrees and each index feeds two — the
    // barriers keep the full-corpus assignment from re-running per
    // reference. TakeOrdered in the plan would mean pickCentroids is
    // being re-derived instead of read from its checkpoint.
    assert(!plan.contains("TakeOrdered"),
      s"pickCentroids re-derived inside the assembled plan:\n$plan")
    assert("Scan ExistingRDD".r.findAllIn(plan).size >= 2,
      s"expected checkpointed index leaves in:\n$plan")
  }

  test("q127/q131 bounded-heap caps and sketches: ObjectHashAggregate, never a window sort") {
    // capPerKey and kmvSketch exist BECAUSE row_number()-over-key
    // sorts a mega-key in one task; a Window in either plan means the
    // operator regressed to exactly what it replaces
    for (name <- Seq("q127_domain_caps", "q131_kmv_distinct")) {
      val plan = planOf(name)
      assert(!plan.contains("Window"), s"$name regressed to a window sort:\n$plan")
      assert(plan.contains("ObjectHashAggregate"),
        s"$name lost the typed bounded-heap aggregation:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$name:\n$plan")
    }
  }

  test("q128 cross-corpus line dedup: first-occurrence is an aggregation, not a window") {
    val plan = planOf("q128_paragraph_dedup")
    assert(!plan.contains("Window"),
      s"first-occurrence must stay a MIN aggregate (window = all copies " +
        s"of a hyper-common line in one task):\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    // line explode + fp count agg + marker join + reassembly agg
    assert(shuffles(plan) <= 4, plan)
  }

  test("q129 blocklist and q135 unicode normalize: zero-shuffle codegen'd projections") {
    for (name <- Seq("q129_blocklist", "q135_unicode_normalize")) {
      val plan = planOf(name)
      assert(shuffles(plan) === 0, s"$name grew a shuffle:\n$plan")
      assert(!plan.contains("Join"), s"$name grew a join:\n$plan")
    }
  }

  test("q132 PMI: bigrams extracted scan-side, ranked by bounded TakeOrdered") {
    val plan = planOf("q132_pmi_collocations")
    assert(!plan.contains("Window"),
      s"bigram pairing must stay an array zip, not a lead() window:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-20 must be a bounded TakeOrdered, not a global sort:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q133/q134 event analytics: keyed aggregations and equi joins only") {
    for (name <- Seq("q133_funnel", "q134_cohort_retention")) {
      val plan = planOf(name)
      assert(!plan.contains("Window"), s"$name grew an event-stream window:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$name:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"$name user-key joins should stay hash joins at any scale " +
          s"(shuffled hash or broadcast):\n$plan")
    }
  }

  test("q136 audio fingerprint: per-partition decode, one grouping shuffle") {
    val plan = planOf("q136_audio_fingerprint")
    assert(!plan.contains("Window") && !plan.contains("CartesianProduct"), plan)
    assert(shuffles(plan) <= 2, s"fingerprint grouping grew shuffles:\n$plan")
  }

  test("q137 cluster representatives: keep-best is an aggregation, not a window") {
    val plan = planOf("q137_cluster_representatives")
    assert(!plan.contains("Window"),
      s"keep-best must stay a MAX aggregate (window = a viral cluster " +
        s"in one task):\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q138/q140 sketch overlap and hard negatives: bounded heaps, no windows") {
    for (name <- Seq("q138_kmv_overlap", "q140_hard_negatives")) {
      val plan = planOf(name)
      assert(!plan.contains("Window"), s"$name:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$name:\n$plan")
      assert(plan.contains("ObjectHashAggregate"),
        s"$name lost the typed bounded-heap aggregation:\n$plan")
    }
  }

  test("q139/q141 DSIR: scan-side features, keyed aggregates, broadcast stats") {
    for (name <- Seq("q139_dsir_weights", "q141_incremental_dsir")) {
      val plan = planOf(name)
      assert(!plan.contains("Window"),
        s"$name bigram features must stay the codegen'd WordNgrams pass:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$name:\n$plan")
      // feature counts, totals, per-doc score — keyed exchanges only
      assert(shuffles(plan) <= 5, s"$name:\n$plan")
    }
  }

  test("q142 incremental line dedup: first-occurrence stays an aggregation, not a window") {
    val plan = planOf("q142_incremental_line_dedup")
    assert(!plan.contains("Window"),
      s"first-occurrence must stay a MIN aggregate:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    // the id cut rides the plan as a ONE-ROW broadcast scalar (the
    // q17 pattern — replaced the construction-time agg().head): its
    // inequality attach is a BroadcastNestedLoopJoin over an
    // IdentityBroadcastMode exchange, which is a scalar bind, not a
    // join of data; any OTHER nested-loop join stays banned
    if (plan.contains("BroadcastNestedLoopJoin"))
      assert(plan.contains("IdentityBroadcastMode"),
        s"non-scalar nested-loop join crept in:\n$plan")
  }

  test("q143 epoch compaction: probe plan mirrors q142 over the compacted store") {
    val plan = planOf("q143_epoch_compaction")
    assert(!plan.contains("Window"),
      s"first-occurrence must stay a MIN aggregate:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    if (plan.contains("BroadcastNestedLoopJoin"))
      assert(plan.contains("IdentityBroadcastMode"),
        s"non-scalar nested-loop join crept in:\n$plan")
  }

  test("q144 KMV SQL surface: sketch algebra over a broadcast pair join, no windows") {
    val plan = planOf("q144_kmv_sql_surface")
    assert(!plan.contains("Window"), s"q144:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"q144:\n$plan")
    assert(plan.contains("ObjectHashAggregate"),
      s"q144 lost the typed bounded-heap sketch aggregation:\n$plan")
    // the < pair join of two ≤|event types|-row sketch tables must
    // build on a broadcast, never shuffle both sides
    assert(plan.contains("BroadcastExchange") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"q144 pair join lost its broadcast:\n$plan")
  }

  test("q145 PSL domain caps: codegen'd scan-side lookup, bounded-heap cap, one shuffle") {
    val plan = planOf("q145_psl_domain_caps")
    // the PSL table lives in the jar, so the plan is host-expr →
    // registered-domain lookup → capPerKey; a Window or a second
    // exchange means either the cap or the lookup regressed
    assert(!plan.contains("Window"), s"q145 regressed to a window sort:\n$plan")
    assert(plan.contains("ObjectHashAggregate"),
      s"q145 lost the typed bounded-heap cap aggregation:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("Join"),
      s"q145 grew a join (the rules must ride the jar, not the plan):\n$plan")
    assert(shuffles(plan) <= 1, s"q145 needs only the cap's key exchange:\n$plan")
  }

  test("q146 incremental caps: bounded-heap batch cap, no window, scalar cut broadcast") {
    val plan = planOf("q146_incremental_domain_caps")
    assert(!plan.contains("Window"), s"q146 regressed to a window sort:\n$plan")
    assert(plan.contains("ObjectHashAggregate"),
      s"q146 lost the typed bounded-heap cap aggregation:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"q146:\n$plan")
    // the id cut rides the plan as a one-row broadcast scalar (q142's
    // pattern); any OTHER nested-loop join stays banned
    if (plan.contains("BroadcastNestedLoopJoin"))
      assert(plan.contains("IdentityBroadcastMode"),
        s"non-scalar nested-loop join crept in:\n$plan")
  }

  test("q147 quantile sketch: bounded-heap sampling, no window, no rescan joins") {
    val plan = planOf("q147_quantile_sketch")
    // quantiles come from the k-row sample arrays, never a per-group
    // sort; the ALL row composes from the per-type sketches
    assert(!plan.contains("Window"), s"q147 regressed to a sort-based percentile:\n$plan")
    assert(plan.contains("ObjectHashAggregate"),
      s"q147 lost the typed bounded-heap sample aggregation:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("Join"),
      s"q147 grew a join:\n$plan")
  }

  test("q148 sample-sketch SQL surface: algebra over a broadcast pair join, no windows") {
    val plan = planOf("q148_sample_sketch_sql")
    assert(!plan.contains("Window"), s"q148:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"q148:\n$plan")
    assert(plan.contains("ObjectHashAggregate"),
      s"q148 lost the typed bounded-heap sample aggregation:\n$plan")
    // the < pair join of two ≤|event types|-row sketch tables must
    // build on a broadcast, never shuffle both sides
    assert(plan.contains("BroadcastExchange") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"q148 pair join lost its broadcast:\n$plan")
  }

  test("q149 sketch store probe: merged-sketch report, no window, no joins") {
    val plan = planOf("q149_sketch_store")
    assert(!plan.contains("Window"), s"q149:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("Join"),
      s"q149 probe grew a join:\n$plan")
  }

  test("q151 bm25 store probe: term-pruned scan, scalar-broadcast stats, bounded top-k") {
    val plan = planOf("q151_bm25_store")
    assert(!plan.contains("Window"), s"q151 regressed to a window rank:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"q151:\n$plan")
    // the probe never rescans documents: its only scans are the store's
    // parquet (postings/stats), and the term filter reaches them
    assert(!plan.contains("documents.parquet"),
      s"q151 probe rescanned the corpus:\n$plan")
    // the term predicate must be PUSHED into the postings scan
    // (row-group pruning over the term-sorted layout) — the exact
    // regression the observed=false contract guards against
    assert(plan.contains("PushedFilters: [In(term"),
      s"q151 term filter no longer reaches the postings scan:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"q151 top-k lost its bounded TakeOrdered:\n$plan")
    // corpus stats + per-term dfs ride in as one-row broadcast scalars
    if (plan.contains("BroadcastNestedLoopJoin"))
      assert(plan.contains("IdentityBroadcastMode"),
        s"non-scalar nested-loop join crept in:\n$plan")
  }

  test("q152 snapshot diff: one full-outer key join, no window, per-column compare in projection") {
    val plan = planOf("q152_snapshot_diff")
    assert(!plan.contains("Window"), s"q152 grew a window:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"q152:\n$plan")
    assert(occurrences(plan, "SortMergeJoin") == 1,
      s"q152 must diff with exactly ONE full-outer sort-merge join:\n$plan")
    assert(plan.contains("FullOuter"), s"q152 lost the full-outer semantics:\n$plan")
  }

  test("q154 cdc apply: O(delta) maintenance — diff join + anti join + union, no window") {
    val plan = planOf("q154_cdc_apply")
    assert(!plan.contains("Window"), s"q154:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"q154:\n$plan")
    assert(plan.contains("FullOuter"), s"q154 lost the diff's full-outer join:\n$plan")
    assert(plan.contains("LeftAnti"), s"q154 lost the O(delta) anti-join apply:\n$plan")
  }

  test("q155 multi-query BM25: store-only probe, bounded-heap per-query top-k, no window") {
    val plan = planOf("q155_bm25_multi")
    assert(!plan.contains("Window"), s"q155 regressed to a window rank:\n$plan")
    assert(!plan.contains("documents.parquet"),
      s"q155 probe rescanned the corpus:\n$plan")
    assert(plan.contains("ObjectHashAggregate"),
      s"q155 lost the typed bounded-heap top-k aggregation:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"q155:\n$plan")
  }

  test("q156 grouped hybrid: store-fed lexical side, bounded rank windows, heap-fused top-k") {
    val plan = planOf("q156_hybrid_multi")
    assert(!plan.contains("documents.parquet"),
      s"q156 lexical side rescanned the corpus:\n$plan")
    assert(plan.contains("ObjectHashAggregate"),
      s"q156 lost the typed bounded-heap aggregations:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"q156:\n$plan")
  }

  test("q158 hll: keyed register aggregates, scalar-broadcast ALL row, no window") {
    val plan = planOf("q158_hll")
    assert(!plan.contains("Window"), s"q158:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"q158:\n$plan")
    if (plan.contains("BroadcastNestedLoopJoin"))
      assert(plan.contains("IdentityBroadcastMode"),
        s"non-scalar nested-loop join crept in:\n$plan")
  }

  test("q160 erasure: post-delete read is a plain pruned scan, no window, no joins") {
    val plan = planOf("q160_erasure")
    assert(!plan.contains("Window"), s"q160:\n$plan")
    assert(!plan.contains("Join"), s"q160 read-back grew a join:\n$plan")
    // the erased copy is read back directly — the original events
    // table is not rescanned by the RETURNED plan
    assert(!plan.contains("events.parquet"),
      s"q160 read-back rescanned the source table:\n$plan")
  }

  test("q161 islands: the two windows share ONE per-key sort and shuffle") {
    val plan = planOf("q161_interval_islands")
    assert(!plan.contains("CartesianProduct") && !plan.contains("Join"),
      s"q161 grew a join:\n$plan")
    // running-max + island-id windows must reuse one partition+sort
    assert(occurrences(plan, "Sort ") <= 1,
      s"q161's windows stopped sharing their sort:\n$plan")
    assert(shuffles(plan) <= 3, s"q161 shuffle count grew:\n$plan")
  }

  test("q162 entity resolution: blocked equi-join edges, no cartesian pairing") {
    val plan = planOf("q162_entity_resolution")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"q162 pairing regressed to an unblocked product:\n$plan")
    assert(!plan.contains("Window"), s"q162:\n$plan")
  }

  test("q164 table digest: one scan + one grouped aggregation, no sort, no join") {
    val plan = planOf("q164_table_digest")
    assert(!plan.contains("Window") && !plan.contains("Join") &&
      !plan.contains("Sort "), s"q164 digest must be sort/join-free:\n$plan")
    assert(shuffles(plan) <= 1,
      s"q164 needs only the grouped aggregation's exchange:\n$plan")
  }

  test("q175 erasure audit: digest-only verification, one verdict join, no window") {
    val plan = planOf("q175_erasure_audit")
    assert(!plan.contains("Window"), s"q175:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"q175:\n$plan")
    assert(plan.contains("FullOuter"), s"q175 lost the verdict join:\n$plan")
    assert(occurrences(plan, "Join") == 1,
      s"q175 must join ONLY the digest tables:\n$plan")
  }

  test("q174 incremental ER: affected-block semi join prunes history, no cartesian") {
    val plan = planOf("q174_incremental_er")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"q174 pairing regressed to an unblocked product:\n$plan")
    assert(!plan.contains("Window"), s"q174:\n$plan")
  }

  test("q173 authority cap: bounded-heap merit cut, no per-domain window sort") {
    val plan = planOf("q173_authority_cap")
    assert(!plan.contains("Window"), s"q173 regressed to a window sort:\n$plan")
    assert(plan.contains("ObjectHashAggregate"),
      s"q173 lost the typed bounded-heap cap aggregation:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"q173:\n$plan")
  }

  test("q172 islands store probe: re-merged summary rows, never raw intervals") {
    val plan = planOf("q172_islands_store")
    assert(!plan.contains("Join"), s"q172 probe grew a join:\n$plan")
    assert(!plan.contains("orders.parquet"),
      s"q172 probe re-read the raw intervals:\n$plan")
    // one islands re-merge window over the summary rows is the fold
    assert(occurrences(plan, "Window") <= 2, s"q172 window count grew:\n$plan")
  }

  test("q171 digest ledger probe: folded tiny rows, no window, no joins, never a table re-hash") {
    val plan = planOf("q171_digest_ledger")
    assert(!plan.contains("Window") && !plan.contains("Join"),
      s"q171:\n$plan")
    assert(!plan.contains("lineitem.parquet"),
      s"q171 probe re-hashed the source table:\n$plan")
  }

  test("q170 weighted sample: scan-side keys, bounded-heap cut, no window, no sort") {
    val plan = planOf("q170_weighted_sample_k")
    assert(!plan.contains("Window") && !plan.contains("Sort "),
      s"q170 regressed to a global sort:\n$plan")
    assert(plan.contains("ObjectHashAggregate"),
      s"q170 lost the typed bounded-heap selection:\n$plan")
    assert(!plan.contains("Join"), s"q170 grew a join:\n$plan")
  }

  test("q169 transitions: one user-keyed window, totals broadcast back") {
    val plan = planOf("q169_markov_transitions")
    // exactly ONE window pass (the per-user lag); totals must come
    // back as a broadcast, not a second shuffle join
    assert(occurrences(plan, "Window") == 1, s"q169 window count:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"q169 totals join lost its broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"q169:\n$plan")
  }

  test("q168 triangles: keyed equi joins only — no window, no cartesian wedges") {
    val plan = planOf("q168_triangles")
    assert(!plan.contains("Window"), s"q168:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"q168:\n$plan")
    if (plan.contains("BroadcastNestedLoopJoin"))
      assert(plan.contains("IdentityBroadcastMode"),
        s"non-scalar nested-loop join crept in:\n$plan")
  }

  test("q167 release manifest: bounded-heap cap, scalar-broadcast manifest row, no window") {
    val plan = planOf("q167_release_manifest")
    assert(!plan.contains("Window"), s"q167 regressed to a window sort:\n$plan")
    assert(plan.contains("ObjectHashAggregate"),
      s"q167 lost the typed bounded-heap cap aggregation:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"q167:\n$plan")
    if (plan.contains("BroadcastNestedLoopJoin"))
      assert(plan.contains("IdentityBroadcastMode"),
        s"non-scalar nested-loop join crept in:\n$plan")
  }

  test("q166 schema evolution: aligned union of per-generation scans, one aggregation") {
    val plan = planOf("q166_schema_evolution")
    assert(!plan.contains("Window") && !plan.contains("Join"),
      s"q166:\n$plan")
    assert(shuffles(plan) <= 1,
      s"q166 needs only the aggregation's exchange:\n$plan")
    // the original orders table is never rescanned by the returned plan
    assert(!plan.contains("orders.parquet"),
      s"q166 read-back rescanned the source table:\n$plan")
  }

  test("q165 digest diff: two grouped digests + one tiny full-outer join, no row-level compare") {
    val plan = planOf("q165_digest_diff")
    // the only Sort allowed is the verdict join's, over the ≤|groups|-row
    // digest tables — row-level data must never sort or join
    assert(!plan.contains("Window"), s"q165:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"q165:\n$plan")
    assert(plan.contains("FullOuter"), s"q165 lost the verdict join:\n$plan")
    assert(occurrences(plan, "Join") == 1,
      s"q165 must join ONLY the digest tables:\n$plan")
    assert(shuffles(plan) <= 4, s"q165 shuffle count grew:\n$plan")
  }

  test("q163 cms store probe: summed-cell read + bounded exact top-k, no window") {
    val plan = planOf("q163_cms_store")
    assert(!plan.contains("Window"), s"q163:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"q163:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"q163 exact top-k lost its bounded TakeOrdered:\n$plan")
  }

  test("q159 hll store probe: merged-register read + exact join, no window") {
    val plan = planOf("q159_hll_store")
    assert(!plan.contains("Window"), s"q159:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"q159:\n$plan")
  }

  test("q157 fixed-point pagerank: keyed equi joins + broadcast scalars, no window") {
    val plan = planOf("q157_pagerank")
    assert(!plan.contains("Window"), s"q157:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"q157:\n$plan")
    // N and the dangling mass attach as one-row broadcast scalars
    if (plan.contains("BroadcastNestedLoopJoin"))
      assert(plan.contains("IdentityBroadcastMode"),
        s"non-scalar nested-loop join crept in:\n$plan")
  }

  test("q153 hybrid RRF: heavy lifting in the rankers, fuse joins broadcast-sized lists") {
    val plan = planOf("q153_hybrid_rrf")
    assert(!plan.contains("CartesianProduct"), s"q153:\n$plan")
    // the two 20-row ranked lists fuse via broadcast, never a shuffle join
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"q153 fuse lost its broadcast:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"q153 final top-k lost its bounded TakeOrdered:\n$plan")
  }

  test("q150 curation v2: scan-side screen, bounded-heap cap, scalar-broadcast funnel") {
    val plan = planOf("q150_curation_v2")
    assert(!plan.contains("Window"), s"q150 regressed to a window sort:\n$plan")
    assert(plan.contains("ObjectHashAggregate"),
      s"q150 lost the typed bounded-heap cap aggregation:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"q150:\n$plan")
    // the funnel counts attach as one-row broadcast scalars
    if (plan.contains("BroadcastNestedLoopJoin"))
      assert(plan.contains("IdentityBroadcastMode"),
        s"non-scalar nested-loop join crept in:\n$plan")
  }

  test("q188 scd2-cdc apply: semi/anti split of current rows, no window, no rewrite of past") {
    val plan = planOf("q188_scd2_cdc")
    assert(!plan.contains("Window"),
      s"q188 regressed to a history-wide window:\n$plan")
    assert(occurrences(plan, "LeftSemi") >= 1 && occurrences(plan, "LeftAnti") >= 1,
      s"q188 lost the semi/anti current-row split:\n$plan")
  }

  test("q190/q194/q197 sharded ranks: every rank window is bucket-local, never whole-corpus") {
    for (name <- Seq("q190_curriculum_interleave", "q194_epoch_shuffle",
        "q197_rank_tiers")) {
      val plan = planOf(name)
      // the corpus-sized rank windows must partition by the shard
      // bucket; the only partition-free window allowed is the tiny
      // per-(key,bucket) offsets aggregate (bounded rows)
      val windowLines = plan.linesIterator.filter(_.contains("Window ")).toSeq
      val corpusWide = windowLines.filterNot(l =>
        l.contains("_rseq_bucket") || l.contains("_rseq_cnt"))
      assert(corpusWide.isEmpty,
        s"$name has a non-bucket-local rank window:\n${corpusWide.mkString("\n")}\n$plan")
      assert(!plan.contains("rangepartitioning"),
        s"$name plans a global sort:\n$plan")
    }
  }

  test("q193/q196 semantic contamination: benchmark broadcasts, probe max is one heap agg") {
    for (name <- Seq("q193_semantic_contamination",
        "q196_semantic_contamination_store")) {
      val plan = planOf(name)
      assert(plan.contains("BroadcastNestedLoopJoin"),
        s"$name benchmark side stopped broadcasting:\n$plan")
      assert(plan.contains("ObjectHashAggregate"),
        s"$name lost the bounded-heap top-1 aggregation:\n$plan")
      assert(!plan.contains("Window"), s"$name ranks via a window:\n$plan")
      assert(shuffles(plan) <= 2,
        s"$name shuffles more than the probe-id aggregate:\n$plan")
    }
  }

  test("q195 attrition: stage membership joins carry ids only, scan-side CASE") {
    val plan = planOf("q195_pipeline_attrition")
    assert(!plan.contains("CartesianProduct") && !plan.contains("Window"),
      s"q195:\n$plan")
    // the flag joins must not drag stage text payloads through the
    // shuffle: every join in the final assembly is on doc_id alone
    assert(!plan.linesIterator.exists(l =>
        l.contains("Join") && l.contains("text#")),
      s"q195 joins carry text payloads:\n$plan")
  }

  test("q198 ranking metrics: IDCG is a bounded heap, DCG windows only k-row lists") {
    val plan = planOf("q198_ranking_metrics")
    assert(plan.contains("ObjectHashAggregate"),
      s"q198 lost the bounded-heap IDCG/top-k aggregations:\n$plan")
    assert(!plan.contains("rangepartitioning"),
      s"q198 plans a global sort:\n$plan")
  }

  test("q208 LM perplexity: bounded model broadcasts onto the feature stream, equi joins only") {
    val plan = planOf("q208_lm_perplexity")
    // both count tables (≤ ctx+bigram buckets rows) must ride as
    // broadcast hash joins — a sort-merge here would shuffle the
    // candidates' full bigram stream by bucket
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"),
      s"LM model join degraded to SMJ (model should broadcast):\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q210 k-means step: centroids broadcast against the corpus, never the reverse") {
    val plan = planOf("q210_kmeans_step")
    // assignCells joins the corpus to the unconditioned broadcast
    // centroid table (the q23 shape); the corpus itself must stream
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("SortMergeJoin"),
      s"a k-row centroid join degraded to SMJ:\n$plan")
  }

  test("q215 exact Jaccard join: equi joins only — the exactness never buys a nested loop") {
    val plan = planOf("q215_exact_jaccard_join")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"prefix filtering degraded to a nested loop:\n$plan")
  }

  test("q205 dup-gram fraction: corpus df via skew-proof groupBy+join, never a fingerprint window") {
    val plan = planOf("q205_dup_gram_fraction")
    // a corpus-wide boilerplate gram (df ≈ N docs) colocates all its
    // rows in one window task nothing can split; the groupBy's
    // map-side partials crush that key and AQE can split the residual
    // join skew — so any Window surviving in this plan is a regression
    assert(!plan.contains("Window"),
      s"q205 regressed to a count-over-fingerprint window:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
  }

  test("q224 exact cosine join: band assignment is literal row math, pairing an equi join") {
    val plan = planOf("q224_exact_cosine_join")
    // pivots are plan LITERALS (bounded driver read), so banding is
    // codegen'd per-row math — no window, no corpus broadcast; the
    // cell tripwire counts via groupBy+join-back (the q205 lesson)
    // and pairing is an equi join on the two band ints
    assert(!plan.contains("Window"),
      s"q224 grew a corpus window:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"exactness never buys a nested loop:\n$plan")
  }

  test("q225/q226 cluster-quality surfaces: broadcast argmax + keyed aggregates, no corpus window") {
    for (name <- Seq("q225_kmeans_elbow", "q226_silhouette")) {
      val plan = planOf(name)
      // assignment/silhouette passes are broadcast-centroid argmaxes
      // feeding map-side-combined aggregates; a Window here would mean
      // a corpus-wide rank crept in
      assert(!plan.contains("Window"), s"$name grew a corpus window:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$name:\n$plan")
    }
  }

  test("q227/q228 store-backed certification probes: no corpus text scan, no window, equi joins only") {
    val p227 = planOf("q227_jaccard_against")
    assert(!p227.contains("BroadcastNestedLoopJoin") &&
      !p227.contains("CartesianProduct"),
      s"incremental certification degraded to a nested loop:\n$p227")
    // the probe reads STORED fingerprint rows: the per-doc prefix
    // window lives only in the one-time index build — a Window here
    // means the probe regressed to re-deriving corpus state
    assert(!p227.contains("Window"),
      s"q227 probe re-grew the prefix window:\n$p227")
    // the corpus side must come from the store, never documents.parquet
    // — only the BATCH side scans the source table
    assert(p227.contains("graft-scratch"),
      s"q227 probe lost the store read:\n$p227")
    // the post-erasure probe is the same store-backed shape — the
    // erase must not have degraded the plan (q237)
    val p237 = planOf("q237_cert_erasure")
    assert(!p237.contains("BroadcastNestedLoopJoin") &&
      !p237.contains("CartesianProduct") && !p237.contains("Window"),
      s"q237 post-erasure probe degraded:\n$p237")
    assert(p237.contains("graft-scratch"),
      s"q237 probe lost the store read:\n$p237")
    val p228 = planOf("q228_cosine_against")
    // the cosine variant is fully window-free (bands are literal row
    // math under manifest-frozen pivots; the tripwire counts via
    // groupBy+join-back over the stored rows)
    assert(!p228.contains("Window"), s"q228 grew a corpus window:\n$p228")
    assert(!p228.contains("BroadcastNestedLoopJoin") &&
      !p228.contains("CartesianProduct"), s"q228:\n$p228")
    assert(p228.contains("graft-scratch"),
      s"q228 probe lost the store read:\n$p228")
  }

  test("q232/q234 certified repair: anti-join keep over checkpointed labels, no nested loop") {
    // the CC phases run at construction (checkpointed driver loops —
    // the q99/q101 stage-barrier note in the class doc); the PLAN
    // under audit is the keep: survivors anti-joined against the
    // labeling's non-canonical rows — an equi anti join, never a
    // nested loop, and no window anywhere in the final stage
    for (name <- Seq("q232_semantic_repair", "q234_incremental_repair",
        "q235_repair_labels_store")) {
      val plan = planOf(name)
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"), s"$name:\n$plan")
      assert(plan.contains("LeftAnti"),
        s"$name lost the anti-join keep rule:\n$plan")
      assert(!plan.contains("Window"), s"$name grew a window:\n$plan")
    }
  }

  test("q236 read-only card: store reads + one profile pass — no exact join, no window, no shuffle join") {
    val plan = planOf("q236_card_from_stores")
    // the whole point of cardFromStores: the card's own lineage holds
    // ledger/labels/calibration READS and one docs aggregate — the
    // exact joins ran at certification time, never here. The only
    // joins are the one-row broadcast scalar assemblies (q199's
    // blessed shape).
    assert(plan.contains("graft-scratch"),
      s"q236 card lost its store reads:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"q236 card grew a shuffle join — an exact join crept back in:\n$plan")
    assert(!plan.contains("Window"), s"q236 card grew a window:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"q236:\n$plan")
  }

  test("q213/q216 corpus statistics: aggregates are vocabulary-bounded, no corpus-wide window") {
    val p213 = planOf("q213_zipf_fit")
    // the rank window partitions by source over the VOCAB table; the
    // regression is a plain aggregate — no nested loops anywhere
    assert(!p213.contains("BroadcastNestedLoopJoin"), p213)
    val p216 = planOf("q216_vocab_growth")
    assert(!p216.contains("BroadcastNestedLoopJoin"), p216)
    assert(!p216.contains("SortMergeJoin"),
      s"the tiny per-epoch summary join degraded to SMJ:\n$p216")
  }
}
