package graft

import org.apache.spark.sql.functions._

/** Pins the end-to-end corpus demo at sf0.001: stage counts obey the
  * pipeline algebra, the split is cluster-safe, the mixture respects
  * its budgets, and the store survives compaction. */
class CorpusDemoSpec extends SparkSpecBase {

  private lazy val sfDir = "/root/testdata/sf0.001"
  private lazy val outDir =
    s"${System.getProperty("java.io.tmpdir")}/graft-corpus-demo-spec"

  test("corpus demo: stage algebra, split totals, budget ceiling, store probes") {
    val nBase = spark.read.parquet(s"$sfDir/documents.parquet").count()
    val r = CorpusDemo.run(spark, sfDir, outDir)
    // ingest plants one exact copy per id%10==0 doc...
    assert(r.nIngested === nBase + (nBase + 9) / 10)
    // ...and exact dedup removes exactly those copies (min-id keeps
    // the original; synthetic texts are otherwise distinct)
    assert(r.nExact === nBase)
    // monotone pipeline: each stage only drops
    assert(r.nExact >= r.nNear && r.nNear >= r.nSemFiltered &&
      r.nSemFiltered >= r.nClean &&
      r.nClean >= r.nFresh && r.nFresh >= r.nQuality)
    // every operator in the chain is deterministic (md5 splits, seeded
    // hashes, exact verify) — the sf0.001 stage counts are pinned
    // exactly; a change here means an operator changed semantics.
    // decontaminate is the q219 cluster-propagated gate (paraphrase
    // neighbors of contaminated docs drop with them);
    // repetition_filter drops the gram-level remixes (shared_frac >
    // 0.5) that survive pairwise near-dedup; quality_gate composes
    // the per-source CCNet ppl tail cut with the heuristic floors
    // round 15: the repaired semantic survivor set became the funnel's
    // single source of truth (semantic_filter drops the 6 documents
    // whose embeddings lost the certified repair), so every count
    // downstream of near_dedup was re-pinned from the refreshed run
    assert((r.nNear, r.nSemFiltered, r.nClean, r.nFresh, r.nQuality,
      r.nClusters) ===
      ((58L, 52L, 51L, 45L, 13L, 21L)), s"stage counts moved: $r")
    // the synthetic corpus holds no paraphrase-only contamination at
    // EITHER test SF (near-dup clusters that touch the %29 holdout
    // always trip the direct check too), so the propagated gate
    // structurally flags nothing here — an honest zero, recorded at
    // both SFs in docs/BENCH_NOTES.md; the nonzero path is pinned
    // with planted paraphrases in SplitsContaminationSpec
    assert(r.nFlaggedByNeighbor === 0L, s"neighbor flags moved: $r")
    // dedup certification: the source-blocked dedup's own claim (no
    // within-source pair ≥ t survives) is exactly proven; the cross-
    // source residual quantifies the blocking tradeoff on this
    // template-heavy corpus
    assert(r.nResidualWithin === 0L, s"blocked-dedup claim broken: $r")
    assert(r.nResidualCross === 181L, s"blocking-tradeoff count moved: $r")
    // semantic certification (q101 + q224): SemDeDup's cell-local
    // guarantee is exactly proven by the exact cosine join (zero
    // false negatives, so any nonzero within-cell residual is a BUG);
    // the cross-cell residual quantifies what the 16-cell blocking
    // leaves unscored on this corpus
    assert(r.nSemResidualWithin === 0L, s"semantic-dedup claim broken: $r")
    // capacity comes from the elbow knee (q233), not a constant — at
    // sf0.001 the max second difference lands on k = 8
    assert(r.semCapacityK === 8, s"elbow knee moved: $r")
    assert((r.nSemKept, r.nSemResidualCross) === ((485L, 49L)),
      s"semantic certification counts moved: $r")
    // certified repair (q232): the measured cross-cell gap is CLOSED —
    // re-certifying the repaired survivors finds zero pairs >= tau,
    // and the drop is bounded by the residual edge count
    assert(r.nSemResidualAfterRepair === 0L,
      s"repair left residual pairs: $r")
    assert(r.nSemRepairKept < r.nSemKept &&
      r.nSemRepairKept >= r.nSemKept - r.nSemResidualCross,
      s"repair drop out of bounds: $r")
    // every dropped doc names which gate killed it; the funnel total
    // is exactly the stage delta
    assert(r.gateReasons.values.sum === r.nFresh - r.nQuality,
      s"gate reasons don't cover the quality_gate drop: $r")
    assert(r.gateReasons.keys.forall(
      _.split(",").forall(Set("lm", "length", "alpha").contains)),
      s"unknown gate name: ${r.gateReasons}")
    // the per-reason breakdown is pinned: the lm gate (per-source ppl
    // tail) and the length floor overlap on 11 docs — exactly the
    // overlap the serial-gate funnel could not see
    assert(r.gateReasons ===
      Map("length" -> 18L, "lm" -> 4L, "lm,length" -> 10L),
      s"gate reasons moved: $r")
    // split partitions the quality set exactly
    assert(r.splitCounts.values.sum === r.nQuality)
    assert(r.splitCounts.keySet.subsetOf(Set("train", "val", "test")))
    assert(r.splitCounts === Map("train" -> 11L, "val" -> 2L))
    assert((r.nMixture, r.mixtureTokens, r.nPacks) === ((11L, 617L, 6L)))
    // mixture selects from train only, never exceeds the per-source
    // budget sum; curriculum is a reordering of the mixture
    assert(r.nMixture <= r.splitCounts.getOrElse("train", 0L))
    assert(r.nCurriculum === r.nMixture)
    assert(r.nPacks >= 1L)
    // attrition funnel is exactly the stage algebra, per record
    assert(r.attrition.values.sum === r.nIngested)
    assert(r.attrition.getOrElse("exact_dedup", 0L) === r.nIngested - r.nExact)
    assert(r.attrition.getOrElse("near_dedup", 0L) === r.nExact - r.nNear)
    assert(r.attrition.getOrElse("semantic_dedup", 0L) ===
      r.nNear - r.nSemFiltered)
    assert(r.attrition.getOrElse("decontaminate", 0L) ===
      r.nSemFiltered - r.nClean)
    assert(r.attrition.getOrElse("repetition", 0L) === r.nClean - r.nFresh)
    assert(r.attrition.getOrElse("quality_gate", 0L) === r.nFresh - r.nQuality)
    assert(r.attrition.getOrElse("survived", 0L) === r.nMixture)
    // tier report covers the mixture, three balanced-ish tiers
    assert(r.tierCounts.values.sum === r.nMixture)
    assert(r.tierCounts.keySet.subsetOf(Set(0L, 1L, 2L)))
    // the written epoch order holds the whole mixture
    assert(r.nShuffled === r.nMixture)
    // per-stage wall clock: every pipeline stage reports a positive
    // timing, in pipeline order (the sf0.1 scaling record's raw data)
    assert(r.stageSec.map(_._1) === Seq("ingest", "exact_dedup",
      "near_dedup_cc", "near_dedup_filter", "certify_dedup",
      "certify_semantic", "repair_semantic", "semantic_filter",
      "decontaminate",
      "repetition_filter", "quality_gate",
      "cluster_safe_split",
      "budgeted_mixture", "rank_tiers", "curriculum",
      "epoch_order_write", "pack", "boilerplate_store", "stream_ingest",
      "kmv_store",
      "final_card", "erase", "attrition"))
    assert(r.stageSec.forall(_._2 > 0.0))
    // seven stores under the sweep now: kmv counts (folded), the
    // release boilerplate line counts (summed), the frozen
    // quality-cuts snapshot (benign typed skip), BOTH cert_pairs
    // ledgers, the cc_labels repair labeling (min-folded), and the
    // streaming sink's MinHash band store (round 18)
    assert(r.storesCompacted === 7)
    // ---- streaming ingest stage (round 18): accepted-only at the
    // door, replay-idempotent, handed to the frozen calibration
    assert(r.streamDelivered > 0L && r.streamAccepted > 0L,
      s"degenerate stream stage: $r")
    // every planted copy re-arriving under a new id was rejected
    assert(r.streamPlantedSurvivors === 0L, s"planted copies landed: $r")
    // the planted copies are why accepted < delivered here
    assert(r.streamAccepted < r.streamDelivered, s"stream stage: $r")
    // re-delivering the whole second drop changed NOTHING — the
    // activation-replay idempotency arithmetic
    assert(r.streamAcceptedAfterReplay === r.streamAccepted,
      s"replay was not idempotent: $r")
    // the sink-built corpus gates against the frozen calibration the
    // batch funnel froze: the slice came FROM the gated corpus, so
    // most of it re-passes the lm gate (and none of it is unscorable)
    assert(r.streamGated > 0L && r.streamGated <= r.streamAccepted,
      s"stream quality handoff: $r")
    // the final card is emitted FROM the stores, after the sweep:
    // every citation must equal the number the funnel measured
    val card = r.card.toMap
    assert(card("cert_jaccard_pairs") ===
      (r.nResidualWithin + r.nResidualCross).toString, s"card: $card")
    assert(card("cert_cosine_pairs") ===
      (r.nSemResidualWithin + r.nSemResidualCross).toString, s"card: $card")
    assert(card("repair_dropped") ===
      (r.nSemKept - r.nSemRepairKept).toString, s"card: $card")
    assert(card("n_docs") === r.nQuality.toString, s"card: $card")
    // the version string is whatever the store's CURRENT pointer says
    // (the card must cite the live pointer, not a constant): the
    // pre-erase card cites the first freeze, which the erase stage's
    // re-freeze then superseded; the post-erase card cites the re-freeze
    val after = r.cardAfterErase.toMap
    val (_, current) = graft.operators.Layout.listVersions(spark,
      s"$outDir/stores/quality_cuts/cuts")
    assert(card("calibration_score") === "ppl" &&
      current.contains(after("calibration_version")) &&
      card("calibration_version") < after("calibration_version"),
      s"card: $card, after: $after vs $current")
    assert(r.kmvProbes ===
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select("source").distinct().count())
    // ---- erase stage (round 16): right-to-be-forgotten end-to-end.
    // The re-emitted card's pair counts drop by EXACTLY the victims'
    // ledger contribution (counted from the standing ledgers before
    // the rewrite — the arithmetic that proves the erase removed the
    // victims' pairs and nothing else), its released-docs count drops
    // by the victim count, and the erasure columns cite the rewrite
    // history the fresh card called "none".
    assert(r.nVictims === 2L, s"victim pick moved: $r")
    assert(card("erasure_rewrites") === "0" &&
      card("last_erasure") === "none", s"pre-erase card: $card")
    assert(after("cert_jaccard_pairs").toLong ===
      card("cert_jaccard_pairs").toLong - r.erasedJacPairs,
      s"jaccard erase arithmetic: $card -> $after (${r.erasedJacPairs})")
    assert(after("cert_cosine_pairs").toLong ===
      card("cert_cosine_pairs").toLong - r.erasedCosPairs,
      s"cosine erase arithmetic: $card -> $after (${r.erasedCosPairs})")
    assert(r.erasedJacPairs > 0L,
      s"degenerate erase stage — victim touched no ledger pair: $r")
    assert(after("n_docs").toLong === r.nQuality - r.nVictims,
      s"released-docs count: $after")
    // four cited stores were rewritten (jac ledger, cos ledger, labels
    // rebuild, calibration re-freeze — eraseAll runs the rebuilds
    // last); the last citation is store-qualified
    assert(after("erasure_rewrites") === "4", s"after: $after")
    assert(after("last_erasure").startsWith("quality_cuts:"),
      s"after: $after")
    // the calibration was fitted on scores that included the victims:
    // the erase re-froze it over the retained scores, and the live
    // thresholds are exactly that fit
    val cutsRoot = s"$outDir/stores/quality_cuts"
    val (_, liveCuts) = graft.operators.Layout.listVersions(spark,
      s"$cutsRoot/cuts")
    assert(graft.operators.EpochIndex.erasures(spark, cutsRoot) === liveCuts.toSeq,
      s"cuts erasure history: ${graft.operators.EpochIndex.erasures(spark, cutsRoot)}")
    val retainedScores = r.retainedScores.get
    assert(retainedScores.count() === r.nFresh - r.nVictims)
    assert(graft.operators.Quality.qualityCutsRead(spark, cutsRoot, "ppl",
      Seq("source")).collect().toSet ===
      graft.operators.Quality.qualityCuts(retainedScores, "ppl",
        Seq("source")).collect().toSet)
    // subtract-erase through the boilerplate count store (round 17):
    // the post-erase line-ref total drops by EXACTLY the victims'
    // partial — and the victims contributed at least their own lines,
    // so the test cannot pass vacuously
    assert(r.bpLineRefsAfterErase === r.bpLineRefs - r.erasedBpLineRefs,
      s"boilerplate subtract-erase arithmetic: $r")
    assert(r.erasedBpLineRefs >= r.nVictims && r.bpLineRefs > 0L,
      s"degenerate boilerplate erase: $r")
    // the RTBF certificate (round 18): every id column in the
    // funnel's stores is integral-keyed, so the unverifiable list
    // pins EMPTY — and the footer-stats pruning is load-bearing on
    // the demo tree (strictly fewer files read than walked)
    assert(r.auditUnverified.isEmpty, s"audit blind spots: $r")
    assert(r.auditFilesTotal > 0L &&
      r.auditFilesScanned < r.auditFilesTotal,
      s"audit pruning not load-bearing: scanned ${r.auditFilesScanned}" +
        s" of ${r.auditFilesTotal}")
    GraftSession.sweepPersistedRdds(spark)
    ()
  }
}
