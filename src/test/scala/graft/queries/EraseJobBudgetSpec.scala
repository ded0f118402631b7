package graft.queries

import graft.SparkSpecBase

/** Counter gate for the store-erasure and store-build catalog queries:
  * the Spark jobs one run of each query starts — store build, erase
  * and the read that follows — counted with the listener bus drained
  * on both sides (the PipelineSpec "job budget" pattern). A count, not
  * a timing, so host speed cannot hide a store path that grows extra
  * actions. Budgets (sf0.001, this suite's local[4] session with 4
  * shuffle partitions): q237–q242 are the counts they took before
  * erasure was dispatched through the store-family registry. The
  * store builds (q181, q199, q230–q236) start a varying number of jobs
  * on identical input (q234: 82–86 over four runs, fresh JVM and full
  * suite alike), so each budget is its largest measured count plus 2 —
  * an exact budget would be a flaky gate; growth beyond the measured
  * spread still fails. The exact-certification queries (q215, q224,
  * q227, q228) and the flat-store queries (q143, q146, q149, q159,
  * q163, q171, q172, q176, q178, q207, q209) carry the larger of two
  * fresh-JVM counts, no headroom; so do the band, bm25 and IVF store
  * queries (q93, q97, q98, q124, q151, q155, q156, q243, q244, q245),
  * q243 and q245 counted after their drift append became an
  * idempotent epoch append (one zero-row-guard job more each: 31 → 32,
  * 15 → 16).
  * Each test reports its count, so a budget can be re-measured from
  * the test output. */
class EraseJobBudgetSpec extends SparkSpecBase {
  private val sfDir = "/root/testdata/sf0.001"

  private val budgets = Seq(
    "q215_exact_jaccard_join" -> 11,
    "q224_exact_cosine_join" -> 12,
    "q227_jaccard_against" -> 33,
    "q228_cosine_against" -> 16,
    "q237_cert_erasure" -> 60,
    "q238_band_erasure" -> 58,
    "q239_gram_erasure" -> 22,
    "q240_cap_erasure" -> 31,
    "q241_cuts_refreeze" -> 22,
    "q242_digest_erasure" -> 19,
    "q143_epoch_compaction" -> 29,
    "q146_incremental_domain_caps" -> 21,
    "q149_sketch_store" -> 13,
    "q159_hll_store" -> 18,
    "q163_cms_store" -> 15,
    "q171_digest_ledger" -> 13,
    "q172_islands_store" -> 13,
    "q176_kmv_store" -> 18,
    "q178_store_time_travel" -> 20,
    "q207_gram_freq_store" -> 16,
    "q209_lm_store" -> 18,
    "q93_incremental_lsh" -> 31,
    "q97_incremental_simhash" -> 36,
    "q98_incremental_srp" -> 36,
    "q124_incremental_image_neardup" -> 31,
    "q151_bm25_store" -> 28,
    "q155_bm25_multi" -> 18,
    "q156_hybrid_multi" -> 24,
    "q243_ivf_recluster" -> 32,
    "q244_ivfpq_recluster" -> 47,
    "q245_ivf_cell_skew" -> 16,
    "q181_graph_census_store" -> 76,
    "q199_corpus_card" -> 78,
    "q230_cert_ledger" -> 57,
    "q231_cert_ledger_cos" -> 47,
    "q232_semantic_repair" -> 80,
    "q233_pick_k" -> 43,
    "q234_incremental_repair" -> 88,
    "q235_repair_labels_store" -> 103,
    "q236_card_from_stores" -> 86)

  private def jobsOf(name: String): Int = {
    val q = Catalog.all.find(_.name == name)
      .getOrElse(fail(s"no catalog query named $name"))
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.graftspark.TestListenerBus.waitUntilEmpty(sc)
    sc.addSparkListener(listener)
    try {
      q.fn(spark, sfDir).collect()
      org.apache.spark.graftspark.TestListenerBus.waitUntilEmpty(sc)
    } finally sc.removeSparkListener(listener)
    jobs.get
  }

  budgets.foreach { case (name, budget) =>
    test(s"job budget: $name") {
      val jobs = jobsOf(name)
      info(s"$name started $jobs jobs")
      assert(jobs <= budget, s"$name started $jobs Spark jobs (budget $budget)")
    }
  }
}
