package graft.queries

import graft.SparkSpecBase

/** Counter gate for the store-erasure catalog queries: the Spark jobs
  * one run of each query starts — store build, erase and the
  * post-erase read — counted with the listener bus drained on both
  * sides (the PipelineSpec "job budget" pattern). A count, not a
  * timing, so host speed cannot hide an erase path that grows extra
  * actions. Budgets are the counts these queries took before erasure
  * was dispatched through the store-family registry (sf0.001, this
  * suite's local[4] session with 4 shuffle partitions). */
class EraseJobBudgetSpec extends SparkSpecBase {
  private val sfDir = "/root/testdata/sf0.001"

  private val budgets = Seq(
    "q237_cert_erasure" -> 60,
    "q238_band_erasure" -> 58,
    "q239_gram_erasure" -> 22,
    "q240_cap_erasure" -> 31,
    "q241_cuts_refreeze" -> 22,
    "q242_digest_erasure" -> 19)

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
      assert(jobs <= budget, s"$name started $jobs Spark jobs (budget $budget)")
    }
  }
}
