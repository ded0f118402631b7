package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.sources.Tables

// Dev-only profiling harness (sbt "Test/runMain graft.Scratch") — kept out
// of the shipped artifact.
object Scratch {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.getOrCreate()
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    def time[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[scratch] $name%-20s ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }

    val docs = Tables.documents(spark, d)
    // warmup scan
    docs.write.format("noop").mode("overwrite").save()

    // run everything twice: first pass pays plan compilation + codegen,
    // second pass is the steady-state number the bench reports
    for (round <- 1 to 2) {
      println(s"[scratch] ---- round $round")
      val cands = Dedup.lshPairs(docs, "doc_id", "text", Dedup.MinHash(
        numHashes = 64, bands = 32, shingleK = 1, threshold = 0.0,
        maxBucket = 10000, blockCol = Some("source")))
      time("lsh_candidates")(println("cands=" + cands.count()))

      val pairs = Dedup.ngramJaccardVerify(docs, cands, "doc_id", "text",
        k = 1, threshold = 0.5)
      time("exact_verify")(println("pairs=" + pairs.count()))

      val pairsC = pairs.localCheckpoint(true)
      time("cc_only")(println("cc=" + Dedup.connectedComponents(pairsC).count()))

      // split the bench's single run() into its two phases: DataFrame
      // construction (LSH + verify + CC's per-round driver probes all
      // execute HERE — CC loops eagerly) vs the noop write (executes
      // only the final lazy mapping-composition join chain over the
      // cached per-round L checkpoints). If the write phase is hot,
      // the chain is re-executing something it shouldn't.
      //
      // Measured sf0.1 round 5 (isolated JVM, steady state):
      //   q42_construct 3.49 s / q42_write 0.10 s / full 3.17 s.
      // The 0.10 s write rules out lazy-checkpoint re-execution — the
      // composition chain runs once, on cached leaves. The bench's
      // historically higher q42 (5.88 s in r4) is context cost of 88
      // queries sharing the JVM (GC + page-cache eviction), i.e. the
      // known ±2 s band on this query, not a plan defect; nothing to
      // eager-truncate.
      val q42 = time("q42_construct")(
        SparkEntry.queries("q42_dedup_clusters")(spark, d))
      time("q42_write")(q42.write.format("noop").mode("overwrite").save())
      time("full_q42") {
        SparkEntry.queries("q42_dedup_clusters")(spark, d)
          .write.format("noop").mode("overwrite").save()
      }
    }
    spark.stop()
  }
}
