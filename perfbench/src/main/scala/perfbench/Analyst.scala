package perfbench

import java.nio.file.{Files, Paths}

import scala.util.Random

import graft.SparkEntry

/** `analyst_reads`: read-only catalog queries over the generated harness
  * tables, each driven to a noop sink the way `graft.Bench` drives them.
  * The operation is one pass over every query in an order the seed
  * shuffles, each query run twice in a row. A query's time is the
  * faster of its two runs, which keeps a transient host stall out of
  * it as `graft.Bench`'s min-of-3 does; op_s is the sum of those
  * times and read_s their median.
  *
  * Set-up runs every query once into parquet (outside the measured
  * window): that pass warms the JIT and the footer caches, and its
  * files are what `run.py` compares with the DuckDB oracles. */
object Analyst {
  /** Read-only queries over the harness tables, one per kind of plan:
    * aggregation, broadcast and fact joins, interval expansion, the
    * range-join rewrite, window, in-memory merge, exact and n-gram
    * dedup, cosine similarity, rollup, as-of join, SQL text, percentiles
    * and funnel. The catalog's revenue queries (q46, q47, q61, q83–q86)
    * read the invoice fixture through an absolute path and are left
    * out. */
  val Queries: Seq[String] = Seq(
    "q1_agg", "q6_broadcast_join", "q7_fact_join", "q8_interval_expand",
    "q9_range_join", "q12_window", "q15_merge", "q19_dedup_exact",
    "q21_ngram_jaccard", "q23_cosine_topk", "q28_rollup", "q31_asof_join",
    "q35_sql_surface", "q88_manygroup_percentile", "q133_funnel")

  def run(r: Run, data: String, work: String): Unit = {
    val spark = r.spark
    val catalog = SparkEntry.queries
    val dump = s"$work/dump"
    Queries.foreach { q =>
      r.op(s"$q dump")(catalog(q)(spark, data).repartition(1).write.mode("overwrite")
        .parquet(s"$dump/$q"))
      r.sweep()
    }
    val oracles = SparkEntry.oracleSql
    Files.writeString(Paths.get(s"$dump/oracle_sql.json"),
      Out.value(Queries.flatMap(q => oracles.get(q).map(q -> _)).toMap))
    r.expectations("dump") = dump

    r.setupDone()

    val order = new Random(r.seed).shuffle(Queries)
    r.measure { traced =>
      val times = order.map { q =>
        val s = Seq.fill(2) {
          val (_, s) = r.timed(r.span(q, "queries")(r.op(q)(
            catalog(q)(spark, data).write.format("noop").mode("overwrite").save())))
          r.sweep()
          s
        }.min
        if (traced) r.perLayer(s"catalog.${q}_s") = s
        s
      }.sorted
      Some(Map("op_s" -> times.sum, "read_s" -> times(times.size / 2)))
    }
  }
}
