package graft.operators

import graft.{GraftSession, SparkSpecBase}
import graft.queries.Catalog
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Pins the checkpoint-block lifecycle: `localCheckpoint` pins RDD
  * blocks for the session lifetime unless something frees them, and
  * round 8 measured the cost of NOT freeing (46 s vs ~9 s on the
  * heaviest shuffle query after ~140 checkpoint-heavy catalog queries
  * had leaked blocks into the shared bench JVM). Three contracts:
  *
  *  1. `Bridge.unpersistCheckpoint` actually releases the persisted
  *     RDD, for both plain and freshLeaf-wrapped checkpoints;
  *  2. iterative operators free every superseded iteration — only
  *     their RETURNED frame's blocks outlive the call;
  *  3. a full catalog query followed by the harness sweep
  *     (`GraftSession.sweepPersistedRdds`) leaves ZERO pinned RDDs —
  *     the invariant Bench/Verify now rely on between queries.
  */
class CheckpointHygieneSpec extends SparkSpecBase {
  import spark.implicits._

  private def pinned: Int = spark.sparkContext.getPersistentRDDs.size

  test("unpersistCheckpoint frees plain and freshLeaf-wrapped checkpoints") {
    GraftSession.sweepPersistedRdds(spark)
    val plain = Seq(1, 2, 3).toDF("x").localCheckpoint(true)
    val wrapped = Bridge.freshLeaf(Seq(4, 5).toDF("y").localCheckpoint(true))
    assert(pinned === 2, "each eager checkpoint pins exactly one RDD")
    Bridge.unpersistCheckpoint(plain)
    assert(pinned === 1, "plain checkpoint freed")
    Bridge.unpersistCheckpoint(wrapped)
    assert(pinned === 0, "freshLeaf-wrapped checkpoint freed via its dependency chain")
  }

  test("pageRankFixedPoint frees every superseded iteration") {
    GraftSession.sweepPersistedRdds(spark)
    val v = (0L until 20L).toDF("id")
    val e = v.filter($"id" % 3 =!= 0)
      .select($"id".as("src"), (($"id" * 7 + 3) % 20).as("dst"))
    val pr = Centrality.pageRankFixedPoint(v, e, iterations = 5)
    pr.write.format("noop").mode("overwrite").save()
    // 5 iterations took 6 checkpoints (seed + one per iteration); only
    // the final ranks may remain pinned — they back the returned frame
    assert(pinned === 1,
      s"expected only the final ranks checkpoint pinned, found $pinned")
    GraftSession.sweepPersistedRdds(spark)
    assert(pinned === 0)
  }

  test("connectedComponents frees every per-round checkpoint") {
    GraftSession.sweepPersistedRdds(spark)
    // a chain graph forces many contraction rounds (min-label
    // contraction shortens a path by ~one vertex per round, so stay
    // well under the 30-round convergence cap)
    val pairs = (0L until 16L).sliding(2).toSeq
      .map { case Seq(a, b) => (a, b) }.toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs)
    assert(cc.select(countDistinct($"cluster_id")).as[Long].head() === 1L)
    // rounds of L tables + contracted edge lists + the seed mapping
    // were all checkpointed; only the returned mapping stays
    assert(pinned === 1,
      s"expected only the final mapping checkpoint pinned, found $pinned")
    GraftSession.sweepPersistedRdds(spark)
    assert(pinned === 0)
  }

  test("certification store calls free their own pins: write, append, and a pinned probe once released") {
    GraftSession.sweepPersistedRdds(spark)
    def ids = spark.sparkContext.getPersistentRDDs.keySet
    val dir = java.nio.file.Files.createTempDirectory("graft-certpins").toString
    val rnd = new scala.util.Random(5)
    def vecs(from: Int, until: Int) = (from until until)
      .map(i => (i.toLong, Array.fill(4)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val cases = Seq(
      (Dedup.Jaccard(0.5), "doc_id", "text",
        Seq((1L, "alpha beta gamma"), (2L, "alpha beta delta"),
          (3L, "kappa lambda mu")).toDF("doc_id", "text"),
        Seq((10L, "alpha beta gamma"), (11L, "nu xi")).toDF("doc_id", "text")),
      (Dedup.Cosine(0.4), "vec_id", "embedding", vecs(0, 12), vecs(20, 24)))
    for ((metric, idCol, valueCol, corpus, batch) <- cases) {
      val root = s"$dir/${metric.name}"
      val before = ids
      Dedup.certIndexWrite(corpus, idCol, valueCol, root, metric)
      assert(ids === before, s"$metric: certIndexWrite left pins")
      val (pairs, free) = Dedup.certIndexProbePinned(spark, root, batch,
        idCol, valueCol, metric)
      pairs.collect()
      assert(ids !== before, s"$metric: the probe pinned nothing to release")
      free()
      assert(ids === before, s"$metric: the probe's release left pins")
      Dedup.certIndexAppend(spark, root, batch, idCol, valueCol, "b1", metric)
      assert(ids === before, s"$metric: certIndexAppend left pins")
    }
  }

  test("catalog query + harness sweep leaves zero pinned RDDs") {
    GraftSession.sweepPersistedRdds(spark)
    // q157 composes the checkpoint-heaviest operator (iterative
    // PageRank); materialize it the way Bench does, then sweep
    val q = Catalog.all.find(_.name == "q157_pagerank")
      .getOrElse(fail("q157_pagerank missing from Catalog.all"))
    q.fn(spark, "/root/testdata/sf0.001")
      .write.format("noop").mode("overwrite").save()
    val swept = GraftSession.sweepPersistedRdds(spark)
    assert(swept >= 1, "the query's final checkpoint was there to sweep")
    assert(pinned === 0, "nothing stays pinned after the sweep")
  }
}
