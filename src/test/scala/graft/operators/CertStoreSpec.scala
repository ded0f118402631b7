package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** The persisted certification index stores: probes must equal brute
  * force EXACTLY (both are exact, so equality is set equality on
  * (id, id, score)), appends must stay consistent with
  * the frozen geometry, and the store round-trip must survive
  * compaction and refuse parameter mixups — the properties that make
  * "cost ∝ batch" true for scans, not just joins. */
class CertStoreSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmp(name: String) = java.nio.file.Files
    .createTempDirectory("graft-certstore").toString + "/" + name

  // ------------------------------------------------------- jaccard side

  private val corpusDocs = Seq(
    (1L, "alpha beta gamma delta"),
    (2L, "alpha beta gamma epsilon"),
    (3L, "iota kappa lambda mu"),
    (4L, "nu xi omicron pi rho sigma"),
    (5L, "alpha beta gamma delta epsilon zeta eta theta"))
  private val batch1Docs = Seq(
    (101L, "alpha beta gamma delta"),   // re-ingested copy of 1
    (102L, "alpha beta gamma zeta"),    // J(.,1) = 3/5
    (103L, "tau upsilon phi chi"),      // novel
    (104L, "   "))                      // degenerate: certifies nothing
  private val batch2Docs = Seq(
    (201L, "alpha beta gamma zeta"),    // copy of 102 (batch1, appended)
    (202L, "iota kappa lambda mu"),     // copy of 3 (bootstrap corpus)
    (203L, "psi omega aleph bet"))

  /** Brute-force judge of a probe: every (corpus, batch) pair of the
    * block-local verifier over corpus ∪ batch in one constant block
    * (corpus ids sit below batch ids), scored at the probes' 4dp. */
  private def jaccardAgainst(corpus: Seq[(Long, String)],
                             batch: Seq[(Long, String)], t: Double) = {
    val boundary = batch.map(_._1).min
    assert(corpus.forall(_._1 < boundary))
    Dedup.ngramJaccardPairs((corpus ++ batch).toDF("doc_id", "text")
        .withColumn("blk", lit(1)), "doc_id", "text", "blk", k = 1,
        threshold = t)
      .filter(col("id_a") < boundary && col("id_b") >= boundary)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4))
      .as[(Long, Long, Double)].collect().toSet
  }

  /** [[jaccardAgainst]]'s cosine twin: the block-local brute cosine. */
  private def cosineAgainst(corpus: Seq[(Long, Array[Float])],
                            batch: Seq[(Long, Array[Float])], t: Double) = {
    val boundary = batch.map(_._1).min
    assert(corpus.forall(_._1 < boundary))
    Dedup.embeddingNearDup((corpus ++ batch).toDF("vec_id", "embedding")
        .withColumn("blk", lit(1)), "vec_id", "embedding", "blk", t)
      .filter(col("id_a") < boundary && col("id_b") >= boundary)
      .as[(Long, Long, Double)].collect().toSet
  }

  test("certTextIndex: probe ≡ brute force; appended epochs join the standing corpus") {
    val root = tmp("jac")
    val corpus = corpusDocs.toDF("doc_id", "text")
    Dedup.certIndexWrite(corpus, "doc_id", "text", root,
      Dedup.Jaccard(0.5, shingleK = 1))
    def probe(batch: Seq[(Long, String)]) =
      Dedup.certIndexProbe(spark, root, batch.toDF("doc_id", "text"), "doc_id",
        "text", Dedup.Jaccard(0.5, shingleK = 1))
        .as[(Long, Long, Double)].collect().toSet
    val got1 = probe(batch1Docs)
    assert(got1 === jaccardAgainst(corpusDocs, batch1Docs, 0.5))
    assert(got1.contains((1L, 101L, 1.0)), "re-ingestion signal missing")
    assert(got1.nonEmpty)
    // append batch1, probe batch2: the standing corpus now includes
    // batch1 — prefix rows cut under batch1's OWN df order (the
    // one-sided lemma is order-free, so this stays exact)
    Dedup.certIndexAppend(spark, root, batch1Docs.toDF("doc_id", "text"), "doc_id",
      "text", "b1", Dedup.Jaccard(0.5, shingleK = 1))
    val got2 = probe(batch2Docs)
    assert(got2 === jaccardAgainst(corpusDocs ++ batch1Docs.take(3),
      batch2Docs, 0.5))
    assert(got2.contains((102L, 201L, 1.0)),
      "pair against an APPENDED doc missing — epochs not probed")
    assert(got2.contains((3L, 202L, 1.0)),
      "pair against a BOOTSTRAP doc missing")
    // replayed append of the same epoch rewrites, never duplicates
    Dedup.certIndexAppend(spark, root, batch1Docs.toDF("doc_id", "text"), "doc_id",
      "text", "b1", Dedup.Jaccard(0.5, shingleK = 1))
    assert(probe(batch2Docs) === got2)
    // the streaming replay hook: excluding b1 probes the pre-append corpus
    val excl = Dedup.certIndexProbe(spark, root, batch2Docs.toDF("doc_id", "text"),
      "doc_id", "text", Dedup.Jaccard(0.5, shingleK = 1), excludeEpoch = Some("b1"))
      .as[(Long, Long, Double)].collect().toSet
    assert(excl === jaccardAgainst(corpusDocs, batch2Docs, 0.5))
    // identity-fold compaction via the maintenance dispatch preserves
    // the probe output bit for bit
    val stats = Maintenance.compactStore(spark, root)
    assert(stats.folded.nonEmpty)
    assert(probe(batch2Docs) === got2)
    // parameter mixups refuse loudly: a probe at another tau or
    // granularity would silently miss pairs (prefix lengths are
    // tau-specific), so the manifest check is load-bearing
    for ((t, k) <- Seq((0.8, 1), (0.5, 3))) {
      val e = intercept[Exception] {
        Dedup.certIndexProbe(spark, root, batch2Docs.toDF("doc_id", "text"),
          "doc_id", "text", Dedup.Jaccard(t, shingleK = k))
      }
      assert(e.getMessage.contains("do not match") ||
        e.getMessage.contains("mismatch"), e.getMessage)
    }
  }

  test("probes never touch corpus sources: both stores answer after the corpus is DELETED") {
    // the q107 "never re-read" contract, proven structurally: build
    // each store from a corpus parquet, delete the parquet, probe —
    // if any probe lineage reached back to corpus text/vectors it
    // would fail on the missing files
    val dir = java.nio.file.Files
      .createTempDirectory("graft-certsrc").toString
    corpusDocs.toDF("doc_id", "text").write.parquet(s"$dir/docs")
    val rnd = new scala.util.Random(41)
    val vecs = (0 until 30).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
    vecs.toDF("vec_id", "embedding").write.parquet(s"$dir/vecs")
    val jacRoot = tmp("jacdel"); val vecRoot = tmp("vecdel")
    Dedup.certIndexWrite(spark.read.parquet(s"$dir/docs"), "doc_id", "text", jacRoot,
      Dedup.Jaccard(0.5, shingleK = 1))
    Dedup.certIndexWrite(spark.read.parquet(s"$dir/vecs"), "vec_id", "embedding",
      vecRoot, Dedup.Cosine(0.4))
    def rmrf(p: String): Unit = {
      val f = new java.io.File(p)
      if (f.isDirectory) f.listFiles.foreach(c => rmrf(c.getPath))
      f.delete(); ()
    }
    rmrf(s"$dir/docs"); rmrf(s"$dir/vecs")
    val jac = Dedup.certIndexProbe(spark, jacRoot, batch1Docs.toDF("doc_id", "text"),
      "doc_id", "text", Dedup.Jaccard(0.5, shingleK = 1))
      .as[(Long, Long, Double)].collect().toSet
    assert(jac === jaccardAgainst(corpusDocs, batch1Docs, 0.5))
    val cos = Dedup.certIndexProbe(spark, vecRoot,
      vecs.take(5).map { case (i, v) => (i + 100L, v) }
        .toDF("vec_id", "embedding"),
      "vec_id", "embedding", Dedup.Cosine(0.4))
      .as[(Long, Long, Double)].collect()
    assert(cos.nonEmpty, "re-ingested vectors must certify against the store")
  }

  test("probe scans are PARTITION-PRUNED and guard-aggregation-free: postings by batch buckets, bands by neighborhood cells") {
    // the round-15 scan contract: a probe reads only the store
    // partitions its batch can possibly pair with (postings pruned by
    // pb = pmod(token hash, buckets); bands pruned by the 3×3 (b0,b1)
    // neighborhood), and the maxBucket/maxCell guard is a PRE-PAID
    // driver-side read of the stats substore — no aggregation over
    // the index ever appears in the probe plan. Inspect the static
    // plan (AQE wraps scans in opaque stages — the PlanAuditSpec
    // convention) and evaluate its partition filters, the
    // SimilaritySpec IVF technique.
    def scansOf(df: org.apache.spark.sql.DataFrame, frag: String) =
      df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains(frag)) => s
      }
    def partsRead(s: org.apache.spark.sql.execution.FileSourceScanExec) =
      s.relation.location.listFiles(s.partitionFilters, Nil).size
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // the candidate stage executes EAGERLY at probe construction (the
    // checkpoint that lets the verify scan prune on the candidates'
    // id buckets) — its postings scan therefore lives in the eager
    // execution, not the returned plan. Capture executed plans via a
    // QueryExecutionListener (async bus: poll until the scan shows).
    val seen = java.util.Collections.synchronizedList(
      new java.util.ArrayList[org.apache.spark.sql.execution.FileSourceScanExec]())
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = {
        qe.executedPlan.foreach {
          case s: org.apache.spark.sql.execution.FileSourceScanExec =>
            seen.add(s); ()
          case _ => ()
        }
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // ---- text side: one-doc batch touches ≤ its-tokens buckets
      val jacRoot = tmp("jacprune")
      Dedup.certIndexWrite(corpusDocs.toDF("doc_id", "text"), "doc_id", "text",
        jacRoot, Dedup.Jaccard(0.5, shingleK = 1, buckets = 8))
      seen.clear()
      val oneDoc = Seq((900L, "alpha beta")).toDF("doc_id", "text")
      val jProbe = Dedup.certIndexProbe(spark, jacRoot, oneDoc, "doc_id", "text",
        Dedup.Jaccard(0.5, shingleK = 1, buckets = 8))
      def eagerScans(frag: String) = {
        import scala.jdk.CollectionConverters._
        val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
        def grab() = seen.asScala.toList.filter(
          _.relation.location.rootPaths.exists(_.toString.contains(frag)))
        var got = grab()
        while (got.isEmpty && System.nanoTime() < deadline) {
          Thread.sleep(100); got = grab()
        }
        got
      }
      val post = eagerScans("/postings")
      assert(post.nonEmpty,
        "no postings scan observed in the probe's candidate stage")
      assert(post.forall(_.partitionFilters.nonEmpty),
        "postings scan lost its partition filter")
      // ≤ 2 distinct tokens → ≤ 2 pb partitions of the 1-epoch store
      assert(post.map(partsRead).max <= 2,
        s"postings scan read ${post.map(partsRead).max} pb partitions")
      // the guard reads stats DRIVER-SIDE before the plan exists: no
      // stats scan, and no aggregate over postings, in the FINAL plan
      assert(scansOf(jProbe, "/stats").isEmpty,
        "guard stats re-entered the probe plan")
      assert(scansOf(jProbe, "/postings").isEmpty,
        "candidate generation re-entered the final plan — it must be " +
          "pre-paid exactly once (the checkpoint)")
      // the VERIFY scan prunes too: fps is partitioned by the id-hash
      // bucket and the checkpointed candidates' bucket list is its
      // partition filter — with postings and bands pruned, no probe
      // path scans any substore whole
      val fps = scansOf(jProbe, "/fps")
      assert(fps.nonEmpty, "no fps scan in the probe plan")
      assert(fps.forall(_.partitionFilters.nonEmpty),
        "fps verify scan lost its partition filter")
      // the one-doc batch pairs with ≤ a handful of corpus docs — far
      // fewer ib partitions than the 8-bucket store can hold
      assert(fps.map(partsRead).max <= 4,
        s"fps scan read ${fps.map(partsRead).max} ib partitions")
      // ---- vec side: one-vector batch touches ≤ 9 neighborhood cells
      val rnd = new scala.util.Random(23)
      def v() = Array.fill(8)(rnd.nextGaussian().toFloat)
      val vecRoot = tmp("vecprune")
      val corpus = (0 until 60).map(i => (i.toLong, v()))
      Dedup.certIndexWrite(corpus.toDF("vec_id", "embedding"), "vec_id", "embedding",
        vecRoot, Dedup.Cosine(0.9))
      val vProbe = Dedup.certIndexProbe(spark, vecRoot,
        Seq((900L, v())).toDF("vec_id", "embedding"),
        "vec_id", "embedding", Dedup.Cosine(0.9))
      val bands = scansOf(vProbe, "/bands")
      assert(bands.nonEmpty, "no band scan in the probe plan")
      assert(bands.forall(_.partitionFilters.nonEmpty),
        "band scan lost its partition filter")
      assert(bands.map(partsRead).max <= 9,
        s"band scan read ${bands.map(partsRead).max} cell partitions")
      // the store holds MORE populated cells than the probe reads —
      // the bound above is pruning, not a tiny store
      val allCells = spark.read.parquet(s"$vecRoot/bands")
        .select("b0", "b1").distinct().count()
      assert(allCells > 9, s"test corpus too concentrated: $allCells cells")
      assert(scansOf(vProbe, "/stats").isEmpty,
        "guard stats re-entered the probe plan")
    } finally {
      spark.listenerManager.unregister(listener)
      spark.conf.set("spark.sql.adaptive.enabled", prev)
    }
  }

  test("certTextIndex probe: corpus-side boilerplate bucket trips the guard loudly") {
    val root = tmp("jacflood")
    val flood = Seq.tabulate(8)(i => (200L + i, s"shared u$i"))
      .toDF("doc_id", "text")
    Dedup.certIndexWrite(flood, "doc_id", "text", root,
      Dedup.Jaccard(0.5, shingleK = 1, maxBucket = 3))
    val e = intercept[Exception] {
      Dedup.certIndexProbe(spark, root, batch1Docs.toDF("doc_id", "text"), "doc_id",
        "text", Dedup.Jaccard(0.5, shingleK = 1, maxBucket = 3)).collect()
    }
    assert(e.getMessage.contains("prefix bucket overflow"), e.getMessage)
  }

  // -------------------------------------------------------- cosine side

  test("certVecIndex: frozen pivots; probe ≡ brute force across appends") {
    val rnd = new scala.util.Random(97)
    def noise(dim: Int) = Array.fill(dim)(rnd.nextGaussian().toFloat)
    def near(base: Array[Float]) =
      base.map(x => x + 0.05f * rnd.nextGaussian().toFloat)
    val c1 = noise(8)
    val corpusRows = (0 until 15).map(i => (i.toLong, near(c1))) ++
      (15 until 60).map(i => (i.toLong, noise(8)))
    val b1Rows = (100 until 105).map(i => (i.toLong, near(c1))) ++
      (105 until 115).map(i => (i.toLong, noise(8))) :+
      (115L, Array.fill(8)(0f)) // zero-norm: certifies nothing
    val b2Rows = (200 until 204).map(i => (i.toLong, near(c1))) ++
      (204 until 210).map(i => (i.toLong, noise(8)))
    val corpus = corpusRows.toDF("vec_id", "embedding")
    for (tau <- Seq(0.4, 0.9)) {
      val root = tmp(s"vec$tau")
      Dedup.certIndexWrite(corpus, "vec_id", "embedding", root, Dedup.Cosine(tau))
      def probe(b: Seq[(Long, Array[Float])]) =
        Dedup.certIndexProbe(spark, root, b.toDF("vec_id", "embedding"), "vec_id",
          "embedding", Dedup.Cosine(tau)).as[(Long, Long, Double)].collect().toSet
      val got1 = probe(b1Rows)
      assert(got1 === cosineAgainst(corpusRows, b1Rows, tau),
        s"tau=$tau bootstrap probe diverged")
      assert(got1.nonEmpty, s"tau=$tau: degenerate test corpus")
      assert(!got1.exists(p => p._1 == 115L || p._2 == 115L),
        "zero-norm vector certified")
      // append batch1 (banded under the FROZEN pivots), probe batch2
      // against the grown corpus: the store never re-picks its pivots,
      // and the probe must still equal brute force
      Dedup.certIndexAppend(spark, root, b1Rows.toDF("vec_id", "embedding"),
        "vec_id", "embedding", "b1", Dedup.Cosine(tau))
      val got2 = probe(b2Rows)
      assert(got2 === cosineAgainst(corpusRows ++ b1Rows, b2Rows, tau),
        s"tau=$tau post-append probe diverged")
      assert(got2.exists(_._1 >= 100L),
        s"tau=$tau: no pair against an appended vector — epochs not probed")
      // compaction via the maintenance dispatch preserves the probe
      val stats = Maintenance.compactStore(spark, root)
      assert(stats.folded.nonEmpty)
      assert(probe(b2Rows) === got2)
      // probing at another tau refuses loudly (bands are theta-specific)
      val e = intercept[Exception] {
        Dedup.certIndexProbe(spark, root, b2Rows.toDF("vec_id", "embedding"),
          "vec_id", "embedding", Dedup.Cosine(if (tau == 0.4) 0.9 else 0.4))
      }
      assert(e.getMessage.contains("do not match"), e.getMessage)
    }
  }

  test("certVecIndex probe: corpus cell mass-collapse trips the guard loudly") {
    val rnd = new scala.util.Random(11)
    val corpus = (0 until 40).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val batch = (100 until 105).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val root = tmp("veccollapse")
    Dedup.certIndexWrite(corpus, "vec_id", "embedding", root,
      Dedup.Cosine(0.4, maxCell = 5L))
    val e = intercept[Exception] {
      Dedup.certIndexProbe(spark, root, batch, "vec_id", "embedding",
        Dedup.Cosine(0.4, maxCell = 5L)).collect()
    }
    assert(e.getMessage.contains("corpus cell overflow"), e.getMessage)
  }

  test("cc_labels store: min-fold deltas equal a full CC rebuild across folds, replay, and compaction; cross-tau folds refuse") {
    import spark.implicits._
    val root = tmp("cclabels")
    def cc(pairs: Seq[(Long, Long)]) =
      Dedup.connectedComponents(pairs.toDF("id_a", "id_b"))
        .as[(Long, Long)].collect().toSet
    def stored() = Dedup.ccLabels("cosine", 0.4).read(spark, root)
      .as[(Long, Long)].collect().toSet
    // bootstrap: two components {1,2,3} and {10,11}
    val p0 = Seq((1L, 2L), (2L, 3L), (10L, 11L))
    Dedup.ccLabelsWrite(Dedup.connectedComponents(p0.toDF("id_a", "id_b")),
      root, "cosine", 0.4)
    assert(stored() === cc(p0))
    // fold a batch that MERGES the two components (3-10) and adds a
    // new one (20-21): labels can only DECREASE (10/11 -> 1), which is
    // exactly why min over delta rows is the read
    val p1 = Seq((3L, 10L), (20L, 21L))
    val updated = Dedup.ccLabelsFold(spark, root, p1.toDF("id_a", "id_b"),
      "e1", "cosine", 0.4).as[(Long, Long)].collect().toSet
    val full1 = cc(p0 ++ p1)
    assert(updated === full1 && stored() === full1)
    // the delta epoch holds ONLY changed + new ids (10, 11 relabeled;
    // 20, 21 new) — never a corpus-sized rewrite
    val e1Rows = spark.read.parquet(root)
      .filter(col("_epoch") === "e1").select("id").as[Long].collect().toSet
    assert(e1Rows === Set(10L, 11L, 20L, 21L), s"delta was $e1Rows")
    // replay of the same fold rewrites the identical delta — no change
    Dedup.ccLabelsFold(spark, root, p1.toDF("id_a", "id_b"),
      "e1", "cosine", 0.4)
    assert(stored() === full1)
    // compaction is the same min fold; dispatched via Maintenance
    assert(Maintenance.compactStore(spark, root).folded.nonEmpty)
    assert(stored() === full1)
    // fold after compaction still equals the rebuild
    val p2 = Seq((21L, 1L))
    Dedup.ccLabelsFold(spark, root, p2.toDF("id_a", "id_b"),
      "e2", "cosine", 0.4)
    assert(stored() === cc(p0 ++ p1 ++ p2))
    // survivors from the store: every id whose label is itself, plus
    // ids that never certified a pair
    val kept = Dedup.repairSurvivorsFromStore(spark,
      Seq(1L, 2L, 3L, 10L, 11L, 20L, 21L, 99L).toDF("id"), "id",
      root, "cosine", 0.4).as[Long].collect().toSet
    assert(kept === Set(1L, 99L), s"kept $kept")
    // a fold at another tau refuses before writing anything
    val e = intercept[Exception] {
      Dedup.ccLabelsFold(spark, root, p2.toDF("id_a", "id_b"),
        "e3", "cosine", 0.9)
    }
    assert(e.getMessage.contains("do not match"), e.getMessage)
    // empty-store path: the first nonempty fold IS the bootstrap
    val root2 = tmp("cclabels2")
    Dedup.ccLabelsFold(spark, root2, p0.toDF("id_a", "id_b"),
      "b0", "cosine", 0.4)
    assert(Dedup.ccLabels("cosine", 0.4).read(spark, root2)
      .as[(Long, Long)].collect().toSet === cc(p0))
  }

  test("certification erasure: probes answer as if the erased docs never existed; no reference survives on disk") {
    import spark.implicits._
    val dir = tmp("erase")
    val idx = s"$dir/idx"; val led = s"$dir/led"; val lab = s"$dir/lab"
    val full = corpusDocs ++ batch1Docs.take(3)
    // a store with a compacted-spanning history: bootstrap + one epoch
    Dedup.certIndexWrite(corpusDocs.toDF("doc_id", "text"), "doc_id", "text", idx,
      Dedup.Jaccard(0.5, shingleK = 1))
    Dedup.certIndexAppend(spark, idx, batch1Docs.toDF("doc_id", "text"), "doc_id",
      "text", "b1", Dedup.Jaccard(0.5, shingleK = 1))
    Dedup.certLedger("jaccard", 0.5).write(Dedup.exactJoin(full.toDF("doc_id", "text"), "doc_id",
      "text", Dedup.Jaccard(0.5, shingleK = 1)), led)
    Dedup.ccLabelsFold(spark, lab,
      Dedup.certLedger("jaccard", 0.5).read(spark, led)
        .select("id_a", "id_b"), "base", "jaccard", 0.5)
    // victim 1 is its component's MIN-ID — it survives a naive filter
    // as every clustermate's LABEL, which is why labels REBUILD
    val victims = Seq(1L, 102L).toDF("doc_id")
    val request = Maintenance.EraseRequest(victims)
    Maintenance.eraseStore(spark, idx, request)
    Maintenance.eraseStore(spark, led, request)
    // the labels rebuild reads the ERASED ledger: the input is built
    // when the erase runs, not when the request is made
    Maintenance.eraseStore(spark, lab, request
      .withInput(lab, Dedup.ccLabels("jaccard", 0.5).meta)(
        Dedup.connectedComponents(Dedup.certLedger("jaccard", 0.5).read(spark,
          led).select("id_a", "id_b"))))
    val retained = full.filterNot(r => r._1 == 1L || r._1 == 102L)
    // the probe answers exactly as if the victims never ingested
    val got = Dedup.certIndexProbe(spark, idx, batch2Docs.toDF("doc_id", "text"),
      "doc_id", "text", Dedup.Jaccard(0.5, shingleK = 1))
      .as[(Long, Long, Double)].collect().toSet
    assert(got === jaccardAgainst(retained, batch2Docs, 0.5))
    assert(got.nonEmpty, "degenerate erasure test")
    // the erased ledger equals the retained corpus's full exact join
    assert(Dedup.certLedger("jaccard", 0.5).read(spark, led)
      .as[(Long, Long, Double)].collect().toSet ===
      Dedup.exactJoin(retained.toDF("doc_id", "text"), "doc_id", "text",
        Dedup.Jaccard(0.5, shingleK = 1))
        .as[(Long, Long, Double)].collect().toSet)
    // the rebuilt labeling names no victim — as an ID or as a LABEL
    val labeled = Dedup.ccLabels("jaccard", 0.5).read(spark, lab)
      .as[(Long, Long)].collect().toSet
    assert(labeled.nonEmpty)
    assert(labeled.forall { case (i, l) =>
      !Set(1L, 102L)(i) && !Set(1L, 102L)(l) }, s"victim survives: $labeled")
    // DISK-LEVEL: walk every parquet file under every root (including
    // the _-prefixed base trees Spark readers skip — exactly where a
    // stale copy would hide) and assert no victim id anywhere
    def parquetFiles(f: java.io.File): Seq[String] =
      Option(f.listFiles).toSeq.flatten.flatMap { c =>
        if (c.isDirectory) parquetFiles(c)
        else if (c.getName.endsWith(".parquet")) Seq(c.getPath) else Nil
      }
    for ((sub, idCols) <- Seq(
        s"$idx/fps" -> Seq("id"), s"$idx/postings" -> Seq("id"),
        led -> Seq("id_a", "id_b"), lab -> Seq("id", "cluster_id"))) {
      val files = parquetFiles(new java.io.File(sub))
      assert(files.nonEmpty, s"nothing on disk under $sub")
      val onDisk = spark.read.parquet(files: _*)
      for (c <- idCols) {
        val hit = onDisk.filter(col(c).isin(1L, 102L)).count()
        assert(hit === 0L, s"$hit rows under $sub still reference a victim via $c")
      }
    }
  }

  test("TOTAL erasure (every document a victim) tears the substores down instead of bricking them") {
    import spark.implicits._
    // pre-fix, a keep() that removed every row published a base
    // version with ZERO parquet files — and the _CURRENT flip landed
    // before pass 2's identity compaction failed schema inference, so
    // the store was bricked with the manifest still claiming it live
    val idx = tmp("eraseall")
    Dedup.certIndexWrite(corpusDocs.toDF("doc_id", "text"), "doc_id", "text", idx,
      Dedup.Jaccard(0.5, shingleK = 1))
    Maintenance.eraseStore(spark, idx,
      Maintenance.EraseRequest(corpusDocs.map(_._1).toDF("doc_id")))
    assert(!Dedup.certIndexNonEmpty(spark, idx, Dedup.Jaccard(0.5)))
    def parquetFiles(f: java.io.File): Seq[String] =
      Option(f.listFiles).toSeq.flatten.flatMap { c =>
        if (c.isDirectory) parquetFiles(c)
        else if (c.getName.endsWith(".parquet")) Seq(c.getPath) else Nil
      }
    assert(parquetFiles(new java.io.File(idx)).isEmpty,
      "parquet survives a total text-store erasure")
    // the torn-down store starts a clean new life under the same root
    Dedup.certIndexWrite(batch1Docs.take(3).toDF("doc_id", "text"), "doc_id", "text",
      idx, Dedup.Jaccard(0.5, shingleK = 1))
    assert(Dedup.certIndexProbe(spark, idx, batch2Docs.toDF("doc_id", "text"),
      "doc_id", "text", Dedup.Jaccard(0.5, shingleK = 1))
      .as[(Long, Long, Double)].collect().toSet ===
      jaccardAgainst(batch1Docs.take(3), batch2Docs, 0.5))
    // cosine twin
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 20).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
    val root = tmp("eraseallvec")
    Dedup.certIndexWrite(vecs.toDF("vec_id", "embedding"), "vec_id", "embedding",
      root, Dedup.Cosine(0.4))
    Maintenance.eraseStore(spark, root,
      Maintenance.EraseRequest(vecs.map(_._1).toDF("vec_id")))
    assert(!Dedup.certIndexNonEmpty(spark, root, Dedup.Cosine(0.4)))
    assert(parquetFiles(new java.io.File(root)).isEmpty,
      "parquet survives a total vec-store erasure")
  }

  test("cosine erasure: probe after certVecIndexErase equals the against-join over the retained corpus") {
    import spark.implicits._
    val rnd = new scala.util.Random(83)
    def noise() = Array.fill(8)(rnd.nextGaussian().toFloat)
    def near(b: Array[Float]) =
      b.map(x => x + 0.05f * rnd.nextGaussian().toFloat)
    val c1 = noise()
    val corpus = (0 until 12).map(i => (i.toLong, near(c1))) ++
      (12 until 50).map(i => (i.toLong, noise()))
    val b1 = (100 until 110).map(i => (i.toLong, noise()))
    val probeRows = (200 until 206).map(i => (i.toLong, near(c1)))
    val root = tmp("erasevec")
    Dedup.certIndexWrite(corpus.toDF("vec_id", "embedding"), "vec_id", "embedding",
      root, Dedup.Cosine(0.4))
    Dedup.certIndexAppend(spark, root, b1.toDF("vec_id", "embedding"), "vec_id",
      "embedding", "b1", Dedup.Cosine(0.4))
    val victimIds = Set(0L, 3L, 104L)
    Maintenance.eraseStore(spark, root,
      Maintenance.EraseRequest(victimIds.toSeq.toDF("vec_id")))
    val retained = (corpus ++ b1).filterNot(r => victimIds(r._1))
    val got = Dedup.certIndexProbe(spark, root,
      probeRows.toDF("vec_id", "embedding"), "vec_id", "embedding",
      Dedup.Cosine(0.4)).as[(Long, Long, Double)].collect().toSet
    assert(got === cosineAgainst(retained, probeRows, 0.4))
    assert(got.nonEmpty && !got.exists(p => victimIds(p._1)),
      s"erased vector certified: $got")
  }

  test("cosine joins degrade to the pivots a tiny corpus can supply; < 2 refuses with guidance") {
    val rnd = new scala.util.Random(7)
    def v() = Array.fill(8)(rnd.nextGaussian().toFloat)
    val three = Seq((1L, v()), (2L, v()), (3L, v()))
    val tiny = three.toDF("vec_id", "embedding")
    // 3 vectors, nPivots = 4: degrade to 3 pivots, no unresolved-column crash
    val brute = Dedup.embeddingNearDup(tiny.withColumn("blk", lit(1)),
      "vec_id", "embedding", "blk", 0.0 - 0.9999)
      .as[(Long, Long, Double)].collect().toSet
    val got = Dedup.exactJoin(tiny, "vec_id", "embedding",
      Dedup.Cosine(-0.9999, nPivots = 4))
      .as[(Long, Long, Double)].collect().toSet
    assert(got === brute)
    val cross = Dedup.exactJoinAgainst(tiny,
      Seq((10L, v())).toDF("vec_id", "embedding"), "vec_id", "embedding",
      Dedup.Cosine(-0.9999, nPivots = 4))
      .as[(Long, Long, Double)].collect()
    assert(cross.length === 3)
    // a single-vector corpus holds no pair, so its self-join is empty;
    // it cannot block a batch against it at all: loud, with guidance
    val one = Seq((1L, v())).toDF("vec_id", "embedding")
    assert(Dedup.exactJoin(one, "vec_id", "embedding", Dedup.Cosine(0.4))
      .isEmpty)
    val e = intercept[Exception] {
      Dedup.exactJoinAgainst(one, tiny, "vec_id", "embedding",
        Dedup.Cosine(0.4))
    }
    assert(e.getMessage.contains("brute force"), e.getMessage)
  }
}
