package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Erasure contracts: every persisted store family that carries
  * document-derived rows erases disk-level through
  * [[Maintenance.eraseStore]], and after it runs (a) the store answers
  * exactly as if the victims were never ingested, and (b) a walk over
  * EVERY parquet file under the store root (including `_`-prefixed
  * base trees Spark readers skip — exactly where a stale copy would
  * hide) finds no victim reference. Filterable families (band
  * indexes, IVF/PQ, BM25 postings) drop rows; additive count families
  * (gram_freq, boilerplate) SUBTRACT the victims' exact partial;
  * fold-lossy families (first-occurrence, HLL/KMV/CMS/sample
  * sketches) REBUILD from the retained corpus — the
  * cert-stats/cc_labels precedent. */
class EraseSpec extends SparkSpecBase {
  import spark.implicits._

  /** Erase the victim ids from the store at `root` (Filter families). */
  private def erase(root: String, ids: DataFrame): EpochIndex.CompactionStats =
    Maintenance.eraseStore(spark, root, Maintenance.EraseRequest(ids))

  /** Erase with the store's Subtract partial or Rebuild frame, built
    * under `meta`. */
  private def eraseWith(root: String, meta: IndexMeta)(
      input: => DataFrame): EpochIndex.CompactionStats =
    Maintenance.eraseStore(spark, root,
      Maintenance.EraseRequest(victims).withInput(root, meta)(input))

  private def tmp(name: String) = java.nio.file.Files
    .createTempDirectory("graft-erase").toString + "/" + name

  private def parquetFiles(f: java.io.File): Seq[String] =
    Option(f.listFiles).toSeq.flatten.flatMap { c =>
      if (c.isDirectory) parquetFiles(c)
      else if (c.getName.endsWith(".parquet")) Seq(c.getPath) else Nil
    }

  /** Disk walk: no row in any parquet file under `root` carries a
    * victim id in `idCols`. */
  private def assertNoVictimOnDisk(root: String, idCols: Seq[String],
                                   victims: Set[Long]): Unit = {
    val files = parquetFiles(new java.io.File(root))
    assert(files.nonEmpty, s"nothing on disk under $root")
    val onDisk = spark.read.parquet(files: _*)
    for (c <- idCols) {
      val hit = onDisk.filter(col(c).isin(victims.toSeq.map(Long.box): _*))
        .count()
      assert(hit === 0L, s"$hit rows under $root still reference a victim via $c")
    }
  }

  private val docs = Seq(
    (1L, "alpha beta gamma delta\nshared line one\nend"),
    (2L, "alpha beta gamma epsilon\nshared line one\nshared line two"),
    (3L, "iota kappa lambda mu\nshared line two"),
    (4L, "nu xi omicron pi rho sigma\nonly in four"),
    (5L, "alpha beta gamma delta epsilon zeta\nshared line one"),
    (6L, "tau upsilon phi chi psi\nshared line two"))
  private val victimIds = Set(2L, 4L)
  private def docsDF = docs.toDF("doc_id", "text")
  private def victims = victimIds.toSeq.toDF("doc_id")
  private def victimDocs = docs.filter(d => victimIds(d._1))
    .toDF("doc_id", "text")
  private def retained = docs.filterNot(d => victimIds(d._1))
    .toDF("doc_id", "text")

  test("band-index stores: erase filters by id, probe ≡ from-scratch over the retained corpus, no victim on disk") {
    // MinHash family (q238 pins the SimHash twin at catalog level)
    val root = tmp("mh")
    val lsh = Dedup.MinHash(numHashes = 8, bands = 4, shingleK = 1)
    Dedup.bandIndexWrite(docsDF.filter(col("doc_id") <= 4), "doc_id",
      "text", root, lsh)
    Dedup.bandIndexAppend(spark, root, docsDF.filter(col("doc_id") > 4),
      "doc_id", "text", "day-2", lsh)
    erase(root, victims)
    val got = Dedup.bandIndexRead(spark, root, lsh)
      .select("band", "bh", "id").as[(Int, Long, Long)].collect().toSet
    val fresh = Dedup.bandIndex(retained, "doc_id", "text", lsh)
      .select("band", "bh", "id").as[(Int, Long, Long)].collect().toSet
    assert(got === fresh)
    assert(got.nonEmpty, "degenerate erasure test")
    assertNoVictimOnDisk(root, Seq("id"), victimIds)
    // SRP family: vectors ride in the index and must leave with it
    val rnd = new scala.util.Random(41)
    val vecs = (0 until 30).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
    val vroot = tmp("srp")
    val srp = Dedup.Srp(threshold = 0.9)
    Dedup.bandIndexWrite(vecs.toDF("vec_id", "embedding"),
      "vec_id", "embedding", vroot, srp)
    erase(vroot, Seq(3L, 7L).toDF("vec_id"))
    assertNoVictimOnDisk(vroot, Seq("id"), Set(3L, 7L))
    assert(Dedup.bandIndexRead(spark, vroot, srp)
      .select("id").as[Long].collect().toSet ===
      vecs.map(_._1).toSet -- Set(3L, 7L))
  }

  test("band-index erase needs no geometry: a non-default MinHash store loses every victim from every retained version and epoch") {
    // geometry, skew guard and bucketing all off their defaults: the
    // erase reads the family and bb_buckets from the store's own
    // manifest, so the caller passes only the victim ids
    val lsh = Dedup.MinHash(numHashes = 12, bands = 3, shingleK = 2,
      maxBucket = 50)
    val root = tmp("mh-geometry")
    Dedup.bandIndexWrite(docsDF.filter(col("doc_id") <= 2), "doc_id",
      "text", root, lsh, buckets = 8)
    Dedup.bandIndexAppend(spark, root, docsDF.filter(col("doc_id") === 3L ||
      col("doc_id") === 4L), "doc_id", "text", "day-2", lsh, buckets = 8)
    // two compactions leave the older base as a RETAINED version; a
    // live epoch lands on top of the current one
    Maintenance.compactStore(spark, root, keepVersions = 3)
    Dedup.bandIndexAppend(spark, root, docsDF.filter(col("doc_id") === 5L),
      "doc_id", "text", "day-3", lsh, buckets = 8)
    Maintenance.compactStore(spark, root, keepVersions = 3)
    Dedup.bandIndexAppend(spark, root, docsDF.filter(col("doc_id") === 6L),
      "doc_id", "text", "day-4", lsh, buckets = 8)
    assert(EpochIndex.versions(spark, root)._1.size >= 2,
      "no retained version to erase from")
    // victims sit in the bootstrap base (2) and a folded epoch (4)
    erase(root, victims)
    assertNoVictimOnDisk(root, Seq("id"), victimIds)
    val got = Dedup.bandIndexRead(spark, root, lsh, buckets = 8)
      .select("band", "bh", "id").as[(Int, Long, Long)].collect().toSet
    assert(got === Dedup.bandIndex(retained, "doc_id", "text", lsh)
      .select("band", "bh", "id").as[(Int, Long, Long)].collect().toSet)
    assert(got.map(_._3) === docs.map(_._1).toSet -- victimIds)
    // the id filter is the band family's, picked by the manifest: a
    // store of another family refuses the ids-only request, naming
    // the form it needs, and keeps every file
    val grams = tmp("not-bands")
    Dedup.gramFreq(3).write(Dedup.gramFreqIndex(docsDF, "doc_id", "text",
      n = 3), grams)
    val gramFiles = parquetFiles(new java.io.File(grams)).toSet
    val e = intercept[IllegalArgumentException](erase(grams, victims))
    assert(e.getMessage.contains("gram_freq") &&
      e.getMessage.contains("Subtract"), e.getMessage)
    assert(parquetFiles(new java.io.File(grams)).toSet === gramFiles)
    // a pre-bucketing band store (no bb_buckets in its manifest)
    // refuses rather than rewrite a layout the filter cannot address
    val legacy = tmp("mh-legacy")
    Dedup.bandIndexWrite(docsDF, "doc_id", "text", legacy, lsh)
    val meta = IndexMeta.read(spark, legacy).get
    IndexMeta.write(spark, legacy, meta.copy(params = meta.params - "bb_buckets"))
    val e2 = intercept[RuntimeException](erase(legacy, victims))
    assert(e2.getMessage.contains("bb_buckets"), e2.getMessage)
    // and a directory with no manifest is never rewritten
    val bare = tmp("no-manifest")
    docsDF.write.parquet(bare)
    val e3 = intercept[IllegalArgumentException](erase(bare, victims))
    assert(e3.getMessage.contains("no _GRAFT_META manifest"), e3.getMessage)
  }

  test("IVF and IVF-PQ stores: per-vector rows erase, quantizer geometry stays, probe sees only retained vectors") {
    val rnd = new scala.util.Random(59)
    val vecs = (0 until 40).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
    val cents = Similarity.pickCentroids(vecs.toDF("vec_id", "embedding"),
      "vec_id", "embedding", 4)
    val root = tmp("ivf")
    Similarity.ivfIndexWrite(
      Similarity.ivfIndex(vecs.toDF("vec_id", "embedding"), cents,
        "vec_id", "embedding"), root)
    erase(root, Seq(1L, 5L, 9L).toDF("vec_id"))
    assertNoVictimOnDisk(s"$root/assignments", Seq("vec_id"),
      Set(1L, 5L, 9L))
    val after = Similarity.ivfIndexRead(spark, root)
    assert(after.assignments.select("vec_id").as[Long].collect().toSet ===
      vecs.map(_._1).toSet -- Set(1L, 5L, 9L))
    // centroids untouched — the frozen-geometry contract
    assert(after.centroids.count() === cents.count())
    // PQ twin
    val proot = tmp("ivfpq")
    Similarity.ivfPqIndexWrite(
      Similarity.ivfPqIndex(vecs.toDF("vec_id", "embedding"), cents,
        "vec_id", "embedding", m = 4, k = 8), proot)
    erase(proot, Seq(2L, 6L).toDF("vec_id"))
    assertNoVictimOnDisk(s"$proot/codes", Seq("vec_id"), Set(2L, 6L))
    assert(spark.read.parquet(s"$proot/codebooks").count() > 0)
  }

  test("gram_freq: erase subtracts the victims' exact partial; store ≡ rebuild over retained; never-ingested victims refuse") {
    val root = tmp("gram")
    Dedup.gramFreq(3).write(Dedup.gramFreqIndex(docsDF.filter(col("doc_id") <= 4), "doc_id",
        "text", n = 3), root)
    Dedup.gramFreq(3).append(spark, root,
      Dedup.gramFreqIndex(docsDF.filter(col("doc_id") > 4), "doc_id",
        "text", n = 3), "day-2")
    eraseWith(root, Dedup.gramFreq(3).meta)(
      Dedup.gramFreqIndex(victimDocs, "doc_id", "text", n = 3))
    val got = Dedup.gramFreq(3).read(spark, root)
      .as[(String, Long)].collect().toSet
    val rebuilt = Dedup.gramFreqIndex(retained, "doc_id", "text", n = 3)
      .as[(String, Long)].collect().toSet
    assert(got === rebuilt)
    assert(got.nonEmpty, "degenerate erasure test")
    // grams unique to the victims leave the DISK, not just the fold
    val victimOnly = Dedup.gramFreqIndex(victimDocs, "doc_id", "text", n = 3)
      .select("gram_fp").as[String].collect().toSet --
      rebuilt.map(_._1)
    assert(victimOnly.nonEmpty, "test victims share every gram")
    val onDisk = spark.read
      .parquet(parquetFiles(new java.io.File(root)): _*)
      .select("gram_fp").as[String].collect().toSet
    assert(victimOnly.forall(g => !onDisk(g)),
      "victim-only grams survive on disk")
    // subtracting a never-ingested "victim" refuses loudly
    val e = intercept[Exception] {
      eraseWith(root, Dedup.gramFreq(3).meta)(Dedup.gramFreqIndex(
        Seq((99L, "totally novel text nobody ingested"))
          .toDF("doc_id", "text"), "doc_id", "text", n = 3))
    }
    assert(e.getMessage.contains("never ingested"), e.getMessage)
  }

  test("boilerplate counts: erase subtracts; store ≡ rebuild over retained") {
    val root = tmp("boiler")
    Dedup.boilerplateCounts("\n").write(Dedup.boilerplateIndex(docsDF, "doc_id",
      "text", "\n"), root)
    eraseWith(root, Dedup.boilerplateCounts("\n", 1).meta)(
      Dedup.boilerplateIndex(victimDocs, "doc_id", "text", "\n"))
    val got = Dedup.boilerplateCounts("\n").read(spark, root)
      .as[(String, Long)].collect().toSet
    val rebuilt = Dedup.boilerplateIndex(retained, "doc_id", "text", "\n")
      .as[(String, Long)].collect().toSet
    assert(got === rebuilt)
    assert(got.nonEmpty, "degenerate erasure test")
    // subtracting lines this store never counted refuses loudly
    val e = intercept[Exception] {
      eraseWith(root, Dedup.boilerplateCounts("\n", 1).meta)(
        Dedup.boilerplateIndex(Seq((99L, "a line nobody ingested"))
          .toDF("doc_id", "text"), "doc_id", "text", "\n"))
    }
    assert(e.getMessage.contains("never ingested"), e.getMessage)
  }

  test("line first-occurrence: erase is a REBUILD — a line first held by a victim survives under its retained holder") {
    val root = tmp("lineocc")
    Dedup.lineFirstOcc("\n").write(Dedup.lineFirstOccIndex(docsDF, "doc_id", "text", "\n"), root)
    // "shared line two" first occurs in doc 2 (a victim) and also in
    // docs 3 and 6 (retained): a row FILTER would lose it entirely;
    // the rebuild re-points it at doc 3
    val rebuilt = Dedup.lineFirstOccIndex(retained, "doc_id", "text", "\n")
    eraseWith(root, Dedup.lineFirstOcc("\n", 1).meta)(rebuilt)
    val got = Dedup.lineFirstOcc("\n").read(spark, root)
      .as[(String, Long, Int)].collect().toSet
    assert(got === rebuilt.as[(String, Long, Int)].collect().toSet)
    assert(got.exists(_._2 === 3L),
      "the victim's shared line did not re-point to its retained holder")
    assertNoVictimOnDisk(root, Seq("wid"), victimIds)
  }

  test("bm25 index: postings filter, statistics subtract exactly — probe ≡ full scoring over the retained corpus; never-ingested refuses") {
    val root = tmp("bm25")
    Relevance.bm25IndexWrite(docsDF.filter(col("doc_id") <= 4), root,
      "doc_id", "text")
    Relevance.bm25IndexAppend(spark, root,
      docsDF.filter(col("doc_id") > 4), "doc_id", "text", "day-2")
    eraseWith(root, Relevance.bm25("doc_id", "text").meta)(
      Relevance.bm25DocStats(victimDocs, "doc_id", "text"))
    val terms = Seq("alpha", "shared", "lambda")
    val got = Relevance.bm25IndexProbe(spark, root, "doc_id", "text",
      terms, k = 10).as[(Long, Int, Double)].collect().toSeq
    val full = Relevance.bm25TopDocs(retained, "doc_id", "text",
      terms, k = 10).as[(Long, Int, Double)].collect().toSeq
    assert(got === full, s"got $got vs full $full")
    assert(got.nonEmpty, "degenerate erasure test")
    assertNoVictimOnDisk(s"$root/postings", Seq("doc_id"), victimIds)
    val e = intercept[Exception] {
      eraseWith(root, Relevance.bm25("doc_id", "text").meta)(
        Relevance.bm25DocStats(Seq((99L, "totally novel text"))
          .toDF("doc_id", "text"), "doc_id", "text"))
    }
    assert(e.getMessage.contains("never ingested"), e.getMessage)
  }

  test("sketch stores (HLL/KMV/CMS/sample): erase is a REBUILD; post-erase read ≡ sketch over the retained corpus, stale partials leave the disk") {
    val rows = docs.flatMap { case (id, text) =>
      text.split("[\\s\\n]+").map(t => (id, t)) }
    val retainedRows = rows.filterNot(r => victimIds(r._1))
    def grp(df: DataFrame) = df.toDF("doc_id", "token")
    // HLL — registers are max-folds: subtraction impossible, rebuild only
    val hroot = tmp("hll")
    Cardinality.hll(6, "token").write(Cardinality.hllSketch(grp(rows.toDF("doc_id", "token")),
        lit("all"), col("token"), p = 6), hroot)
    val hRebuilt = Cardinality.hllSketch(
      grp(retainedRows.toDF("doc_id", "token")), lit("all"), col("token"),
      p = 6)
    eraseWith(hroot, Cardinality.hll(6, "token").meta)(hRebuilt)
    val hGot = Cardinality.hll(6, "token").read(spark, hroot).select("regs").as[Seq[Int]].collect()
    val hExpect = hRebuilt.select("regs").as[Seq[Int]].collect()
    assert(hGot.toSeq === hExpect.toSeq)
    // disk: the ONLY parquet content is the rebuilt partial (no stale
    // epoch/base copy of the pre-erase registers anywhere)
    assert(spark.read
      .parquet(parquetFiles(new java.io.File(hroot)): _*)
      .select("regs").as[Seq[Int]].collect().toSeq === hExpect.toSeq)
    // KMV
    val kroot = tmp("kmv")
    Cardinality.kmv(16, "token").write(Cardinality.kmvSketch(rows.toDF("doc_id", "token"),
        lit("all"), col("token"), k = 16), kroot)
    val kRebuilt = Cardinality.kmvSketch(retainedRows.toDF("doc_id", "token"),
      lit("all"), col("token"), k = 16)
    eraseWith(kroot, Cardinality.kmv(16, "token").meta)(kRebuilt)
    assert(Cardinality.kmv(16, "token").read(spark,
      kroot).select("sketch").as[Seq[Long]].collect().toSeq ===
      kRebuilt.select("sketch").as[Seq[Long]].collect().toSeq)
    // CMS
    val croot = tmp("cms")
    HeavyHitters.cms(3, 32,
      "token").write(HeavyHitters.countMinSketch(rows.toDF("doc_id", "token"), "token",
        depth = 3, width = 32), croot)
    val cRebuilt = HeavyHitters.countMinSketch(
      retainedRows.toDF("doc_id", "token"), "token", depth = 3, width = 32)
    eraseWith(croot, HeavyHitters.cms(3, 32, "token").meta)(cRebuilt)
    assert(HeavyHitters.cms(3, 32, "token").read(spark, croot).as[(Int, Long,
      Long)].collect().toSet ===
      cRebuilt.as[(Int, Long, Long)].collect().toSet)
    // sample sketch
    val sroot = tmp("ss")
    val vals = docs.map { case (id, text) => (id, text.length.toDouble) }
    val sRows = vals.toDF("doc_id", "len")
    SampleSketch.profile(4, "doc_id", "len").write(SampleSketch.sampleSketch(sRows,
      lit("all"), col("doc_id"),
        col("len"), k = 4), sroot)
    val sRebuilt = SampleSketch.sampleSketch(
      vals.filterNot(v => victimIds(v._1)).toDF("doc_id", "len"),
      lit("all"), col("doc_id"), col("len"), k = 4)
    eraseWith(sroot, SampleSketch.profile(4, "doc_id", "len").meta)(sRebuilt)
    val sGot = SampleSketch.profile(4, "doc_id", "len").read(spark, sroot)
    assert(sGot.count() === sRebuilt.count())
    // the k-sample store itself carries ids: no victim survives it
    assertNoVictimOnDisk(sroot, Nil, victimIds) // structural walk only
  }

  test("lm_bigram and dsir_buckets: erase subtracts the victims' exact count partial; scores ≡ never-trained") {
    // LM: train over all docs (two epochs), erase the victims, and the
    // perplexity of a probe batch must equal scoring under a model
    // trained only on the retained reference
    val root = tmp("lm")
    LmFilter.lm(4096, 32768).write(LmFilter.lmIndex(docsDF.filter(col("doc_id") <= 4), "doc_id",
        "text"), root)
    LmFilter.lm(4096, 32768).append(spark, root,
      LmFilter.lmIndex(docsDF.filter(col("doc_id") > 4), "doc_id",
        "text"), "day-2")
    eraseWith(root, LmFilter.lm(4096, 32768).meta)(
      LmFilter.lmIndex(victimDocs, "doc_id", "text"))
    val probe = Seq((50L, "alpha beta gamma shared line one")).toDF(
      "doc_id", "text")
    val got = LmFilter.lmPerplexity(probe, "doc_id", "text",
      LmFilter.lm(4096, 32768).read(spark, root))
      .select("ppl").as[Double].collect().toSeq
    val fresh = LmFilter.lmPerplexity(probe, "doc_id", "text",
      LmFilter.lmIndex(retained, "doc_id", "text"))
      .select("ppl").as[Double].collect().toSeq
    assert(got === fresh)
    // DSIR: same contract on (cr, ct) bucket counts
    val droot = tmp("dsir")
    val tgt = col("doc_id") % 2 === 1
    Splits.dsir(1024).write(Splits.dsirIndex(docsDF, "doc_id", "text", tgt), droot)
    eraseWith(droot, Splits.dsir(1024).meta)(
      Splits.dsirIndex(victimDocs, "doc_id", "text", tgt))
    assert(Splits.dsir(1024).read(spark, droot)
      .as[(Long, Long, Long)].collect().toSet ===
      Splits.dsirIndex(retained, "doc_id", "text", tgt)
        .as[(Long, Long, Long)].collect().toSet)
    // a never-ingested victim refuses in both families
    val phantom = Seq((99L, "totally novel text nobody ingested"))
      .toDF("doc_id", "text")
    val e = intercept[Exception] {
      eraseWith(root, LmFilter.lm(4096, 32768).meta)(
        LmFilter.lmIndex(phantom, "doc_id", "text"))
    }
    assert(e.getMessage.contains("never trained"), e.getMessage)
    val e2 = intercept[Exception] {
      eraseWith(droot, Splits.dsir(1024).meta)(
        Splits.dsirIndex(phantom, "doc_id", "text", tgt))
    }
    assert(e2.getMessage.contains("never ingested"), e2.getMessage)
  }

  test("interval islands: erase is a REBUILD — an island a victim's interval widened re-splits") {
    val root = tmp("islands")
    // key 1: victim interval [5,10] BRIDGES [1,6] and [9,14] — after
    // its owner is erased the island must split back in two, which a
    // row filter over merged islands can never produce
    val all = Seq((1L, 10L, 1L, 6L), (2L, 10L, 5L, 10L),
      (3L, 10L, 9L, 14L), (4L, 20L, 0L, 3L))
      .toDF("owner", "k", "s", "e")
    IntervalExpand.islands("k").write(IntervalExpand.mergeIntervals(all.select("k",
      "s", "e"), "k", col("s"), col("e")), root)
    val kept = all.filter(col("owner") =!= 2L)
    eraseWith(root, IntervalExpand.islands("k").meta)(
      IntervalExpand.mergeIntervals(kept, "k", col("s"), col("e")))
    val got = IntervalExpand.islands("k").read(spark, root)
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set((10L, 1L, 6L), (10L, 9L, 14L), (20L, 0L, 3L)),
      s"islands did not re-split: $got")
  }

  test("graph census: victim nodes' edges leave the disk, triangle counts rebuild from the retained graph") {
    val root = tmp("census")
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L),
      (3L, 5L)).toDF("src", "dst")
    Centrality.triangleCensusWrite(
      edges.filter(col("src") <= 2), root)
    Centrality.triangleCensusAppend(spark, root,
      edges.filter(col("src") > 2), "day-2")
    // node 1 is in triangle (1,2,3); erasing it must drop that
    // triangle but keep (3,4,5)
    erase(root, Seq(1L).toDF("node"))
    val census = Centrality.triangleCensusRead(spark, root)
      .as[(Long, Long)].head()
    assert(census === ((4L, 1L)), s"census after erase: $census")
    assertNoVictimOnDisk(s"$root/edges", Seq("a", "b"), Set(1L))
  }

  test("property: band-store erase ≡ from-scratch index over the retained corpus, for random corpora and victim sets") {
    // the q238 contract as an algebra, not one example: for randomized
    // doc sets and victim subsets, erase(write(all), victims) must read
    // bit-equal to write(all minus victims) — including the empty-
    // victims identity and the all-victims teardown
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa")
    val gen = for {
      n <- Gen.choose(1, 14)
      texts <- Gen.listOfN(n, Gen.listOfN(6, Gen.oneOf(words)))
      vs <- Gen.listOfN(n, Gen.oneOf(true, false))
    } yield texts.zipWithIndex.map { case (t, i) =>
      (i.toLong, t.mkString(" ")) } -> vs.zipWithIndex.collect {
        case (true, i) => i.toLong }
    (1 to 6).foreach { i =>
      val (corpus, vict) =
        gen.pureApply(Gen.Parameters.default, Seed(7L + i))
      val root = tmp(s"prop$i")
      Dedup.bandIndexWrite(corpus.toDF("doc_id", "text"),
        "doc_id", "text", root, Dedup.SimHash())
      erase(root, (vict :+ -1L).toDF("doc_id")) // -1: erasing absent ids is a no-op
      val kept = corpus.filterNot(d => vict.contains(d._1))
      if (kept.isEmpty)
        assert(!EpochIndex.nonEmpty(spark, root, innerPartCols = Seq("bb")),
          s"seed ${7 + i}: all-victims erase did not tear down")
      else {
        val got = Dedup.bandIndexRead(spark, root, Dedup.SimHash())
          .select("band", "bh", "id", "sig")
          .as[(Int, Long, Long, Long)].collect().toSet
        val fresh = Dedup.bandIndex(kept.toDF("doc_id", "text"),
          "doc_id", "text", Dedup.SimHash())
          .select("band", "bh", "id", "sig")
          .as[(Int, Long, Long, Long)].collect().toSet
        assert(got === fresh, s"seed ${7 + i}: erase ≠ rebuild")
      }
    }
  }

  test("property: count-store erase ≡ rebuild over the retained corpus, for random corpora and victim sets") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val words = Vector("aa", "bb", "cc", "dd", "ee", "ff")
    val gen = for {
      n <- Gen.choose(1, 12)
      texts <- Gen.listOfN(n, Gen.listOfN(8, Gen.oneOf(words)))
      vs <- Gen.listOfN(n, Gen.oneOf(true, false))
    } yield texts.zipWithIndex.map { case (t, i) =>
      (i.toLong, t.mkString(" ")) } -> vs.zipWithIndex.collect {
        case (true, i) => i.toLong }
    (1 to 6).foreach { i =>
      val (corpus, vict) =
        gen.pureApply(Gen.Parameters.default, Seed(19L + i))
      val root = tmp(s"propg$i")
      val all = corpus.toDF("doc_id", "text")
      Dedup.gramFreq(3).write(Dedup.gramFreqIndex(all, "doc_id", "text", n = 3), root)
      val victimDocs = corpus.filter(d => vict.contains(d._1))
        .toDF("doc_id", "text")
      val kept = corpus.filterNot(d => vict.contains(d._1))
      Maintenance.eraseStore(spark, root,
        Maintenance.EraseRequest(victimDocs.select("doc_id"))
          .withInput(root, Dedup.gramFreq(3).meta)(
            Dedup.gramFreqIndex(victimDocs, "doc_id", "text", n = 3)))
      if (kept.isEmpty)
        assert(!EpochIndex.nonEmpty(spark, root),
          s"seed ${19 + i}: all-victims erase did not tear down")
      else
        assert(Dedup.gramFreq(3).read(spark, root)
          .as[(String, Long)].collect().toSet ===
          Dedup.gramFreqIndex(kept.toDF("doc_id", "text"), "doc_id",
            "text", n = 3).as[(String, Long)].collect().toSet,
          s"seed ${19 + i}: subtraction ≠ rebuild")
    }
  }

  test("contamination indexes: erasure is the wholesale rebuild over the retained benchmark") {
    val groot = tmp("contgram")
    Contamination.benchmarkGramIndexWrite(
      Contamination.benchmarkGramIndex(docsDF, "text", n = 3), groot)
    // no manifest, no store family: erasure is the writer over the
    // retained benchmark
    Contamination.benchmarkGramIndexWrite(
      Contamination.benchmarkGramIndex(retained, "text", n = 3), groot)
    assert(spark.read.parquet(groot)
      .as[String].collect().toSet ===
      Contamination.benchmarkGramIndex(retained, "text", n = 3)
        .as[String].collect().toSet)
    val vroot = tmp("contvec")
    val vecs = docs.map { case (id, _) =>
      (id, Array.fill(4)(id.toFloat)) }.toDF("doc_id", "embedding")
    Contamination.benchmarkVecIndexWrite(vecs, "doc_id", "embedding", vroot)
    Contamination.benchmarkVecIndexWrite(
      vecs.filter(!col("doc_id").isin(victimIds.toSeq.map(Long.box): _*)),
      "doc_id", "embedding", vroot)
    assertNoVictimOnDisk(vroot, Seq("bench_id"), victimIds)
  }

  // ---- round 17: the last three families gain their erasure arm ----

  private def domainOf = concat(lit("d"),
    pmod(col("doc_id"), lit(3)).cast("string"))

  test("domain_cap_counts: erase subtracts the victims' exact partial; store ≡ rebuild over retained; keys unique to victims leave the disk; never-ingested refuses") {
    val root = tmp("capcounts")
    // doc_id % 4 keying over docs {1..6} with victims {2, 4}: key
    // k0 = {4} is victim-ONLY (must leave the disk), k2 = {2, 6}
    // keeps a survivor (must subtract to 1); two epochs so the erase
    // folds across base + partials
    val capKey = concat(lit("k"), pmod(col("doc_id"), lit(4)).cast("string"))
    def partial(f: DataFrame) =
      Curation.capCountIndex(f, capKey, col("doc_id"))
    Curation.capCounts("mod4").write(partial(docsDF.filter(col("doc_id") <= 3)), root)
    Curation.capCounts("mod4").append(spark, root,
      partial(docsDF.filter(col("doc_id") > 3)), "day-2")
    val stats = eraseWith(root, Curation.capCounts("mod4").meta)(
      partial(victimDocs))
    val got = Curation.capCounts("mod4").read(spark, root)
      .as[(String, Long)].collect().toSet
    val rebuilt = partial(retained).as[(String, Long)].collect().toSet
    assert(got === rebuilt)
    assert(got.nonEmpty, "degenerate erasure test")
    // the erasure is on the audit surface, version-consistent
    assert(EpochIndex.erasures(spark, root) === Seq(stats.version))
    // the victim-only key left the disk outright
    val victimOnlyKeys = partial(victimDocs).select("key")
      .as[String].collect().toSet -- rebuilt.map(_._1)
    assert(victimOnlyKeys === Set("k0"), "test geometry drifted")
    val onDisk = spark.read
      .parquet(parquetFiles(new java.io.File(root)): _*)
      .select("key").as[String].collect().toSet
    assert(victimOnlyKeys.forall(k => !onDisk(k)),
      "victim-only keys survive on disk")
    // subtracting a never-counted "victim" refuses loudly
    val e = intercept[Exception] {
      eraseWith(root, Curation.capCounts("mod4").meta)(Curation.capCountIndex(
        Seq((99L, "x"), (100L, "x"), (101L, "x")).toDF("doc_id", "text"),
        lit("k99"), col("doc_id")))
    }
    assert(e.getMessage.contains("never ingested"), e.getMessage)
  }

  test("table_digest: erase is exact modular subtraction; ledger ≡ digest over retained; emptied groups leave the disk; bad payloads refuse") {
    val root = tmp("digest")
    val cols = Seq("doc_id", "text")
    def part(f: DataFrame) = Audit.digestPartial(f, cols, domainOf)
    Audit.digestLedger(cols, "mod3").write(part(docsDF.filter(col("doc_id") <= 3)), root)
    Audit.digestLedger(cols, "mod3").append(spark, root,
      part(docsDF.filter(col("doc_id") > 3)), "day-2")
    val stats = eraseWith(root, Audit.digestLedger(cols, "mod3").meta)(
      part(victimDocs))
    val got = Audit.digestLedger(cols, "mod3").read(spark, root)
      .as[(String, Long, Long)].collect().toSet
    val rebuilt = part(retained).as[(String, Long, Long)].collect().toSet
    assert(got === rebuilt, "subtracted ledger ≠ digest of retained rows")
    assert(got.nonEmpty, "degenerate erasure test")
    assert(EpochIndex.erasures(spark, root) === Seq(stats.version))
    // a group whose every row is erased leaves the disk: erase the
    // remaining holders of one group and walk the files
    val g = retained.withColumn("_g", domainOf)
      .select("_g").as[String].head()
    val rest = retained.withColumn("_g", domainOf).filter(col("_g") === g)
      .drop("_g")
    eraseWith(root, Audit.digestLedger(cols, "mod3").meta)(part(rest))
    val onDisk = spark.read
      .parquet(parquetFiles(new java.io.File(root)): _*)
      .select("group").as[String].collect().toSet
    assert(!onDisk(g), s"emptied group $g survives on disk")
    // a never-digested "victim" row refuses (negative count) — pinned
    // on a store where the victims' whole GROUP is absent, so the
    // negative-count check is the one that must fire (a wrong payload
    // in a SURVIVING group is the documented undetectable case)
    val root3 = tmp("digest3")
    Audit.digestLedger(cols, "mod3").write(part(docsDF.filter(pmod(col("doc_id"),
      lit(3)) =!= 2)), root3)
    val e1 = intercept[Exception] {
      eraseWith(root3, Audit.digestLedger(cols, "mod3").meta)(part(
        Seq((5L, "never here"), (8L, "nor this"), (11L, "nope"))
          .toDF("doc_id", "text")))
    }
    assert(e1.getMessage.contains("never digested"), e1.getMessage)
    // right ids, WRONG bytes: the emptying-group residual-digest
    // check refuses instead of leaving an unverifiable ledger
    val root2 = tmp("digest2")
    Audit.digestLedger(cols, "mod3").write(part(docsDF), root2)
    val e2 = intercept[Exception] {
      eraseWith(root2, Audit.digestLedger(cols, "mod3").meta)(
        part(docsDF.withColumn("text", upper(col("text")))))
    }
    assert(e2.getMessage.contains("residual digest"), e2.getMessage)
  }

  test("quality_cuts: erasure is a RE-FREEZE over the retained slice — thresholds recompute, the victim-fitted version is GC'd, the erasure is logged") {
    val root = tmp("qcuts")
    val scores = docsDF.select(col("doc_id"),
      lit("web").as("source"), (col("doc_id") * 10.0).as("ppl"))
    val v1 = Quality.qualityCutsWrite(spark, root,
      Quality.qualityCuts(scores, "ppl", Seq("source")), "ppl",
      Seq("source"))
    val retainedScores = scores
      .filter(!col("doc_id").isin(victimIds.toSeq.map(Long.box): _*))
    val v2 = eraseWith(root, Quality.cutsMeta("ppl", Seq("source")))(
      Quality.qualityCuts(retainedScores, "ppl", Seq("source"))).version
    assert(v2 !== v1)
    // the live calibration equals a fresh fit on the retained slice
    val got = Quality.qualityCutsRead(spark, root, "ppl", Seq("source"))
      .as[(String, Double, Double)].collect().toSet
    val want = Quality.qualityCuts(retainedScores, "ppl", Seq("source"))
      .as[(String, Double, Double)].collect().toSet
    assert(got === want)
    assert(got !== Quality.qualityCuts(scores, "ppl", Seq("source"))
      .as[(String, Double, Double)].collect().toSet,
      "victims didn't move the thresholds — degenerate test")
    // keepVersions = 1 forced: the victim-fitted version is GONE
    val (versions, current) = Layout.listVersions(spark, s"$root/cuts")
    assert(versions === Seq(v2) && current === Some(v2),
      s"victim-fitted calibration still retained: $versions")
    // on the audit surface like every other family's rewrite
    assert(EpochIndex.erasures(spark, root) === Seq(v2))
    // a re-freeze under a different contract is refused, not absorbed
    val e = intercept[Exception] {
      eraseWith(root, Quality.cutsMeta("ppl", Seq("source"),
        cuts = Seq(0.25, 0.5, 0.75)))(Quality.qualityCuts(retainedScores,
        "ppl", Seq("source"), Seq(0.25, 0.5, 0.75)))
    }
    assert(e.getMessage.contains("do not match"), e.getMessage)
    assert(Layout.listVersions(spark, s"$root/cuts")._2 === Some(v2))
  }

  test("erasureAudit: the RTBF verification sweep finds survivors only where an eraser was skipped, then certifies completeness") {
    // one store tree, three stores: a band index (per-doc id rows), a
    // cert ledger (id_a/id_b rows), and a gram count store (no id
    // columns at all — must be SKIPPED, not false-positived)
    val tree = java.nio.file.Files
      .createTempDirectory("graft-erase-audit").toString
    val band = s"$tree/band"
    val ledger = s"$tree/ledger"
    val grams = s"$tree/grams"
    Dedup.bandIndexWrite(docsDF, "doc_id", "text", band, Dedup.SimHash())
    Dedup.certLedger("jaccard", 0.3).write(Dedup.exactJoin(docsDF, "doc_id", "text",
      Dedup.Jaccard(0.3, shingleK = 1)), ledger)
    Dedup.gramFreq(3).write(Dedup.gramFreqIndex(docsDF, "doc_id", "text", n = 3), grams)
    // victims must actually appear in the ledger or the test is vacuous
    assert(Dedup.certLedger("jaccard", 0.3).read(spark, ledger)
      .filter(col("id_a").isin(victimIds.toSeq.map(Long.box): _*) ||
        col("id_b").isin(victimIds.toSeq.map(Long.box): _*))
      .count() > 0)
    // erase the band store ONLY — the sweep must localize the misses
    erase(band, victims)
    val report = Maintenance.erasureAudit(spark, tree, victimIds.toSeq)
    val hits = report.hits
    // discovered roots come back as filesystem URIs — compare by suffix
    assert(hits.nonEmpty && hits.forall(_.root.endsWith("/ledger")),
      s"sweep mislocalized: $hits")
    assert(hits.map(_.column).toSet === Set("id_a", "id_b"), s"$hits")
    // every id column in this tree is integral — nothing unverifiable
    assert(report.unverified.isEmpty, s"${report.unverified}")
    assert(report.filesTotal > 0 &&
      report.filesScanned <= report.filesTotal, s"$report")
    val e = intercept[IllegalArgumentException] {
      Maintenance.requireErased(spark, tree, victimIds.toSeq)
    }
    assert(e.getMessage.contains("INCOMPLETE") &&
      e.getMessage.contains("id_"), e.getMessage)
    // the gram store never surfaces: no id-bearing column
    assert(!hits.exists(_.root.endsWith("/grams")))
    // finish the request: erase the ledger too, audit certifies
    erase(ledger, victims)
    val clean = Maintenance.erasureAudit(spark, tree, victimIds.toSeq)
    assert(clean.hits.isEmpty)
    // footer-stats pruning never changes the verdict, only the bytes
    // (the strictly-fewer-files case is MaintenanceSpec's, where the
    // victim/file ranges are controlled)
    val unpruned = Maintenance.erasureAudit(spark, tree, victimIds.toSeq,
      footerPrune = false)
    assert(clean.hits === unpruned.hits)
    assert(clean.filesTotal === unpruned.filesTotal)
    assert(clean.filesScanned <= unpruned.filesScanned, s"$clean")
    Maintenance.requireErased(spark, tree, victimIds.toSeq)
  }

  test("eraseAll refuses before any rewrite when a discovered store lacks its input, then erases the whole tree") {
    val tree = java.nio.file.Files
      .createTempDirectory("graft-erase-all").toString
    val band = s"$tree/band"
    val kmv = s"$tree/kmv"
    val lsh = Dedup.MinHash(numHashes = 8, bands = 4, shingleK = 1)
    Dedup.bandIndexWrite(docsDF, "doc_id", "text", band, lsh)
    def sketch(df: DataFrame) =
      Cardinality.kmvSketch(df, lit("all"), col("doc_id"), k = 16)
    Cardinality.kmv(16, "doc_id").write(sketch(docsDF), kmv)
    def snapshot(): Map[String, Long] =
      parquetFiles(new java.io.File(tree))
        .map(f => f -> new java.io.File(f).lastModified()).toMap
    val before = snapshot()
    val e = intercept[IllegalArgumentException] {
      Maintenance.eraseAll(spark, tree, Maintenance.EraseRequest(victims))
    }
    assert(e.getMessage.contains("/kmv") &&
      e.getMessage.contains("kmv_bottom_k") &&
      e.getMessage.contains("Rebuild"), e.getMessage)
    assert(!e.getMessage.contains("/band"), e.getMessage)
    // an input built under other parameters refuses the same way
    val e2 = intercept[IllegalArgumentException] {
      Maintenance.eraseAll(spark, tree, Maintenance.EraseRequest(victims)
        .withInput(kmv, Cardinality.kmv(32, "doc_id").meta)(sketch(retained)))
    }
    assert(e2.getMessage.contains("do not match"), e2.getMessage)
    assert(snapshot() === before, "a refused eraseAll rewrote files")
    // with the rebuild supplied, one call erases both stores and
    // certifies the tree
    val report = Maintenance.eraseAll(spark, tree,
      Maintenance.EraseRequest(victims)
        .withInput(kmv, Cardinality.kmv(16, "doc_id").meta)(sketch(retained)))
    assert(report.clean && report.filesTotal > 0, s"$report")
    assert(Cardinality.kmv(16, "doc_id").read(spark, kmv)
      .select("sketch").as[Seq[Long]].collect().toSeq ===
      sketch(retained).select("sketch").as[Seq[Long]].collect().toSeq)
    assertNoVictimOnDisk(band, Seq("id"), victimIds)
  }

  test("eraseRewrite returns the version its _ERASURES line cites (stats/audit cross-reference)") {
    val root = tmp("vagree")
    Dedup.gramFreq(3).write(Dedup.gramFreqIndex(docsDF, "doc_id", "text", n = 3), root)
    val stats = eraseWith(root, Dedup.gramFreq(3).meta)(
      Dedup.gramFreqIndex(victimDocs, "doc_id", "text", n = 3))
    assert(EpochIndex.erasures(spark, root).lastOption ===
      Some(stats.version),
      "CompactionStats.version and the logged last_erasure diverge")
    // and the returned version is the base the store actually sits on
    val (_, current) = EpochIndex.versions(spark, root)
    assert(current === Some(stats.version))
    // the log line carries a wall-clock stamp (what lets a card
    // citing SEVERAL stores order entries chronologically), and a
    // legacy stampless line still parses — as epoch 0, ordered
    // before anything datable
    val logged = EpochIndex.erasureLog(spark, root)
    assert(logged.map(_._2) === Seq(stats.version))
    assert(logged.head._1 > 0L, s"unstamped erasure line: $logged")
    val raw = new java.io.File(root, "_ERASURES")
    val pw = new java.io.PrintWriter(raw)
    try pw.write("v=legacy\n" + logged.map { case (t, v) => s"$t\t$v" }
      .mkString("\n"))
    finally pw.close()
    // hand-editing behind Hadoop's local FS leaves a stale checksum
    new java.io.File(root, "._ERASURES.crc").delete()
    assert(EpochIndex.erasureLog(spark, root) ===
      Seq((0L, "v=legacy"), logged.head))
    assert(EpochIndex.erasures(spark, root) ===
      Seq("v=legacy", stats.version))
  }
}
