package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The [[StoreFamily]] registry, driven family by family: each case
  * writes a store through the family's public writer, appends one
  * epoch, compacts it through [[Maintenance.compactStore]] and
  * describes it through [[Maintenance.describeStores]]. Per family it
  * pins three things: compaction preserves the family's checked read;
  * the declared substores are exactly the epoch directories the writer
  * created (a declared substore no writer creates, or an undeclared one
  * a writer does create, fails); and the family the writer records is
  * registered. A coverage test fails when a registry entry has no case
  * here, and a source scan fails when main code records a family name
  * literal the registry does not accept. */
class StoreFamilySpec extends SparkSpecBase {
  import spark.implicits._

  private def tmp(name: String): String = java.nio.file.Files
    .createTempDirectory("graft-registry").toString + "/" + name

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  /** One registry case: the family name its writer records, the
    * write + one append, and the family's checked read. */
  private case class Case(family: String, build: String => Unit,
                          read: String => Set[String])

  private val docsA = Seq(
    (1L, "alpha beta gamma delta\nshared line one\nend"),
    (2L, "alpha beta gamma epsilon\nshared line one\nshared line two"),
    (3L, "iota kappa lambda mu\nshared line two")).toDF("doc_id", "text")
  private val docsB = Seq(
    (10L, "alpha beta gamma delta\nshared line two\nnew line"),
    (11L, "nu xi omicron pi rho\nshared line one")).toDF("doc_id", "text")
  private val smallMinHash = Dedup.MinHash(numHashes = 8, bands = 4,
    shingleK = 1)
  private def tokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), "[\\s\\n]+"))
      .as("token"))
  private def vecs(from: Long, n: Int, seed: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => (from + i, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
  }
  private val corpusVecs = vecs(0L, 30, 7)
  private val batchVecs = vecs(100L, 10, 8)
  private val probeVecs = corpusVecs.limit(5)
    .select((col("vec_id") + 1000L).as("vec_id"), col("embedding"))

  private val cases: Seq[Case] = Seq(
    Case("line_first_occ",
      root => {
        Dedup.lineFirstOccIndexWrite(
          Dedup.lineFirstOccIndex(docsA, "doc_id", "text", "\n"), root, "\n")
        Dedup.lineFirstOccIndexAppend(spark, root,
          Dedup.lineFirstOccIndex(docsB, "doc_id", "text", "\n"), "day-2", "\n")
      },
      root => rows(Dedup.lineFirstOccIndexRead(spark, root, None, "\n", 1))),
    Case("boilerplate_counts",
      root => {
        Dedup.boilerplateIndexWrite(
          Dedup.boilerplateIndex(docsA, "doc_id", "text", "\n"), root, "\n")
        Dedup.boilerplateIndexAppend(spark, root,
          Dedup.boilerplateIndex(docsB, "doc_id", "text", "\n"), "day-2", "\n")
      },
      root => rows(Dedup.boilerplateIndexRead(spark, root, None, "\n", 1))),
    Case("domain_cap_counts",
      root => {
        def part(docs: DataFrame) = Curation.capCountIndex(
          docs, substring(col("text"), 1, 5), col("doc_id"))
        Curation.capCountIndexWrite(part(docsA), root, "prefix5")
        Curation.capCountIndexAppend(spark, root, part(docsB), "day-2", "prefix5")
      },
      root => rows(Curation.capCountIndexRead(spark, root, "prefix5"))),
    Case("sample_sketch",
      root => {
        def part(docs: DataFrame) = SampleSketch.sampleSketch(docs,
          lit("all"), col("doc_id"), length(col("text")).cast("double"), 4)
        SampleSketch.sampleSketchIndexWrite(part(docsA), root, 4, "doc_id", "len")
        SampleSketch.sampleSketchIndexAppend(spark, root, part(docsB), "day-2",
          4, "doc_id", "len")
      },
      root => rows(SampleSketch.sampleSketchIndexRead(spark, root, 4,
        "doc_id", "len"))),
    Case("hll_registers",
      root => {
        def part(docs: DataFrame) =
          Cardinality.hllSketch(tokens(docs), lit("all"), col("token"), p = 6)
        Cardinality.hllIndexWrite(part(docsA), root, 6, "token")
        Cardinality.hllIndexAppend(spark, root, part(docsB), "day-2", 6, "token")
      },
      root => rows(Cardinality.hllIndexRead(spark, root, 6, "token"))),
    Case("kmv_bottom_k",
      root => {
        def part(docs: DataFrame) =
          Cardinality.kmvSketch(tokens(docs), lit("all"), col("token"), k = 8)
        Cardinality.kmvIndexWrite(part(docsA), root, 8, "token")
        Cardinality.kmvIndexAppend(spark, root, part(docsB), "day-2", 8, "token")
      },
      root => rows(Cardinality.kmvIndexRead(spark, root, 8, "token"))),
    Case("graph_census",
      root => {
        Centrality.triangleCensusWrite(
          Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst"), root)
        Centrality.triangleCensusAppend(spark, root,
          Seq((3L, 4L), (4L, 5L), (3L, 5L)).toDF("src", "dst"), "day-2")
      },
      root => rows(Centrality.triangleCensusRead(spark, root))),
    Case("cms_counts",
      root => {
        def part(docs: DataFrame) =
          HeavyHitters.countMinSketch(tokens(docs), "token", 3, 32)
        HeavyHitters.cmsIndexWrite(part(docsA), root, 3, 32, "token")
        HeavyHitters.cmsIndexAppend(spark, root, part(docsB), "day-2", 3, 32,
          "token")
      },
      root => rows(HeavyHitters.cmsIndexRead(spark, root, 3, 32, "token"))),
    Case("table_digest",
      root => {
        def part(docs: DataFrame) =
          Audit.digestPartial(docs, Seq("doc_id", "text"), col("doc_id") % 2)
        Audit.digestIndexWrite(part(docsA), root, Seq("doc_id", "text"), "parity")
        Audit.digestIndexAppend(spark, root, part(docsB), "day-2",
          Seq("doc_id", "text"), "parity")
      },
      root => rows(Audit.digestIndexRead(spark, root, Seq("doc_id", "text"),
        "parity"))),
    Case("interval_islands",
      root => {
        IntervalExpand.islandsIndexWrite(
          Seq((10L, 1L, 6L), (20L, 0L, 3L)).toDF("k", "s", "e"), root, "k",
          col("s"), col("e"))
        IntervalExpand.islandsIndexAppend(spark, root,
          Seq((10L, 5L, 9L), (20L, 8L, 9L)).toDF("k", "s", "e"), "k",
          col("s"), col("e"), "day-2")
      },
      root => rows(IntervalExpand.islandsIndexRead(spark, root, "k"))),
    Case("dsir_buckets",
      root => {
        val tgt = col("doc_id") % 2 === 0
        Splits.dsirIndexWrite(
          Splits.dsirIndex(docsA, "doc_id", "text", tgt, 64), root, 64)
        Splits.dsirIndexAppend(spark, root,
          Splits.dsirIndex(docsB, "doc_id", "text", tgt, 64), "day-2", 64)
      },
      root => rows(Splits.dsirIndexRead(spark, root, 64))),
    Case("gram_freq",
      root => {
        Dedup.gramFreqIndexWrite(
          Dedup.gramFreqIndex(docsA, "doc_id", "text", n = 2), root, n = 2)
        Dedup.gramFreqIndexAppend(spark, root,
          Dedup.gramFreqIndex(docsB, "doc_id", "text", n = 2), "day-2", n = 2)
      },
      root => rows(Dedup.gramFreqIndexRead(spark, root, None, n = 2))),
    Case("lm_bigram",
      root => {
        LmFilter.lmIndexWrite(LmFilter.lmIndex(docsA, "doc_id", "text"),
          root, 4096, 32768)
        LmFilter.lmIndexAppend(spark, root,
          LmFilter.lmIndex(docsB, "doc_id", "text"), "day-2", 4096, 32768)
      },
      root => rows(LmFilter.lmIndexRead(spark, root, 4096, 32768))),
    Case("bm25_postings",
      root => {
        Relevance.bm25IndexWrite(docsA, root, "doc_id", "text")
        Relevance.bm25IndexAppend(spark, root, docsB, "doc_id", "text", "day-2")
      },
      root => rows(Relevance.bm25IndexProbe(spark, root, "doc_id", "text",
        Seq("alpha", "shared", "nu"), k = 10))),
    Case("ivf",
      root => {
        val cents = Similarity.pickCentroids(corpusVecs, "vec_id", "embedding", 4)
        Similarity.ivfIndexWrite(
          Similarity.ivfIndex(corpusVecs, cents, "vec_id", "embedding"), root)
        Similarity.ivfAppendWrite(spark, root, batchVecs, "vec_id", "embedding",
          epochLabel = "day-2")
      },
      root => rows(Similarity.ivfProbeStored(spark, root, probeVecs, "vec_id",
        "embedding", k = 5, nProbe = 2))),
    Case("ivf_pq",
      root => {
        val cents = Similarity.pickCentroids(corpusVecs, "vec_id", "embedding", 4)
        Similarity.ivfPqIndexWrite(Similarity.ivfPqIndex(corpusVecs, cents,
          "vec_id", "embedding", m = 4, k = 8), root)
        // the family has no public append: land one epoch of codes in
        // the writer's own layout, as the store layer appends any epoch
        EpochIndex.append(Similarity.ivfPqIndex(batchVecs, cents, "vec_id",
          "embedding", m = 4, k = 8).codes, s"$root/codes", "day-2",
          innerPartCols = Seq("cell"))
      },
      root => rows(Similarity.ivfPqIndexRead(spark, root).codes)),
    Case("cert_pairs",
      root => {
        Dedup.certLedgerWrite(Seq((1L, 2L, 0.9), (3L, 4L, 1.0))
          .toDF("id_a", "id_b", "jaccard"), root, "jaccard", 0.85)
        Dedup.certLedgerAppend(spark, root,
          Seq((2L, 101L, 0.88)).toDF("id_a", "id_b", "jaccard"), "day-2",
          "jaccard", 0.85)
      },
      root => rows(Dedup.certLedgerRead(spark, root, "jaccard", 0.85))),
    Case("cert_text",
      root => {
        Dedup.certTextIndexWrite(docsA, "doc_id", "text", root,
          threshold = 0.5, shingleK = 1)
        Dedup.certTextIndexAppend(spark, root, docsB, "doc_id", "text",
          "day-2", threshold = 0.5, shingleK = 1)
      },
      root => rows(Dedup.certTextIndexProbe(spark, root,
        docsA.union(docsB).select((col("doc_id") + 1000L).as("doc_id"),
          col("text")), "doc_id", "text", threshold = 0.5, shingleK = 1))),
    Case("cert_vec",
      root => {
        Dedup.certVecIndexWrite(corpusVecs, "vec_id", "embedding", root,
          threshold = 0.4)
        Dedup.certVecIndexAppend(spark, root, batchVecs, "vec_id",
          "embedding", "day-2", threshold = 0.4)
      },
      root => rows(Dedup.certVecIndexProbe(spark, root, probeVecs, "vec_id",
        "embedding", threshold = 0.4))),
    Case("cc_labels",
      root => {
        Dedup.ccLabelsFold(spark, root,
          Seq((1L, 2L), (3L, 4L)).toDF("id_a", "id_b"), "base", "cosine", 0.8)
        Dedup.ccLabelsFold(spark, root,
          Seq((2L, 3L), (5L, 6L)).toDF("id_a", "id_b"), "day-2", "cosine", 0.8)
      },
      root => rows(Dedup.ccLabelsRead(spark, root, "cosine", 0.8))),
    Case("quality_cuts",
      root => {
        val scores = (1 to 30).map(i => (s"s${i % 2}", i.toDouble))
          .toDF("src", "ppl")
        // a calibration store is a versioned snapshot: its "append" is
        // a second freeze behind the pointer flip
        Seq(scores, scores.filter(col("ppl") > 3.0)).foreach(s =>
          Quality.qualityCutsWrite(spark, root,
            Quality.qualityCuts(s, "ppl", Seq("src")), "ppl", Seq("src")))
      },
      root => rows(Quality.qualityCutsRead(spark, root, "ppl", Seq("src")))),
    Case("minhash_bands",
      root => {
        Dedup.bandIndexWrite(docsA, "doc_id", "text", root, smallMinHash)
        Dedup.bandIndexAppend(spark, root, docsB, "doc_id", "text",
          "day-2", smallMinHash)
      },
      root => rows(Dedup.bandIndexRead(spark, root, smallMinHash)))
  )

  /** Directories under `root` (relative; "" = the root) holding epoch
    * commit markers — the epoch substores a writer actually created. */
  private def epochSubdirs(root: String): Set[String] = {
    val base = java.nio.file.Paths.get(root)
    val walk = java.nio.file.Files.walk(base)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala
        .filter(p => p.getFileName.toString == "_commits" &&
          java.nio.file.Files.isDirectory(p))
        .map(p => base.relativize(p.getParent).toString).toSet
    } finally walk.close()
  }

  private def registered(family: String): Option[StoreFamily] =
    Maintenance.Families.find(_.accepts(family))

  cases.foreach { c =>
    test(s"registry: ${c.family} writes, compacts and describes as declared") {
      val root = tmp(c.family)
      c.build(root)
      val recorded = IndexMeta.read(spark, root).map(_.family)
      assert(recorded === Some(c.family))
      val family = registered(c.family).getOrElse(fail(
        s"the ${c.family} writer records a family Maintenance.Families " +
          "does not declare"))

      // declared epoch substores = what the writer created, at the
      // declared inner partition depth
      val folded = family.substores.filter(_.fold.isDefined)
      assert(epochSubdirs(root) === folded.map(_.subdir).toSet)
      folded.foreach(s => assert(EpochIndex.committedEpochNames(spark,
        s.path(root), s.innerPartCols).size === 2,
        s"substore '${s.subdir}' under ${s.innerPartCols}"))

      val before = c.read(root)
      assert(before.nonEmpty, "degenerate registry case")
      val reported = folded.find(_.subdir == family.reports).map(s =>
        EpochIndex.committedEpochNames(spark, s.path(root), s.innerPartCols))
      reported match {
        case Some(epochs) =>
          assert(Maintenance.compactStore(spark, root).folded === epochs)
        case None =>
          intercept[NothingToCompact](Maintenance.compactStore(spark, root))
      }
      assert(c.read(root) === before)

      val info = Maintenance.describeStores(spark, root)
      assert(info.map(_.family) === Seq(c.family))
      assert(info.head.states.map(_.subdir) === family.substores.map(_.subdir))
      info.head.states.filter(st => folded.exists(_.subdir == st.subdir))
        .foreach(st => assert(st.currentVersion.nonEmpty, st))
    }
  }

  test("registry: every registered family has a case above") {
    val covered = cases.flatMap(c => registered(c.family)).distinct
    assert(covered.size === Maintenance.Families.size,
      Maintenance.Families.filterNot(covered.contains).map(_.name))
    assert(Maintenance.Families.map(_.name).distinct.size ===
      Maintenance.Families.size)
  }

  test("registry: every family name literal in main sources is registered") {
    val literal = ("""(?:IndexMeta|BandsMeta|StoreFamily(?:\.flat|\.snapshot)?)\(\s*"([^"]+)"""" +
      """|\bval\s+\w*Family\s*=\s*"([^"]+)"""").r
    val sources = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val names = try {
      import scala.jdk.CollectionConverters._
      sources.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .flatMap(p => literal.findAllMatchIn(
          new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
          .map(m => Option(m.group(1)).getOrElse(m.group(2))))
        .toSet
    } finally sources.close()
    assert(names.size >= Maintenance.Families.size, names)
    assert(names.filter(registered(_).isEmpty).isEmpty)
  }

  test("a manifest lacking a fold's build parameter refuses, naming the store and the key") {
    val root = tmp("hll-noparam")
    Cardinality.hllIndexWrite(Cardinality.hllSketch(tokens(docsA),
      lit("all"), col("token"), p = 6), root, 6, "token")
    IndexMeta.write(spark, root, IndexMeta("hll_registers", "keyName" -> "token"))
    val e = intercept[RuntimeException](Maintenance.compactStore(spark, root))
    assert(e.getMessage.contains(root) && e.getMessage.contains("'p'"),
      e.getMessage)
  }
}
