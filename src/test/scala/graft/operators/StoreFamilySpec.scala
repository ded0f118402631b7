package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The [[StoreFamily]] registry, driven family by family: each case
  * writes a store through the family's public writer and appends one
  * epoch, erases a victim set through [[Maintenance.eraseStore]],
  * compacts it through [[Maintenance.compactStore]] and describes it
  * through [[Maintenance.describeStores]]. Per family it pins: the
  * erased store reads exactly like the same family built from scratch
  * over the retained rows, and [[Maintenance.requireErased]] finds no
  * victim id under it; compaction preserves the family's checked
  * read; the declared substores are exactly the epoch directories the
  * writer created (a declared substore no writer creates, or an
  * undeclared one a writer does create, fails); and the family the
  * writer records is registered. A coverage test fails when a
  * registry entry has no case here or its case does not carry the
  * input its erase form needs; source scans fail when main code
  * records a family name literal the registry does not accept, or
  * rewrites a store for erasure outside the shared erase forms. */
class StoreFamilySpec extends SparkSpecBase {
  import spark.implicits._

  private def tmp(name: String): String = java.nio.file.Files
    .createTempDirectory("graft-registry").toString + "/" + name

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  /** One registry case: the family name its writer records; the
    * write + one append over the case's rows minus the ids given; the
    * victim ids the erase forgets and, for a Subtract or Rebuild
    * family, the input built under its manifest parameters; and the
    * family's checked read. */
  private case class Case(family: String, victims: Seq[Long],
                          build: (String, Set[Long]) => Unit,
                          input: Option[(IndexMeta, () => DataFrame)],
                          read: String => Set[String])

  private def without(df: DataFrame, idCol: String, ids: Set[Long]): DataFrame =
    df.filter(!col(idCol).isin(ids.toSeq.map(Long.box): _*))

  private val docsA = Seq(
    (1L, "alpha beta gamma delta\nshared line one\nend"),
    (2L, "alpha beta gamma epsilon\nshared line one\nshared line two"),
    (3L, "iota kappa lambda mu\nshared line two")).toDF("doc_id", "text")
  private val docsB = Seq(
    (10L, "alpha beta gamma delta\nshared line two\nnew line"),
    (11L, "nu xi omicron pi rho\nshared line one")).toDF("doc_id", "text")
  /** Victims in both the bootstrap (2) and the appended epoch (10). */
  private val docVictims = Seq(2L, 10L)
  private def victimDocs = docsA.union(docsB)
    .filter(col("doc_id").isin(docVictims.map(Long.box): _*))
  private def retainedDocs = without(docsA.union(docsB), "doc_id",
    docVictims.toSet)
  /** A docs-keyed case: write over docsA and append docsB, both minus
    * the dropped ids. */
  private def docsBuild(write: (String, DataFrame) => Unit,
                        append: (String, DataFrame) => Unit)
      : (String, Set[Long]) => Unit = (root, drop) => {
    write(root, without(docsA, "doc_id", drop))
    append(root, without(docsB, "doc_id", drop))
  }
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
  private val vecVictims = Seq(3L, 104L)
  /** Quantizer geometry is fitted once, on the full corpus: erasure
    * keeps it, so the from-scratch store is built under it too. */
  private lazy val cents =
    Similarity.pickCentroids(corpusVecs, "vec_id", "embedding", 4)
  private lazy val pqCorpus = Similarity.ivfPqIndex(corpusVecs, cents,
    "vec_id", "embedding", m = 4, k = 8)
  private lazy val pqBatchCodes = Similarity.ivfPqIndex(batchVecs, cents,
    "vec_id", "embedding", m = 4, k = 8).codes
  private val edgesA = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
  private val edgesB = Seq((3L, 4L), (4L, 5L), (3L, 5L)).toDF("src", "dst")
  private def withoutNodes(edges: DataFrame, drop: Set[Long]) =
    without(without(edges, "src", drop), "dst", drop)
  private val intervalsA = Seq((1L, 10L, 1L, 6L), (2L, 20L, 0L, 3L))
    .toDF("owner", "k", "s", "e")
  private val intervalsB = Seq((10L, 10L, 5L, 9L), (11L, 20L, 8L, 9L))
    .toDF("owner", "k", "s", "e")
  private val scores = (1 to 30).map(i => (i.toLong, s"s${i % 2}", i.toDouble))
    .toDF("id", "src", "ppl")

  private val cases: Seq[Case] = Seq(
    Case("line_first_occ", docVictims,
      docsBuild(
        (root, d) => Dedup.lineFirstOccIndexWrite(
          Dedup.lineFirstOccIndex(d, "doc_id", "text", "\n"), root, "\n"),
        (root, d) => Dedup.lineFirstOccIndexAppend(spark, root,
          Dedup.lineFirstOccIndex(d, "doc_id", "text", "\n"), "day-2", "\n")),
      Some(Dedup.lineIndexMeta("\n", 1) ->
        (() => Dedup.lineFirstOccIndex(retainedDocs, "doc_id", "text", "\n"))),
      root => rows(Dedup.lineFirstOccIndexRead(spark, root, None, "\n", 1))),
    Case("boilerplate_counts", docVictims,
      docsBuild(
        (root, d) => Dedup.boilerplateIndexWrite(
          Dedup.boilerplateIndex(d, "doc_id", "text", "\n"), root, "\n"),
        (root, d) => Dedup.boilerplateIndexAppend(spark, root,
          Dedup.boilerplateIndex(d, "doc_id", "text", "\n"), "day-2", "\n")),
      Some(Dedup.boilerplateIndexMeta("\n", 1) ->
        (() => Dedup.boilerplateIndex(victimDocs, "doc_id", "text", "\n"))),
      root => rows(Dedup.boilerplateIndexRead(spark, root, None, "\n", 1))),
    Case("domain_cap_counts", docVictims,
      docsBuild(
        (root, d) => Curation.capCountIndexWrite(capPart(d), root, "prefix5"),
        (root, d) => Curation.capCountIndexAppend(spark, root, capPart(d),
          "day-2", "prefix5")),
      Some(Curation.capIndexMeta("prefix5") -> (() => capPart(victimDocs))),
      root => rows(Curation.capCountIndexRead(spark, root, "prefix5"))),
    Case("sample_sketch", docVictims,
      docsBuild(
        (root, d) => SampleSketch.sampleSketchIndexWrite(samplePart(d), root,
          4, "doc_id", "len"),
        (root, d) => SampleSketch.sampleSketchIndexAppend(spark, root,
          samplePart(d), "day-2", 4, "doc_id", "len")),
      Some(SampleSketch.indexMeta(4, "doc_id", "len") ->
        (() => samplePart(retainedDocs))),
      root => rows(SampleSketch.sampleSketchIndexRead(spark, root, 4,
        "doc_id", "len"))),
    Case("hll_registers", docVictims,
      docsBuild(
        (root, d) => Cardinality.hllIndexWrite(hllPart(d), root, 6, "token"),
        (root, d) => Cardinality.hllIndexAppend(spark, root, hllPart(d),
          "day-2", 6, "token")),
      Some(Cardinality.hllMeta(6, "token") -> (() => hllPart(retainedDocs))),
      root => rows(Cardinality.hllIndexRead(spark, root, 6, "token"))),
    Case("kmv_bottom_k", docVictims,
      docsBuild(
        (root, d) => Cardinality.kmvIndexWrite(kmvPart(d), root, 8, "token"),
        (root, d) => Cardinality.kmvIndexAppend(spark, root, kmvPart(d),
          "day-2", 8, "token")),
      Some(Cardinality.kmvMeta(8, "token") -> (() => kmvPart(retainedDocs))),
      root => rows(Cardinality.kmvIndexRead(spark, root, 8, "token"))),
    Case("graph_census", Seq(2L),
      (root, drop) => {
        Centrality.triangleCensusWrite(withoutNodes(edgesA, drop), root)
        Centrality.triangleCensusAppend(spark, root,
          withoutNodes(edgesB, drop), "day-2")
      },
      None,
      root => rows(Centrality.triangleCensusRead(spark, root))),
    Case("cms_counts", docVictims,
      docsBuild(
        (root, d) => HeavyHitters.cmsIndexWrite(cmsPart(d), root, 3, 32, "token"),
        (root, d) => HeavyHitters.cmsIndexAppend(spark, root, cmsPart(d),
          "day-2", 3, 32, "token")),
      Some(HeavyHitters.cmsMeta(3, 32, "token") -> (() => cmsPart(retainedDocs))),
      root => rows(HeavyHitters.cmsIndexRead(spark, root, 3, 32, "token"))),
    Case("table_digest", docVictims,
      docsBuild(
        (root, d) => Audit.digestIndexWrite(digestPart(d), root,
          Seq("doc_id", "text"), "parity"),
        (root, d) => Audit.digestIndexAppend(spark, root, digestPart(d),
          "day-2", Seq("doc_id", "text"), "parity")),
      Some(Audit.digestMeta(Seq("doc_id", "text"), "parity") ->
        (() => digestPart(victimDocs))),
      root => rows(Audit.digestIndexRead(spark, root, Seq("doc_id", "text"),
        "parity"))),
    Case("interval_islands", Seq(2L, 10L),
      (root, drop) => {
        IntervalExpand.islandsIndexWrite(
          without(intervalsA, "owner", drop).select("k", "s", "e"), root, "k",
          col("s"), col("e"))
        IntervalExpand.islandsIndexAppend(spark, root,
          without(intervalsB, "owner", drop).select("k", "s", "e"), "k",
          col("s"), col("e"), "day-2")
      },
      Some(IntervalExpand.islandsMeta("k") -> (() => IntervalExpand
        .mergeIntervals(without(intervalsA.union(intervalsB), "owner",
          Set(2L, 10L)).select("k", "s", "e"), "k", col("s"), col("e")))),
      root => rows(IntervalExpand.islandsIndexRead(spark, root, "k"))),
    Case("dsir_buckets", docVictims,
      docsBuild(
        (root, d) => Splits.dsirIndexWrite(dsirPart(d), root, 64),
        (root, d) => Splits.dsirIndexAppend(spark, root, dsirPart(d),
          "day-2", 64)),
      Some(Splits.dsirMeta(64) -> (() => dsirPart(victimDocs))),
      root => rows(Splits.dsirIndexRead(spark, root, 64))),
    Case("gram_freq", docVictims,
      docsBuild(
        (root, d) => Dedup.gramFreqIndexWrite(
          Dedup.gramFreqIndex(d, "doc_id", "text", n = 2), root, n = 2),
        (root, d) => Dedup.gramFreqIndexAppend(spark, root,
          Dedup.gramFreqIndex(d, "doc_id", "text", n = 2), "day-2", n = 2)),
      Some(Dedup.gramFreqIndexMeta(2) ->
        (() => Dedup.gramFreqIndex(victimDocs, "doc_id", "text", n = 2))),
      root => rows(Dedup.gramFreqIndexRead(spark, root, None, n = 2))),
    Case("lm_bigram", docVictims,
      docsBuild(
        (root, d) => LmFilter.lmIndexWrite(LmFilter.lmIndex(d, "doc_id", "text"),
          root, 4096, 32768),
        (root, d) => LmFilter.lmIndexAppend(spark, root,
          LmFilter.lmIndex(d, "doc_id", "text"), "day-2", 4096, 32768)),
      Some(LmFilter.lmMeta(4096, 32768) ->
        (() => LmFilter.lmIndex(victimDocs, "doc_id", "text"))),
      root => rows(LmFilter.lmIndexRead(spark, root, 4096, 32768))),
    Case("bm25_postings", docVictims,
      docsBuild(
        (root, d) => Relevance.bm25IndexWrite(d, root, "doc_id", "text"),
        (root, d) => Relevance.bm25IndexAppend(spark, root, d, "doc_id",
          "text", "day-2")),
      Some(Relevance.postingsMeta("doc_id", "text") ->
        (() => Relevance.bm25DocStats(victimDocs, "doc_id", "text"))),
      root => rows(Relevance.bm25IndexProbe(spark, root, "doc_id", "text",
        Seq("alpha", "shared", "nu"), k = 10))),
    Case("ivf", vecVictims,
      (root, drop) => {
        Similarity.ivfIndexWrite(Similarity.ivfIndex(
          without(corpusVecs, "vec_id", drop), cents, "vec_id", "embedding"),
          root)
        Similarity.ivfAppendWrite(spark, root,
          without(batchVecs, "vec_id", drop), "vec_id", "embedding",
          epochLabel = "day-2")
      },
      None,
      root => rows(Similarity.ivfProbeStored(spark, root, probeVecs, "vec_id",
        "embedding", k = 5, nProbe = 2))),
    Case("ivf_pq", vecVictims,
      (root, drop) => {
        Similarity.ivfPqIndexWrite(pqCorpus.copy(
          codes = without(pqCorpus.codes, "vec_id", drop)), root)
        // the family has no public append: land one epoch of codes in
        // the writer's own layout, as the store layer appends any epoch
        EpochIndex.append(without(pqBatchCodes, "vec_id", drop),
          s"$root/codes", "day-2", innerPartCols = Seq("cell"))
      },
      None,
      root => rows(Similarity.ivfPqIndexRead(spark, root).codes)),
    Case("cert_pairs", Seq(4L),
      (root, drop) => {
        Dedup.certLedgerWrite(without(without(Seq((1L, 2L, 0.9), (3L, 4L, 1.0))
          .toDF("id_a", "id_b", "jaccard"), "id_a", drop), "id_b", drop),
          root, "jaccard", 0.85)
        Dedup.certLedgerAppend(spark, root,
          Seq((2L, 101L, 0.88)).toDF("id_a", "id_b", "jaccard"), "day-2",
          "jaccard", 0.85)
      },
      None,
      root => rows(Dedup.certLedgerRead(spark, root, "jaccard", 0.85))),
    Case("cert_text", docVictims,
      docsBuild(
        (root, d) => Dedup.certIndexWrite(d, "doc_id", "text", root,
          Dedup.Jaccard(0.5, shingleK = 1)),
        (root, d) => Dedup.certIndexAppend(spark, root, d, "doc_id", "text", "day-2",
          Dedup.Jaccard(0.5, shingleK = 1))),
      None,
      root => rows(Dedup.certIndexProbe(spark, root,
        docsA.union(docsB).select((col("doc_id") + 1000L).as("doc_id"),
          col("text")), "doc_id", "text", Dedup.Jaccard(0.5, shingleK = 1)))),
    Case("cert_vec", vecVictims,
      (root, drop) => {
        Dedup.certIndexWrite(without(corpusVecs, "vec_id", drop), "vec_id",
          "embedding", root, Dedup.Cosine(0.4))
        Dedup.certIndexAppend(spark, root, without(batchVecs, "vec_id", drop),
          "vec_id", "embedding", "day-2", Dedup.Cosine(0.4))
      },
      None,
      root => rows(Dedup.certIndexProbe(spark, root, probeVecs, "vec_id",
        "embedding", Dedup.Cosine(0.4)))),
    Case("cc_labels", Seq(3L),
      (root, drop) => {
        Dedup.ccLabelsFold(spark, root, withoutPairs(ccPairsA, drop),
          "base", "cosine", 0.8)
        Dedup.ccLabelsFold(spark, root, withoutPairs(ccPairsB, drop),
          "day-2", "cosine", 0.8)
      },
      Some(Dedup.ccLabelsMeta("cosine", 0.8) -> (() => Dedup.connectedComponents(
        withoutPairs(ccPairsA.union(ccPairsB), Set(3L))))),
      root => rows(Dedup.ccLabelsRead(spark, root, "cosine", 0.8))),
    Case("quality_cuts", Seq(4L, 7L),
      (root, drop) => {
        // a calibration store is a versioned snapshot: its "append" is
        // a second freeze behind the pointer flip
        val s = without(scores, "id", drop)
        Seq(s, s.filter(col("ppl") > 3.0)).foreach(s =>
          Quality.qualityCutsWrite(spark, root,
            Quality.qualityCuts(s, "ppl", Seq("src")), "ppl", Seq("src")))
      },
      Some(Quality.cutsMeta("ppl", Seq("src")) -> (() => Quality.qualityCuts(
        without(scores, "id", Set(4L, 7L)).filter(col("ppl") > 3.0), "ppl",
        Seq("src")))),
      root => rows(Quality.qualityCutsRead(spark, root, "ppl", Seq("src")))),
    Case("minhash_bands", docVictims,
      docsBuild(
        (root, d) => Dedup.bandIndexWrite(d, "doc_id", "text", root, smallMinHash),
        (root, d) => Dedup.bandIndexAppend(spark, root, d, "doc_id", "text",
          "day-2", smallMinHash)),
      None,
      root => rows(Dedup.bandIndexRead(spark, root, smallMinHash)))
  )

  private def capPart(docs: DataFrame) = Curation.capCountIndex(
    docs, substring(col("text"), 1, 5), col("doc_id"))
  private def samplePart(docs: DataFrame) = SampleSketch.sampleSketch(docs,
    lit("all"), col("doc_id"), length(col("text")).cast("double"), 4)
  private def hllPart(docs: DataFrame) =
    Cardinality.hllSketch(tokens(docs), lit("all"), col("token"), p = 6)
  private def kmvPart(docs: DataFrame) =
    Cardinality.kmvSketch(tokens(docs), lit("all"), col("token"), k = 8)
  private def cmsPart(docs: DataFrame) =
    HeavyHitters.countMinSketch(tokens(docs), "token", 3, 32)
  private def digestPart(docs: DataFrame) =
    Audit.digestPartial(docs, Seq("doc_id", "text"), col("doc_id") % 2)
  private def dsirPart(docs: DataFrame) =
    Splits.dsirIndex(docs, "doc_id", "text", col("doc_id") % 2 === 0, 64)
  private def ccPairsA = Seq((1L, 2L), (3L, 4L)).toDF("id_a", "id_b")
  private def ccPairsB = Seq((2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
  private def withoutPairs(pairs: DataFrame, drop: Set[Long]) =
    without(without(pairs, "id_a", drop), "id_b", drop)

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
      c.build(root, Set.empty)
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
      assert(c.read(root).nonEmpty, "degenerate registry case")

      // erase: the store then reads exactly like the family built from
      // scratch over the retained rows, and no victim id survives
      val request = c.input.foldLeft(Maintenance.EraseRequest(
        c.victims.toDF("id"))) { case (r, (meta, build)) =>
          r.withInput(root, meta)(build()) }
      Maintenance.eraseStore(spark, root, request)
      val erased = c.read(root)
      val fresh = tmp(s"${c.family}-retained")
      c.build(fresh, c.victims.toSet)
      assert(erased === c.read(fresh))
      assert(erased.nonEmpty, "degenerate erase case")
      Maintenance.requireErased(spark, root, c.victims)

      val reported = folded.find(_.subdir == family.reports).map(s =>
        EpochIndex.committedEpochNames(spark, s.path(root), s.innerPartCols))
      reported match {
        case Some(epochs) =>
          assert(Maintenance.compactStore(spark, root).folded === epochs)
        case None =>
          intercept[NothingToCompact](Maintenance.compactStore(spark, root))
      }
      assert(c.read(root) === erased)

      val info = Maintenance.describeStores(spark, root)
      assert(info.map(_.family) === Seq(c.family))
      assert(info.head.states.map(_.subdir) === family.substores.map(_.subdir))
      info.head.states.filter(st => folded.exists(_.subdir == st.subdir))
        .foreach(st => assert(st.currentVersion.nonEmpty, st))
      assert(info.head.erasures.nonEmpty, "the erase left no _ERASURES record")
    }
  }

  test("registry: every registered family has a case above") {
    val covered = cases.flatMap(c => registered(c.family)).distinct
    assert(covered.size === Maintenance.Families.size,
      Maintenance.Families.filterNot(covered.contains).map(_.name))
    assert(Maintenance.Families.map(_.name).distinct.size ===
      Maintenance.Families.size)
    // each case carries exactly the input its family's erase form needs
    cases.foreach(c => assert(
      registered(c.family).get.erasesWithInput.isDefined === c.input.isDefined,
      s"${c.family}: erase input does not match the family's erase form"))
  }

  test("registry: stores are rewritten for erasure only by the shared erase forms") {
    // a hand-written per-family eraser (a direct eraseRewrite call
    // outside StoreFamily) fails here, not in an audit
    val call = """\beraseRewrite\s*\(""".r
    val sources = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val callers = try {
      import scala.jdk.CollectionConverters._
      sources.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .filter { p =>
          val code = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
            .split("\n").filterNot { l =>
              val t = l.trim
              t.startsWith("*") || t.startsWith("/*") || t.startsWith("//") ||
                t.startsWith("def eraseRewrite(")
            }
          code.exists(call.findFirstIn(_).isDefined)
        }
        .map(_.getFileName.toString).toSet
    } finally sources.close()
    assert(callers === Set("StoreFamily.scala"), callers)
  }

  test("registry: every family name literal in main sources is registered") {
    // \b: a helper whose name ends in IndexMeta (`boilerplateIndexMeta`)
    // takes parameters, not a family name
    val literal = ("""\b(?:IndexMeta|BandsMeta|StoreFamily(?:\.flat|\.snapshot)?)\(\s*"([^"]+)"""" +
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
