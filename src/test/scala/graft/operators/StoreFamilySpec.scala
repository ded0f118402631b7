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
  * records a family name literal the registry does not accept,
  * rewrites a store for erasure outside the shared erase forms, or
  * bootstraps, appends to or records the manifest of a store outside
  * [[StoreFamily.Bound]]. */
class StoreFamilySpec extends SparkSpecBase {
  import spark.implicits._

  private def tmp(name: String): String = java.nio.file.Files
    .createTempDirectory("graft-registry").toString + "/" + name

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  /** One registry case: the family name its writer records; the
    * write + one append over the case's rows minus the ids given; the
    * victim ids the erase forgets and, for a Subtract or Rebuild
    * family, the input built under its manifest parameters; the
    * family's checked read; and, for an epoch family, the handle its
    * writer builds the unfiltered case under. */
  private case class Case(family: String, victims: Seq[Long],
                          build: (String, Set[Long]) => Unit,
                          input: Option[(IndexMeta, () => DataFrame)],
                          read: String => Set[String],
                          store: Option[StoreFamily.Bound] = None)

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
  /** A flat family's case, built from its handle alone. */
  private def flatCase(store: StoreFamily.Bound, victims: Seq[Long])(
      build: (String, Set[Long]) => Unit,
      input: Option[() => DataFrame]): Case =
    Case(store.meta.family, victims, build, input.map(store.meta -> _),
      root => rows(store.read(spark, root)), Some(store))
  /** A docs-keyed flat case: `part` builds the partial the handle
    * writes (over docsA) and appends (over docsB). */
  private def docsCase(store: StoreFamily.Bound, input: Option[() => DataFrame])(
      part: DataFrame => DataFrame): Case =
    flatCase(store, docVictims)(docsBuild(
      (root, d) => store.write(part(d), root),
      (root, d) => store.append(spark, root, part(d), "day-2")), input)
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
    docsCase(Dedup.lineFirstOcc("\n"),
      Some(() => Dedup.lineFirstOccIndex(retainedDocs, "doc_id", "text", "\n")))(
      Dedup.lineFirstOccIndex(_, "doc_id", "text", "\n")),
    docsCase(Dedup.boilerplateCounts("\n"),
      Some(() => Dedup.boilerplateIndex(victimDocs, "doc_id", "text", "\n")))(
      Dedup.boilerplateIndex(_, "doc_id", "text", "\n")),
    docsCase(Curation.capCounts("prefix5"), Some(() => capPart(victimDocs)))(
      capPart),
    docsCase(SampleSketch.profile(4, "doc_id", "len"),
      Some(() => samplePart(retainedDocs)))(samplePart),
    docsCase(Cardinality.hll(6, "token"), Some(() => hllPart(retainedDocs)))(
      hllPart),
    docsCase(Cardinality.kmv(8, "token"), Some(() => kmvPart(retainedDocs)))(
      kmvPart),
    Case("graph_census", Seq(2L),
      (root, drop) => {
        Centrality.triangleCensusWrite(withoutNodes(edgesA, drop), root)
        Centrality.triangleCensusAppend(spark, root,
          withoutNodes(edgesB, drop), "day-2")
      },
      None,
      root => rows(Centrality.triangleCensusRead(spark, root)),
      Some(Centrality.census)),
    docsCase(HeavyHitters.cms(3, 32, "token"), Some(() => cmsPart(retainedDocs)))(
      cmsPart),
    docsCase(Audit.digestLedger(Seq("doc_id", "text"), "parity"),
      Some(() => digestPart(victimDocs)))(digestPart),
    flatCase(IntervalExpand.islands("k"), Seq(2L, 10L))(
      (root, drop) => {
        def islands(intervals: DataFrame) = IntervalExpand.mergeIntervals(
          without(intervals, "owner", drop).select("k", "s", "e"), "k",
          col("s"), col("e"))
        val store = IntervalExpand.islands("k")
        store.write(islands(intervalsA), root)
        store.append(spark, root, islands(intervalsB), "day-2")
      },
      Some(() => IntervalExpand.mergeIntervals(without(intervalsA
        .union(intervalsB), "owner", Set(2L, 10L)).select("k", "s", "e"), "k",
        col("s"), col("e")))),
    docsCase(Splits.dsir(64), Some(() => dsirPart(victimDocs)))(dsirPart),
    docsCase(Dedup.gramFreq(2),
      Some(() => Dedup.gramFreqIndex(victimDocs, "doc_id", "text", n = 2)))(
      Dedup.gramFreqIndex(_, "doc_id", "text", n = 2)),
    docsCase(LmFilter.lm(4096, 32768),
      Some(() => LmFilter.lmIndex(victimDocs, "doc_id", "text")))(
      LmFilter.lmIndex(_, "doc_id", "text")),
    Case("bm25_postings", docVictims,
      docsBuild(
        (root, d) => Relevance.bm25IndexWrite(d, root, "doc_id", "text"),
        (root, d) => Relevance.bm25IndexAppend(spark, root, d, "doc_id",
          "text", "day-2")),
      Some(Relevance.bm25("doc_id", "text").meta ->
        (() => Relevance.bm25DocStats(victimDocs, "doc_id", "text"))),
      root => rows(Relevance.bm25IndexProbe(spark, root, "doc_id", "text",
        Seq("alpha", "shared", "nu"), k = 10)),
      Some(Relevance.bm25("doc_id", "text"))),
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
        "embedding", k = 5, nProbe = 2)),
      Some(Similarity.ivf("vec_id", "embedding"))),
    Case("ivf_pq", vecVictims,
      (root, drop) => {
        Similarity.ivfPqIndexWrite(pqCorpus.copy(
          codes = without(pqCorpus.codes, "vec_id", drop)), root)
        // the family has no public append: land one epoch of codes
        // through its handle, as the store layer appends any epoch
        Similarity.ivfPq("vec_id").append(spark, root,
          Map("codes" -> without(pqBatchCodes, "vec_id", drop)), "day-2")
      },
      None,
      root => rows(Similarity.ivfPqIndexRead(spark, root).codes),
      Some(Similarity.ivfPq("vec_id"))),
    flatCase(Dedup.certLedger("jaccard", 0.85), Seq(4L))(
      (root, drop) => {
        val ledger = Dedup.certLedger("jaccard", 0.85)
        ledger.write(without(without(Seq((1L, 2L, 0.9), (3L, 4L, 1.0))
          .toDF("id_a", "id_b", "jaccard"), "id_a", drop), "id_b", drop), root)
        ledger.append(spark, root,
          Seq((2L, 101L, 0.88)).toDF("id_a", "id_b", "jaccard"), "day-2")
      },
      None),
    Case("cert_text", docVictims,
      docsBuild(
        (root, d) => Dedup.certIndexWrite(d, "doc_id", "text", root,
          Dedup.Jaccard(0.5, shingleK = 1)),
        (root, d) => Dedup.certIndexAppend(spark, root, d, "doc_id", "text", "day-2",
          Dedup.Jaccard(0.5, shingleK = 1))),
      None,
      root => rows(Dedup.certIndexProbe(spark, root,
        docsA.union(docsB).select((col("doc_id") + 1000L).as("doc_id"),
          col("text")), "doc_id", "text", Dedup.Jaccard(0.5, shingleK = 1))),
      Some(Dedup.Jaccard(0.5, shingleK = 1).bound(Nil))),
    Case("cert_vec", vecVictims,
      (root, drop) => {
        Dedup.certIndexWrite(without(corpusVecs, "vec_id", drop), "vec_id",
          "embedding", root, Dedup.Cosine(0.4))
        Dedup.certIndexAppend(spark, root, without(batchVecs, "vec_id", drop),
          "vec_id", "embedding", "day-2", Dedup.Cosine(0.4))
      },
      None,
      root => rows(Dedup.certIndexProbe(spark, root, probeVecs, "vec_id",
        "embedding", Dedup.Cosine(0.4))),
      // the pivots the unfiltered write freezes from its corpus
      Some(Dedup.Cosine(0.4).bound(Dedup.Cosine(0.4).blocking(corpusVecs,
        "vec_id", "embedding", "StoreFamilySpec")))),
    flatCase(Dedup.ccLabels("cosine", 0.8), Seq(3L))(
      (root, drop) => {
        Dedup.ccLabelsFold(spark, root, withoutPairs(ccPairsA, drop),
          "base", "cosine", 0.8)
        Dedup.ccLabelsFold(spark, root, withoutPairs(ccPairsB, drop),
          "day-2", "cosine", 0.8)
      },
      Some(() => Dedup.connectedComponents(
        withoutPairs(ccPairsA.union(ccPairsB), Set(3L))))),
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
      root => rows(Dedup.bandIndexRead(spark, root, smallMinHash)),
      Some(Dedup.bands(smallMinHash, 64)))
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
    // \b: a helper whose name ends in IndexMeta takes parameters, not a
    // family name
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

  /** Every epoch family in the registry: all but the versioned
    * snapshots, whose substores have no fold. */
  private def epochFamilies: Seq[StoreFamily] =
    Maintenance.Families.filter(_.substores.forall(_.fold.isDefined))

  test("epoch stores: a mismatched handle refuses; compaction keeps reads") {
    assert(epochFamilies.size === Maintenance.Families.size - 1,
      epochFamilies.map(_.name))
    epochFamilies.foreach { family =>
      val c = cases.find(_.store.exists(_.family == family)).getOrElse(
        fail(s"${family.name}: no registry case carries its handle"))
      val store = c.store.get
      val root = tmp(s"${family.name}-bound")
      c.build(root, Set.empty)
      val subs = family.substores.map(_.subdir)
      def folded(): Map[String, Set[String]] =
        subs.map(sub => sub -> rows(store.read(spark, root, sub))).toMap
      // one manifest parameter changed (or, for a family without
      // parameters, one added): the same family, another build
      val (key, value) = store.meta.params.toSeq.sorted.headOption
        .fold("probe" -> "1") { case (k, v) => k -> (v + "0") }
      val other = StoreFamily.Bound(family,
        store.meta.copy(params = store.meta.params.updated(key, value)))
      val parts = subs.map(sub => sub -> store.read(spark, root, sub)).toMap
      val appendRefusal = intercept[IllegalArgumentException](
        other.append(spark, root, parts, "other"))
      assert(appendRefusal.getMessage.contains(key), appendRefusal.getMessage)
      subs.foreach { sub =>
        val readRefusal = intercept[IllegalArgumentException](
          other.read(spark, root, sub))
        assert(readRefusal.getMessage.contains(key), readRefusal.getMessage)
      }
      family.substores.foreach(s => assert(EpochIndex.committedEpochNames(
        spark, s.path(root), s.innerPartCols).size === 2,
        s"${family.name}/${s.subdir}: a refused append landed"))
      // the read folds with the compaction fold: compacting changes nothing
      val before = folded()
      val stats = Maintenance.compactStore(spark, root)
      assert(folded() === before, family.name)
      if (subs == Seq(""))
        assert(rows(store.readAsOf(spark, root, stats.version)) === before(""),
          family.name)
    }
  }

  test("store families: the write/append/read path is written once") {
    // a family writer hand-rolling the store format again (a bootstrap,
    // a manifest write, an epoch append, a writer-named read) fails here
    val files = {
      val sources = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      try {
        import scala.jdk.CollectionConverters._
        sources.iterator().asScala.filter(_.toString.endsWith(".scala"))
          .map(p => p.getFileName.toString ->
            new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
              .split("\n").filterNot { l =>
                val t = l.trim
                t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")
              }.mkString("\n")).toList
      } finally sources.close()
    }
    def sites(re: scala.util.matching.Regex): Seq[String] =
      files.flatMap { case (name, code) => re.findAllMatchIn(code).map(_ => name) }
    val own = Set("EpochIndex.scala", "IndexMeta.scala")
    def callers(re: scala.util.matching.Regex) = sites(re).filterNot(own)
    assert(callers("""\bEpochIndex\.bootstrap\(""".r) === Seq("StoreFamily.scala"))
    assert(callers("""\bIndexMeta\.write\(""".r) === Seq("StoreFamily.scala"))
    // the one other append is the sinks' plain-table epoch write, with
    // no inner partitioning …
    val append = """\bEpochIndex\.append\(([^)]*)\)""".r
    assert(callers(append).sorted === Seq("StoreFamily.scala", "Streaming.scala"))
    val streaming = files.collect { case ("Streaming.scala", code) => code }.head
    assert(append.findAllMatchIn(streaming).map(_.group(1)).toSeq ===
      Seq("df, path, id"))
    // … whose callers name plain tables only: the corpus, the rejects,
    // the zone-map manifest, and the family-less fingerprint index
    val writes = """\bepoch\.write\(""".r.findAllMatchIn(streaming).map { m =>
      var (depth, i) = (1, m.end)
      while (depth > 0) {
        streaming(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1
          case _ =>
        }
        i += 1
      }
      val args = streaming.substring(m.end, i - 1)
      args.substring(args.lastIndexOf(',') + 1).trim
    }.toSeq
    assert(writes.toSet === Set("corpusPath", "rejectsPath", "manifestPath",
      "indexPath"), writes)
    assert(writes.count(_ == "indexPath") === 1 &&
      streaming.contains("bound.fold(epoch.write(partial, indexPath))"), writes)
    assert(sites("""bootstrapName\s*=\s*"[^"]*Write"""".r).isEmpty)
    assert(sites("""innerPartCols\s*=\s*Seq\(""".r).isEmpty)
  }

  test("a manifest lacking a fold's build parameter refuses, naming the store and the key") {
    val root = tmp("hll-noparam")
    Cardinality.hll(6, "token").write(Cardinality.hllSketch(tokens(docsA),
      lit("all"), col("token"), p = 6), root)
    IndexMeta.write(spark, root, IndexMeta("hll_registers", "keyName" -> "token"))
    val e = intercept[RuntimeException](Maintenance.compactStore(spark, root))
    assert(e.getMessage.contains(root) && e.getMessage.contains("'p'"),
      e.getMessage)
  }
}
