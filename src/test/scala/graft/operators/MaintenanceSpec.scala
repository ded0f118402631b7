package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

class MaintenanceSpec extends SparkSpecBase {
  import spark.implicits._

  private def tree(): String =
    java.nio.file.Files.createTempDirectory("graft-maint").toString

  test("sweep discovers mixed families under one root and compacts each with its own fold") {
    val root = tree()
    // line first-occurrence store, two epochs
    val docsA = Seq((1L, "alpha\nshared"), (2L, "shared\nbeta")).toDF("doc_id", "text")
    val docsB = Seq((10L, "shared\nnew")).toDF("doc_id", "text")
    Dedup.lineFirstOccIndexWrite(
      Dedup.lineFirstOccIndex(docsA, "doc_id", "text", "\n"),
      s"$root/indexes/lines", sep = "\n")
    Dedup.lineFirstOccIndexAppend(spark, s"$root/indexes/lines",
      Dedup.lineFirstOccIndex(docsB, "doc_id", "text", "\n"), "day-2", "\n")
    // domain-cap count store, two epochs
    val capsA = (1L to 20L).map(i => (s"d${i % 3}", i)).toDF("dom", "id")
    val capsB = (21L to 40L).map(i => (s"d${i % 3}", i)).toDF("dom", "id")
    Curation.capCountIndexWrite(
      Curation.capCountIndex(capsA, col("dom"), col("id")),
      s"$root/indexes/caps", "dom")
    Curation.capCountIndexAppend(spark, s"$root/indexes/caps",
      Curation.capCountIndex(capsB, col("dom"), col("id")), "day-2", "dom")
    // sample-sketch store, one epoch (bootstrap only)
    val prof = (1L to 30L).map(i => ("g", i, i.toDouble)).toDF("g", "id", "v")
    SampleSketch.sampleSketchIndexWrite(
      SampleSketch.sampleSketch(prof, col("g"), col("id"), col("v"), 8),
      s"$root/indexes/profile", 8, "g", "v")
    // gram-frequency count store, two epochs
    Dedup.gramFreqIndexWrite(
      Dedup.gramFreqIndex(docsA, "doc_id", "text", n = 2),
      s"$root/indexes/grams", n = 2)
    Dedup.gramFreqIndexAppend(spark, s"$root/indexes/grams",
      Dedup.gramFreqIndex(docsB, "doc_id", "text", n = 2), "day-2", n = 2)
    // bigram-LM count store, two epochs
    LmFilter.lmIndexWrite(
      LmFilter.lmIndex(docsA, "doc_id", "text"),
      s"$root/indexes/lm", 4096, 32768)
    LmFilter.lmIndexAppend(spark, s"$root/indexes/lm",
      LmFilter.lmIndex(docsB, "doc_id", "text"), "day-2", 4096, 32768)

    val lineBefore = Dedup.lineFirstOccIndexRead(spark, s"$root/indexes/lines")
      .as[(String, Long, Int)].collect().toSet
    val capsBefore = Curation.capCountIndexRead(spark, s"$root/indexes/caps", "dom")
      .as[(String, Long)].collect().toSet
    val profBefore = SampleSketch
      .sampleSketchIndexRead(spark, s"$root/indexes/profile", 8, "g", "v")
      .as[(String, Seq[(Long, Long, Double)])].collect().toSet
    val gramsBefore = Dedup.gramFreqIndexRead(spark, s"$root/indexes/grams",
      None, n = 2).as[(String, Long)].collect().toSet
    val lmBefore = LmFilter.lmIndexRead(spark, s"$root/indexes/lm",
      4096, 32768).as[(Int, Long, Long)].collect().toSet

    val results = Maintenance.compactAll(spark, root)
    assert(results.map(_.root).size === 5)
    assert(results.map(_.family).sorted ===
      Seq("domain_cap_counts", "gram_freq", "line_first_occ",
        "lm_bigram", "sample_sketch"))
    assert(results.forall(r => !r.failed && r.stats.isDefined), results)

    // probe-after ≡ probe-before, per family fold
    assert(Dedup.lineFirstOccIndexRead(spark, s"$root/indexes/lines")
      .as[(String, Long, Int)].collect().toSet === lineBefore)
    assert(Curation.capCountIndexRead(spark, s"$root/indexes/caps", "dom")
      .as[(String, Long)].collect().toSet === capsBefore)
    assert(SampleSketch
      .sampleSketchIndexRead(spark, s"$root/indexes/profile", 8, "g", "v")
      .as[(String, Seq[(Long, Long, Double)])].collect().toSet === profBefore)
    assert(Dedup.gramFreqIndexRead(spark, s"$root/indexes/grams", None, n = 2)
      .as[(String, Long)].collect().toSet === gramsBefore)
    assert(LmFilter.lmIndexRead(spark, s"$root/indexes/lm", 4096, 32768)
      .as[(Int, Long, Long)].collect().toSet === lmBefore)
  }

  test("describeStores: live/uncommitted epochs and retained versions, read-only") {
    val root = tree()
    val docsA = Seq((1L, "alpha\nshared"), (2L, "shared\nbeta")).toDF("doc_id", "text")
    val docsB = Seq((10L, "shared\nnew")).toDF("doc_id", "text")
    Dedup.lineFirstOccIndexWrite(
      Dedup.lineFirstOccIndex(docsA, "doc_id", "text", "\n"),
      s"$root/indexes/lines", sep = "\n")
    Dedup.lineFirstOccIndexAppend(spark, s"$root/indexes/lines",
      Dedup.lineFirstOccIndex(docsB, "doc_id", "text", "\n"), "day-2", "\n")
    val before = Maintenance.describeStores(spark, root)
    assert(before.size === 1)
    val st0 = before.head.states.head
    assert(before.head.family === "line_first_occ")
    assert(st0.liveEpochs.toSet === Set("base", "day-2"))
    assert(st0.uncommitted.isEmpty && st0.retainedVersions.isEmpty)
    // simulate a torn append: epoch data, no commit marker
    Dedup.lineFirstOccIndex(Seq((20L, "torn")).toDF("doc_id", "text"),
      "doc_id", "text", "\n")
      .withColumn(EpochIndex.EpochCol, lit("torn-1"))
      .write.partitionBy(EpochIndex.EpochCol)
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(s"$root/indexes/lines")
    Maintenance.compactAll(spark, root)
    val after = Maintenance.describeStores(spark, root)
    val st1 = after.head.states.head
    // compaction folded the committed epochs into v1; the torn epoch
    // is REPORTED (not folded, not GC'd); the read-only sweep itself
    // changed nothing (describe is safe to run any time)
    assert(st1.uncommitted === Seq("torn-1"))
    assert(st1.liveEpochs.toSet === Set("base", "day-2"))
    assert(st1.retainedVersions.size === 1 &&
      st1.currentVersion === st1.retainedVersions.headOption)
    // erasure history is part of the operational view: never erased
    // reads as empty, and a rewrite surfaces its published version
    assert(after.head.erasures.isEmpty)
    val fs = new org.apache.hadoop.fs.Path(s"$root/indexes/lines/_epoch=torn-1")
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$root/indexes/lines/_epoch=torn-1"), true)
    Maintenance.eraseStore(spark, s"$root/indexes/lines",
      Maintenance.EraseRequest(Seq(99L).toDF("doc_id"))
        .withInput(s"$root/indexes/lines", Dedup.lineIndexMeta("\n", 1))(
          Dedup.lineFirstOccIndex(docsA, "doc_id", "text", "\n")))
    val erased = Maintenance.describeStores(spark, root).head.erasures
    assert(erased.size === 1 && erased.head.startsWith("v"),
      s"erasure history not surfaced: $erased")
  }

  test("discovery stops at a manifest: store internals are never separate stores") {
    val root = tree()
    val docs = Seq((1L, "a\nb")).toDF("doc_id", "text")
    Dedup.lineFirstOccIndexWrite(
      Dedup.lineFirstOccIndex(docs, "doc_id", "text", "\n"),
      s"$root/deep/nest/lines", sep = "\n")
    def found(): Seq[String] =
      Maintenance.discoverStores(spark, root)
        .map(_.stripPrefix("file:")) // local FS echoes the scheme
    assert(found() === Seq(s"$root/deep/nest/lines"))
    // compacting writes _base under the store; a rediscovery still
    // sees ONE store, not the version directories
    Maintenance.compactAll(spark, root)
    assert(found() === Seq(s"$root/deep/nest/lines"))
  }

  test("unknown family fails the sweep LOUDLY, after other stores compacted") {
    val root = tree()
    val docs = Seq((1L, "a\nb"), (2L, "b\nc")).toDF("doc_id", "text")
    Dedup.lineFirstOccIndexWrite(
      Dedup.lineFirstOccIndex(docs, "doc_id", "text", "\n"),
      s"$root/good", sep = "\n")
    // hand-plant an alien manifest
    IndexMeta.write(spark, s"$root/alien",
      IndexMeta("martian_index", "x" -> 1))
    Seq(("k", 1L)).toDF("key", "n").withColumn("_epoch", lit("base"))
      .write.partitionBy("_epoch").mode("overwrite").parquet(s"$root/alien")
    IndexMeta.write(spark, s"$root/alien",
      IndexMeta("martian_index", "x" -> 1)) // rewrite after overwrite
    val e = intercept[RuntimeException] {
      Maintenance.compactAll(spark, root)
    }
    assert(e.getMessage.contains("martian_index"), e.getMessage)
    assert(e.getMessage.contains("1 of 2"), e.getMessage)
    // the good store DID compact before the sweep raised
    assert(Dedup.lineFirstOccIndexRead(spark, s"$root/good").count() > 0)
    assert(graft.sources.Fs.exists(spark, s"$root/good/_base/_CURRENT"))
  }

  test("fresh manifest-only store is skipped, not failed") {
    val root = tree()
    IndexMeta.write(spark, s"$root/fresh",
      IndexMeta("line_first_occ", "sep" -> "\n", "minLineLen" -> 1))
    val results = Maintenance.compactAll(spark, root)
    assert(results.size === 1)
    assert(!results.head.failed && results.head.stats.isEmpty)
  }

  test("benign skip is TYPED: a genuine failure whose message contains the phrase still fails") {
    val root = tree()
    // an unknown family whose NAME smuggles the old magic substring
    // into the error message — under the retired message-substring
    // protocol this was silently skipped; it must fail the sweep
    IndexMeta.write(spark, s"$root/evil",
      IndexMeta("martian nothing to compact", "x" -> 1))
    val e = intercept[RuntimeException] {
      Maintenance.compactAll(spark, root)
    }
    assert(e.getMessage.contains("FAILED"), e.getMessage)
    // while the honest typed skip stays benign
    IndexMeta.write(spark, s"$root/evil",
      IndexMeta("quality_cuts", "score" -> "ppl"))
    val results = Maintenance.compactAll(spark, root)
    assert(results.size === 1)
    assert(!results.head.failed && results.head.stats.isEmpty)
  }

  test("certification index families dispatch through the sweep") {
    val root = tree()
    import spark.implicits._
    Dedup.certIndexWrite(
      Seq((1L, "alpha beta gamma")).toDF("doc_id", "text"),
      "doc_id", "text", s"$root/cert_text", Dedup.Jaccard(0.8))
    Dedup.certIndexAppend(spark, s"$root/cert_text",
      Seq((2L, "delta epsilon zeta")).toDF("doc_id", "text"),
      "doc_id", "text", "b1", Dedup.Jaccard(0.8))
    val rnd = new scala.util.Random(3)
    def v() = Array.fill(4)(rnd.nextGaussian().toFloat)
    Dedup.certIndexWrite(
      Seq((1L, v()), (2L, v()), (3L, v())).toDF("vec_id", "embedding"),
      "vec_id", "embedding", s"$root/cert_vec", Dedup.Cosine(0.8))
    Dedup.certIndexAppend(spark, s"$root/cert_vec",
      Seq((4L, v())).toDF("vec_id", "embedding"),
      "vec_id", "embedding", "b1", Dedup.Cosine(0.8))
    Dedup.ccLabelsFold(spark, s"$root/cc_labels",
      Seq((1L, 2L)).toDF("id_a", "id_b"), "b1", "cosine", 0.8)
    val results = Maintenance.compactAll(spark, root)
    assert(results.size === 3)
    assert(results.forall(r => !r.failed && r.stats.exists(_.folded.nonEmpty)))
  }
  test("erasureAudit: non-integral id columns and partition-dir ids are REPORTED, partition values audited from the path") {
    val root = tree()
    // store 1: string-keyed ids — the sweep must DISCLOSE it cannot
    // verify, never silently narrow the certificate
    Seq(("u-2", "x"), ("u-9", "y")).toDF("doc_id", "text")
      .write.parquet(s"$root/strid/data")
    IndexMeta.write(spark, s"$root/strid", IndexMeta("planted", Map.empty[String, String]))
    // store 2: the id lives in the partition DIRECTORY NAME — an
    // explicit-file read never materializes it, so only the path
    // audit can see the victim; plus a string-valued partition
    // column with an id name (unverifiable from the path)
    Seq((2L, "s0", "a"), (4L, "s1", "b"), (9L, "s0", "c"), (9L, "s1", "d"))
      .toDF("doc_id", "corpus_id", "text")
      .write.partitionBy("doc_id", "corpus_id").parquet(s"$root/partid/data")
    IndexMeta.write(spark, s"$root/partid", IndexMeta("planted", Map.empty[String, String]))
    val report = Maintenance.erasureAudit(spark, root, Seq(9L))
    assert(report.hits.map(h =>
      (h.root.endsWith("/partid"), h.column, h.nRows)) === Seq((true, "doc_id", 2L)),
      s"$report")
    val unv = report.unverified.map(u =>
      (u.root.split('/').last, u.column, u.dataType)).toSet
    assert(unv === Set(
      ("strid", "doc_id", "string"),
      ("partid", "corpus_id", "partition-dir(non-long values)")), s"$report")
    // requireErased names the hits AND the blind spots
    val e = intercept[IllegalArgumentException] {
      Maintenance.requireErased(spark, root, Seq(9L))
    }
    assert(e.getMessage.contains("INCOMPLETE") &&
      e.getMessage.contains("NOT VERIFIABLE") &&
      e.getMessage.contains("strid"), e.getMessage)
    // a victim id that appears nowhere certifies cleanly — and the
    // certificate still carries the unverifiable columns
    val ok = Maintenance.requireErased(spark, root, Seq(12345L))
    assert(ok.hits.isEmpty && ok.unverified === report.unverified)
  }

  test("erasureAudit: footer min/max pruning scans strictly fewer files with identical hits; mergeSchema audits late-epoch columns") {
    val root = tree()
    // two disjoint id ranges in separate files, plus a third file
    // that ADDS an id column the first two lack (the schema-drift
    // case a sampled-schema read would miss)
    Seq.tabulate(50)(i => (i + 1L, s"t$i")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(s"$root/store/data")
    Seq.tabulate(50)(i => (i + 1001L, s"t$i")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(s"$root/store/data")
    Seq((5000L, "t", 77L)).toDF("doc_id", "text", "corpus_id")
      .coalesce(1).write.mode("append").parquet(s"$root/store/data")
    IndexMeta.write(spark, s"$root/store", IndexMeta("planted", Map.empty[String, String]))
    // victim 1005 lives only in the second file's range; victim 77
    // only in the THIRD file's late-added corpus_id column
    val pruned = Maintenance.erasureAudit(spark, root, Seq(1005L, 77L))
    val full = Maintenance.erasureAudit(spark, root, Seq(1005L, 77L),
      footerPrune = false)
    assert(pruned.hits.toSet === full.hits.toSet, s"$pruned vs $full")
    assert(pruned.hits.map(h => (h.column, h.nRows)).toSet ===
      Set(("doc_id", 1L), ("corpus_id", 1L)), s"$pruned")
    assert(full.filesTotal === 3L && full.filesScanned === 3L)
    assert(pruned.filesTotal === 3L && pruned.filesScanned === 2L,
      s"pruning did not skip the out-of-range file: $pruned")
    // a victim outside every range scans NOTHING yet still certifies
    val none = Maintenance.erasureAudit(spark, root, Seq(999999L))
    assert(none.hits.isEmpty && none.filesScanned === 0L, s"$none")
  }

  test("erasureAudit refuses when store discovery bottoms out at maxDepth with unexplored directories") {
    val root = tree()
    Seq((1L, "x")).toDF("doc_id", "text")
      .write.parquet(s"$root/a/b/c/d/deep/data")
    IndexMeta.write(spark, s"$root/a/b/c/d/deep", IndexMeta("planted", Map.empty[String, String]))
    assert(Maintenance.unexploredDirs(spark, root, maxDepth = 2).nonEmpty)
    val e = intercept[IllegalArgumentException] {
      Maintenance.erasureAudit(spark, root, Seq(1L), maxDepth = 2)
    }
    assert(e.getMessage.contains("unexplored") ||
      e.getMessage.contains("bottomed out"), e.getMessage)
    // deep enough, the walk completes and finds the store
    val report = Maintenance.erasureAudit(spark, root, Seq(1L), maxDepth = 6)
    assert(report.hits.map(_.column) === Seq("doc_id"))
    assert(Maintenance.unexploredDirs(spark, root, maxDepth = 6).isEmpty)
  }

}
