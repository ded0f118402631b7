package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The epoch-store contracts: compaction equivalence (probe-after ≡
  * probe-before), the never-lose-an-epoch snapshot guarantee, the
  * one-generation-late GC, the replay-across-compaction refusal, and
  * the `_GRAFT_META` parameter-manifest guards. */
class EpochIndexSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/store"

  private def docs(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  // Three disjoint "daily batches" sharing lines across epochs, so the
  // first-occurrence fold has real cross-epoch work to do.
  private val b1 = docs(1L -> "alpha\nshared one\nbeta", 2L -> "shared one\ngamma")
  private val b2 = docs(10L -> "shared one\nshared two", 11L -> "delta\nshared two")
  private val b3 = docs(20L -> "shared two\nepsilon", 21L -> "zeta")

  private val lines = Dedup.lineFirstOcc("\n")

  private def buildThreeEpochStore(path: String): Unit = {
    lines.write(Dedup.lineFirstOccIndex(b1, "doc_id", "text", "\n"), path)
    lines.append(spark, path, Dedup.lineFirstOccIndex(b2, "doc_id", "text", "\n"), "day-2")
    lines.append(spark, path, Dedup.lineFirstOccIndex(b3, "doc_id", "text", "\n"), "day-3")
  }

  private def snap(df: DataFrame): Set[(String, Long, Int)] =
    df.select("fp", "wid", "wpos").as[(String, Long, Int)].collect().toSet

  test("compaction: probe-after equals probe-before, across repeated compactions") {
    val path = tmp("graft-ei-eq")
    buildThreeEpochStore(path)
    val before = snap(lines.read(spark, path))
    // sanity: equals a single-shot build over the union
    assert(before === snap(Dedup.lineFirstOccIndex(
      b1.union(b2).union(b3), "doc_id", "text", "\n")))

    val s1 = Maintenance.compactStore(spark, path)
    assert(s1.folded.toSet === Set("base", "day-2", "day-3"))
    assert(s1.carried.isEmpty && s1.gcd.isEmpty)
    assert(snap(lines.read(spark, path)) === before)

    // append after compaction, read sees base + new epoch
    lines.append(spark, path, Dedup.lineFirstOccIndex(docs(30L -> "shared two\nnew day"),
        "doc_id", "text", "\n"), "day-4")
    val withDay4 = snap(lines.read(spark, path))
    assert(withDay4 === snap(Dedup.lineFirstOccIndex(
      b1.union(b2).union(b3).union(docs(30L -> "shared two\nnew day")),
      "doc_id", "text", "\n")))

    // second compaction folds only the new epoch; the first
    // generation's folded directories are GC'd now (one generation
    // late — no retained version lists them as live)
    val s2 = Maintenance.compactStore(spark, path)
    assert(s2.folded === Seq("day-4"))
    assert(s2.carried.toSet === Set("base", "day-2", "day-3"))
    assert(s2.gcd.toSet === Set("base", "day-2", "day-3"))
    assert(!new java.io.File(s"$path/_epoch=base").exists())
    assert(!new java.io.File(s"$path/_epoch=day-2").exists())
    assert(snap(lines.read(spark, path)) === withDay4)

    // compacting with nothing new is a harmless no-op rewrite
    val s3 = Maintenance.compactStore(spark, path)
    assert(s3.folded.isEmpty)
    assert(snap(lines.read(spark, path)) === withDay4)
  }

  test("an epoch appended DURING compaction is never lost") {
    val path = tmp("graft-ei-race")
    buildThreeEpochStore(path)
    val late = Dedup.lineFirstOccIndex(
      docs(40L -> "landed mid-compaction"), "doc_id", "text", "\n")
    // the fold callback runs after the snapshot listing and before the
    // pointer flip — appending from inside it IS a write concurrent
    // with compaction
    var appended = false
    EpochIndex.compact(spark, path, { input =>
      EpochIndex.append(late, path, "late-epoch")
      appended = true
      input.groupBy(col("fp"))
        .agg(min(struct(col("wid"), col("wpos"))).as("w"))
        .select(col("fp"), col("w.wid").as("wid"), col("w.wpos").as("wpos"))
    })
    assert(appended)
    // the late epoch is not in the folded manifest, so the read unions
    // it on top of the compacted base — nothing lost
    val got = snap(lines.read(spark, path))
    assert(got === snap(Dedup.lineFirstOccIndex(
      b1.union(b2).union(b3).union(docs(40L -> "landed mid-compaction")),
      "doc_id", "text", "\n")))
  }

  test("torn append (data, no commit marker) is invisible, never folds, and is reported") {
    val path = tmp("graft-ei-torn")
    buildThreeEpochStore(path)
    val before = snap(lines.read(spark, path))
    // simulate a crash between the epoch data write and the commit
    // marker: the first half of EpochIndex.append, verbatim
    Dedup.lineFirstOccIndex(docs(40L -> "torn line\nshared one"),
      "doc_id", "text", "\n")
      .withColumn(EpochIndex.EpochCol, lit("torn-1"))
      .write.partitionBy(EpochIndex.EpochCol)
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(path)
    assert(new java.io.File(s"$path/_epoch=torn-1").exists())
    // probes never see the torn rows; the store reports the leftover
    assert(snap(lines.read(spark, path)) === before)
    assert(EpochIndex.uncommittedEpochNames(spark, path) === Seq("torn-1"))
    // compaction ignores it — not folded, not GC'd — and reports it
    val s1 = Maintenance.compactStore(spark, path)
    assert(!s1.folded.contains("torn-1") && !s1.gcd.contains("torn-1"))
    assert(s1.uncommitted === Seq("torn-1"))
    assert(new java.io.File(s"$path/_epoch=torn-1").exists())
    assert(snap(lines.read(spark, path)) === before)
    // the writer re-runs (idempotent dynamic overwrite) — the marker
    // lands last and only then does the epoch become visible
    lines.append(spark, path, Dedup.lineFirstOccIndex(docs(40L -> "torn line\nshared one"),
        "doc_id", "text", "\n"), "torn-1")
    assert(EpochIndex.uncommittedEpochNames(spark, path).isEmpty)
    assert(snap(lines.read(spark, path)) ===
      snap(Dedup.lineFirstOccIndex(
        b1.union(b2).union(b3).union(docs(40L -> "torn line\nshared one")),
        "doc_id", "text", "\n")))
    val s2 = Maintenance.compactStore(spark, path)
    assert(s2.folded === Seq("torn-1") && s2.uncommitted.isEmpty)
  }

  test("time travel: readAsOf returns an old compaction exactly; GC'd versions refuse") {
    val path = tmp("graft-ei-tt")
    // v1 folds batch 1 alone; v2 folds everything
    lines.write(Dedup.lineFirstOccIndex(b1, "doc_id", "text", "\n"), path)
    Maintenance.compactStore(spark, path)
    lines.append(spark, path, Dedup.lineFirstOccIndex(b2, "doc_id", "text", "\n"), "day-2")
    Maintenance.compactStore(spark, path)
    val (retained, current) = EpochIndex.versions(spark, path)
    assert(retained.size === 2 && current.contains(retained.last))
    // the old snapshot is exactly the batch-1 index, bit for bit,
    // even though the live store has folded batch 2 since
    assert(snap(EpochIndex.readAsOf(spark, path, retained.head)) ===
      snap(Dedup.lineFirstOccIndex(b1, "doc_id", "text", "\n")))
    assert(snap(EpochIndex.readAsOf(spark, path, retained.last)) ===
      snap(Dedup.lineFirstOccIndex(b1.union(b2), "doc_id", "text", "\n")))
    // a third compaction (keepVersions = 2) GCs v1 — reading it must
    // refuse with the retained list, never return empty
    lines.append(spark, path, Dedup.lineFirstOccIndex(b3, "doc_id", "text", "\n"), "day-3")
    Maintenance.compactStore(spark, path)
    val e = intercept[IllegalArgumentException] {
      EpochIndex.readAsOf(spark, path, retained.head)
    }
    assert(e.getMessage.contains("not retained"), e.getMessage)
    assert(e.getMessage.contains("keepVersions"), e.getMessage)
  }

  test("replay exclusion of an already-folded epoch refuses loudly") {
    val path = tmp("graft-ei-replay")
    buildThreeEpochStore(path)
    // pre-compaction: excluding a live epoch works
    val without2 = snap(lines.read(spark, path, excludeEpoch = Some("day-2")))
    assert(without2 === snap(Dedup.lineFirstOccIndex(
      b1.union(b3), "doc_id", "text", "\n")))
    Maintenance.compactStore(spark, path)
    val e = intercept[IllegalArgumentException] {
      lines.read(spark, path, excludeEpoch = Some("day-2")).collect()
    }
    assert(e.getMessage.contains("already compacted"), e.getMessage)
  }

  test("boilerplate counts: compaction preserves summed frequencies") {
    val path = tmp("graft-ei-bp")
    Dedup.boilerplateCounts("\n").write(Dedup.boilerplateIndex(b1, "doc_id", "text", "\n"), path)
    Dedup.boilerplateCounts("\n").append(spark, path, Dedup.boilerplateIndex(b2,
      "doc_id", "text", "\n"), "day-2")
    val before = Dedup.boilerplateCounts("\n").read(spark, path)
      .as[(String, Long)].collect().toSet
    Maintenance.compactStore(spark, path)
    val after = Dedup.boilerplateCounts("\n").read(spark, path)
      .as[(String, Long)].collect().toSet
    assert(after === before)
    assert(before === Dedup.boilerplateIndex(
      b1.union(b2), "doc_id", "text", "\n")
      .as[(String, Long)].collect().toSet)
  }

  test("_GRAFT_META: mismatched parameters refuse; matched read clean; missing refuses") {
    val path = tmp("graft-ei-meta")
    buildThreeEpochStore(path)
    // matched: reads clean
    assert(Dedup.lineFirstOcc("\n", 1).read(spark, path).count() > 0)
    // wrong sep: refuses with the stored-vs-probe diff
    val e1 = intercept[IllegalArgumentException] {
      Dedup.lineFirstOcc(" the ", 1).read(spark, path)
    }
    assert(e1.getMessage.contains("sep"), e1.getMessage)
    // wrong family (a boilerplate probe over a line store): refuses
    val e2 = intercept[IllegalArgumentException] {
      Dedup.boilerplateCounts("\n", 1).read(spark, path)
    }
    assert(e2.getMessage.contains("family"), e2.getMessage)
    // appends are guarded the same way
    val e3 = intercept[IllegalArgumentException] {
      Dedup.lineFirstOcc(" the ").append(spark, path, Dedup.lineFirstOccIndex(b2,
        "doc_id", "text", " the "), "dayX")
    }
    assert(e3.getMessage.contains("sep"), e3.getMessage)
    // a manifest-less store refuses a checked read (probe on faith)
    val bare = tmp("graft-ei-bare")
    EpochIndex.bootstrap(
      Dedup.lineFirstOccIndex(b1, "doc_id", "text", "\n"), bare)
    val e4 = intercept[IllegalStateException] {
      Dedup.lineFirstOcc("\n", 1).read(spark, bare)
    }
    assert(e4.getMessage.contains("_GRAFT_META"), e4.getMessage)
    // ... while the raw epoch layout itself still reads (legacy layout)
    assert(EpochIndex.read(spark, bare).count() > 0)
  }

  test("bootstrap over a previously-compacted store removes the stale base and epochs — a bootstrap IS a fresh index") {
    // the silent-staleness hazard the round-15 q235 bench loop caught:
    // Spark's static overwrite replaces only the partition directories
    // it writes, so without bootstrap's explicit sweep a re-bootstrap
    // would leave the old compacted base (and any epoch name it does
    // not write) in place — and every later read would UNION the old
    // index into the new one
    val path = tmp("graft-ei-reboot")
    EpochIndex.bootstrap(Seq((1L, "a")).toDF("id", "v"), path)
    EpochIndex.append(Seq((2L, "b")).toDF("id", "v"), path, "e1")
    EpochIndex.compact(spark, path, identity)
    // re-bootstrap with DIFFERENT rows: only they may survive
    EpochIndex.bootstrap(Seq((100L, "z")).toDF("id", "v"), path)
    val got = EpochIndex.read(spark, path).select("id")
      .as[Long].collect().toSet
    assert(got === Set(100L), s"stale rows survived the re-bootstrap: $got")
    // the old base versions are gone, not just unread
    val (retained, current) = EpochIndex.versions(spark, path)
    assert(retained.isEmpty && current.isEmpty,
      s"stale base versions survived: $retained / $current")
    // and the fresh store composes normally with appends + compaction
    EpochIndex.append(Seq((101L, "y")).toDF("id", "v"), path, "e1")
    EpochIndex.compact(spark, path, identity)
    assert(EpochIndex.read(spark, path).select("id")
      .as[Long].collect().toSet === Set(100L, 101L))
  }

  test("eraseRewrite: erased rows leave the DISK (every version, epoch and marker), reads stay exact; torn appends refuse") {
    val path = tmp("graft-ei-erase")
    EpochIndex.bootstrap(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), path)
    EpochIndex.append(Seq((3L, "c"), (4L, "d")).toDF("id", "v"), path, "e1")
    EpochIndex.compact(spark, path, identity)
    EpochIndex.append(Seq((5L, "e"), (2L, "b2")).toDF("id", "v"), path, "e2")
    EpochIndex.eraseRewrite(spark, path,
      p => p.filter(!col("id").isin(2L, 4L)))
    assert(EpochIndex.read(spark, path).select("id")
      .as[Long].collect().toSet === Set(1L, 3L, 5L))
    // disk-level: walk EVERY parquet file under the root (including
    // retained base versions — Spark readers skip _-prefixed paths,
    // which is exactly where stale copies would hide) and assert no
    // erased id survives anywhere
    def parquetFiles(dir: java.io.File): Seq[String] =
      Option(dir.listFiles).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) parquetFiles(f)
        else if (f.getName.endsWith(".parquet")) Seq(f.getPath) else Nil
      }
    val files = parquetFiles(new java.io.File(path))
    assert(files.nonEmpty, "nothing left on disk after erase")
    val onDisk = spark.read.parquet(files: _*).select("id")
      .as[Long].collect().toSet
    assert(!onDisk.contains(2L) && !onDisk.contains(4L),
      s"erased ids survive on disk: $onDisk in $files")
    // exactly one retained version — the erased one
    val (retained, _) = EpochIndex.versions(spark, path)
    assert(retained.size === 1, s"stale versions retained: $retained")
    // the store remains a normal store: append + read compose
    EpochIndex.append(Seq((6L, "f")).toDF("id", "v"), path, "e3")
    assert(EpochIndex.read(spark, path).select("id")
      .as[Long].collect().toSet === Set(1L, 3L, 5L, 6L))
    // a torn append (data, no marker) refuses the erase loudly: its
    // rows are invisible to the fold and would survive as an
    // unreachable copy
    Seq((7L, "g")).toDF("id", "v").withColumn("_epoch", lit("torn"))
      .write.option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").partitionBy("_epoch").parquet(path)
    val e = intercept[IllegalArgumentException] {
      EpochIndex.eraseRewrite(spark, path, identity)
    }
    assert(e.getMessage.contains("torn"), e.getMessage)
  }

  test("eraseRewrite: TOTAL erasure tears the store down instead of publishing a file-less base") {
    // Spark writes no parquet files for an empty partitioned frame, so
    // publishing the empty fold would flip _CURRENT to a base that
    // bricks every later read at schema inference — and refusing would
    // leave the erased rows ON DISK. The contract: teardown.
    val path = tmp("graft-ei-erase-all")
    EpochIndex.bootstrap(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), path)
    EpochIndex.append(Seq((3L, "c")).toDF("id", "v"), path, "e1")
    EpochIndex.compact(spark, path, identity)
    val stats = EpochIndex.eraseRewrite(spark, path, _.filter(lit(false)))
    assert(stats.version === EpochIndex.TornDownVersion)
    assert(!EpochIndex.nonEmpty(spark, path))
    // nothing data-shaped survives anywhere under the root — not in
    // epoch dirs, not in _base versions, not as commit markers
    def parquetFiles(dir: java.io.File): Seq[String] =
      Option(dir.listFiles).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) parquetFiles(f)
        else if (f.getName.endsWith(".parquet")) Seq(f.getPath) else Nil
      }
    assert(parquetFiles(new java.io.File(path)).isEmpty,
      "parquet files survive a total erasure")
    assert(!new java.io.File(path, "_base").exists,
      "_base tree survives a total erasure")
    assert(!new java.io.File(path, "_commits").exists,
      "commit markers survive a total erasure")
    // the torn-down store starts a clean new life: append composes
    EpochIndex.append(Seq((9L, "z")).toDF("id", "v"), path, "e9")
    assert(EpochIndex.read(spark, path).select("id")
      .as[Long].collect().toSet === Set(9L))
    // inner-partitioned twin (the cert_text/cert_vec erase shape the
    // ADVICE flagged): branch dirs must go too
    val p2 = tmp("graft-ei-erase-all-inner")
    EpochIndex.bootstrap(
      Seq((1L, 0, "a"), (2L, 1, "b")).toDF("id", "pb", "v"), p2,
      innerPartCols = Seq("pb"))
    EpochIndex.compact(spark, p2, identity, innerPartCols = Seq("pb"))
    val s2 = EpochIndex.eraseRewrite(spark, p2, _.filter(lit(false)),
      innerPartCols = Seq("pb"))
    assert(s2.version === EpochIndex.TornDownVersion)
    assert(!EpochIndex.nonEmpty(spark, p2, innerPartCols = Seq("pb")))
    val shells = Option(new java.io.File(p2).listFiles).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.contains("="))
    assert(shells.isEmpty, s"partition shells survive: ${shells.toSeq}")
  }

  test("writeIfAbsent records once and never clobbers; nonEmpty ignores bookkeeping") {
    val path = tmp("graft-ei-wia")
    val meta = IndexMeta("line_first_occ", "sep" -> "\n", "minLineLen" -> 1)
    // the first publish WINS (atomic temp + rename, content-verified)…
    assert(IndexMeta.writeIfAbsent(spark, path, meta))
    assert(IndexMeta.read(spark, path) === Some(
      IndexMeta("line_first_occ", Map("sep" -> "\n", "minLineLen" -> "1"))))
    // meta-only root: no stored index yet
    assert(!EpochIndex.nonEmpty(spark, path))
    // …and every later candidate LOSES: return false, winner intact —
    // the signal that tells a racing first activation to re-read the
    // surviving manifest instead of assuming its own (the cert_vec
    // frozen-pivot freeze rides on exactly this)
    assert(!IndexMeta.writeIfAbsent(spark, path,
      IndexMeta("line_first_occ", "sep" -> "ZZZ", "minLineLen" -> 9)))
    assert(IndexMeta.read(spark, path).get.params("sep") === "\n")
    EpochIndex.append(
      Dedup.lineFirstOccIndex(b1, "doc_id", "text", "\n"), path, "e1")
    assert(EpochIndex.nonEmpty(spark, path))
  }

  test("LinePartial token: a mismatched batch partial refuses instead of mis-cleaning") {
    val index = Dedup.lineFirstOccIndex(b1, "doc_id", "text", "\n")
    val wrongSep = Dedup.lineFirstOccPartial(b2, "doc_id", "text", " the ")
    val e = intercept[IllegalArgumentException] {
      Dedup.incrementalDedupLines(b2, "doc_id", "text", index, "\n",
        batchIndex = Some(wrongSep))
    }
    assert(e.getMessage.contains("sep"), e.getMessage)
    // wrong family: a counts partial handed to the dedup cleaner
    val wrongFam = Dedup.boilerplateCountsPartial(b2, "doc_id", "text", "\n")
    val e2 = intercept[IllegalArgumentException] {
      Dedup.incrementalDedupLines(b2, "doc_id", "text", index, "\n",
        batchIndex = Some(wrongFam))
    }
    assert(e2.getMessage.contains("boilerplate"), e2.getMessage)
    // matched: equals the build-it-yourself path
    val ok = Dedup.lineFirstOccPartial(b2, "doc_id", "text", "\n")
    val got = Dedup.incrementalDedupLines(b2, "doc_id", "text", index, "\n",
      batchIndex = Some(ok))
      .as[(Long, String, Long)].collect().toSet
    val want = Dedup.incrementalDedupLines(b2, "doc_id", "text", index, "\n")
      .as[(Long, String, Long)].collect().toSet
    assert(got === want)
  }

  test("IVF store: probe-after-compaction equals probe-before (cell-partitioned inner layout)") {
    val root = tmp("graft-ei-ivf")
    val dim = 4
    def vec(seed: Long): Array[Float] =
      Array.tabulate(dim)(i => (((seed * 31 + i * 7) % 13) - 6).toFloat / 6f)
    val corpus = (1L to 40L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val batch = (41L to 60L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val queries = Seq((1000L, vec(1000L)), (1001L, vec(1001L)))
      .toDF("vec_id", "embedding")
    val cents = Similarity.pickCentroids(corpus, "vec_id", "embedding", 4)
    Similarity.ivfIndexWrite(
      Similarity.ivfIndex(corpus, cents, "vec_id", "embedding"), root)
    Similarity.ivfAppendWrite(spark, root, batch, "vec_id", "embedding",
      epochLabel = "day-2")
    def probe(): Set[(Long, Long, Double)] =
      Similarity.ivfProbeStored(spark, root, queries, "vec_id", "embedding",
        k = 5, nProbe = 2)
        .select("query_id", "neighbor_id", "cos")
        .as[(Long, Long, Double)].collect().toSet
    val before = probe()
    assert(before.nonEmpty)
    val stats = Maintenance.compactStore(spark, root)
    assert(stats.folded.toSet === Set("base", "day-2"))
    assert(probe() === before)
    // probing under the wrong columns refuses via the manifest
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfProbeStored(spark, root,
        queries.withColumnRenamed("embedding", "emb"), "vec_id", "emb", k = 5)
    }
    assert(e.getMessage.toLowerCase.contains("cols"), e.getMessage)
  }

  test("DSIR store: append + compaction preserve scores; bucket mismatch refuses") {
    val root = tmp("graft-ei-dsir")
    val c1 = docs(1L -> "alpha beta gamma alpha beta", 2L -> "beta gamma delta")
    val c2 = docs(10L -> "alpha beta epsilon", 11L -> "zeta eta theta")
    val batch = docs(20L -> "alpha beta gamma", 21L -> "unseen words here")
    val tgt = col("doc_id") % 2 === 0
    Splits.dsir(64).write(Splits.dsirIndex(c1, "doc_id", "text", tgt, 64), root)
    Splits.dsir(64).append(spark, root, Splits.dsirIndex(c2, "doc_id", "text", tgt, 64), "day-2")
    val stored = Splits.dsir(64).read(spark, root)
    val direct = Splits.dsirIndex(c1.union(c2), "doc_id", "text", tgt, 64)
    def score(index: DataFrame): Set[(Long, Long, Double)] =
      Splits.dsirScoreWithIndex(batch, "doc_id", "text", index, 64)
        .as[(Long, Long, Double)].collect().toSet
    assert(score(stored) === score(direct))
    Maintenance.compactStore(spark, root)
    assert(score(Splits.dsir(64).read(spark, root)) === score(direct))
    val e = intercept[IllegalArgumentException] {
      Splits.dsir(128).read(spark, root)
    }
    assert(e.getMessage.contains("buckets"), e.getMessage)
  }

  test("band store: write/append/read round-trips under a checked manifest; identity compaction") {
    val root = tmp("graft-ei-band")
    val lsh = Dedup.MinHash(numHashes = 8, bands = 4)
    val idx1 = Dedup.bandIndex(b1, "doc_id", "text", lsh)
    val idx2 = Dedup.bandIndex(b2, "doc_id", "text", lsh)
    Dedup.bandIndexWrite(b1, "doc_id", "text", root, lsh)
    Dedup.bandIndexAppend(spark, root, b2, "doc_id", "text", "day-2", lsh)
    def rows(): Set[(Int, Long, Long)] =
      Dedup.bandIndexRead(spark, root, lsh)
        .select("band", "bh", "id").as[(Int, Long, Long)].collect().toSet
    val before = rows()
    assert(before === (idx1.union(idx2)
      .select("band", "bh", "id").as[(Int, Long, Long)].collect().toSet))
    Maintenance.compactStore(spark, root)
    assert(rows() === before)
    val e = intercept[IllegalArgumentException] {
      Dedup.bandIndexRead(spark, root, lsh.copy(numHashes = 16))
    }
    assert(e.getMessage.contains("numHashes"), e.getMessage)
  }

  test("band store probe reads are PARTITION-PRUNED to the batch's band-key buckets (all three families)") {
    // the round-16 scan contract (the cert-store discipline applied to
    // the legacy band families): a batch probe reads only the bb
    // buckets its own band keys hash into — asserted on the physical
    // scan, the CertStoreSpec convention. AQE off so the scan is
    // inspectable in the static plan.
    def scansOf(df: org.apache.spark.sql.DataFrame, frag: String) =
      df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains(frag)) => s
      }
    def partsRead(s: org.apache.spark.sql.execution.FileSourceScanExec) =
      s.relation.location.listFiles(s.partitionFilters, Nil).size
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val corpus = (0 until 80).map(i =>
        (i.toLong, s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i"))
        .toDF("doc_id", "text")
      val oneDoc = Seq((900L, "alpha7 beta7 gamma7 delta7 epsilon7 zeta7"))
        .toDF("doc_id", "text")
      // SimHash: a one-doc batch has 4 band keys → ≤ 4 of 16 buckets
      val shRoot = tmp("graft-ei-shprune")
      Dedup.bandIndexWrite(corpus, "doc_id", "text", shRoot,
        Dedup.SimHash(), buckets = 16)
      val sh = scansOf(Dedup.lshProbeStore(spark, shRoot,
        oneDoc, "doc_id", "text", Dedup.SimHash(), buckets = 16), "shprune")
      assert(sh.nonEmpty, "no store scan in the SimHash probe plan")
      assert(sh.forall(_.partitionFilters.nonEmpty),
        "SimHash probe scan lost its partition filter")
      assert(sh.map(partsRead).max <= 4,
        s"SimHash probe read ${sh.map(partsRead).max} bb partitions")
      // the store populates more buckets than the probe reads —
      // the bound above is pruning, not a tiny store
      assert(spark.read.parquet(shRoot).select("bb").distinct().count() > 4)
      // MinHash: 4 bands → ≤ 4 of 16 buckets
      val mhRoot = tmp("graft-ei-mhprune")
      val mhLsh = Dedup.MinHash(numHashes = 8, bands = 4, shingleK = 1,
        threshold = 0.0)
      Dedup.bandIndexWrite(corpus, "doc_id", "text", mhRoot, mhLsh,
        buckets = 16)
      val mh = scansOf(Dedup.lshProbeStore(spark, mhRoot,
        oneDoc, "doc_id", "text", mhLsh, buckets = 16), "mhprune")
      assert(mh.nonEmpty && mh.forall(_.partitionFilters.nonEmpty),
        "MinHash probe scan lost its partition filter")
      assert(mh.map(partsRead).max <= 4,
        s"MinHash probe read ${mh.map(partsRead).max} bb partitions")
      // SRP: 4 band keys → ≤ 4 of 16 buckets
      val rnd = new scala.util.Random(19)
      val vecs = (0 until 80).map(i =>
        (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
        .toDF("vec_id", "embedding")
      val srpRoot = tmp("graft-ei-srpprune")
      Dedup.bandIndexWrite(vecs, "vec_id", "embedding", srpRoot,
        Dedup.Srp(threshold = 0.9), buckets = 16)
      val srp = scansOf(Dedup.lshProbeStore(spark,
        srpRoot, Seq((900L, Array.fill(8)(rnd.nextGaussian().toFloat)))
          .toDF("vec_id", "embedding"),
        "vec_id", "embedding", Dedup.Srp(threshold = 0.9), buckets = 16),
        "srpprune")
      assert(srp.nonEmpty && srp.forall(_.partitionFilters.nonEmpty),
        "SRP probe scan lost its partition filter")
      assert(srp.map(partsRead).max <= 4,
        s"SRP probe read ${srp.map(partsRead).max} bb partitions")
      // a probe at a different bucketing refuses (its filter
      // expression would not match the stored layout)
      val e = intercept[IllegalArgumentException] {
        Dedup.lshProbeStore(spark, shRoot, oneDoc,
          "doc_id", "text", Dedup.SimHash(), buckets = 32)
      }
      assert(e.getMessage.contains("bb_buckets"), e.getMessage)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("probe stats: epochs scanned, base share, and growth are observable per read") {
    val path = tmp("graft-ei-obs")
    buildThreeEpochStore(path)
    val pre = lines.read(spark, path)
    pre.collect()
    val st1 = EpochIndex.probeStats(pre)
    assert(st1.size === 1, st1)
    assert(st1.head.store === path)
    assert(st1.head.epochsScanned === 3L) // base + day-2 + day-3, no compacted base yet
    assert(st1.head.baseRows === 0L)
    assert(st1.head.rowsAggregated > 0L)

    Maintenance.compactStore(spark, path)
    val post = lines.read(spark, path)
    post.collect()
    val st2 = EpochIndex.probeStats(post)
    assert(st2.head.epochsScanned === 0L) // every epoch folded into the base
    assert(st2.head.baseRows === st2.head.rowsAggregated)
    // the fold dedups cross-epoch repeats: the probe re-aggregates FEWER rows
    assert(st2.head.rowsAggregated <= st1.head.rowsAggregated)

    // append after compaction: the climbing live-epoch count IS the
    // "compaction due" signal the metric exists to expose
    lines.append(spark, path, Dedup.lineFirstOccIndex(docs(40L -> "shared two\nobserved day"),
        "doc_id", "text", "\n"), "day-5")
    val p3 = lines.read(spark, path)
    p3.collect()
    val st3 = EpochIndex.probeStats(p3)
    assert(st3.head.epochsScanned === 1L)
    assert(st3.head.baseRows > 0L &&
      st3.head.rowsAggregated > st3.head.baseRows)
  }

  test("observed=false reads carry no epoch_probe metric (the pruning-path contract)") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-epobs").toString + "/store"
    EpochIndex.bootstrap(Seq((1L, "a")).toDF("k", "v"), root)
    val observed = EpochIndex.read(spark, root)
    observed.collect()
    assert(EpochIndex.probeStats(observed).nonEmpty,
      "default read lost its observation")
    val silent = EpochIndex.read(spark, root, observed = false)
    silent.filter(col("k") === 1L).collect()
    assert(EpochIndex.probeStats(silent).isEmpty,
      "observed=false still attached a CollectMetrics barrier")
  }
}
