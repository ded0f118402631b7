package graft.operators

import graft.SparkSpecBase
import graft.sources.Tables
import org.apache.spark.sql.functions._

class LayoutSpec extends SparkSpecBase {
  import spark.implicits._

  /** Independent test-side de-interleave: bit (i·k + j) → col j bit i. */
  private def deinterleave(z: Long, k: Int, bits: Int): Seq[Long] =
    (0 until k).map { j =>
      (0 until bits).map(i => ((z >> (i * k + j)) & 1L) << i).sum
    }

  test("interleave round-trips through an independent de-interleave") {
    val rnd = new scala.util.Random(17)
    val rows = Seq.fill(200)((rnd.nextInt(1 << 16).toLong,
      rnd.nextInt(1 << 16).toLong, rnd.nextInt(1 << 16).toLong))
    val df = rows.toDF("a", "b", "c")
    val got = df.select(col("a"), col("b"), col("c"),
      Layout.interleave(Seq(col("a"), col("b"), col("c")), 16).as("z"))
      .collect()
    got.foreach { r =>
      assert(deinterleave(r.getLong(3), 3, 16) ===
        Seq(r.getLong(0), r.getLong(1), r.getLong(2)))
    }
  }

  test("bucketize is clamped to the domain and exact at the edges") {
    val df = Seq(0L, 1L, 499L, 999L).toDF("v")
    val b = df.select(Layout.bucketize(col("v"), 0L, 999L, 16).as("b"))
      .as[Long].collect().sorted
    assert(b.head === 0L)
    assert(b.last < (1L << 16)) // max value stays inside 2^bits
    // degenerate column: constant bucket
    val c = Seq(7L, 7L).toDF("v")
      .select(Layout.bucketize(col("v"), 7L, 7L, 16).as("b"))
      .as[Long].collect()
    assert(c.toSeq === Seq(0L, 0L))
  }

  test("zkey is deterministic and within k*bits bits") {
    val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
    val keys = Layout.zorderKey(li, Seq("l_partkey", "l_suppkey"), bits = 16)
      .select("zkey").as[Long]
    val a = keys.collect().sorted
    val b = Layout.zorderKey(li, Seq("l_partkey", "l_suppkey"), bits = 16)
      .select("zkey").as[Long].collect().sorted
    assert(a.toSeq === b.toSeq)
    assert(a.forall(z => z >= 0 && z < (1L << 32)))
  }

  /** The point of the operator: after a z-ordered write, per-file
    * min/max stats on BOTH dimensions are narrow, so a predicate on
    * either column prunes files. A round-robin write leaves every
    * file spanning the full domain — nothing prunes. */
  test("z-ordered files prune on every interleaved dimension; naive files don't") {
    val li = Tables.lineitem(spark, "/root/testdata/sf0.01")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    val base = new java.io.File("target/tmp/layout-spec").getAbsolutePath
    val nFiles = 8

    li.repartition(nFiles).write.mode("overwrite").parquet(s"$base/naive")
    Layout.zorderWrite(li, Seq("l_partkey", "l_suppkey"), s"$base/zorder", nFiles)

    def fileRanges(path: String): Array[(Long, Long, Long, Long)] =
      spark.read.parquet(path)
        .groupBy(input_file_name())
        .agg(min("l_partkey").as("pmin"), max("l_partkey").as("pmax"),
          min("l_suppkey").as("smin"), max("l_suppkey").as("smax"))
        .select("pmin", "pmax", "smin", "smax")
        .as[(Long, Long, Long, Long)].collect()

    val naive = fileRanges(s"$base/naive")
    val zord = fileRanges(s"$base/zorder")
    assert(naive.length === nFiles && zord.length === nFiles)

    // files a min/max-pruning reader must touch for a narrow predicate
    def touchedP(ranges: Array[(Long, Long, Long, Long)], lo: Long, hi: Long) =
      ranges.count { case (pmin, pmax, _, _) => pmax >= lo && pmin <= hi }
    def touchedS(ranges: Array[(Long, Long, Long, Long)], lo: Long, hi: Long) =
      ranges.count { case (_, _, smin, smax) => smax >= lo && smin <= hi }

    // round-robin: every file spans everything → zero pruning
    assert(touchedP(naive, 100, 150) === nFiles)
    assert(touchedS(naive, 10, 15) === nFiles)
    // z-order: curve segments bound each file to a small box, so a
    // narrow predicate on EITHER dimension touches at most half the
    // files (range boundaries come from sampling, so boxes straddle
    // bit boundaries slightly — exact quarter/half splits don't hold,
    // the ≤ half + small-area guarantees do)
    assert(touchedP(zord, 100, 150) <= nFiles / 2 + 1,
      s"partkey pruning too weak: ${zord.mkString(", ")}")
    assert(touchedS(zord, 10, 15) <= nFiles / 2,
      s"suppkey pruning too weak: ${zord.mkString(", ")}")
    // average normalized bounding-box area: naive ≈ 1.0 per file,
    // z-order must be far below (observed ≈ 0.23 at 8 files)
    def avgArea(ranges: Array[(Long, Long, Long, Long)]): Double =
      ranges.map { case (pmin, pmax, smin, smax) =>
        ((pmax - pmin + 1).toDouble / 2000) * ((smax - smin + 1).toDouble / 100)
      }.sum / ranges.length
    assert(avgArea(naive) > 0.9)
    assert(avgArea(zord) < 0.35,
      s"z-order boxes too large: avg area ${avgArea(zord)}")

    // and the rewrite lost no rows
    assert(spark.read.parquet(s"$base/zorder").count() === li.count())
  }

  test("equal-depth bucket tree equals the naive linear count, ties included") {
    val rnd = new scala.util.Random(101)
    // boundaries with deliberate duplicates (hot-value ties)
    val raw = Seq.fill(31)(rnd.nextInt(10).toDouble)
    val bs = (raw ++ raw.take(7)).sorted.toIndexedSeq // 38 sorted, many ties
    val probes = (-1 to 11).map(_.toDouble) ++ Seq.fill(50)(rnd.nextDouble() * 12 - 1)
    val df = probes.toDF("v")
    val got = df.select(col("v"), Layout.bucketOfSorted(col("v"), bs).as("b"))
      .as[(Double, Long)].collect()
    got.foreach { case (v, b) =>
      assert(b === bs.count(_ <= v).toLong, s"v=$v")
    }
  }

  test("equal-depth buckets equalize row mass on skewed data; linear buckets don't") {
    // quadratic skew: mass concentrates at the low end
    val skewed = (1 to 4000).map(i => (i.toLong, (i.toLong * i) / 4000))
      .toDF("id", "v")
    val bits = 4 // 16 buckets
    def occupancy(keyed: org.apache.spark.sql.DataFrame, k: Int): Double = {
      val counts = keyed
        .select((col("zkey") % (1L << bits)).as("b")) // dim 0 bits of a 1-dim key
        .groupBy("b").count().select("count").as[Long].collect()
      counts.max.toDouble / counts.sum
    }
    val eq = Layout.zorderKeyEqualDepth(skewed, Seq("v"), bits)
    val lin = Layout.zorderKey(skewed, Seq("v"), bits)
      .withColumn("zkey", col("zkey")) // same shape
    val eqShare = occupancy(eq, bits)
    val linShare = occupancy(lin, bits)
    // 16 equal-depth buckets → ideal share 1/16 ≈ 0.0625; allow 2x for
    // boundary ties. The linear split puts ~quarter of all rows in the
    // first bucket of a quadratic distribution (sqrt(1/16) = 1/4).
    assert(eqShare < 0.13, s"equal-depth max bucket share $eqShare")
    assert(linShare > 0.2, s"expected linear skew, got $linShare")
    // deterministic across runs
    val again = Layout.zorderKeyEqualDepth(skewed, Seq("v"), bits)
      .select("id", "zkey").as[(Long, Long)].collect().sortBy(_._1)
    assert(again.toSeq === eq.select("id", "zkey").as[(Long, Long)]
      .collect().sortBy(_._1).toSeq)
  }

  test("on skewed data, equal-depth writes prune the dense region; linear writes can't") {
    val rnd = new scala.util.Random(5)
    // x: quadratic skew — ~97% of the mass below 1e4 of a 1e6 domain;
    // y: uniform companion dimension
    val rows = (1 to 20000).map { _ =>
      val u = rnd.nextDouble()
      ((u * u * u * 1e6).toLong, rnd.nextInt(1000).toLong)
    } :+ ((1000000L, 999L)) // pin the domain max
    val df = rows.toDF("x", "y")
    val base = new java.io.File("target/tmp/layout-skew").getAbsolutePath
    val nFiles = 8
    Layout.zorderWrite(df, Seq("x", "y"), s"$base/linear", nFiles)
    Layout.zorderWrite(df, Seq("x", "y"), s"$base/eqdepth", nFiles,
      equalDepth = true)

    def touched(path: String, lo: Long, hi: Long): Int =
      spark.read.parquet(path)
        .groupBy(input_file_name())
        .agg(min("x").as("xmin"), max("x").as("xmax"))
        .select("xmin", "xmax").as[(Long, Long)].collect()
        .count { case (xmin, xmax) => xmax >= lo && xmin <= hi }

    // a narrow slice INSIDE the dense region (~the hot tenant / the
    // current day in a skewed timestamp): linear bucketing puts the
    // whole dense mass in bucket 0, so every file holding dense rows
    // spans it — no pruning where the queries actually land
    val linearTouched = touched(s"$base/linear", 2000, 4000)
    val eqTouched = touched(s"$base/eqdepth", 2000, 4000)
    // range-boundary sampling jitters ±1 file across session states,
    // so the absolute bound carries slack; the comparative claim is
    // the operator's contract
    assert(linearTouched > nFiles / 2,
      s"expected linear to span most dense-mass files, touched $linearTouched")
    assert(eqTouched <= nFiles / 2 + 1,
      s"equal-depth should prune the dense region, touched $eqTouched")
    assert(eqTouched < linearTouched,
      s"equal-depth ($eqTouched) must beat linear ($linearTouched) on skew")
    assert(spark.read.parquet(s"$base/eqdepth").count() === rows.size)
  }

  test("compact collapses an append-accreted directory, preserving rows and sort") {
    val base = new java.io.File("target/tmp/layout-compact").getAbsolutePath
    graft.sources.Fs.deleteRecursively(spark, base)
    // simulate 30 tiny streaming appends
    val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select("l_orderkey", "l_partkey", "l_quantity")
    (0 until 30).foreach { i =>
      li.filter(pmod(col("l_orderkey"), lit(30)) === i)
        .coalesce(1).write.mode("append").parquet(base)
    }
    val before = spark.read.parquet(base)
    val beforeRows = before.collect().map(_.toSeq).toSeq
    val beforeFiles = new java.io.File(base).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(beforeFiles >= 30)

    val stats = Layout.compact(spark, base,
      targetFileBytes = Long.MaxValue, sortCols = Seq("l_orderkey"))
    assert(stats.filesBefore === beforeFiles)
    assert(stats.filesAfter === 1)
    assert(stats.rows === beforeRows.size)
    val afterFiles = new java.io.File(base).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(afterFiles === 1)
    // same multiset of rows
    val afterRows = spark.read.parquet(base).collect().map(_.toSeq).toSeq
    assert(afterRows.groupBy(identity).view.mapValues(_.size).toMap ===
      beforeRows.groupBy(identity).view.mapValues(_.size).toMap)
    // clustering survived: the single file is sorted by l_orderkey
    val keys = spark.read.parquet(base).select("l_orderkey")
      .as[Long].collect()
    assert(keys.toSeq === keys.sorted.toSeq)
    // no leftover tmp directory (dot-prefixed — hidden from readers)
    val parent = new java.io.File(base).getParentFile
    assert(!new java.io.File(parent,
      "." + new java.io.File(base).getName + ".compact-tmp").exists)
  }

  test("compact refuses a root that mixes data files with subdirectories") {
    val base = new java.io.File("target/tmp/layout-compact-mixed").getAbsolutePath
    graft.sources.Fs.deleteRecursively(spark, base)
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    df.coalesce(1).write.parquet(base) // direct files…
    df.coalesce(1).write.parquet(s"$base/sub") // …plus a nested data dir
    val e = intercept[IllegalArgumentException](Layout.compact(spark, base))
    assert(e.getMessage.contains("mixes parquet files with subdirectories"))
    // nothing was rewritten or deleted
    assert(spark.read.parquet(s"$base/sub").count() === 2)
  }

  test("compact survives a 0-row leaf (observed metric lost to AQE empty propagation)") {
    val base = new java.io.File("target/tmp/layout-compact-empty").getAbsolutePath
    graft.sources.Fs.deleteRecursively(spark, base)
    val df = Seq((1L, "a")).toDF("id", "v").filter($"id" < 0) // 0 rows, real schema
    df.coalesce(1).write.parquet(base)
    // must terminate (no obs.get hang) and verify 0 == 0
    val stats = Layout.compact(spark, base, targetFileBytes = Long.MaxValue)
    assert(stats.rows === 0L)
    assert(spark.read.parquet(base).count() === 0L)
  }

  test("compact recurses a hive-partitioned root per partition, preserving values and pruning") {
    val base = new java.io.File("target/tmp/layout-compact-part").getAbsolutePath
    graft.sources.Fs.deleteRecursively(spark, base)
    // streaming-ingest shape: many tiny appends into a date-partitioned
    // table (what dedupIngestSink writes per micro-batch)
    val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select(col("l_orderkey"), col("l_partkey"),
        (pmod(col("l_orderkey"), lit(3))).cast("string").as("day"))
    (0 until 10).foreach { i =>
      li.filter(pmod(col("l_partkey"), lit(10)) === i)
        .coalesce(1).write.partitionBy("day").mode("append").parquet(base)
    }
    val before = spark.read.parquet(base)
    val beforeCount = before.count()
    val beforeByDay = before.groupBy("day").count()
      .as[(String, Long)].collect().toMap
    def filesIn(dir: String) = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(filesIn(s"$base/day=0") >= 10)

    val stats = Layout.compact(spark, base, targetFileBytes = Long.MaxValue)
    assert(stats.rows === beforeCount)
    assert(stats.filesAfter === 3) // one file per partition directory
    (0 to 2).foreach(d => assert(filesIn(s"$base/day=$d") === 1))
    // partition column survives in directory form: values intact,
    // directory pruning still works (scan of one day reads one dir)
    val after = spark.read.parquet(base)
    assert(after.groupBy("day").count().as[(String, Long)].collect().toMap
      === beforeByDay)
    val oneDay = after.filter($"day" === "1")
    assert(oneDay.count() === beforeByDay("1"))
    val readFiles = oneDay.select(input_file_name()).distinct().as[String].collect()
    assert(readFiles.forall(_.contains("day=1")), readFiles.mkString(", "))
  }

  test("versioned publish: pointer flips atomically, readers see old or new, never nothing") {
    val root = new java.io.File("target/tmp/layout-versioned").getAbsolutePath
    graft.sources.Fs.deleteRecursively(spark, root)
    val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select("l_orderkey", "l_partkey", "l_quantity")

    val v1 = Layout.zorderPublish(spark, li, Seq("l_partkey", "l_quantity"),
      root, numPartitions = 4)
    assert(v1 === "v00000001")
    val firstRead = Layout.readVersioned(spark, root)
    assert(firstRead.count() === li.count())
    // a reader resolves the version path BEFORE a new publish…
    val staleResolved = Layout.currentVersionPath(spark, root)

    val stats = Layout.compactVersioned(spark, root,
      targetFileBytes = Long.MaxValue, sortCols = Seq("l_orderkey"))
    assert(stats.rows === li.count())
    assert(stats.filesAfter === 1)
    // …and still reads intact files after it (retention horizon ≥ 2)
    assert(spark.read.parquet(staleResolved).count() === li.count())
    // a fresh resolve sees the new version
    val cur = Layout.currentVersionPath(spark, root)
    assert(cur != staleResolved && cur.endsWith("v00000002"))
    assert(Layout.readVersioned(spark, root).count() === li.count())
    // the pointer file is never absent mid-publish: the flip is one
    // OVERWRITE rename, so _CURRENT exists and is non-empty now
    assert(new java.io.File(root, "_CURRENT").exists)

    // third publish GCs v1 (keepVersions=2): v2+v3 remain
    Layout.compactVersioned(spark, root, targetFileBytes = Long.MaxValue)
    val dirs = new java.io.File(root).listFiles().filter(_.isDirectory)
      .map(_.getName).sorted.toSeq
    assert(dirs === Seq("v00000002", "v00000003"))
    assert(Layout.readVersioned(spark, root).count() === li.count())
  }

  test("versioned compaction aborts before the flip on a bad rewrite, table stays live") {
    val root = new java.io.File("target/tmp/layout-versioned-abort").getAbsolutePath
    graft.sources.Fs.deleteRecursively(spark, root)
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    Layout.publishVersion(spark, root) { dir =>
      df.write.parquet(dir)
    }
    // a publish whose writer throws must leave the pointer untouched
    val before = Layout.currentVersionPath(spark, root)
    intercept[RuntimeException] {
      Layout.publishVersion(spark, root) { _ =>
        throw new RuntimeException("writer exploded")
      }
    }
    assert(Layout.currentVersionPath(spark, root) === before)
    assert(Layout.readVersioned(spark, root).count() === 3)
  }

  test("zone map prunes files on a range layout; pruned read equals the full filter") {
    val dir = new java.io.File("target/tmp/layout-zonemap").getAbsolutePath
    graft.sources.Fs.deleteRecursively(spark, dir)
    // 8 range files over id 0..799: each file spans ~100 ids
    val df = spark.range(0, 800).select(col("id"),
      (col("id") * 3).as("v"))
    df.repartitionByRange(8, col("id")).write.parquet(dir)
    val table = spark.read.parquet(dir)
    val manifest = Layout.zoneMap(table, Seq("id"))
    val allFiles = manifest.count()
    assert(allFiles === 8L, s"expected 8 files, got $allFiles")

    // a narrow range intersects 1-2 of the 8 file intervals
    val hit = Layout.pruneFiles(manifest, "id", lit(150L), lit(170L))
    assert(hit.nonEmpty && hit.size <= 2,
      s"narrow range should prune to <=2 files, got ${hit.size}")

    val pruned = Layout.zoneMapRead(spark, dir, manifest, "id",
      lit(150L), lit(170L)).select("id", "v")
    val full = table.filter(col("id") >= 150 && col("id") <= 170)
      .select("id", "v")
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty,
      "pruned read diverges from full filter")
    // the scan underneath really is file-pruned
    assert(pruned.inputFiles.length === hit.size)
  }

  test("zone map: a STALE manifest (files on disk it never saw) refuses instead of silently dropping rows") {
    // the deleteWrite/compaction hazard: a partition rewrite replaces
    // file names, and a pruned read against the old manifest would
    // silently omit every rewritten file's rows — deleted paths fail
    // loudly at scan time, but missing files fail SILENTLY, so the
    // read's coverage guard must catch them
    val dir = new java.io.File("target/tmp/layout-zonemap-stale").getAbsolutePath
    graft.sources.Fs.deleteRecursively(spark, dir)
    spark.range(0, 200).toDF("id")
      .repartitionByRange(2, col("id")).write.parquet(dir)
    val manifest = Layout.zoneMap(spark.read.parquet(dir), Seq("id"))
      .localCheckpoint(true)
    // new files land after the manifest was built (an append the
    // manifest maintenance missed, or a rewrite's new names)
    spark.range(200, 300).toDF("id").write.mode("append").parquet(dir)
    val e = intercept[IllegalArgumentException] {
      Layout.zoneMapRead(spark, dir, manifest, "id", lit(0L), lit(500L))
        .count()
    }
    assert(e.getMessage.contains("STALE") &&
      e.getMessage.contains("zoneMap"), e.getMessage)
    // rebuilding the manifest clears the refusal and reads exactly
    val rebuilt = Layout.zoneMap(spark.read.parquet(dir), Seq("id"))
    assert(Layout.zoneMapRead(spark, dir, rebuilt, "id",
      lit(0L), lit(500L)).count() === 300L)
    // the explicit opt-out keeps the pre-guard behavior for callers
    // that own manifest/table consistency
    assert(Layout.zoneMapRead(spark, dir, manifest, "id",
      lit(0L), lit(99L), verifyCoverage = false).count() === 100L)
  }

  test("zone map: empty overlap yields an empty result, not an error") {
    val dir = new java.io.File("target/tmp/layout-zonemap-empty").getAbsolutePath
    graft.sources.Fs.deleteRecursively(spark, dir)
    spark.range(0, 100).toDF("id")
      .repartitionByRange(4, col("id")).write.parquet(dir)
    val manifest = Layout.zoneMap(spark.read.parquet(dir), Seq("id"))
    assert(Layout.pruneFiles(manifest, "id", lit(5000L), lit(6000L)).isEmpty)
    assert(Layout.zoneMapRead(spark, dir, manifest, "id",
      lit(5000L), lit(6000L)).count() === 0L)
  }

  test("zone map: rewrite → refusal → one-call zoneMapRebuild → pruned read returns the rewritten rows") {
    // the full operator loop the staleness refusal prescribes: a
    // deleteWrite-style partition rewrite invalidates the manifest,
    // the read refuses, zoneMapRebuild is the whole repair
    val dir = new java.io.File("target/tmp/layout-zonemap-rebuild").getAbsolutePath
    graft.sources.Fs.deleteRecursively(spark, dir)
    spark.range(0, 300).toDF("id")
      .withColumn("part", (col("id") / 100).cast("int"))
      .write.partitionBy("part").parquet(dir)
    val manifest = Layout.zoneMap(spark.read.parquet(dir), Seq("id"))
      .localCheckpoint(true)
    // rewrite one partition under new file names (drop the odd ids)
    Merge.deleteWrite(spark, dir,
      spark.range(0, 100).toDF("id").filter(col("id") % 2 === 1),
      Seq("id"), "part")
    intercept[IllegalArgumentException] {
      Layout.zoneMapRead(spark, dir, manifest, "id", lit(0L), lit(99L))
        .count()
    }
    val repaired = Layout.zoneMapRebuild(spark, dir, Seq("id"))
    val got = Layout.zoneMapRead(spark, dir, repaired, "id",
      lit(0L), lit(99L)).select("id").as[Long].collect().toSet
    assert(got === (0L until 100L by 2).toSet,
      "pruned read after rebuild must see exactly the rewritten rows")
  }

  test("zone map: a column-less EMPTY manifest (streaming sink pre-first-batch) reads as empty, guard included") {
    // pruneFiles already tolerated this state as "no files"; the
    // coverage guard must not turn it into an unresolved-column error
    // on `file` — the pre-guard behavior (empty scan) is the contract
    val dir = new java.io.File("target/tmp/layout-zonemap-nocol").getAbsolutePath
    graft.sources.Fs.deleteRecursively(spark, dir)
    spark.range(0, 10).toDF("id").write.parquet(dir)
    val empty = spark.emptyDataFrame
    assert(Layout.zoneMapRead(spark, dir, empty, "id",
      lit(0L), lit(10L)).isEmpty)
  }
}
