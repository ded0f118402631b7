package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpecBase {
  import spark.implicits._

  private def vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f)),   // close to 0
    (2L, Array(0.0f, 1.0f, 0.0f)),   // orthogonal to 0
    (3L, Array(-1.0f, 0.0f, 0.0f)),  // opposite of 0
    (4L, Array(0.0f, 0.0f, 0.0f))    // zero vector
  ).toDF("vec_id", "embedding")

  test("cosine expression matches the HOF reference implementation") {
    val both = vecs.crossJoin(vecs.select($"embedding".as("e2")))
      .select(
        Similarity.cosine($"embedding", $"e2").as("fast"),
        Similarity.cosineHof($"embedding", $"e2").as("ref"))
      .as[(Double, Double)].collect()
    both.foreach { case (fast, ref) =>
      assert(math.abs(fast - ref) < 1e-12, s"$fast vs $ref")
    }
  }

  test("cosine: known geometry (identity 1, orthogonal 0, opposite -1, zero-norm 0)") {
    val c = (a: Long, b: Long) =>
      vecs.filter($"vec_id" === a).select($"embedding".as("x"))
        .crossJoin(vecs.filter($"vec_id" === b).select($"embedding".as("y")))
        .select(Similarity.cosine($"x", $"y")).as[Double].head()
    assert(math.abs(c(0L, 0L) - 1.0) < 1e-12)
    assert(math.abs(c(0L, 2L)) < 1e-12)
    assert(math.abs(c(0L, 3L) + 1.0) < 1e-12)
    assert(c(0L, 4L) === 0.0)
  }

  test("bruteForceTopK ranks by similarity, excludes self") {
    val out = Similarity.bruteForceTopK(vecs, vecs.filter($"vec_id" === 0),
      "vec_id", "embedding", k = 2)
      .orderBy(desc("cos")).as[(Long, Long, Double)].collect()
    assert(out.length === 2)
    assert(out(0)._2 === 1L)  // nearest neighbor is the 0.9/0.1 vector
    assert(out.forall(_._2 != 0L))
  }

  test("ivfTopK with all-centroid probing equals brute force") {
    val centroids = vecs.filter($"vec_id".isin(0L, 2L))
    val cells = Similarity.assignCells(vecs, centroids, "vec_id", "embedding")
    assert(cells.count() === vecs.count())
    val q = vecs.filter($"vec_id" === 1)
    val ivf = Similarity.ivfTopK(cells, centroids, q, "vec_id", "embedding",
      k = 2, nProbe = 2)  // probes every cell → exact
    val bf = Similarity.bruteForceTopK(vecs, q, "vec_id", "embedding", k = 2)
    assert(ivf.orderBy("neighbor_id").collect() === bf.orderBy("neighbor_id").collect())
  }

  test("top-k aggregation rejects NaN-scored candidates instead of ranking them first") {
    import graft.functions.TopK
    val scored = Seq(
      (1L, 0.9), (2L, Double.NaN), (3L, 0.5), (4L, 0.7)
    ).toDF("id", "score")
    val top = scored.select(TopK.top_k(2)($"score", $"id").as("t"))
      .selectExpr("explode(t) AS p").select("p._1", "p._2")
      .as[(Double, Long)].collect().toSeq
    assert(top === Seq((0.9, 1L), (0.7, 4L)))
  }

  test("int8 quantization: codes in [-127,127], reconstruction within scale/2 per element") {
    val vecs = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f, 2.0f)),
      (2L, Array(-3.0f, 3.0f, 0.0f, 1.5f))
    ).toDF("vec_id", "embedding")
    val out = vecs.select(
      $"vec_id", $"embedding",
      Similarity.int8Scale($"embedding").as("scale"),
      Similarity.quantizeInt8($"embedding").as("codes"))
      .as[(Long, Array[Float], Double, Array[Int])].collect()
    for ((_, emb, scale, codes) <- out) {
      assert(scale > 0.0)
      assert(codes.forall(c => c >= -127 && c <= 127))
      emb.zip(codes).foreach { case (x, c) =>
        assert(math.abs(x - c * scale) <= scale / 2 + 1e-12,
          s"x=$x c=$c scale=$scale")
      }
      // the max-magnitude element saturates to ±127 exactly
      assert(codes.map(math.abs).max === 127)
    }
  }

  test("SRP-LSH near-dup: planted near-duplicates recalled, verified cosine exact") {
    val rnd = new scala.util.Random(11)
    val dim = 32
    def vec() = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val bases = (0 until 40).map(i => (i.toLong * 2, vec()))
    // plant a near-duplicate (tiny perturbation → cosine ≈ 1) per base
    val dups = bases.map { case (id, v) =>
      (id + 1, v.map(x => x + (rnd.nextGaussian() * 0.01).toFloat))
    }
    val df = (bases ++ dups).toDF("vec_id", "embedding")
    val pairs = Dedup.lshPairs(df, "vec_id", "embedding",
      Dedup.Srp(threshold = 0.9))
      .as[(Long, Long, Double)].collect()
    // every planted (2i, 2i+1) pair must surface: at cosine ≈ 1 the
    // signatures agree on (nearly) all bits, so some 16-bit band matches
    val found = pairs.collect { case (a, b, _) if b == a + 1 && a % 2 == 0 => a }.toSet
    assert(found.size >= 38, s"recall too low: ${found.size}/40")
    // and the reported cosine is the exact one (verify stage), not an estimate
    val brute = Dedup.embeddingNearDup(
      df.withColumn("block", lit(1)), "vec_id", "embedding", "block", 0.9)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => (a, b) -> c }.toMap
    pairs.foreach { case (a, b, c) =>
      assert(brute.contains((a, b)), s"pair ($a,$b) not in brute-force set")
      assert(math.abs(brute((a, b)) - c) < 1e-9)
    }
  }

  private def gaussianVecs(n: Int, dim: Int, seed: Int) = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat)))
  }

  test("pickCentroids: deterministic, dense cell ids 0..n-1") {
    val df = gaussianVecs(60, 8, 7).toDF("vec_id", "embedding")
    val a = Similarity.pickCentroids(df, "vec_id", "embedding", 6)
      .orderBy("cell").as[(Long, Array[Float])].collect()
    val b = Similarity.pickCentroids(df, "vec_id", "embedding", 6)
      .orderBy("cell").as[(Long, Array[Float])].collect()
    assert(a.map(_._1).toSeq === (0L until 6L))
    assert(a.map(_._2.toSeq) === b.map(_._2.toSeq))
  }

  test("ivfAppend + ivfProbe equals from-scratch index over corpus ∪ batch") {
    val all = gaussianVecs(80, 16, 13)
    val (corpusRows, batchRows) = all.partition(_._1 % 4 != 1)
    val corpus = corpusRows.toDF("vec_id", "embedding")
    // batch includes exact copies of corpus vectors under shifted ids
    val batch = (batchRows ++ corpusRows.take(5).map { case (id, v) => (id + 1000L, v) })
      .toDF("vec_id", "embedding")
    val cents = Similarity.pickCentroids(corpus, "vec_id", "embedding", 5)
    val idx = Similarity.ivfIndex(corpus, cents, "vec_id", "embedding")
    val appended = Similarity.ivfAppend(idx, batch, "vec_id", "embedding")
    val scratch = Similarity.ivfIndex(corpus.unionByName(batch), cents,
      "vec_id", "embedding")
    val inc = Similarity.ivfProbe(batch, appended, "vec_id", "embedding",
      k = 3, nProbe = 2).orderBy("query_id", "neighbor_id").collect()
    val full = Similarity.ivfProbe(batch, scratch, "vec_id", "embedding",
      k = 3, nProbe = 2).orderBy("query_id", "neighbor_id").collect()
    assert(inc.nonEmpty && inc === full)
  }

  test("stored index: write/read/probe round-trip matches in-memory, scan pruned to probed cells") {
    val corpus = gaussianVecs(90, 12, 29).toDF("vec_id", "embedding")
    val cents = Similarity.pickCentroids(corpus, "vec_id", "embedding", 9)
    val idx = Similarity.ivfIndex(corpus, cents, "vec_id", "embedding")
    val path = new java.io.File("target/tmp/ivf-index-spec").getAbsolutePath
    Similarity.ivfIndexWrite(idx, path)
    val queries = corpus.filter($"vec_id" < 3)
    val stored = Similarity.ivfProbeStored(spark, path, queries,
      "vec_id", "embedding", k = 4, nProbe = 2)
    val inMem = Similarity.ivfProbe(queries, idx, "vec_id", "embedding",
      k = 4, nProbe = 2).orderBy("query_id", "neighbor_id").collect()
    assert(stored.orderBy("query_id", "neighbor_id").collect() === inMem)
    // the assignments scan must touch only probed cell partitions:
    // ≤ queries × nProbe = 6 of the 9 cell directories. Inspect the
    // static plan (AQE wraps scans in opaque query stages — the
    // PlanAuditSpec convention) and evaluate its partition filters.
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val staticProbe = Similarity.ivfProbeStored(spark, path, queries,
        "vec_id", "embedding", k = 4, nProbe = 2)
      val scans = staticProbe.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains("assignments")) => s
      }
      assert(scans.nonEmpty, "no file scan over assignments found in the plan")
      val partsRead = scans.map(s =>
        s.relation.location.listFiles(s.partitionFilters, Nil).size).max
      assert(partsRead <= 6, s"probe scanned $partsRead cell partitions, expected ≤ 6")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("ivfAppendWrite: stored append equals rebuilt index, existing cell files untouched") {
    val all = gaussianVecs(70, 12, 53)
    val (corpusRows, batchRows) = all.partition(_._1 % 5 != 2)
    val corpus = corpusRows.toDF("vec_id", "embedding")
    val batch = batchRows.toDF("vec_id", "embedding")
    val cents = Similarity.pickCentroids(corpus, "vec_id", "embedding", 6)
    val path = new java.io.File("target/tmp/ivf-append-spec").getAbsolutePath
    graft.sources.Fs.deleteRecursively(spark, path)
    Similarity.ivfIndexWrite(
      Similarity.ivfIndex(corpus, cents, "vec_id", "embedding"), path)
    val beforeFiles = spark.read.parquet(s"$path/assignments")
      .select(input_file_name()).distinct().as[String].collect().toSet

    Similarity.ivfAppendWrite(spark, path, batch, "vec_id", "embedding")

    // append-only: every pre-existing file survives byte-identically
    val afterFiles = spark.read.parquet(s"$path/assignments")
      .select(input_file_name()).distinct().as[String].collect().toSet
    assert(beforeFiles.subsetOf(afterFiles), "append rewrote existing corpus files")
    // and the stored table now equals a from-scratch rebuild
    val stored = Similarity.ivfIndexRead(spark, path).assignments
      .select("vec_id", "cell").orderBy("vec_id").as[(Long, Long)].collect()
    val rebuilt = Similarity.ivfIndex(corpus.unionByName(batch), cents,
      "vec_id", "embedding").assignments
      .select("vec_id", "cell").orderBy("vec_id").as[(Long, Long)].collect()
    assert(stored === rebuilt)
  }

  test("stored probe recall: exact-copy batch always finds its original with cos 1") {
    val corpus = gaussianVecs(100, 16, 41).toDF("vec_id", "embedding")
    val cents = Similarity.pickCentroids(corpus, "vec_id", "embedding", 8)
    val idx = Similarity.ivfIndex(corpus, cents, "vec_id", "embedding")
    // every 10th vector re-arrives as an exact copy under a shifted id:
    // an identical vector lands in the identical cell (deterministic
    // argmax), so even nProbe=1 must recall the original at cos=1
    val copies = corpus.filter($"vec_id" % 10 === 0)
      .select(($"vec_id" + 5000L).as("vec_id"), $"embedding")
    val hits = Similarity.ivfProbe(copies, idx, "vec_id", "embedding",
      k = 1, nProbe = 1)
      .as[(Long, Long, Double)].collect()
    assert(hits.length === 10)
    hits.foreach { case (q, n, c) =>
      assert(n === q - 5000L, s"query $q recalled $n, expected ${q - 5000L}")
      assert(math.abs(c - 1.0) < 1e-9)
    }
  }

  test("pq: codebooks are deterministic, codes recover planted clusters, errors shrink to ~0 on centroids") {
    // four well-separated planted clusters in 8 dims (m=2 → dsub=4):
    // cluster c puts mass at coordinate c in BOTH subspaces. The 4
    // md5-order seed ids are placed in 4 DISTINCT clusters (one Lloyd
    // iteration refines good seeds; it cannot rescue two seeds
    // landing in one cluster — standard k-means, not a defect)
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(i: Long) = md.digest(i.toString.getBytes)
      .map("%02x".format(_)).mkString
    val seedIds = (0L until 80L).sortBy(i => (h(i), i)).take(4)
    val rnd = new scala.util.Random(7)
    val rows = (0L until 80L).map { i =>
      val c = seedIds.indexOf(i) match {
        case -1 => (i % 4).toInt
        case r  => r
      }
      val v = Array.fill(8)(rnd.nextGaussian().toFloat * 0.01f)
      v(c) += 10f; v(4 + c) += 10f
      (i, v)
    }
    val df = rows.toDF("vec_id", "embedding")
    val books = Similarity.pqCodebooks(df, "vec_id", "embedding", m = 2, k = 4)
    val b1 = books.orderBy("sub", "code")
      .as[(Int, Long, Array[Double])].collect()
    val b2 = Similarity.pqCodebooks(df, "vec_id", "embedding", m = 2, k = 4)
      .orderBy("sub", "code").as[(Int, Long, Array[Double])].collect()
    assert(b1.map(t => (t._1, t._2, t._3.toSeq)).toSeq ===
      b2.map(t => (t._1, t._2, t._3.toSeq)).toSeq) // rerun-stable
    val codes = Similarity.pqEncode(df, books, "vec_id", "embedding", m = 2)
      .as[(Long, Long, Long, Double)].collect()
    assert(codes.length === 160) // m rows per vector
    val clusterOf = rows.map { case (i, _) =>
      i -> (seedIds.indexOf(i) match { case -1 => (i % 4).toInt; case r => r })
    }.toMap
    // every vector of one planted cluster gets the same code per subspace
    val bySub = codes.groupBy(_._2)
    for ((_, rs) <- bySub) {
      val byCluster = rs.groupBy(r => clusterOf(r._1)).view.mapValues(_.map(_._3).toSet)
      byCluster.foreach { case (cl, cs) =>
        assert(cs.size === 1, s"cluster $cl split across codes $cs") }
      // distinct clusters land on distinct codes (separation >> noise)
      assert(byCluster.values.map(_.head).toSet.size === 4)
    }
    // reconstruction error ≈ within-cluster noise, far below the
    // cluster separation (100 in squared distance)
    assert(codes.map(_._4).max < 1.0)
  }

  test("pq: a centroid-coincident vector encodes with zero error; ties break to the smaller code") {
    // two identical seed candidates force a distance tie at encode time
    val df = Seq(
      (1L, Array(1f, 0f)), (2L, Array(1f, 0f)), // duplicate content
      (3L, Array(0f, 1f))
    ).toDF("vec_id", "embedding")
    val books = Similarity.pqCodebooks(df, "vec_id", "embedding", m = 1, k = 3)
    val out = Similarity.pqEncode(df, books, "vec_id", "embedding", m = 1)
      .orderBy("vec_id").as[(Long, Long, Long, Double)].collect()
    // duplicates tie between their two coincident centroids → both
    // take the smaller code, and their error is exactly 0
    assert(out(0)._3 === out(1)._3)
    assert(out(0)._4 === 0.0 && out(1)._4 === 0.0 && out(2)._4 === 0.0)
  }

  test("pqAdcTopK equals a naive driver-side ADC recomputation") {
    val rnd = new scala.util.Random(11)
    val df = (0L until 60L).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val m = 2; val dsub = 4
    val books = Similarity.pqCodebooks(df, "vec_id", "embedding", m = m, k = 4)
    val codes = Similarity.pqEncode(df, books, "vec_id", "embedding", m = m)
      .select("vec_id", "sub", "code")
    val queries = df.filter($"vec_id" < 3)
    val out = Similarity.pqAdcTopK(queries, books, codes,
      "vec_id", "embedding", m = m, k = 4)
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(r => (r._3, r._2)).toList).toMap

    // naive reference from collected artifacts
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val cb = books.as[(Int, Long, Array[Double])].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    val cd = codes.as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => r._2.toInt -> r._3).toMap).toMap
    val vecs = df.as[(Long, Array[Float])].collect().toMap
    val want = (0L until 3L).map { q =>
      val qv = vecs(q).map(_.toDouble)
      val scored = cd.keys.filter(_ != q).map { x =>
        // r6 applied per-subspace AND on the total — exactly the
        // operator's round(sum(rounded lut), 6)
        val d = r6((0 until m).map { s =>
          val cv = cb((s, cd(x)(s)))
          r6((0 until dsub).map { j =>
            val diff = qv(s * dsub + j) - cv(j); diff * diff }.sum)
        }.sum)
        (x, d)
      }.toList.sortBy(t => (t._2, t._1)).take(4)
      q -> scored.map { case (id, d) => (q, id, d) }
    }.toMap
    assert(out === want)
  }

  test("ivfPqTopK with nProbe = nCells equals unrestricted pqAdcTopK") {
    val rnd = new scala.util.Random(13)
    val df = (0L until 80L).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val cents = Similarity.pickCentroids(df, "vec_id", "embedding", 5)
    val cells = Similarity.assignCells(df,
      cents.select($"cell".as("vec_id"), $"embedding"), "vec_id", "embedding")
      .select("vec_id", "cell")
    val books = Similarity.pqCodebooks(df, "vec_id", "embedding", m = 2, k = 4)
    val codes = Similarity.pqEncode(df, books, "vec_id", "embedding", m = 2)
      .select("vec_id", "sub", "code")
    val queries = df.filter($"vec_id" < 4)
    val full = Similarity.pqAdcTopK(queries, books, codes,
      "vec_id", "embedding", m = 2, k = 3)
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._3, r._2))
    val ivfpq = Similarity.ivfPqTopK(queries, cents, books,
      codes.join(cells, Seq("vec_id")), "vec_id", "embedding",
      m = 2, k = 3, nProbe = 5)
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._3, r._2))
    assert(ivfpq === full)
    // and a genuinely pruned probe returns a subset of cells' members
    val pruned = Similarity.ivfPqTopK(queries, cents, books,
      codes.join(cells, Seq("vec_id")), "vec_id", "embedding",
      m = 2, k = 3, nProbe = 1)
      .as[(Long, Long, Double)].collect()
    assert(pruned.nonEmpty && pruned.length <= full.length)
  }

  test("stored IVF+PQ probe equals the in-memory ivfPqTopK; store holds no corpus floats") {
    val rnd = new scala.util.Random(17)
    val df = (0L until 60L).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val cents = Similarity.pickCentroids(df, "vec_id", "embedding", 4)
    val idx = Similarity.ivfPqIndex(df, cents, "vec_id", "embedding", m = 2, k = 4)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_").toString
    try {
      Similarity.ivfPqIndexWrite(idx, s"$dir/idx")
      val queries = df.filter($"vec_id" < 3)
      val stored = Similarity.ivfPqProbeStored(spark, s"$dir/idx", queries,
        "vec_id", "embedding", m = 2, k = 3, nProbe = 2)
        .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._3, r._2))
      val mem = Similarity.ivfPqTopK(queries, cents, idx.codebooks, idx.codes,
        "vec_id", "embedding", m = 2, k = 3, nProbe = 2)
        .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._3, r._2))
      assert(stored.nonEmpty && stored === mem)
      // the codes table carries no embedding column — the store never
      // materializes corpus floats outside centroids/codebooks
      val codeCols = spark.read.parquet(s"$dir/idx/codes").columns.toSet
      assert(!codeCols.contains("embedding"), s"got $codeCols")
    } finally {
      graft.sources.Fs.deleteRecursively(spark, dir)
    }
  }

  test("int8 quantization of a zero or empty vector: NULL scale, all-zero codes") {
    val vecs = Seq(
      (1L, Array(0.0f, 0.0f)),
      (2L, Array.empty[Float])
    ).toDF("vec_id", "embedding")
    val out = vecs.select(
      $"vec_id",
      Similarity.int8Scale($"embedding").as("scale"),
      Similarity.quantizeInt8($"embedding").as("codes"))
      .as[(Long, Option[Double], Array[Int])].collect().sortBy(_._1)
    assert(out(0)._2.isEmpty && out(0)._3 === Array(0, 0))
    assert(out(1)._2.isEmpty && out(1)._3 === Array.empty[Int])
  }

  test("hardNegatives: only different-label neighbors, nearest first, fills k when possible") {
    // label 0 cluster around (1,0); label 1 around (0,1); one label-0
    // vector sits INSIDE the label-1 cluster — the hardest negative
    val rows = Seq(
      (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(0.9f, 0.1f), 0),
      (3L, Array(0.05f, 1.0f), 0),  // label-0 planted inside cluster 1
      (10L, Array(0.0f, 1.0f), 1),
      (11L, Array(0.1f, 0.9f), 1),
      (12L, Array(1.0f, 0.05f), 1)  // label-1 planted inside cluster 0
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.hardNegatives(rows,
      rows.filter($"vec_id" === 1L), "vec_id", "embedding", "label",
      k = 2, roundTo = 4)
      .as[(Long, Long, Double)].collect().sortBy(-_._3)
    assert(out.length === 2)
    // the planted inside-cluster negative is the hardest
    assert(out(0)._2 === 12L, s"expected 12 first, got ${out.toSeq}")
    assert(out.forall(_._2 >= 10L), s"same-label leak: ${out.toSeq}")
    assert(out(0)._3 > out(1)._3)
  }

  test("annRecall: exact set arithmetic, zero-overlap queries, missing-approx queries") {
    val exact = Seq(
      (1L, 10L), (1L, 11L), (1L, 12L), (1L, 13L), (1L, 14L),
      (2L, 20L), (2L, 21L),
      (3L, 30L), (3L, 31L)).toDF("query_id", "neighbor_id")
    val approx = Seq(
      (1L, 10L), (1L, 11L), (1L, 12L), (1L, 13L), (1L, 99L), // 4/5
      (2L, 98L), (2L, 97L)                                    // 0/2
      // query 3: approx returned nothing at all
    ).toDF("query_id", "neighbor_id")
    val got = Similarity.annRecall(approx, exact)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(got === Array(
      (1L, 5L, 4L, 0.8),
      (2L, 2L, 0L, 0.0),
      (3L, 2L, 0L, 0.0)))
    // perfect approximation: recall exactly 1.0 everywhere
    val perfect = Similarity.annRecall(exact, exact)
      .as[(Long, Long, Long, Double)].collect()
    assert(perfect.forall(r => r._4 === 1.0 && r._2 === r._3))
  }

  // ---- k-means refinement; float-exact coordinates so test-side
  // double math reproduces the engine's bit-for-bit
  private def kmCorpus = Seq(
    (0L, Array(1.0f, 0.0f), 1),
    (1L, Array(0.75f, 0.25f), 1),
    (2L, Array(0.0f, 1.0f), 2),
    (3L, Array(0.25f, 0.75f), 3),
    (4L, Array(0.5f, 0.75f), 3)
  ).toDF("vec_id", "embedding", "label")

  private def kmInit = Seq(
    (0L, Array(1.0f, 0.0f)),
    (1L, Array(0.0f, 1.0f)),
    (9L, Array(-1.0f, -1.0f))  // captures nothing: all corpus is positive-quadrant
  ).toDF("cell", "embedding")

  private def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("lloydStep: per-dim member means; empty cell keeps its seed centroid at n_members 0") {
    val out = Similarity.lloydStep(kmCorpus, kmInit, "vec_id", "embedding")
      .orderBy("cell")
      .as[(Long, Long, Array[Float])].collect()
    // cell 0 ← {0, 1}: mean (0.875, 0.125); cell 1 ← {2, 3, 4}:
    // mean (0.25, round4(2.5/3)); cell 9 ← {}: seed kept, 0 members
    assert(out(0)._1 === 0L && out(0)._2 === 2L)
    assert(out(0)._3 === Array(0.875f, 0.125f))
    assert(out(1)._1 === 1L && out(1)._2 === 3L)
    assert(out(1)._3 === Array(0.25f, round4(2.5 / 3).toFloat))
    assert(out(2)._1 === 9L && out(2)._2 === 0L)
    assert(out(2)._3 === Array(-1.0f, -1.0f))
  }

  test("kmeansRefine: converged input is a fixed point; superseded checkpoints freed") {
    graft.GraftSession.sweepPersistedRdds(spark)
    val one = Similarity.lloydStep(kmCorpus, kmInit, "vec_id", "embedding")
      .select($"cell", $"embedding")
    // assignments don't change after step 1 here, so steps 2 and 3
    // recompute the same means — refine(3) must equal a single step
    val three = Similarity.kmeansRefine(kmCorpus, kmInit, "vec_id",
      "embedding", steps = 3)
    val a = one.as[(Long, Array[Float])].collect().sortBy(_._1)
    val b = three.select($"cell", $"embedding")
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    assert(a.map(_._1) === b.map(_._1))
    a.zip(b).foreach { case ((_, x), (_, y)) => assert(x === y) }
    // only the RETURNED frame's checkpoint may outlive the call
    assert(spark.sparkContext.getPersistentRDDs.size === 1,
      "superseded per-step checkpoints must be freed")
    graft.GraftSession.sweepPersistedRdds(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("kmeansParallelInit: deterministic, dense cells, beats the seed pick on the objective") {
    graft.GraftSession.sweepPersistedRdds(spark)
    val df = gaussianVecs(200, 8, 11).toDF("vec_id", "embedding")
    val a = Similarity.kmeansParallelInit(df, "vec_id", "embedding", k = 8)
      .orderBy("cell").as[(Long, Long, Long, Array[Float])].collect()
    val b = Similarity.kmeansParallelInit(df, "vec_id", "embedding", k = 8)
      .orderBy("cell").as[(Long, Long, Long, Array[Float])].collect()
    // deterministic draw-for-draw (md5 uniforms, no rand()), dense
    // cell ids, weights non-increasing in cell order, seeds distinct
    assert(a.map(_._1).toSeq === (0L until 8L))
    assert(a.map(t => (t._2, t._3)) === b.map(t => (t._2, t._3)))
    assert(a.map(_._3).toSeq === a.map(_._3).toSeq.sorted.reverse)
    assert(a.map(_._2).distinct.length === 8)
    // the acceptance the Bahmani guarantee is about: the cost-biased
    // init covers the corpus strictly better than the hash-uniform
    // seed pick at equal k
    val seed = Similarity.pickCentroids(df, "vec_id", "embedding", 8)
    val par = Similarity.kmeansParallelInit(df, "vec_id", "embedding", k = 8)
    def cost(c: org.apache.spark.sql.DataFrame) =
      Similarity.kmeansObjective(df, c, "vec_id", "embedding")
        .as[(Long, Double)].head()
    val (nS, costSeed) = cost(seed)
    val (nP, costPar) = cost(par)
    assert(nS === 200L && nP === 200L)
    assert(costPar < costSeed,
      s"k-means|| init should lower the objective: par=$costPar seed=$costSeed")
    graft.GraftSession.sweepPersistedRdds(spark)
  }

  test("kmeansElbow: objective non-increasing in k, sweep ordered, deterministic") {
    graft.GraftSession.sweepPersistedRdds(spark)
    val df = gaussianVecs(200, 8, 31).toDF("vec_id", "embedding")
    val sweep = Similarity.kmeansElbow(df, "vec_id", "embedding",
      ks = Seq(4, 8, 16), steps = 1)
      .as[(Int, Long, Double)].collect()
    assert(sweep.map(_._1).toSeq === Seq(4, 8, 16))
    assert(sweep.forall(_._2 === 200L))
    // more cells can only cover the sphere better after a Lloyd step
    // on this corpus — the curve the capacity choice reads
    assert(sweep.map(_._3).toSeq === sweep.map(_._3).toSeq.sorted.reverse,
      s"objective rose with k: ${sweep.mkString(", ")}")
    val again = Similarity.kmeansElbow(df, "vec_id", "embedding",
      ks = Seq(4, 8, 16), steps = 1).as[(Int, Long, Double)].collect()
    assert(again === sweep)
    graft.GraftSession.sweepPersistedRdds(spark)
  }

  test("simplifiedSilhouette: tight planted clusters score high, summary row aggregates, k=1 fails loudly") {
    graft.GraftSession.sweepPersistedRdds(spark)
    val rnd = new scala.util.Random(41)
    // three well-separated orthogonal-ish clusters
    def planted(center: Int, ids: Range) = ids.map { i =>
      val v = Array.fill(12)(0.02f * rnd.nextGaussian().toFloat)
      v(center) = 1f; (i.toLong, v)
    }
    val df = (planted(0, 0 until 30) ++ planted(5, 30 until 60) ++
      planted(10, 60 until 90)).toDF("vec_id", "embedding")
    val cents = Seq(
      (0L, Array.tabulate(12)(i => if (i == 0) 1f else 0f)),
      (1L, Array.tabulate(12)(i => if (i == 5) 1f else 0f)),
      (2L, Array.tabulate(12)(i => if (i == 10) 1f else 0f)))
      .toDF("cell", "embedding")
    val out = Similarity.simplifiedSilhouette(df, cents,
      "vec_id", "embedding").as[(Long, Long, Double)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    assert(out.keySet === Set(-1L, 0L, 1L, 2L))
    assert(Seq(0L, 1L, 2L).forall(c => out(c)._1 === 30L))
    assert(Seq(0L, 1L, 2L).forall(c => out(c)._2 > 0.9),
      s"planted clusters should score near 1: $out")
    // summary row: corpus count and the (equal-sized-cell) mean
    assert(out(-1L)._1 === 90L)
    val cellMean = Seq(0L, 1L, 2L).map(out(_)._2).sum / 3.0
    assert(math.abs(out(-1L)._2 - cellMean) < 0.001)
    // one centroid: separation undefined — loud, not silently empty
    val e = intercept[Exception] {
      Similarity.simplifiedSilhouette(df, cents.filter($"cell" === 0L),
        "vec_id", "embedding").collect()
    }
    assert(e.getMessage.contains("fewer than 2 centroids"), e.getMessage)
    graft.GraftSession.sweepPersistedRdds(spark)
  }

  test("kmeansObjective: zero for a corpus that IS the centroid set") {
    val df = gaussianVecs(20, 4, 3).toDF("vec_id", "embedding")
    val perfect = df.select($"vec_id".as("cell"), $"embedding")
    val (n, c) = Similarity.kmeansObjective(df, perfect, "vec_id", "embedding")
      .as[(Long, Double)].head()
    assert(n === 20L && c === 0.0)
  }

  test("clusterProfile: member count, mean cosine to centroid, majority label and purity") {
    val cents = kmInit.filter($"cell" < 9)
    val out = Similarity.clusterProfile(kmCorpus, cents, "vec_id",
      "embedding", "label")
      .orderBy("cell")
      .as[(Long, Long, Double, Int, Double)].collect()
    // cell 0 ← {0 (lab 1), 1 (lab 1)}: purity 1.0;
    // cell 1 ← {2 (lab 2), 3 (lab 3), 4 (lab 3)}: majority 3, 2/3
    val cos0 = (1.0 + 0.75 / math.sqrt(0.625)) / 2
    val cos1 = (1.0 + 0.75 / math.sqrt(0.625) + 0.75 / math.sqrt(0.8125)) / 3
    assert(out(0) === ((0L, 2L, round4(cos0), 1, 1.0)))
    assert(out(1) === ((1L, 3L, round4(cos1), 3, round4(2.0 / 3))))
  }

  test("trained centroids drop into the IVF index/store path unchanged") {
    val corpus = gaussianVecs(60, 8, 7).toDF("vec_id", "embedding")
    val trained = Similarity.kmeansRefine(corpus,
      Similarity.pickCentroids(corpus, "vec_id", "embedding", 5),
      "vec_id", "embedding", steps = 2)
      .select($"cell", $"embedding")
    val idx = Similarity.ivfIndex(corpus, trained, "vec_id", "embedding")
    val path = new java.io.File("target/tmp/ivf-trained-spec").getAbsolutePath
    Similarity.ivfIndexWrite(idx, path)
    val queries = corpus.filter($"vec_id" < 3)
    val stored = Similarity.ivfProbeStored(spark, path, queries,
      "vec_id", "embedding", k = 4, nProbe = 2)
      .orderBy("query_id", "neighbor_id").collect()
    val inMem = Similarity.ivfProbe(queries, idx, "vec_id", "embedding",
      k = 4, nProbe = 2).orderBy("query_id", "neighbor_id").collect()
    assert(stored.nonEmpty && stored === inMem)
    graft.GraftSession.sweepPersistedRdds(spark)
  }

  test("clusterBalancedSample: per-cell cap, md5 determinism, full coverage under a big cap") {
    val cents = kmInit.filter($"cell" < 9)
    val one = Similarity.clusterBalancedSample(kmCorpus, cents,
      "vec_id", "embedding", perCell = 1)
      .as[(Long, Long, Long)].collect().sortBy(_._2)
    // exactly one doc per populated cell, always rank 1
    assert(one.map(_._2) === Array(0L, 1L) && one.forall(_._3 === 1L))
    val again = Similarity.clusterBalancedSample(kmCorpus, cents,
      "vec_id", "embedding", perCell = 1)
      .as[(Long, Long, Long)].collect().sortBy(_._2)
    assert(one === again, "md5 order must be run-stable")
    // a cap above every cell size returns the whole corpus
    val all = Similarity.clusterBalancedSample(kmCorpus, cents,
      "vec_id", "embedding", perCell = 100)
    assert(all.count() === kmCorpus.count())
  }

  test("ivfRecluster: drift repair — equals fresh build, skew drops, recall recovers, probe stays pruned") {
    // bootstrap region: gaussian cloud; drift region: the NEGATED
    // vectors under shifted ids — mass the bootstrap centroids never
    // saw, so every appended vector crowds whichever stale cells sit
    // least-far away (the exact degradation ivfCellSkew flags)
    val baseRows = gaussianVecs(80, 8, 61)
    val corpus = baseRows.toDF("vec_id", "embedding")
    // two drift shapes: a TIGHT pack around one corpus direction
    // (everything lands in that vector's stale cell together — the
    // occupancy-skew shape) and the NEGATED cloud (nearest neighbors
    // scatter across cells the stale centroids never separate — the
    // recall-damage shape)
    val packDir = baseRows.head._2
    val pack = (0 until 20).map { i =>
      (2000L + i, packDir.zipWithIndex.map { case (x, j) =>
        if (j == i % packDir.length) x + 0.05f * (i % 3 + 1) else x })
    }
    val negated = baseRows.take(20)
      .map { case (id, v) => (id + 1000L, v.map(x => -x)) }
    val drift = (negated ++ pack).toDF("vec_id", "embedding")
    val all = corpus.unionByName(drift)
    val path = new java.io.File("target/tmp/ivf-recluster-spec").getAbsolutePath
    graft.sources.Fs.deleteRecursively(spark, path)
    Similarity.ivfIndexWrite(Similarity.ivfIndex(corpus,
      Similarity.pickCentroids(corpus, "vec_id", "embedding", 8),
      "vec_id", "embedding"), path)
    Similarity.ivfAppendWrite(spark, path, drift, "vec_id", "embedding")
    val queries = drift.filter($"vec_id" < 1010L)
    val exact = Similarity.bruteForceTopK(all, queries,
      "vec_id", "embedding", k = 3)
    def meanRecall(): Double = Similarity.annRecall(
      Similarity.ivfProbeStored(spark, path, queries,
        "vec_id", "embedding", k = 3, nProbe = 2), exact)
      .agg(avg($"recall")).as[Double].head()
    def maxCellFrac(): Double = Similarity.ivfCellSkew(spark, path)
      .select($"max_bucket_frac").as[Double].head()
    val (recallBefore, skewBefore) = (meanRecall(), maxCellFrac())
    val stats = Similarity.ivfRecluster(spark, path, steps = 1)
    assert(stats.folded.contains("append"), s"got $stats")
    // recluster ≡ fresh build over the same vectors (the q243 claim,
    // here at the (id, cell) and centroid level in-engine)
    val freshCents = Similarity.kmeansRefine(all,
      Similarity.pickCentroids(all, "vec_id", "embedding", 8),
      "vec_id", "embedding", steps = 1)
    val storedCents = Similarity.ivfIndexRead(spark, path).centroids
      .orderBy("cell").as[(Long, Array[Float])].collect()
    assert(storedCents.map { case (c, v) => (c, v.toSeq) } ===
      freshCents.select($"cell", $"embedding").orderBy("cell")
        .as[(Long, Array[Float])].collect()
        .map { case (c, v) => (c, v.toSeq) })
    val storedAsn = Similarity.ivfIndexRead(spark, path).assignments
      .select("vec_id", "cell").orderBy("vec_id").as[(Long, Long)].collect()
    assert(storedAsn === Similarity.assignCells(all,
      freshCents.select($"cell".as("vec_id"), $"embedding"),
      "vec_id", "embedding")
      .select("vec_id", "cell").orderBy("vec_id").as[(Long, Long)].collect())
    graft.GraftSession.sweepPersistedRdds(spark)
    // drift repaired: occupancy skew drops, drift-region recall recovers
    val (recallAfter, skewAfter) = (meanRecall(), maxCellFrac())
    assert(skewAfter < skewBefore,
      s"recluster did not reduce cell skew: $skewBefore -> $skewAfter")
    assert(recallAfter >= recallBefore,
      s"recluster regressed recall: $recallBefore -> $recallAfter")
    // the probe stays partition-pruned on the NEW cells (the stored-
    // index plan gate, re-asserted post-recluster)
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val staticProbe = Similarity.ivfProbeStored(spark, path, queries,
        "vec_id", "embedding", k = 3, nProbe = 2)
      val scans = staticProbe.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains("assignments")) => s
      }
      assert(scans.nonEmpty, "no file scan over assignments found in the plan")
      val partsRead = scans.map(s =>
        s.relation.location.listFiles(s.partitionFilters, Nil).size).max
      assert(partsRead <= queries.count() * 2,
        s"post-recluster probe scanned $partsRead cell partitions")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("ivfReclusterIfSkewed: healthy store is a no-op, directional drift fires the trigger, recluster rebalances") {
    // three directional clusters with the SAME internal jitter: the
    // bootstrap sees A+B (k-means subdivides each across cells), the
    // drift appends C — whose 40 vectors all crowd whichever stale
    // cells sit nearest its direction, the fixable skew shape (a
    // TIGHT pack is irreducibly one-cell and recluster rightly
    // leaves it there; a jittered cluster subdivides like A and B
    // did once the centroids are re-fit over it)
    val rnd = new scala.util.Random(131)
    def cluster(n: Int, base: Long): Seq[(Long, Array[Float])] = {
      val c = Array.fill(8)(rnd.nextGaussian().toFloat)
      (0 until n).map(i => (base + i,
        c.map(x => x + 0.4f * rnd.nextGaussian().toFloat)))
    }
    val a = cluster(40, 0L); val b = cluster(40, 100L)
    val c = cluster(40, 200L)
    val corpus = (a ++ b).toDF("vec_id", "embedding")
    val path = new java.io.File("target/tmp/ivf-trigger-spec").getAbsolutePath
    graft.sources.Fs.deleteRecursively(spark, path)
    Similarity.ivfIndexWrite(Similarity.ivfIndex(corpus,
      Similarity.kmeansRefine(corpus,
        Similarity.pickCentroids(corpus, "vec_id", "embedding", 8),
        "vec_id", "embedding", steps = 2).select($"cell", $"embedding"),
      "vec_id", "embedding"), path)
    def skewMultiple(): Double = {
      val f = Similarity.ivfCellSkew(spark, path)
        .select($"max_bucket_frac").as[Double].head()
      f * Similarity.ivfIndexRead(spark, path).centroids.count()
    }
    // a Lloyd-trained index over its own corpus is healthy: no rewrite
    assert(Similarity.ivfReclusterIfSkewed(spark, path,
      maxFrac = 3.0).isEmpty, s"healthy store fired at ${skewMultiple()}")
    Similarity.ivfAppendWrite(spark, path,
      c.toDF("vec_id", "embedding"), "vec_id", "embedding")
    assert(skewMultiple() > 3.0, s"drift did not skew: ${skewMultiple()}")
    val stats = Similarity.ivfReclusterIfSkewed(spark, path,
      maxFrac = 3.0)
    assert(stats.nonEmpty, "trigger did not fire on a skewed store")
    assert(skewMultiple() <= 3.0,
      s"recluster left the store over the bar: ${skewMultiple()}")
    // and the repaired store is healthy for the NEXT window: no-op
    assert(Similarity.ivfReclusterIfSkewed(spark, path,
      maxFrac = 3.0).isEmpty)
    graft.GraftSession.sweepPersistedRdds(spark)
  }

  test("ivfPqCellSkew: per-document occupancy over the codes table, sub-rows collapsed") {
    val rows = gaussianVecs(40, 8, 57)
    val corpus = rows.toDF("vec_id", "embedding")
    val path = new java.io.File("target/tmp/ivfpq-skew-spec").getAbsolutePath
    graft.sources.Fs.deleteRecursively(spark, path)
    Similarity.ivfPqIndexWrite(Similarity.ivfPqIndex(corpus,
      Similarity.pickCentroids(corpus, "vec_id", "embedding", 4),
      "vec_id", "embedding", m = 2, k = 4, iters = 0), path)
    val skew = Similarity.ivfPqCellSkew(spark, path)
      .select($"n_rows", $"n_buckets", $"max_bucket_frac")
      .as[(Long, Long, Double)].head()
    // per-DOCUMENT: the m=2 sub-rows never double-count
    assert(skew._1 === 40L, s"skew counted sub rows: $skew")
    assert(skew._2 <= 4L && skew._3 <= 1.0 && skew._3 >= 0.25, s"$skew")
    // cross-checks the flat diagnostic's contract: occupancy equals
    // a direct per-cell count over distinct (id, cell)
    val direct = Similarity.ivfPqIndexRead(spark, path).codes
      .select("vec_id", "cell").distinct()
      .groupBy($"cell").count().agg(max($"count")).as[Long].head()
    assert(skew._3 === math.rint(10000.0 * direct / 40L) / 10000.0,
      s"$skew vs max cell $direct")
    graft.GraftSession.sweepPersistedRdds(spark)
  }

  test("ivfRecluster: a crash between the base publish and the centroid overwrite repairs EXACTLY on re-run") {
    // the scaladoc's crash contract, pinned: the reassigned base
    // publishes first (atomic), then centroids overwrite — a crash
    // between the two leaves new assignments under stale centroids,
    // and RE-RUNNING recluster lands the identical final state
    // because the re-fit is a pure function of the stored (id, vec)
    // rows, which reassignment never touches
    val rows = gaussianVecs(70, 8, 211)
    val corpus = rows.filter(_._1 % 3 != 0).toDF("vec_id", "embedding")
    val drift = rows.filter(_._1 % 3 == 0)
      .map { case (id, v) => (id + 500L, v.map(x => -x)) }
      .toDF("vec_id", "embedding")
    val path = new java.io.File("target/tmp/ivf-crash-spec").getAbsolutePath
    graft.sources.Fs.deleteRecursively(spark, path)
    Similarity.ivfIndexWrite(Similarity.ivfIndex(corpus,
      Similarity.pickCentroids(corpus, "vec_id", "embedding", 8),
      "vec_id", "embedding"), path)
    Similarity.ivfAppendWrite(spark, path, drift, "vec_id", "embedding")
    val staleCents = Similarity.ivfIndexRead(spark, path).centroids
      .orderBy("cell").as[(Long, Array[Float])].collect()
    Similarity.ivfRecluster(spark, path, steps = 1)
    def cents() = Similarity.ivfIndexRead(spark, path).centroids
      .orderBy("cell").as[(Long, Array[Float])].collect()
      .map { case (c, v) => (c, v.toSeq) }
    def asn() = Similarity.ivfIndexRead(spark, path).assignments
      .select("vec_id", "cell").orderBy("vec_id")
      .as[(Long, Long)].collect().toSeq
    val (cleanCents, cleanAsn) = (cents(), asn())
    // simulate the crash: the centroid overwrite never happened —
    // put the STALE centroid table back over the reassigned base
    staleCents.toSeq.map { case (c, v) => (c, v) }
      .toDF("cell", "embedding")
      .write.mode("overwrite").parquet(s"$path/centroids")
    // mid-crash the store stays probe-CONSISTENT (stale centroids
    // route to cells that all exist; recall is degraded, reads work)
    val probe = Similarity.ivfProbeStored(spark, path,
      corpus.limit(2), "vec_id", "embedding", k = 2, nProbe = 2)
    assert(probe.count() > 0L)
    // re-running the maintenance window repairs exactly
    Similarity.ivfRecluster(spark, path, steps = 1)
    assert(cents() === cleanCents, "re-run centroids diverged")
    assert(asn() === cleanAsn, "re-run assignments diverged")
    graft.GraftSession.sweepPersistedRdds(spark)
  }

  test("ivfPqRecluster: RTBF guard — corpus ids must equal the stored id set exactly") {
    val rows = gaussianVecs(60, 8, 43)
    val corpus = rows.filter(_._1 % 5 != 0).toDF("vec_id", "embedding")
    val path = new java.io.File("target/tmp/ivfpq-recluster-guard").getAbsolutePath
    graft.sources.Fs.deleteRecursively(spark, path)
    Similarity.ivfPqIndexWrite(Similarity.ivfPqIndex(corpus,
      Similarity.pickCentroids(corpus, "vec_id", "embedding", 4),
      "vec_id", "embedding", m = 2, k = 4, iters = 0), path)
    // superset corpus (the erased-victim resurrection shape) refuses
    val eSuper = intercept[IllegalArgumentException] {
      Similarity.ivfPqRecluster(spark, path,
        rows.toDF("vec_id", "embedding"), "vec_id", "embedding",
        m = 2, k = 4)
    }
    assert(eSuper.getMessage.contains("resurrect"), eSuper.getMessage)
    // subset corpus (codes silently vanishing) refuses too
    val eSub = intercept[IllegalArgumentException] {
      Similarity.ivfPqRecluster(spark, path,
        corpus.filter($"vec_id" % 3 =!= 0), "vec_id", "embedding",
        m = 2, k = 4)
    }
    assert(eSub.getMessage.contains("vanish"), eSub.getMessage)
    // the exact stored id set reclusters cleanly and the store now
    // equals a fresh build under the new geometry
    val stats = Similarity.ivfPqRecluster(spark, path, corpus,
      "vec_id", "embedding", m = 2, k = 4, iters = 1, steps = 1,
      nCells = 4)
    assert(stats.folded.nonEmpty)
    val fresh = Similarity.ivfPqIndex(corpus,
      Similarity.kmeansRefine(corpus,
        Similarity.pickCentroids(corpus, "vec_id", "embedding", 4),
        "vec_id", "embedding", steps = 1)
        .select($"cell", $"embedding"),
      "vec_id", "embedding", m = 2, k = 4, iters = 1)
    val stored = Similarity.ivfPqIndexRead(spark, path).codes
      .select("vec_id", "sub", "code", "cell")
      .orderBy("vec_id", "sub").as[(Long, Long, Long, Long)].collect()
    assert(stored === fresh.codes.select("vec_id", "sub", "code", "cell")
      .orderBy("vec_id", "sub").as[(Long, Long, Long, Long)].collect())
    graft.GraftSession.sweepPersistedRdds(spark)
  }

  test("pickK: max second difference, smaller-k tiebreak, < 3 points refuses") {
    def curve(rows: (Int, Double)*) =
      rows.toSeq.toDF("k", "mean_cost")
        .withColumn("n_vectors", lit(10L))
    // classic elbow: steep drop to k=4, flat after — knee at 4
    // (second diffs: k=4 -> 0.3 - 2*0.1 + 0.08 = 0.18; k=8 -> 0.1 -
    // 0.16 + 0.07 = 0.01)
    val knee = Similarity.pickK(curve(2 -> 0.3, 4 -> 0.1, 8 -> 0.08,
      16 -> 0.07)).as[(Int, Double)].head()
    assert(knee === ((4, 0.18)))
    // equal curvature everywhere (linear curve): tie goes to smaller k
    val tie = Similarity.pickK(curve(2 -> 0.4, 4 -> 0.3, 8 -> 0.2,
      16 -> 0.1)).as[(Int, Double)].head()
    assert(tie === ((4, 0.0)))
    // DEGENERATE flat curve (all-equal costs — a sweep that learned
    // nothing): the contract is the smallest interior k with
    // second_diff 0, so a caller can detect the no-curvature default
    // from the emitted second_diff instead of trusting the pick blind
    val flat = Similarity.pickK(curve(2 -> 0.25, 4 -> 0.25, 8 -> 0.25,
      16 -> 0.25)).as[(Int, Double)].head()
    assert(flat === ((4, 0.0)))
    // fewer than 3 points: no interior second difference — loud
    val e = intercept[Exception] {
      Similarity.pickK(curve(2 -> 0.3, 4 -> 0.1)).collect()
    }
    assert(e.getMessage.contains(">= 3"), e.getMessage)
  }
}
