package graft.operators

import graft.SparkSpecBase
import graft.functions.TextFunctions
import org.apache.spark.sql.functions._

class SplitsContaminationSpec extends SparkSpecBase {
  import spark.implicits._

  test("splitBucket is deterministic, uniform-ish, and engine-portable") {
    val ids = spark.range(0, 10000).toDF("id")
    val a = ids.select(Splits.splitBucket($"id").as("b")).as[Long].collect()
    val b = ids.select(Splits.splitBucket($"id").as("b")).as[Long].collect()
    assert(a.toSeq === b.toSeq)                    // deterministic
    assert(a.forall(x => x >= 0 && x < 100))
    // every bucket hit, no bucket pathologically hot (10k ids, 100 buckets)
    val hist = a.groupBy(identity).view.mapValues(_.size)
    assert(hist.size === 100)
    assert(hist.values.max < 200)
    // known value, computed independently (python hashlib):
    // md5("42") = a1d0c6e8...; 0xa1d0c6e8 = 2714814184; % 100 = 84
    val v42 = spark.range(42, 43).toDF("id")
      .select(Splits.splitBucket($"id")).as[Long].head()
    assert(v42 === 84L)
  }

  test("assignSplit respects the cumulative cut points and is stable") {
    val ids = spark.range(0, 10000).toDF("id")
    val byBucket = ids.select(Splits.splitBucket($"id").as("b"),
      Splits.assignSplit($"id").as("s")).as[(Long, String)].collect()
    assert(byBucket.forall { case (b, s) =>
      s == (if (b < 80) "train" else if (b < 90) "val" else "test") })
    val frac = byBucket.count(_._2 == "train").toDouble / byBucket.length
    assert(frac > 0.75 && frac < 0.85)
  }

  test("redactPii scrubs emails and phone runs, leaves clean text alone") {
    val out = Seq(
      "reach me at jane.doe+spam@sub.example.co.uk today",
      "call +1 (555) 010-2345 or 555-867-5309 now",
      "no pii here, just 42 words and v2 names").toDF("t")
      .select(TextFunctions.redactPii($"t").as("r")).as[String].collect()
    assert(out(0) === "reach me at [EMAIL] today")
    assert(out(1) === "call [PHONE] or [PHONE] now")
    assert(out(2) === "no pii here, just 42 words and v2 names")
  }

  test("ngramOverlap: verbatim inclusion is caught, fresh text is clean") {
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val probe = Seq(
      // contains the benchmark 8-gram verbatim inside longer text
      (1L, "intro words alpha beta gamma delta epsilon zeta eta theta outro"),
      // shares vocabulary but no 8-gram
      (2L, "alpha beta gamma NOPE delta epsilon zeta eta theta"),
      (3L, "entirely unrelated content with many distinct words here")
    ).toDF("doc_id", "text")
    val out = Contamination.ngramOverlap(probe, bench, "doc_id", "text", n = 8)
      .select("doc_id", "n_contaminated").as[(Long, Long)].collect().toMap
    assert(out(1L) === 1L)
    assert(out(2L) === 0L)
    assert(out(3L) === 0L)
  }

  test("ngramOverlap ratio: an exact copy of a benchmark doc scores 1.0") {
    val bench = Seq((100L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val copy = Seq((1L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val r = Contamination.ngramOverlap(copy, bench, "doc_id", "text", n = 8)
      .select("overlap_ratio").as[Double].head()
    assert(r === 1.0)
  }

  test("incrementalNgramOverlap against a persisted index equals ngramOverlap") {
    val bench = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta"),
      (101L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val probe = Seq(
      (1L, "intro words alpha beta gamma delta epsilon zeta eta theta outro"),
      (2L, "alpha beta gamma NOPE delta epsilon zeta eta theta"),
      (3L, "one two three four five six seven eight nine ten"),
      (4L, "entirely unrelated content with many distinct words here"),
      (5L, "short doc")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("gram_index_").toString
    try {
      Contamination.benchmarkGramIndexWrite(
        Contamination.benchmarkGramIndex(bench, "text", n = 8), s"$dir/idx")
      val stored = spark.read.parquet(s"$dir/idx")
      // the stored index holds fingerprints only — no benchmark text
      assert(stored.columns.toSeq === Seq("gram_fp"))
      val inc = Contamination.incrementalNgramOverlap(
        probe, stored, "doc_id", "text", n = 8)
        .select("doc_id", "n_ngrams", "n_contaminated", "overlap_ratio")
        .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
      val full = Contamination.ngramOverlap(probe, bench, "doc_id", "text", n = 8)
        .select("doc_id", "n_ngrams", "n_contaminated", "overlap_ratio")
        .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
      assert(inc === full)
      assert(inc.find(_._1 == 3L).get._4 === 1.0) // exact copy fully flagged
    } finally {
      graft.sources.Fs.deleteRecursively(spark, dir)
    }
  }

  test("incrementalNgramOverlap: an EMPTY persisted index fails loudly, not all-clean") {
    val probe = Seq((1L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    // an empty index is what a mis-pathed read produces: right schema,
    // zero rows — must never yield a "fully clean" verdict set
    val empty = Seq.empty[String].toDF("gram_fp")
    val e = intercept[IllegalArgumentException] {
      Contamination.incrementalNgramOverlap(probe, empty, "doc_id", "text", n = 8)
    }
    assert(e.getMessage.contains("EMPTY"))
  }

  test("stratifiedSample: per-stratum rates, unlisted strata use the default, rerun-stable") {
    val rows = (1L to 400L).map(i => (i, if (i % 2 == 0) "en" else "zz"))
      .toDF("id", "stratum")
    val sampled = Splits.stratifiedSample(rows, "stratum", "id",
      ratesBps = Map("en" -> 5000))
    val byStratum = sampled.groupBy("stratum").count()
      .as[(String, Long)].collect().toMap
    // zz has no configured rate and the default is 0 → fully dropped
    assert(!byStratum.contains("zz"))
    // ~50% of the 200 en rows survive (md5 buckets are uniform-ish)
    assert(byStratum("en") > 60 && byStratum("en") < 140, s"got $byStratum")
    // deterministic: the same call yields the identical id set
    val again = Splits.stratifiedSample(rows, "stratum", "id",
      ratesBps = Map("en" -> 5000))
    assert(sampled.select("id").except(again.select("id")).count() === 0)
    assert(again.select("id").except(sampled.select("id")).count() === 0)
    // rate 10000 keeps every row of the stratum
    val full = Splits.stratifiedSample(rows, "stratum", "id",
      ratesBps = Map("en" -> 10000, "zz" -> 10000))
    assert(full.count() === 400)
  }

  test("stratifiedSample is a strict subset decided per row (no shuffle of the fact)") {
    val rows = (1L to 100L).map(i => (i, "en")).toDF("id", "stratum")
    val sampled = Splits.stratifiedSample(rows, "stratum", "id",
      ratesBps = Map("en" -> 2500))
    // subset property
    assert(sampled.join(rows, Seq("id", "stratum"), "left_anti").count() === 0)
    // broadcast rate dim: no exchange of the input side in the plan
    val plan = sampled.queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"), s"plan:\n$plan")
  }

  test("mixtureSample: sharded selection equals the naive per-source window, budgets never overshoot") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(5)
    val rows = (0 until 600).map { i =>
      (i.toLong, s"src${i % 3}", 10L + rnd.nextInt(90)) }
    val df = rows.toDF("id", "source", "n_tokens")
    val weights = Map("src0" -> 0.6, "src1" -> 0.4) // src2 unweighted → excluded
    val total = 5000L
    // shardHexChars = 1 → 16 shards per source: the offset/pruning
    // machinery genuinely engages on 200 rows per source
    val out = Splits.mixtureSample(df, "id", "n_tokens", "source",
      weights, total, shardHexChars = 1)
      .select("id", "source", "n_tokens", "cum_tokens")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    // naive reference: one global window per source, same order key
    val naive = df
      .filter($"source".isin("src0", "src1"))
      .withColumn("_b", when($"source" === "src0", lit(3000L)).otherwise(lit(2000L)))
      .withColumn("_cum", sum($"n_tokens").over(
        Window.partitionBy($"source")
          .orderBy(md5($"id".cast("string").cast("binary")), $"id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter($"_cum" <= $"_b")
      .select($"id", $"source", $"n_tokens", $"_cum".as("cum_tokens"))
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    assert(out.nonEmpty && out === naive)
    // exact-budget guarantee per source, and the budget genuinely
    // BINDS: each source carries more token mass than its budget, so
    // the selection is a strict prefix (not everything) — with
    // out === naive above, that pins the cut as tight, not lazy
    val spent = out.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val mass = rows.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    assert(spent("src0") <= 3000L && mass("src0") > 3000L)
    assert(spent("src1") <= 2000L && mass("src1") > 2000L)
    val selected = out.map(_._1).toSet
    assert(rows.exists(r => r._2 == "src0" && !selected(r._1)) &&
      rows.exists(r => r._2 == "src1" && !selected(r._1)),
      "budgets admitted every doc — the cut never engaged")
    // determinism across runs
    val again = Splits.mixtureSample(df, "id", "n_tokens", "source",
      weights, total, shardHexChars = 1)
      .select("id").as[Long].collect().sorted
    assert(again === out.map(_._1))
  }

  test("mixtureSample: NULL token counts weigh zero and stay selectable") {
    // md5("1") < md5("2") < md5("3") lexicographically → order 1,2,3
    val df = Seq((1L, "s", Option(10L)), (2L, "s", Option.empty[Long]),
      (3L, "s", Option(10L))).toDF("id", "source", "n_tokens")
    val out = Splits.mixtureSample(df, "id", "n_tokens", "source",
      Map("s" -> 1.0), totalTokens = 15L)
      .select("id", "cum_tokens").as[(Long, Long)].collect().sortBy(_._1)
    // budget 15: doc1 (cum 10), doc2 NULL→+0 (cum 10) selected;
    // doc3 would reach 20 and is cut
    assert(out === Array((1L, 10L), (2L, 10L)), s"got ${out.mkString(", ")}")
  }

  test("temperatureWeights: alpha=1 is proportional, lower alpha flattens toward uniform") {
    // 90/10 skew between two sources
    val df = ((1 to 90).map(i => (i.toLong, "big", 10L)) ++
      (1 to 10).map(i => (100L + i, "small", 10L)))
      .toDF("id", "source", "n_tokens")
    val w1 = Splits.temperatureWeights(df, "source", "n_tokens", alpha = 1.0)
    assert(math.abs(w1("big") - 0.9) < 1e-9 && math.abs(w1("small") - 0.1) < 1e-9)
    val w5 = Splits.temperatureWeights(df, "source", "n_tokens", alpha = 0.5)
    // sqrt scaling: 0.75 / 0.25 — low-resource source boosted 2.5x
    assert(math.abs(w5("big") - 0.75) < 1e-9 && math.abs(w5("small") - 0.25) < 1e-9)
    assert(math.abs(w1.values.sum - 1.0) < 1e-6 &&
      math.abs(w5.values.sum - 1.0) < 1e-6)
    // end to end: budgets bind per source under the boosted weights
    val out = Splits.temperatureMixture(df, "id", "n_tokens", "source",
      alpha = 0.5, totalTokens = 200L)
      .select("id", "source", "n_tokens")
      .as[(Long, String, Long)].collect()
    val spent = out.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    // budgets: floor(0.75*200)=150, floor(0.25*200)=50 → 15 and 5 docs
    assert(spent("big") === 150L && spent("small") === 50L)
  }

  test("dsirLogWeights: target-like docs outrank off-target; featureless docs score 0") {
    // target domain speaks in (alpha beta) bigrams; off-target in (zeta eta)
    val docs = Seq(
      (1L, "alpha beta alpha beta alpha beta", true),
      (2L, "alpha beta alpha beta gamma", true),
      (3L, "zeta eta zeta eta zeta eta", false),
      (4L, "alpha beta alpha beta alpha", false), // raw doc that LOOKS in-domain
      (5L, "zeta eta zeta eta", false),
      (6L, "solo", false),                        // one token → no bigrams
      (7L, null.asInstanceOf[String], false)
    ).toDF("doc_id", "text", "tgt")
    val out = Splits.dsirLogWeights(docs, "doc_id", "text",
      targetFilter = col("tgt"), buckets = 64)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // in-domain-looking docs score strictly above off-target ones
    assert(out(4L)._2 > out(3L)._2,
      s"target-like ${out(4L)} should outrank off-target ${out(3L)}")
    assert(out(1L)._2 > out(5L)._2)
    // featureless docs survive with zero features and zero weight
    assert(out(6L) === ((0L, 0.0)) && out(7L) === ((0L, 0.0)))
    // every doc comes back exactly once
    assert(out.size === 7)
  }

  test("dsirScoreWithIndex over the index's own corpus equals the full run bit-for-bit") {
    val docs = Seq(
      (1L, "alpha beta alpha beta", true),
      (2L, "gamma delta gamma", true),
      (3L, "zeta eta zeta eta", false),
      (4L, "alpha beta gamma delta", false),
      (5L, "solo", false)
    ).toDF("doc_id", "text", "tgt")
    val full = Splits.dsirLogWeights(docs, "doc_id", "text",
      col("tgt"), buckets = 64)
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    val viaIndex = Splits.dsirScoreWithIndex(docs, "doc_id", "text",
      Splits.dsirIndex(docs, "doc_id", "text", col("tgt"), 64), buckets = 64)
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(viaIndex === full)
  }

  test("dsirScoreWithIndex: buckets the index never saw smooth as zero counts, not drops") {
    val corpus = Seq((1L, "alpha beta alpha beta", true),
      (2L, "gamma delta", false)).toDF("doc_id", "text", "tgt")
    val idx = Splits.dsirIndex(corpus, "doc_id", "text", col("tgt"), 64)
    val batch = Seq((10L, "never seen bigrams here")).toDF("doc_id", "text")
      .withColumn("tgt", lit(false))
    val Array((_, nFeats, logw)) =
      Splits.dsirScoreWithIndex(batch, "doc_id", "text", idx, buckets = 64)
        .as[(Long, Long, Double)].collect()
    assert(nFeats === 3L)
    // replicate the contract in plain Scala: md5-bucket every bigram,
    // count the corpus, smooth unseen buckets as zero
    def bucket(f: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(f.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16) % 64
    }
    def bigramsOf(t: String): Seq[String] =
      t.split(" ").sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
    val corpusFeats = Seq(("alpha beta alpha beta", true),
      ("gamma delta", false)).flatMap { case (t, tgt) =>
      bigramsOf(t).map(f => (bucket(f), tgt)) }
    val cr = corpusFeats.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val ct = corpusFeats.filter(_._2).groupBy(_._1).view
      .mapValues(_.size.toLong).toMap
    val nr = corpusFeats.size.toLong
    val nt = corpusFeats.count(_._2).toLong
    val raw = bigramsOf("never seen bigrams here").map { f =>
      val b = bucket(f)
      math.log(((ct.getOrElse(b, 0L) + 1) * (nr + 64)).toDouble /
        ((cr.getOrElse(b, 0L) + 1) * (nt + 64)).toDouble)
    }.sum
    val expected = BigDecimal(raw)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(logw - expected) < 2e-4,
      s"unseen-bucket smoothing: got $logw expected ~$expected")
  }

  test("weightedSampleK: closed-form A-ES keys, exact k, weight bias, determinism") {
    import org.apache.spark.sql.functions.col
    def key52(i: Long): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(13), 16)
    def esKey(id: Long, w: Double): Double = BigDecimal(
      StrictMath.pow((key52(id) + 1).toDouble / 4503599627370496.0, 1.0 / w))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = (1L to 100L).map(i => (i, (i % 10 + 1).toDouble))
    val df = rows.toDF("id", "w")
    val got = Splits.weightedSampleK(df, "id", col("w"), k = 10)
      .as[(Long, Double)].collect().toSeq
    val want = rows.map { case (i, w) => (i, esKey(i, w)) }
      .sortBy(t => (-t._2, t._1)).take(10)
    assert(got === want)
    // exact k; zero/negative/null weights excluded
    val mixed = Seq((1L, 5.0), (2L, 0.0), (3L, -1.0)).toDF("id", "w")
    assert(Splits.weightedSampleK(mixed, "id", col("w"), k = 5)
      .as[(Long, Double)].collect().map(_._1).toSeq === Seq(1L))
    // heavier rows dominate: weight-1000 ids should crowd out weight-1
    val biased = (1L to 200L).map(i =>
      (i, if (i <= 100) 1000.0 else 0.001))
    val picked = Splits.weightedSampleK(biased.toDF("id", "w"), "id",
      col("w"), k = 20).as[(Long, Double)].collect().map(_._1)
    assert(picked.count(_ <= 100) === 20,
      s"light rows crowded into the sample: ${picked.mkString(",")}")
  }

  test("semanticOverlap: exact argmax benchmark, paraphrase caught, tie toward smaller bench id") {
    // orthogonal axes + a diagonal: sims are closed-form
    val bench = Seq(
      (100L, Array(1f, 0f, 0f, 0f)),
      (101L, Array(0f, 1f, 0f, 0f))).toDF("id", "vec")
    val probe = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),     // identical to bench 100 → sim 1.0
      (2L, Array(1f, 1f, 0f, 0f)),     // equidistant (0.7071) → tie → bench 100
      (3L, Array(0f, 0.6f, 0.8f, 0f)), // 0.6 to bench 101
      (4L, Array(0f, 0f, 0f, 1f))      // orthogonal to both → 0.0
    ).toDF("id", "vec")
    val out = Contamination.semanticOverlap(probe, bench, "id", "vec", tau = 0.6)
      .as[(Long, Long, Double, Boolean)].collect().sortBy(_._1)
    assert(out === Array(
      (1L, 100L, 1.0, true),
      (2L, 100L, 0.7071, true),
      (3L, 101L, 0.6, true),
      (4L, 100L, 0.0, false)))
    // the paraphrase case n-grams miss: identical embedding, zero
    // shared text — semanticOverlap flags it at any tau <= 1.0
    assert(out.head._3 === 1.0 && out.head._4)
    // benchmark side broadcasts: no shuffle of the probe vectors
    val plan = Contamination.semanticOverlap(probe, bench, "id", "vec", 0.6)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"benchmark side not broadcast:\n$plan")
    // stored-index probe == live probe, bit-for-bit
    val root = s"${System.getProperty("java.io.tmpdir")}/graft-bench-vec-spec"
    Contamination.benchmarkVecIndexWrite(bench, "id", "vec", root)
    val stored = Contamination.semanticOverlapStored(probe,
      Contamination.benchmarkVecIndexRead(spark, root), "id", "vec", tau = 0.6)
      .as[(Long, Long, Double, Boolean)].collect().sortBy(_._1)
    assert(stored === out)
    // burn report: argmax attribution partitions the contaminated set,
    // clean benchmark items keep explicit zero rows
    val bench3 = bench.unionByName(
      Seq((102L, Array(0f, 0f, 0f, -1f))).toDF("id", "vec")) // burns nothing
    val report = Contamination.burnReport(
      Contamination.semanticOverlap(probe, bench3, "id", "vec", tau = 0.6),
      bench3, "id").as[(Long, Long)].collect().toMap
    // probes 1 (sim 1.0 → 100), 2 (tie → 100), 3 (0.6 → 101); 102 clean
    assert(report === Map(100L -> 2L, 101L -> 1L, 102L -> 0L))
    assert(report.values.sum === out.count(_._4))
  }

  test("semanticOverlap: an empty benchmark fails loudly, not as an empty verdict set") {
    val probe = Seq((1L, Array(1f, 0f))).toDF("id", "vec")
    val emptyBench = Seq.empty[(Long, Array[Float])].toDF("id", "vec")
    val e = intercept[IllegalArgumentException] {
      Contamination.semanticOverlap(probe, emptyBench, "id", "vec", tau = 0.5)
    }
    assert(e.getMessage.contains("EMPTY"), e.getMessage)
    // the stored path — the mis-pathed/empty-index case the guard is
    // really for: an index persisted from an empty benchmark refuses
    // at probe time instead of declaring the whole corpus clean
    val root = s"${System.getProperty("java.io.tmpdir")}/graft-bench-vec-empty-spec"
    Contamination.benchmarkVecIndexWrite(emptyBench, "id", "vec", root)
    val stored = intercept[IllegalArgumentException] {
      Contamination.semanticOverlapStored(probe,
        Contamination.benchmarkVecIndexRead(spark, root), "id", "vec", tau = 0.5)
    }
    assert(stored.getMessage.contains("EMPTY"), stored.getMessage)
  }

  test("clusterSafeSplit: no near-dup pair ever straddles splits, over random clusterings") {
    val rng = new scala.util.Random(20260814L)
    val docs = (0L until 500L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    for (_ <- 1 to 5) {
      // random clustering: each doc joins a random cluster whose id is
      // one of its members (CC's contract: cluster_id = min member id)
      val nClusters = 1 + rng.nextInt(120)
      val assign = (0L until 500L).map(i => (i, rng.nextInt(nClusters)))
      val byCluster = assign.groupBy(_._2).values.toSeq
      val labels = byCluster.flatMap { members =>
        val cid = members.map(_._1).min
        members.map { case (id, _) => (id, cid) }
      }.toDF("id", "cluster_id")
      val out = Splits.clusterSafeSplit(docs, "doc_id", labels)
      // THE invariant: same cluster => same split (so no intra-cluster
      // near-dup pair can cross train/test)
      val straddling = out.groupBy("cluster_id")
        .agg(countDistinct("split").as("n_splits"))
        .filter(col("n_splits") > 1).count()
      assert(straddling === 0L, s"clusters straddling splits: $straddling")
      // split is the md5 bucket of the CLUSTER id, not the doc id
      val wrong = out.filter(
        Splits.assignSplit(col("cluster_id")) =!= col("split")).count()
      assert(wrong === 0L)
    }
    // unlabeled docs are their own singleton cluster: split == q49's id split
    val fewLabels = Seq((7L, 3L), (3L, 3L)).toDF("id", "cluster_id")
    val out = Splits.clusterSafeSplit(docs, "doc_id", fewLabels)
    val solo = out.filter(!col("doc_id").isin(3L, 7L))
    assert(solo.filter(col("cluster_id") =!= col("doc_id")).count() === 0L)
    assert(solo.filter(
      Splits.assignSplit(col("doc_id")) =!= col("split")).count() === 0L)
    // raw-id hashing (q49) DOES leak on the same clusterings — the
    // failure clusterSafeSplit exists to close: find any 2-doc cluster
    // whose members' raw-id splits differ
    val leaky = (0L until 500L).grouped(2).map(_.toSeq).toSeq
      .flatMap { case Seq(a, b) => Seq((a, a), (b, a)); case _ => Nil }
      .toDF("id", "cluster_id")
    val rawLeaks = docs
      .join(leaky.withColumnRenamed("id", "doc_id"), Seq("doc_id"))
      .select(col("cluster_id"), Splits.assignSplit(col("doc_id")).as("raw_split"))
      .groupBy("cluster_id").agg(countDistinct("raw_split").as("n")).filter(col("n") > 1)
    assert(rawLeaks.count() > 0L, "expected raw-id splits to straddle some pair")
  }

  test("propagatedOverlap: a paraphrased near-dup of a contaminated doc is flagged by its neighbor") {
    // doc 1 verbatim-contains the benchmark 8-gram (own 1/5 = 0.2);
    // doc 2 is its near-dup (3-shingle J = 7/13 ≈ 0.54) with the gram
    // broken — own 0.0, invisible to the direct check, caught only
    // through the cluster; doc 3 is unrelated and absent
    val docs = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta"),
      (1L, "alpha beta gamma delta epsilon zeta eta theta xx yy zz ww"),
      (2L, "alpha beta gamma delta epsilon zeta eta nope xx yy zz ww"),
      (3L, "completely different words here now")
    ).toDF("doc_id", "text")
    val out = Contamination.propagatedOverlap(docs,
      benchFilter = col("doc_id") === 100L,
      idCol = "doc_id", textCol = "text", n = 8)
      .orderBy("doc_id")
      .as[(Long, Double, Double, Boolean)].collect()
    assert(out === Array(
      (1L, 0.2, 0.2, false),
      (2L, 0.0, 0.2, true)), s"got ${out.mkString("; ")}")
  }
}
