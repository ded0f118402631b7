package graft.operators

import graft.SparkSpecBase
import graft.functions.TextFunctions
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpecBase {
  import spark.implicits._

  private val docA = "the quick brown fox jumps over the lazy dog again and again"
  private val docA2 = "The quick brown fox jumps over the lazy dog again and again!"  // near-identical
  private val docB = "completely different content about spark query engines and shuffles"

  /** The q42 banding: source-blocked, 32 bands of 2 rows, unigram
    * shingles, candidate-only. */
  private val sourceMinHash = Dedup.MinHash(numHashes = 64, bands = 32,
    shingleK = 1, threshold = 0.0, maxBucket = 10000,
    blockCol = Some("source"))

  private def docs = Seq(
    (1L, docA, "s1"), (2L, docA2, "s1"), (3L, docB, "s1"),
    (4L, docA, "s2")  // exact dup of 1 (after canonicalization)
  ).toDF("doc_id", "text", "source")

  test("exactDedup keeps the min-id row per fingerprint") {
    val out = Dedup.exactDedupStats(docs,
      TextFunctions.fingerprint($"text"), $"doc_id")
      .orderBy("keep_id")
      .select("keep_id", "n_copies").as[(Long, Long)].collect()
    // docA (ids 1,4) collapse; docA2 canonicalizes identically to docA
    // (punctuation/case stripped) so it joins that group too
    assert(out === Array((1L, 3L), (3L, 1L)))
    val rows = Dedup.exactDedup(docs, TextFunctions.fingerprint($"text"), $"doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(rows === Array(1L, 3L))
  }

  test("minHashLsh surfaces exact and near duplicates, not unrelated docs") {
    val pairs = Dedup.lshPairs(docs, "doc_id", "text",
      Dedup.MinHash(numHashes = 64, bands = 16, shingleK = 2, threshold = 0.5))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)))  // exact dup: signature identical
    assert(pairs.contains((1L, 2L)))  // near dup
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L })  // unrelated
  }

  test("estimatedJaccard is 1.0 for identical signatures") {
    val sigs = docs.select(
      Dedup.minHashSignature(Dedup.shingles($"text", 2), 32).as("sig"))
    val j = sigs.limit(1).crossJoin(sigs.limit(1).select($"sig".as("sig2")))
      .select(Dedup.estimatedJaccard($"sig", $"sig2")).as[Double].head()
    assert(j === 1.0)
  }

  test("simHash: identical text → identical signature; hamming 0 pair found") {
    val pairs = Dedup.lshPairs(docs, "doc_id", "text",
      Dedup.SimHash(maxHamming = 3))
      .as[(Long, Long, Long)].collect()
    val exact = pairs.find(p => p._1 == 1L && p._2 == 4L)
    assert(exact.exists(_._3 === 0L))
  }

  test("ngramJaccardPairs: identity 1.0, near-dup high, unrelated low") {
    val out = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      blockCol = "source", k = 1, threshold = 0.0)
      .as[(Long, Long, Double)].collect()
      .map(p => (p._1, p._2) -> p._3).toMap
    assert(out((1L, 2L)) === 1.0)  // same token set after canonicalization
    assert(out((1L, 3L)) < 0.2)
    // cross-source pairs are blocked out
    assert(!out.contains((1L, 4L)))
  }

  test("ngramJaccardVerify on LSH candidates ≡ within-block all-pairs") {
    // the scale-safe q42 path: banded candidates + exact verification
    // must reproduce the brute-force edge set at the same threshold
    val brute = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      blockCol = "source", k = 1, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // blockCol=source ⇒ candidates are same-source by construction
    // and threshold=0 skips signature scoring (est_jaccard null)
    val cands = Dedup.lshPairs(docs, "doc_id", "text", sourceMinHash)
    assert(cands.filter($"est_jaccard".isNotNull).count() === 0)
    val verified = Dedup.ngramJaccardVerify(docs, cands, "doc_id", "text",
      k = 1, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(verified === brute)
    // and the verifier reports exact (not estimated) jaccard
    val j12 = Dedup.ngramJaccardVerify(docs, cands, "doc_id", "text",
      k = 1, threshold = 0.0)
      .filter($"id_a" === 1L && $"id_b" === 2L)
      .select("jaccard").as[Double].head()
    assert(j12 === 1.0)
  }

  test("shingles: shorter-than-k documents collapse to a single shingle") {
    val out = spark.range(1).select(
      Dedup.shingles(lit("only two"), 3).as("sh")).as[Seq[String]].head()
    assert(out === Seq("only two"))
  }

  test("incrementalExactDedup: new batch dedupes within itself and against the corpus") {
    val existing = Seq(docA).toDF("text")
      .select(TextFunctions.fingerprint($"text").as("fingerprint"))
    val batch = Seq(
      (10L, docA),   // already in the corpus → dropped
      (11L, docB),   // genuinely new → kept
      (12L, docB),   // within-batch duplicate of 11 → dropped (min id wins)
      (13L, "a third entirely different document about gap filling")
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalExactDedup(batch, "text", "doc_id", existing)
      .select("doc_id").as[Long].collect().sorted
    assert(out === Array(11L, 13L))
  }

  test("bloomIncrementalExactDedup ≡ incrementalExactDedup on the sf0.001 corpus") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val batch = docs.filter($"doc_id" % 3 === 0).select("doc_id", "source", "text")
    val existing = docs.filter($"doc_id" % 3 =!= 0)
      .select(TextFunctions.fingerprint($"text").as("fingerprint"))
    val plain = Dedup.incrementalExactDedup(batch, "text", "doc_id", existing)
      .select("doc_id").as[Long].collect().sorted
    // the prefilter must be output-invisible at any sizing — including
    // a deliberately tiny, collision-heavy filter (every row "maybe")
    for (items <- Seq(1000000L, 10L)) {
      val bloomed = Dedup.bloomIncrementalExactDedup(
        batch, "text", "doc_id", existing, expectedItems = items, fpp = 0.01)
        .select("doc_id").as[Long].collect().sorted
      assert(bloomed === plain, s"expectedItems=$items")
    }
    assert(plain.nonEmpty) // the equivalence must not be vacuous
  }

  test("bloom prefilter: empty corpus keeps the whole first batch") {
    // A zero-cardinality bloom build evaluates to null; without the
    // coalesce-to-true guard, the null predicate would be dropped by
    // both branches and the first batch of an incremental pipeline
    // would vanish entirely.
    val existing = Seq.empty[String].toDF("text")
      .select(TextFunctions.fingerprint($"text").as("fingerprint"))
    val batch = Seq((1L, docA), (2L, docB), (3L, docA)).toDF("doc_id", "text")
    val out = Dedup.bloomIncrementalExactDedup(batch, "text", "doc_id", existing, 100L)
      .select("doc_id").as[Long].collect().sorted
    assert(out === Array(1L, 2L)) // within-batch dedup still applies
  }

  test("bloom prefilter: all-new batch bypasses the join, all-dup batch verifies") {
    val existing = Seq(docA).toDF("text")
      .select(TextFunctions.fingerprint($"text").as("fingerprint"))
    val allNew = Seq((1L, docB), (2L, "another novel doc entirely"))
      .toDF("doc_id", "text")
    assert(Dedup.bloomIncrementalExactDedup(allNew, "text", "doc_id", existing, 100L)
      .select("doc_id").as[Long].collect().sorted === Array(1L, 2L))
    val allDup = Seq((3L, docA)).toDF("doc_id", "text")
    assert(Dedup.bloomIncrementalExactDedup(allDup, "text", "doc_id", existing, 100L)
      .count() === 0L)
  }

  test("incrementalMinHashLsh ≡ full-corpus LSH restricted to the batch (sf0.001)") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val batch = docs.filter($"doc_id" % 3 === 0)
    val corpus = docs.filter($"doc_id" % 3 =!= 0)
    val index = Dedup.bandIndex(corpus, "doc_id", "text", sourceMinHash)
    val incr = Dedup.lshProbe(batch, "doc_id", "text", index, sourceMinHash)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val batchIds = batch.select("doc_id").as[Long].collect().toSet
    val full = Dedup.lshPairs(docs, "doc_id", "text", sourceMinHash)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val touching = full.filter(p => batchIds(p._1) || batchIds(p._2))
    assert(touching.nonEmpty, "equivalence must not be vacuous")
    assert(incr === touching,
      s"missed=${(touching -- incr).take(5)} spurious=${(incr -- touching).take(5)}")

    // empty batch → empty output; empty corpus index → batch-internal only
    val emptyBatch = batch.limit(0)
    assert(Dedup.lshProbe(emptyBatch, "doc_id", "text", index,
      sourceMinHash).count() === 0L)
    val emptyIndex = index.limit(0)
    val internalOnly = Dedup.lshProbe(batch, "doc_id", "text", emptyIndex,
      sourceMinHash)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val batchOnly = Dedup.lshPairs(batch, "doc_id", "text", sourceMinHash)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(internalOnly === batchOnly)
    // ids-only bands cannot score a batch×corpus pair: a scoring
    // MinHash probe refuses instead of verifying half its output
    val scoring = intercept[IllegalArgumentException] {
      Dedup.lshProbe(batch, "doc_id", "text", index,
        sourceMinHash.copy(threshold = 0.5))
    }
    assert(scoring.getMessage.contains("threshold = 0.0"), scoring.getMessage)
  }

  test("incrementalSimHash ≡ full-corpus banding restricted to the batch (sf0.001)") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val batch = docs.filter($"doc_id" % 3 === 0)
    val corpus = docs.filter($"doc_id" % 3 =!= 0)
    val lsh = Dedup.SimHash(maxHamming = 3, maxBucket = 10000)
    val index = Dedup.bandIndex(corpus, "doc_id", "text", lsh)
    val incr = Dedup.lshProbe(batch, "doc_id", "text", index, lsh)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val batchIds = batch.select("doc_id").as[Long].collect().toSet
    val full = Dedup.lshPairs(docs, "doc_id", "text", lsh)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val touching = full.filter(p => batchIds(p._1) || batchIds(p._2))
    assert(touching.nonEmpty, "equivalence must not be vacuous")
    assert(incr === touching,
      s"missed=${(touching -- incr).take(5)} spurious=${(incr -- touching).take(5)}")

    // empty batch → empty; empty index → batch-internal pairs only
    assert(Dedup.lshProbe(batch.limit(0), "doc_id", "text", index,
      Dedup.SimHash()).count() === 0L)
    val internalOnly = Dedup.lshProbe(batch, "doc_id", "text",
      index.limit(0), lsh)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val batchOnly = Dedup.lshPairs(batch, "doc_id", "text", lsh)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(internalOnly === batchOnly)
  }

  test("incrementalEmbeddingLsh ≡ full-corpus banding restricted to the batch (sf0.001)") {
    val vecs = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select("vec_id", "embedding")
    // synthetic embeddings are near-orthogonal: plant copies (q82
    // pattern) so the equivalence isn't vacuous
    val planted = vecs.filter($"vec_id" % 10 === 0)
      .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding")
    val batch = vecs.filter($"vec_id" % 3 === 0).unionByName(planted)
    val corpus = vecs.filter($"vec_id" % 3 =!= 0)
    val lsh = Dedup.Srp(threshold = 0.99, maxBucket = 10000)
    val index = Dedup.bandIndex(corpus, "vec_id", "embedding", lsh)
    val incr = Dedup.lshProbe(batch, "vec_id", "embedding", index, lsh)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val batchIds = batch.select("vec_id").as[Long].collect().toSet
    val full = Dedup.lshPairs(vecs.unionByName(planted),
      "vec_id", "embedding", lsh)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val touching = full.filter(p => batchIds(p._1) || batchIds(p._2))
    assert(touching.nonEmpty, "equivalence must not be vacuous")
    assert(incr === touching,
      s"missed=${(touching -- incr).take(5)} spurious=${(incr -- touching).take(5)}")
    // empty edges
    assert(Dedup.lshProbe(batch.limit(0), "vec_id", "embedding",
      index, Dedup.Srp(threshold = 0.99)).count() === 0L)
    val internalOnly = Dedup.lshProbe(batch, "vec_id", "embedding",
      index.limit(0), lsh)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val batchOnly = Dedup.lshPairs(batch, "vec_id", "embedding", lsh)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(internalOnly === batchOnly)
  }

  // Pins q22's 4×16-bit pigeonhole banding against brute-force ground
  // truth on the real sf0.01 corpus. Unlike MinHash (probabilistic
  // recall), SimHash banding is DETERMINISTIC for maxHamming = 3: at
  // most 3 differing bits can touch at most 3 of the 4 bands, so every
  // true pair shares at least one intact band and recall is exactly
  // 100%; and since SimHash lshPairs re-filters candidates on the true
  // 64-bit Hamming distance, precision is exact too. The spec therefore
  // asserts full set equality with the all-pairs form — it fails if the
  // band slicing (shift/mask offsets), bucket collapse, pair
  // generation, or the Hamming filter regresses in either direction.
  // (maxBucket = 5000 cannot drop anything here: no bucket can exceed
  // the sf0.01 doc count.)
  test("simHashPairs ≡ brute-force 64-bit Hamming pairs on sf0.01 (pigeonhole recall 100%)") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.01")
    val sigs = docs.select(col("doc_id").as("id"), Dedup.simHash(col("text")).as("sig"))
    val brute = sigs.as("a").join(sigs.as("b"), col("a.id") < col("b.id"))
      .filter(bit_count(col("a.sig").bitwiseXOR(col("b.sig"))) <= 3)
      .select(col("a.id"), col("b.id")).as[(Long, Long)].collect().toSet
    val banded = Dedup.lshPairs(docs, "doc_id", "text",
      Dedup.SimHash(maxHamming = 3))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(brute.size > 1000, s"ground truth unexpectedly small: ${brute.size}")
    assert(banded === brute,
      s"banded ${banded.size} pairs vs brute ${brute.size}: " +
        s"missed=${(brute -- banded).take(5)} spurious=${(banded -- brute).take(5)}")
  }

  // Bounds the q42 banding configuration (32 bands × 2 rows, k=1
  // shingles, blockCol=source) against exact token-Jaccard ground
  // truth on the real sf0.01 corpus: a true pair at similarity s is
  // missed with probability (1−s²)^32 ≤ 4e-5 at s = 0.5, so observed
  // candidate recall over the ~4k true pairs must be ≥ 99%. Fails if
  // the banding math (band slicing, bucket collapse, skew guard)
  // regresses — the spec backing q20/q42's rows-only oracle rows.
  test("dropped-bucket counters surface the maxBucket boundary on every guard side") {
    // 12 identical docs form one mega-clique: every band's bucket holds
    // all 12 ids. With maxBucket = 8 the full run drops every bucket
    // (combined size 12 > 8) and finds nothing…
    val clones = (0L until 12L).map(i => (i, "alpha beta gamma delta epsilon zeta"))
    val docs = clones.toDF("doc_id", "text")
    val tight = Dedup.MinHash(numHashes = 16, bands = 4, shingleK = 1,
      threshold = 0.0, maxBucket = 8)
    val full = Dedup.lshPairs(docs, "doc_id", "text", tight)
    // collect(), not count(): observed metrics attach to the
    // QueryExecution that ran, and only collect/foreach run df's own
    assert(full.collect().isEmpty)
    assert(Dedup.droppedBuckets(full) > 0,
      "full run dropped its mega-buckets silently")

    // …while the incremental split (6 corpus + 6 batch) guards each
    // side at 6 ≤ 8 and KEEPS them: the documented asymmetric-loss
    // window. The counters make the divergence visible: full counted
    // drops, neither incremental side did.
    val corpus = docs.filter($"doc_id" < 6)
    val batch = docs.filter($"doc_id" >= 6)
    val index = Dedup.bandIndex(corpus, "doc_id", "text", tight)
    val inc = Dedup.lshProbe(batch, "doc_id", "text", index, tight)
    assert(inc.collect().nonEmpty)
    assert(Dedup.droppedBuckets(inc) === 0,
      "incremental sides under the guard must not count drops")

    // and far from the boundary (guard above the clique) nobody drops:
    // the equivalence contract's precondition is checkable, not assumed
    val fullWide = Dedup.lshPairs(docs, "doc_id", "text",
      tight.copy(maxBucket = 100))
    assert(fullWide.collect().length === 12 * 11 / 2)
    assert(Dedup.droppedBuckets(fullWide) === 0)
  }

  test("minHashLsh candidate recall >= 99% vs exact Jaccard at 0.5 on sf0.01") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.01")
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      blockCol = "source", k = 1, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val candidates = Dedup.lshPairs(docs, "doc_id", "text", sourceMinHash)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.size > 1000, s"ground truth unexpectedly small: ${exact.size}")
    val recall = exact.count(candidates.contains).toDouble / exact.size
    assert(recall >= 0.99,
      f"LSH candidate recall $recall%.4f over ${exact.size} true pairs")
  }

  test("removeBoilerplateLines: corpus-frequent lines drop, order survives, empty docs persist") {
    val footer = "(c) 2024 example corp - all rights reserved"
    val nav = "home | about | contact"
    val docs = Seq(
      (1L, s"unique alpha\n$footer\nunique beta\n$nav"),
      (2L, s"$nav\nsolo gamma\n$footer"),
      (3L, s"$footer\n$nav"), // pure boilerplate → empty, NOT dropped
      (4L, "only original content here")
    ).toDF("doc_id", "text")
    val out = Dedup.removeBoilerplateLines(docs, "doc_id", "text",
      sep = "\n", minDocs = 3)
      .orderBy("doc_id").as[(Long, String, Long)].collect()
    assert(out === Array(
      // nav appears in 3 docs ≥ 3 → dropped; footer too
      (1L, "unique alpha\nunique beta", 2L),
      (2L, "solo gamma", 2L),
      (3L, "", 2L),
      (4L, "only original content here", 0L)),
      s"got ${out.mkString("; ")}")
  }

  test("removeBoilerplateLines: NULL text persists as empty; blank lines are exempt from detection") {
    val docs = Seq(
      (1L, "para one\n\nfooter"), (2L, "para two\n\nfooter"),
      (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = Dedup.removeBoilerplateLines(docs, "doc_id", "text",
      sep = "\n", minDocs = 2)
      .orderBy("doc_id").as[(Long, String, Long)].collect()
    assert(out === Array(
      // the blank line recurs in both docs but is under the
      // minLineLen floor → the paragraph break survives; footer drops
      (1L, "para one\n", 1L),
      (2L, "para two\n", 1L),
      // NULL text: the doc comes back empty, not vanished
      (3L, "", 0L)), s"got ${out.mkString("; ")}")
  }

  test("removeBoilerplateLines: below-threshold lines are untouched") {
    val docs = Seq(
      (1L, "shared line\nown one"), (2L, "shared line\nown two"))
      .toDF("doc_id", "text")
    val out = Dedup.removeBoilerplateLines(docs, "doc_id", "text",
      sep = "\n", minDocs = 3)
      .orderBy("doc_id").as[(Long, String, Long)].collect()
    assert(out === Array(
      (1L, "shared line\nown one", 0L), (2L, "shared line\nown two", 0L)))
  }

  test("repeatedSpans: cross-doc repeats merge to maximal spans; unique and short docs yield none") {
    val run = (1 to 10).map(i => s"r$i").mkString(" ")
    val docs = Seq(
      (1L, s"u1 u2 u3 $run t1 t2"),       // the run sits at tokens 3..12
      (2L, s"$run v1 v2 v3 v4 v5"),       // same run at tokens 0..9
      (3L, "w1 w2 w3 w4 w5 w6 w7 w8 w9"), // unique content — no spans
      (4L, "short doc")                   // under k tokens — no windows
    ).toDF("doc_id", "text")
    val out = Dedup.repeatedSpans(docs, "doc_id", "text", k = 8)
      .orderBy("doc_id").as[(Long, Long, Long, Long)].collect()
    // repeated 8-windows are exactly those inside the shared run:
    // doc1 positions 3,4,5 → one maximal span [3, 13); doc2 0,1,2
    assert(out === Array((1L, 3L, 13L, 3L), (2L, 0L, 10L, 3L)),
      s"got ${out.mkString("; ")}")
  }

  test("repeatedSpans: within-doc self repeat counts; disjoint islands stay separate spans") {
    val eight = (1 to 8).map(i => s"a$i").mkString(" ")
    val docs = Seq((1L, s"$eight x1 $eight")).toDF("doc_id", "text")
    val out = Dedup.repeatedSpans(docs, "doc_id", "text", k = 8)
      .orderBy("span_start").as[(Long, Long, Long, Long)].collect()
    // the 8-gram occurs at positions 0 and 9 of the SAME doc: both
    // flagged (self repeats count), gap 9 > 0+8 → two maximal spans
    assert(out === Array((1L, 0L, 8L, 1L), (1L, 9L, 17L, 1L)),
      s"got ${out.mkString("; ")}")
  }

  test("removeRepeatedSpans: first occurrence survives, later ones are excised") {
    val run = (1 to 10).map(i => s"r$i").mkString(" ")
    val docs = Seq(
      (1L, s"u1 u2 u3 $run t1 t2"),       // first occurrence (doc order)
      (2L, s"$run v1 v2 v3 v4 v5"),       // later occurrence → cut
      (3L, "w1 w2 w3 w4 w5 w6 w7 w8 w9"), // unique — untouched
      (4L, "short doc")                   // under k tokens — untouched
    ).toDF("doc_id", "text")
    val out = Dedup.removeRepeatedSpans(docs, "doc_id", "text", k = 8)
      .orderBy("doc_id").as[(Long, String, Long)].collect()
    assert(out === Array(
      (1L, s"u1 u2 u3 $run t1 t2", 0L),
      (2L, "v1 v2 v3 v4 v5", 10L),
      (3L, "w1 w2 w3 w4 w5 w6 w7 w8 w9", 0L),
      (4L, "short doc", 0L)), s"got ${out.mkString("; ")}")
  }

  test("removeRepeatedSpans: an exact whole-doc copy empties; self-repeat keeps the first island") {
    val eight = (1 to 8).map(i => s"a$i").mkString(" ")
    val docs = Seq(
      (1L, s"$eight x1 $eight"), // self repeat: pos 0 kept, pos 9 cut
      (2L, s"$eight x1 $eight")  // whole-doc copy of doc 1 → fully cut
    ).toDF("doc_id", "text")
    val out = Dedup.removeRepeatedSpans(docs, "doc_id", "text", k = 8)
      .orderBy("doc_id").as[(Long, String, Long)].collect()
    // doc1: gram at 0 is the global first (kept); its repeat at 9 is
    // cut. The "x1"-straddling windows repeat across docs too: doc1
    // holds their first occurrences, so doc1 keeps everything up to
    // pos 9's island... pos 1..9 windows all first-occur in doc1.
    // doc2: every window is a second-or-later occurrence → all cut.
    assert(out(1) === ((2L, "", 17L)), s"got ${out.mkString("; ")}")
    assert(out(0)._1 === 1L && out(0)._3 > 0L)
    // between them, exactly one copy of the repeated material survives
    assert(out(0)._2.startsWith(eight))
  }

  test("incrementalRemoveBoilerplate ≡ full-corpus run restricted to the batch (sf0.01)") {
    // the q93-style contract for the boilerplate family: cleaning a
    // batch against the stored line-frequency index of the REST of
    // the corpus must equal the full run over everything, restricted
    // to the batch's documents
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.01")
      .select("doc_id", "text")
    val corpus = docs.filter($"doc_id" % 3 =!= 0)
    val batch = docs.filter($"doc_id" % 3 === 0)
    val index = Dedup.boilerplateIndex(corpus, "doc_id", "text", " the ")
    val inc = Dedup.incrementalRemoveBoilerplate(batch, "doc_id", "text",
      index, " the ", minDocs = 2)
      .as[(Long, String, Long)].collect().sortBy(_._1)
    val full = Dedup.removeBoilerplateLines(docs, "doc_id", "text",
      " the ", minDocs = 2)
      .filter($"doc_id" % 3 === 0)
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(inc.nonEmpty && inc === full)
    // and the threshold genuinely engaged somewhere in the batch
    assert(inc.exists(_._3 > 0L), "no boilerplate removed — vacuous")
  }

  test("boilerplateCounts.merge: per-shard builds merge to the corpus-wide index") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val a = Dedup.boilerplateIndex(docs.filter($"doc_id" % 2 === 0),
      "doc_id", "text", " the ")
    val b = Dedup.boilerplateIndex(docs.filter($"doc_id" % 2 =!= 0),
      "doc_id", "text", " the ")
    val merged = Dedup.boilerplateCounts(" the ").merge(a, b)
      .as[(String, Long)].collect().sortBy(_._1)
    val whole = Dedup.boilerplateIndex(docs, "doc_id", "text", " the ")
      .as[(String, Long)].collect().sortBy(_._1)
    assert(merged === whole && whole.nonEmpty)
  }

  // ------------------------------------------------ semantic dedup (SemDeDup)

  private val semDim = 8
  private def semAxis(j: Int) = Array.tabulate(semDim)(i => if (i == j) 1f else 0f)
  private def semCentroids = Seq(
    (0L, semAxis(0)), (1L, semAxis(1)), (2L, semAxis(2)))
    .toDF("vec_id", "embedding")
  /** Three orthogonal clusters: per cluster j, members j*10+{1,2,3}
    * are tiny perturbations of axis j (pairwise cosine ≈ 1) and
    * j*10+5 leans 0.8·axis(j) + 0.6·axis(j+1) — nearest to centroid
    * j but cosine ≈ 0.8 to its clustermates, under tau = 0.9. */
  private def semCorpus = (0 until 3).flatMap { j =>
    val near = (1 to 3).map { k =>
      val v = semAxis(j)
      v((j + 1) % semDim) = 0.01f * k // tiny angle: near-identical trio
      (j * 10L + k, v)
    }
    val distant = {
      val v = new Array[Float](semDim)
      v(j) = 0.8f; v((j + 1) % 3) = 0.6f
      (j * 10L + 5, v)
    }
    near :+ distant
  }.toDF("vec_id", "embedding")

  test("semanticDedup: keep-earliest per cosine ball inside IVF cells; distant clustermates survive") {
    val out = Dedup.semanticDedup(semCorpus, semCentroids,
      "vec_id", "embedding", tau = 0.9)
      .as[(Long, Long)].collect().sortBy(_._1)
    // per cluster: the near-identical trio collapses to its earliest
    // id; the sub-tau member survives alongside it, in the same cell
    assert(out === Array(
      (1L, 0L), (5L, 0L), (11L, 1L), (15L, 1L), (21L, 2L), (25L, 2L)),
      s"got ${out.mkString(", ")}")
    val again = Dedup.semanticDedup(semCorpus, semCentroids,
      "vec_id", "embedding", tau = 0.9)
    again.collect()
    assert(Dedup.droppedBuckets(again) === 0)
  }

  test("semanticDedup skew guard: oversized cells are excluded from scoring, rows survive, drop observed") {
    // maxCell = 2: cluster cells hold 4 vectors each → every cell is
    // over the guard, nobody is scored, ALL rows survive (never a
    // silent drop), and the counter says three buckets were skipped
    val out = Dedup.semanticDedup(semCorpus, semCentroids,
      "vec_id", "embedding", tau = 0.9, maxCell = 2)
    // collect() on out ITSELF: metrics attach to the QueryExecution
    // that ran, and .as[...] would mint a new one (droppedBuckets doc)
    val survivors = out.collect()
    assert(survivors.length === 12, s"expected all 12, got ${survivors.length}")
    assert(Dedup.droppedBuckets(out) === 3)
  }

  test("exactJaccardJoin equals within-block brute force (zero false negatives); tripwire fires") {
    // corpus engineered so candidates need the length filter AND the
    // rare-token prefix to work together; brute force is the judge
    val corpus = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma epsilon"),      // J(1,2) = 3/5 = 0.6
      (3L, "alpha beta gamma delta epsilon zeta eta theta"), // longer: J(1,3)=4/8
      (4L, "iota kappa lambda mu"),
      (5L, "iota kappa lambda mu"),          // exact dup of 4: J = 1
      (6L, "nu xi omicron pi rho sigma")     // unrelated
    ).toDF("doc_id", "text")
    val brute = Dedup.ngramJaccardPairs(
      corpus.withColumn("blk", lit(1)), "doc_id", "text", "blk",
      k = 1, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val fast = Dedup.exactJoin(corpus, "doc_id", "text", Dedup.Jaccard(0.5,
      shingleK = 1))
    val fastPairs = fast.select("id_a", "id_b")
      .as[(Long, Long)].collect().toSet
    assert(fastPairs === brute, s"prefix filter missed/added pairs: " +
      s"fast=$fastPairs brute=$brute")
    // jaccard values are the exact rationals
    val j = fast.select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(j((1L, 2L)) === 0.6 && j((4L, 5L)) === 1.0)
    // a token flooding the prefixes trips the in-plan guard loudly
    val flood = Seq.tabulate(8)(i => (100L + i, s"shared u$i")).toDF("doc_id", "text")
    val e = intercept[Exception] {
      Dedup.exactJoin(flood, "doc_id", "text", Dedup.Jaccard(0.5, shingleK = 1,
        maxBucket = 3)).collect()
    }
    assert(e.getMessage.contains("prefix bucket overflow"), e.getMessage)
    // default 3-shingle granularity: the exact dup still surfaces,
    // the same-vocabulary-different-order pair does not
    val k3 = Dedup.exactJoin(corpus, "doc_id", "text", Dedup.Jaccard(0.5,
      shingleK = 3))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(k3.contains((4L, 5L)))
    assert(!k3.contains((1L, 2L)))  // J on 3-shingles: 2/4 common? engineered below threshold
  }

  test("exactJaccardJoin: zero-token docs are excluded at every shingle granularity") {
    // the one-convention rule: empty/whitespace docs certify nothing
    // at ANY k — before it, k >= 2 paired two empty docs at 1.0 via
    // the short-doc fallback shingle while k = 1 dropped them, so
    // certification counts shifted with shingleK on degenerate rows
    val corpus = Seq((1L, ""), (2L, "   "), (3L, "a b c d"), (4L, "a b c d"))
      .toDF("doc_id", "text")
    for (k <- Seq(1, 2, 3)) {
      val pairs = Dedup.exactJoin(corpus, "doc_id", "text", Dedup.Jaccard(0.5,
        shingleK = k))
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(!pairs.contains((1L, 2L)), s"empty docs paired at k=$k")
      assert(pairs.contains((3L, 4L)), s"real dup missed at k=$k")
    }
  }

  test("exactCosineJoin equals brute force at low AND high tau; deterministic; tripwire fires") {
    val rnd = new scala.util.Random(17)
    def noise(dim: Int) = Array.fill(dim)(rnd.nextGaussian().toFloat)
    def near(base: Array[Float]) =
      base.map(x => x + 0.05f * rnd.nextGaussian().toFloat)
    // two tight clusters (high-tau pairs exist, bands have something
    // to prune) plus background noise (low-tau pairs exist)
    val c1 = noise(8); val c2 = noise(8)
    val vecs = (0 until 20).map(i => (i.toLong, near(c1))) ++
      (20 until 40).map(i => (i.toLong, near(c2))) ++
      (40 until 100).map(i => (i.toLong, noise(8)))
    val df = vecs.toDF("vec_id", "embedding")
    for (tau <- Seq(0.4, 0.9)) {
      val brute = Dedup.embeddingNearDup(df.withColumn("blk", lit(1)),
        "vec_id", "embedding", "blk", tau)
        .as[(Long, Long, Double)].collect().toSet
      val fast = Dedup.exactJoin(df, "vec_id", "embedding", Dedup.Cosine(tau))
        .as[(Long, Long, Double)].collect().toSet
      assert(fast === brute,
        s"tau=$tau: banding missed/added pairs (miss=${brute -- fast}, " +
          s"extra=${fast -- brute})")
      assert(brute.nonEmpty, s"tau=$tau: degenerate test corpus")
    }
    val again = Dedup.exactJoin(df, "vec_id", "embedding", Dedup.Cosine(0.9))
      .as[(Long, Long, Double)].collect().toSet
    val first = Dedup.exactJoin(df, "vec_id", "embedding", Dedup.Cosine(0.9))
      .as[(Long, Long, Double)].collect().toSet
    assert(again === first)
    // nPivots = 2 (blocking pivots only, zero prefilters) is a valid
    // documented configuration — regression: the prefilter conjunction
    // used to empty-reduce here
    val minimal = Dedup.exactJoin(df, "vec_id", "embedding", Dedup.Cosine(0.9,
      nPivots = 2)).as[(Long, Long, Double)].collect().toSet
    assert(minimal === first)
    // a (b0, b1) cell over maxCell USED to trip the guard here;
    // adaptive re-blocking now splits the overflow cells one level
    // deeper on pivots 2/3 and COMPLETES, equal to brute force. On
    // this corpus at tau = 0.9 the largest base cell holds 46
    // replicas while the largest re-blocked cell holds 37 — so
    // maxCell = 40 is exactly the planted regime: overflowing
    // before, completing after
    val brute09 = Dedup.embeddingNearDup(df.withColumn("blk", lit(1)),
      "vec_id", "embedding", "blk", 0.9)
      .as[(Long, Long, Double)].collect().toSet
    val reblocked = Dedup.exactJoin(df, "vec_id", "embedding", Dedup.Cosine(0.9,
      maxCell = 40)).as[(Long, Long, Double)].collect().toSet
    assert(reblocked === brute09,
      s"re-blocked join diverged (miss=${brute09 -- reblocked}, " +
        s"extra=${reblocked -- brute09})")
    // nPivots = 2 leaves no reserve pivots to split on: the same
    // maxCell trips the tripwire in that configuration — proof the
    // completion above went through the re-blocking, not slack
    val e2 = intercept[Exception] {
      Dedup.exactJoin(df, "vec_id", "embedding", Dedup.Cosine(0.9, nPivots = 2,
        maxCell = 40)).collect()
    }
    assert(e2.getMessage.contains("cell overflow"), e2.getMessage)
    // collapse on ALL pivots (a clone cohort: every angle identical,
    // so re-blocking cannot spread it) exhausts the reserve — the
    // final backstop fires, naming the re-blocked cell
    val clones = (0 until 15).map(i => (i.toLong, c1))
      .toDF("vec_id", "embedding")
    val e3 = intercept[Exception] {
      Dedup.exactJoin(clones, "vec_id", "embedding", Dedup.Cosine(0.9,
        maxCell = 10)).collect()
    }
    assert(e3.getMessage.contains("re-blocked"), e3.getMessage)
  }

  test("exactCosineJoin: zero-norm vectors certify nothing") {
    val rnd = new scala.util.Random(23)
    val vecs = (0 until 10).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat))) :+
      (100L, Array.fill(8)(0f)) :+ (101L, Array.fill(8)(0f))
    val df = vecs.toDF("vec_id", "embedding")
    val pairs = Dedup.exactJoin(df, "vec_id", "embedding", Dedup.Cosine(0.4))
      .as[(Long, Long, Double)].collect()
    assert(!pairs.exists(p => p._1 >= 100L || p._2 >= 100L),
      s"zero-norm vector paired: ${pairs.mkString(", ")}")
  }

  test("exactJoinAgainst under Jaccard equals brute force; re-ingested doc surfaces at 1.0; tripwire fires") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma epsilon"),
      (3L, "iota kappa lambda mu"),
      (4L, "nu xi omicron pi rho sigma")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (101L, "alpha beta gamma delta"),        // re-ingested copy of 1
      (102L, "alpha beta gamma zeta"),         // J(.,1) = 3/5
      (103L, "tau upsilon phi chi")            // novel
    ).toDF("doc_id", "text")
    val got = Dedup.exactJoinAgainst(corpus, batch, "doc_id", "text",
      Dedup.Jaccard(0.5, shingleK = 1))
      .as[(Long, Long, Double)].collect().toSet
    // brute force over the cross product is the judge
    val brute = (for {
      (ci, ct) <- Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma epsilon"),
        (3L, "iota kappa lambda mu"), (4L, "nu xi omicron pi rho sigma"))
      (bi, bt) <- Seq((101L, "alpha beta gamma delta"), (102L, "alpha beta gamma zeta"),
        (103L, "tau upsilon phi chi"))
      cs = ct.split(" ").toSet; bs = bt.split(" ").toSet
      j = cs.intersect(bs).size.toDouble / cs.union(bs).size
      if j >= 0.5
    } yield (ci, bi, math.rint(j * 10000) / 10000)).toSet
    assert(got === brute, s"got=$got brute=$brute")
    assert(got.contains((1L, 101L, 1.0)), "re-ingestion signal missing")
    // corpus-side boilerplate token floods the prefix buckets: loud
    val flood = Seq.tabulate(8)(i => (200L + i, s"shared u$i"))
      .toDF("doc_id", "text")
    val e = intercept[Exception] {
      Dedup.exactJoinAgainst(flood, batch, "doc_id", "text", Dedup.Jaccard(0.5,
        shingleK = 1, maxBucket = 3)).collect()
    }
    assert(e.getMessage.contains("corpus prefix bucket overflow"),
      e.getMessage)
  }

  test("exactCosineJoinAgainst equals brute force at low and high tau; corpus never replicates") {
    val rnd = new scala.util.Random(53)
    def noise(dim: Int) = Array.fill(dim)(rnd.nextGaussian().toFloat)
    def near(base: Array[Float]) =
      base.map(x => x + 0.05f * rnd.nextGaussian().toFloat)
    val c1 = noise(8)
    val corpus = ((0 until 15).map(i => (i.toLong, near(c1))) ++
      (15 until 60).map(i => (i.toLong, noise(8)))).toDF("vec_id", "embedding")
    val batchRows = (100 until 105).map(i => (i.toLong, near(c1))) ++
      (105 until 120).map(i => (i.toLong, noise(8)))
    val batch = batchRows.toDF("vec_id", "embedding")
    for (tau <- Seq(0.4, 0.9)) {
      // brute force: tag sides, block on a constant, keep cross-side pairs
      val brute = Dedup.embeddingNearDup(
        corpus.withColumn("blk", lit(1))
          .unionByName(batch.withColumn("blk", lit(1))),
        "vec_id", "embedding", "blk", tau)
        .filter(col("id_a") < 100L && col("id_b") >= 100L)
        .as[(Long, Long, Double)].collect().toSet
      val got = Dedup.exactJoinAgainst(corpus, batch, "vec_id", "embedding",
        Dedup.Cosine(tau))
        .as[(Long, Long, Double)].collect().toSet
      assert(got === brute,
        s"tau=$tau: miss=${brute -- got} extra=${got -- brute}")
      assert(brute.nonEmpty, s"tau=$tau: degenerate test corpus")
    }
    // the corpus-side cell tripwire fails loudly on mass collapse
    val e = intercept[Exception] {
      Dedup.exactJoinAgainst(corpus, batch, "vec_id", "embedding", Dedup.Cosine(0.4,
        maxCell = 5)).collect()
    }
    assert(e.getMessage.contains("corpus cell overflow"), e.getMessage)
  }

  test("one exact-certification path: each metric part is written once in Dedup.scala") {
    // the shingle-set front end, the prefix overlap's 1e-9 slack, the
    // cosine band width θ and the pivot pick each have exactly one
    // definition — a second copy is a fork of the exactness contract
    val code = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      "src/main/scala/graft/operators/Dedup.scala")), "UTF-8")
      .split("\n").map(_.trim).filterNot(l =>
        l.startsWith("*") || l.startsWith("/*") || l.startsWith("//"))
    for (part <- Seq("array_distinct(TextFunctions.tokens(col(", "- lit(1e-9)",
        "math.acos(math.max(-1.0", "Sim.pickCentroids("))
      assert(code.count(_.contains(part)) === 1, s"'$part' is not written once")
  }

  test("certLedger lifecycle: bootstrap+append reads whole, survives compaction, refuses mixups") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-cert").toString + "/ledger"
    val base = Seq((1L, 2L, 0.9), (3L, 4L, 1.0)).toDF("id_a", "id_b", "jaccard")
    val batch = Seq((2L, 101L, 0.88)).toDF("id_a", "id_b", "jaccard")
    Dedup.certLedger("jaccard", 0.85).write(base, root)
    Dedup.certLedger("jaccard", 0.85).append(spark, root, batch, "b1")
    def read() = Dedup.certLedger("jaccard", 0.85).read(spark, root)
      .as[(Long, Long, Double)].collect().toSet
    val expect = Set((1L, 2L, 0.9), (3L, 4L, 1.0), (2L, 101L, 0.88))
    assert(read() === expect)
    // identity-fold compaction preserves every pair; the maintenance
    // sweep dispatches the family
    val stats = Maintenance.compactStore(spark, root)
    assert(stats.folded.nonEmpty)
    assert(read() === expect)
    // a replayed append of the same epoch rewrites, never duplicates
    Dedup.certLedger("jaccard", 0.85).append(spark, root, batch, "b1")
    assert(read() === expect)
    // wrong metric or threshold refuses — merging cosine pairs into a
    // Jaccard ledger (or tau-0.8 pairs into a tau-0.85 one) is the
    // silent-divergence class the manifest closes
    for ((m, t) <- Seq(("cosine", 0.85), ("jaccard", 0.8))) {
      val e = intercept[IllegalArgumentException] {
        Dedup.certLedger(m, t).append(spark, root, batch, "b2")
      }
      assert(e.getMessage.contains("_GRAFT_META") ||
        e.getMessage.contains("meta") || e.getMessage.contains(m) ||
        e.getMessage.contains("threshold"), e.getMessage)
    }
  }

  test("dupGramFraction: shared bigrams counted across docs, unique docs at zero") {
    val corpus = Seq((1L, "a b c"), (2L, "a b d"), (3L, "x y z"))
      .toDF("doc_id", "text")
    val out = Dedup.dupGramFraction(corpus, "doc_id", "text", n = 2)
      .orderBy("doc_id")
      .select("doc_id", "n_grams", "n_shared", "shared_frac")
      .as[(Long, Long, Long, Double)].collect()
    // bigrams: doc1 {a b, b c}, doc2 {a b, b d}, doc3 {x y, y z};
    // only "a b" has corpus df >= 2
    assert(out === Array((1L, 2L, 1L, 0.5), (2L, 2L, 1L, 0.5),
      (3L, 2L, 0L, 0.0)))
  }

  test("dupGramFraction: a gram shared by EVERY doc (corpus-wide boilerplate) counts correctly") {
    // the 100 TB failure shape the groupBy+join formulation exists
    // for: one bigram ("sig line") present in all N docs — a
    // count-over-fingerprint window would colocate all N of its rows
    // in one task; the groupBy's map-side partials crush it. Here we
    // pin the SEMANTICS: the hot gram is shared for everyone, the
    // private grams are not.
    val n = 50
    val corpus = (1 to n).map(i => (i.toLong, s"sig line u$i v$i"))
      .toDF("doc_id", "text")
    val out = Dedup.dupGramFraction(corpus, "doc_id", "text", n = 2)
      .select("doc_id", "n_grams", "n_shared", "shared_frac")
      .as[(Long, Long, Long, Double)].collect()
    assert(out.length === n)
    // per doc bigrams: {sig line, line u$i, u$i v$i} — only the
    // boilerplate gram has df >= 2
    assert(out.forall { case (_, g, s, f) => g == 3L && s == 1L && f == 0.3333 })
  }

  test("incrementalDupGramFraction: seen fraction vs corpus index; empty index fails loudly") {
    val corpus = Seq((1L, "a b c"), (2L, "a b d")).toDF("doc_id", "text")
    val index = Dedup.gramFreqIndex(corpus, "doc_id", "text", n = 2)
    // index rows: a b → 2 docs, b c → 1, b d → 1
    assert(index.orderBy("gram_fp").count() === 3)
    val batch = Seq((10L, "a b c q")).toDF("doc_id", "text")
    val out = Dedup.incrementalDupGramFraction(batch, index, "doc_id", "text", n = 2)
      .select("doc_id", "n_grams", "n_seen", "seen_frac")
      .as[(Long, Long, Long, Double)].collect()
    // batch bigrams {a b, b c, c q}: two already in the corpus
    assert(out === Array((10L, 3L, 2L, 0.6667)))
    val e = intercept[IllegalArgumentException] {
      Dedup.incrementalDupGramFraction(batch, index.limit(0), "doc_id", "text", n = 2)
    }
    assert(e.getMessage.contains("EMPTY"))
  }

  test("gramFreqIndex store: bootstrap+append+compact read ≡ direct build; mismatched n refused") {
    val a = Seq((1L, "a b c"), (2L, "a b d")).toDF("doc_id", "text")
    val b = Seq((3L, "a b e"), (4L, "x y z")).toDF("doc_id", "text")
    val root = java.nio.file.Files
      .createTempDirectory("graft-gramidx").toString + "/store"
    Dedup.gramFreq(2).write(Dedup.gramFreqIndex(a, "doc_id", "text", n = 2), root)
    Dedup.gramFreq(2).append(spark, root, Dedup.gramFreqIndex(b, "doc_id", "text", n = 2), "day2")
    // replay-idempotency hook (pre-compaction, while day2 is a live
    // epoch): excluding it leaves exactly shard a's counts
    val excluded = Dedup.gramFreq(2).read(spark, root, excludeEpoch = Some("day2"))
      .as[(String, Long)].collect().toMap
    val aOnly = Dedup.gramFreqIndex(a, "doc_id", "text", n = 2)
      .as[(String, Long)].collect().toMap
    assert(excluded === aOnly)
    val stats = Maintenance.compactStore(spark, root)
    assert(stats.folded.toSet === Set("base", "day2"))
    val stored = Dedup.gramFreq(2).read(spark, root)
      .as[(String, Long)].collect().toMap
    val direct = Dedup.gramFreqIndex(a.unionByName(b), "doc_id", "text", n = 2)
      .as[(String, Long)].collect().toMap
    assert(stored === direct)
    // a probe built with the wrong gram size must refuse loudly
    val e = intercept[IllegalArgumentException] {
      Dedup.gramFreq(8).read(spark, root)
    }
    assert(e.getMessage.toLowerCase.contains("n"))
  }

  test("gramFreq.merge: per-shard builds merge to the corpus-wide index") {
    val a = Seq((1L, "a b c"), (2L, "a b d")).toDF("doc_id", "text")
    val b = Seq((3L, "a b e"), (4L, "x y z")).toDF("doc_id", "text")
    val merged = Dedup.gramFreq(2).merge(
      Dedup.gramFreqIndex(a, "doc_id", "text", n = 2),
      Dedup.gramFreqIndex(b, "doc_id", "text", n = 2))
      .as[(String, Long)].collect().toMap
    val direct = Dedup.gramFreqIndex(a.unionByName(b), "doc_id", "text", n = 2)
      .as[(String, Long)].collect().toMap
    assert(merged === direct)
    assert(merged.values.max === 3L)  // "a b" appears in docs 1, 2, 3
  }
}
