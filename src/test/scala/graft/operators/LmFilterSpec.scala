package graft.operators

import graft.SparkSpecBase

class LmFilterSpec extends SparkSpecBase {
  import spark.implicits._

  private def ref = Seq((1L, "a b c"), (2L, "a b d")).toDF("doc_id", "text")

  private def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("lmPerplexity: add-one smoothed bigram NLL against a tiny reference model") {
    // ref bigram counts: "a b" → 2, "b c" → 1, "b d" → 1;
    // context (bigram-head) counts: a → 2, b → 2. Bucket spaces are
    // wide enough that these tiny corpora cannot collide.
    val index = LmFilter.lmIndex(ref, "doc_id", "text")
    val batch = Seq((10L, "a b c q"), (11L, "z")).toDF("doc_id", "text")
    val out = LmFilter.lmPerplexity(batch, "doc_id", "text", index)
      .orderBy("doc_id")
      .select("doc_id", "n_bigrams", "nll", "ppl")
      .as[(Long, Long, Double, Double)].collect()
    // doc 10 bigrams: "a b" (c1=2, c2=2), "b c" (c1=2, c2=1),
    // "c q" (unseen: c1=0, c2=0 — smoothing, never a drop)
    val nll0 = (math.log(4098.0 / 3) + math.log(4098.0 / 2) +
      math.log(4096.0 / 1)) / 3
    assert(out(0) === ((10L, 3L, round4(nll0), round4(math.exp(nll0)))))
    // featureless doc: present in the output, neutral score
    assert(out(1) === ((11L, 0L, 0.0, 1.0)))
  }

  test("lmPerplexity: in-reference text scores lower perplexity than unseen text") {
    val index = LmFilter.lmIndex(ref, "doc_id", "text")
    val batch = Seq((10L, "a b c"), (11L, "q r s")).toDF("doc_id", "text")
    val ppl = LmFilter.lmPerplexity(batch, "doc_id", "text", index)
      .select("doc_id", "ppl").as[(Long, Double)].collect().toMap
    assert(ppl(10L) < ppl(11L),
      s"reference-like text must score lower ppl: ${ppl(10L)} vs ${ppl(11L)}")
  }

  test("lmPerplexity refuses an empty model loudly") {
    val index = LmFilter.lmIndex(ref, "doc_id", "text")
    val batch = Seq((10L, "a b")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      LmFilter.lmPerplexity(batch, "doc_id", "text", index.limit(0))
    }
    assert(e.getMessage.contains("EMPTY"))
  }

  test("lm store: bootstrap+append+compact read ≡ direct build; mismatched buckets refused") {
    val a = Seq((1L, "a b c")).toDF("doc_id", "text")
    val b = Seq((2L, "a b d")).toDF("doc_id", "text")
    val root = java.nio.file.Files
      .createTempDirectory("graft-lmidx").toString + "/store"
    LmFilter.lm(4096, 32768).write(LmFilter.lmIndex(a, "doc_id", "text"), root)
    LmFilter.lm(4096, 32768).append(spark, root, LmFilter.lmIndex(b, "doc_id", "text"), "day2")
    // replay-idempotency hook: excluding the live epoch leaves shard a
    val excluded = LmFilter.lm(4096, 32768).read(spark, root, excludeEpoch = Some("day2"))
      .as[(Int, Long, Long)].collect().toSet
    val aOnly = LmFilter.lmIndex(a, "doc_id", "text")
      .as[(Int, Long, Long)].collect().toSet
    assert(excluded === aOnly)
    val stats = Maintenance.compactStore(spark, root)
    assert(stats.folded.toSet === Set("base", "day2"))
    val stored = LmFilter.lm(4096, 32768).read(spark, root)
      .as[(Int, Long, Long)].collect().toSet
    val direct = LmFilter.lmIndex(a.unionByName(b), "doc_id", "text")
      .as[(Int, Long, Long)].collect().toSet
    assert(stored === direct)
    // the store's merge (its compaction fold) agrees with the
    // corpus-wide build
    val merged = LmFilter.lm(4096, 32768).merge(
      LmFilter.lmIndex(a, "doc_id", "text"), LmFilter.lmIndex(b, "doc_id", "text"))
      .as[(Int, Long, Long)].collect().toSet
    assert(merged === direct)
    // a probe hashed into a different bucket space must refuse loudly
    val e = intercept[IllegalArgumentException] {
      LmFilter.lm(4096, 1024).read(spark, root)
    }
    assert(e.getMessage.toLowerCase.contains("bucket"))
  }
}
