package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

class HeavyHittersSpec extends SparkSpecBase {
  import spark.implicits._

  private def items(ws: String*) = ws.flatMap(_.split(" ")).toDF("w")

  test("count-min never under-counts; wide sketches are exact") {
    val corpus = items("a a a a b b b c c d", "a b c d e f g")
    val out = HeavyHitters.topKWithEstimates(corpus, "w", k = 10,
      depth = 4, width = 4096).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(out.length === 7)
    assert(out.forall(_._4), "est_ge_exact must hold for every token")
    // 7 tokens into 4096 buckets × 4 rows: no collisions, est == exact
    assert(out.forall(r => r._2 === r._3))
    assert(out.map(t => t._1 -> t._2).toMap ===
      Map("a" -> 5L, "b" -> 4L, "c" -> 3L, "d" -> 2L, "e" -> 1L, "f" -> 1L, "g" -> 1L))
  }

  test("narrow sketches collide but only ever inflate") {
    val corpus = items(Seq.fill(20)("x").mkString(" "), "p q r s t u v w y z")
    val out = HeavyHitters.topKWithEstimates(corpus, "w", k = 20,
      depth = 2, width = 2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.forall(r => r._3 >= r._2)) // one-sided error, always
    val total = corpus.count()
    assert(out.forall(_._3 <= total)) // a cell can never exceed the stream
  }

  test("sketches merge: build(a ∪ b) == merge(build(a), build(b))") {
    val a = items("a a b c")
    val b = items("b c c d")
    val merged = HeavyHitters.mergeSketches(
      HeavyHitters.countMinSketch(a, "w", 3, 64),
      HeavyHitters.countMinSketch(b, "w", 3, 64))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val whole = HeavyHitters.countMinSketch(a.unionByName(b), "w", 3, 64)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(merged === whole)
  }

  test("top-k boundary is deterministic under count ties (count desc, token asc)") {
    val corpus = items("m m n n o o p p") // all tied at 2
    val picked = HeavyHitters.topKWithEstimates(corpus, "w", k = 2,
      depth = 2, width = 128).collect().map(_.getString(0)).sorted
    assert(picked.toSeq === Seq("m", "n"))
  }

  test("probing a token absent from the sketch reports a non-negative floor") {
    val sketch = HeavyHitters.countMinSketch(items("a b c"), "w", 4, 4096)
    val est = HeavyHitters.probe(Seq("zzz").toDF("w"), sketch, "w", 4, 4096)
      .select("cms_est").as[Long].head()
    assert(est >= 0L && est <= 3L)
  }

  test("persisted CMS store: epoch partials sum to the whole-stream sketch; compaction preserves; geometry guard") {
    val (d, w) = (4, 1024)
    val a = items("x x y z q r s")
    val b = items("x y y t u v w")
    val root = java.nio.file.Files
      .createTempDirectory("graft-cms").toString + "/store"
    HeavyHitters.cms(d, w, "w").write(HeavyHitters.countMinSketch(a, "w", d, w), root)
    HeavyHitters.cms(d, w, "w").append(spark, root, HeavyHitters.countMinSketch(b,
      "w", d, w), "day-2")
    def stored(): Map[(Int, Long), Long] =
      HeavyHitters.cms(d, w, "w").read(spark, root)
        .as[(Int, Long, Long)].collect()
        .map(t => (t._1, t._2) -> t._3).toMap
    val direct = HeavyHitters.countMinSketch(a.unionByName(b), "w", d, w)
      .as[(Int, Long, Long)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(stored() === direct)
    val stats = Maintenance.compactStore(spark, root)
    assert(stats.folded.toSet === Set("base", "day-2"))
    assert(stored() === direct) // probe-after ≡ probe-before
    val e = intercept[IllegalArgumentException] {
      HeavyHitters.cms(d, w * 2, "w").read(spark, root)
    }
    assert(e.getMessage.contains("width"), e.getMessage)
  }
}
