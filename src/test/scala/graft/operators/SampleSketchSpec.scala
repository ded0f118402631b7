package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

class SampleSketchSpec extends SparkSpecBase {
  import spark.implicits._

  private def key52(i: Long): Long = java.lang.Long.parseLong(
    java.security.MessageDigest.getInstance("MD5")
      .digest(i.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(13), 16)

  private def sketchOf(rows: Seq[(String, Long, Double)], k: Int) =
    SampleSketch.sampleSketch(rows.toDF("g", "id", "v"),
      col("g"), col("id"), col("v"), k)

  test("sketch keeps exactly the k smallest-md5-hash rows, ascending, values riding") {
    val rows = (1L to 50L).map(i => ("a", i, i * 10.0))
    val got = sketchOf(rows, 8)
      .select(explode(col("sketch")).as("s"))
      .select(col("s.h52"), col("s.id"), col("s.v"))
      .as[(Long, Long, Double)].collect().toSeq
    val want = (1L to 50L).map(i => (key52(i), i, i * 10.0))
      .sortBy(t => (t._1, t._2)).take(8)
    assert(got === want)
  }

  test("merge closure: sketch(A) ∪ sketch(B) re-capped equals sketch(A ∪ B)") {
    val a = (1L to 40L).map(i => ("x", i, i.toDouble))
    val b = (41L to 80L).map(i => ("x", i, i.toDouble))
    val k = 10
    val merged = sketchOf(a, k).select(col("sketch").as("sa"))
      .crossJoin(sketchOf(b, k).select(col("sketch").as("sb")))
      .select(SampleSketch.mergeSketch(col("sa"), col("sb"), k).as("m"))
      .select(explode(col("m")).as("s")).select(col("s.id"))
      .as[Long].collect().toSeq
    val direct = sketchOf(a ++ b, k)
      .select(explode(col("sketch")).as("s")).select(col("s.id"))
      .as[Long].collect().toSeq
    assert(merged === direct)
    // overlapping inputs never double-sample a row
    val dup = sketchOf(a, k).select(col("sketch").as("sa"))
      .crossJoin(sketchOf(a, k).select(col("sketch").as("sb")))
      .select(SampleSketch.mergeSketch(col("sa"), col("sb"), k).as("m"))
      .select(explode(col("m")).as("s")).select(col("s.id"))
      .as[Long].collect().toSeq
    assert(dup === sketchOf(a, k)
      .select(explode(col("sketch")).as("s")).select(col("s.id"))
      .as[Long].collect().toSeq)
  }

  test("quantile is the lower-index value of the sample; estimate exact under k") {
    // under k: the sketch IS the group, quantiles are exact data values
    val rows = Seq(("g", 1L, 5.0), ("g", 2L, 1.0), ("g", 3L, 9.0),
      ("g", 4L, 3.0), ("g", 5L, 7.0))
    val rpt = SampleSketch.reportFromSketches(
      SampleSketch.sampleSketch(rows.toDF("g", "id", "v"),
        col("g"), col("id"), col("v"), 16), k = 16, ps = Seq(0.0, 0.5, 1.0))
      .collect().head
    assert(rpt.getAs[Long]("n_sample") === 5L)
    assert(rpt.getAs[Double]("p0") === 1.0)   // idx floor(4*0)=0 → 1st
    assert(rpt.getAs[Double]("p50") === 5.0)  // idx floor(4*.5)=2 → 3rd of sorted
    assert(rpt.getAs[Double]("p100") === 9.0) // idx 4 → 5th
    assert(rpt.getAs[Double]("n_est") === 5.0) // exact under k
  }

  test("row estimate tracks group size at k << n") {
    val rows = (1L to 20000L).map(i => ("big", i, 1.0))
    val est = sketchOf(rows, 64)
      .select(SampleSketch.sketchRowEstimate(col("sketch"), 64))
      .as[Double].head()
    assert(est > 20000 * 0.6 && est < 20000 * 1.6,
      s"KMV row estimate $est implausible for n=20000, k=64")
  }

  test("SQL surface mirrors the Column API: quantile, merge, estimate") {
    graft.functions.SqlFunctions.registerAll(spark)
    val a = (1L to 40L).map(i => ("x", i, i.toDouble))
    val b = (41L to 80L).map(i => ("x", i, i.toDouble))
    val k = 10
    sketchOf(a, k).select(col("sketch").as("sa"))
      .crossJoin(sketchOf(b, k).select(col("sketch").as("sb")))
      .createOrReplaceTempView("sk_pair")
    val sql = spark.sql(
      s"""SELECT graft_sample_quantile(graft_sample_merge(sa, sb, $k), 0.5) AS p50,
         |       graft_sample_estimate(graft_sample_merge(sa, sb, $k), $k) AS est
         |FROM sk_pair""".stripMargin).collect().head
    val colApi = sketchOf(a ++ b, k)
      .select(SampleSketch.sketchQuantile(col("sketch"), 0.5).as("p50"),
        SampleSketch.sketchRowEstimate(col("sketch"), k).as("est"))
      .collect().head
    assert(sql.getDouble(0) === colApi.getDouble(0))
    assert(sql.getDouble(1) === colApi.getDouble(1))
  }

  test("persisted profile store: epochs merge to the direct sketch; compaction preserves; k guard") {
    val a = (1L to 60L).map(i => (s"g${i % 2}", i, i.toDouble))
    val b = (61L to 120L).map(i => (s"g${i % 2}", i, i.toDouble))
    val k = 12
    val root = java.nio.file.Files
      .createTempDirectory("graft-sksk").toString + "/store"
    SampleSketch.profile(k, "g", "v").write(sketchOf(a, k), root)
    SampleSketch.profile(k, "g", "v").append(spark, root, sketchOf(b, k), "day-2")
    def stored(): Map[String, Seq[(Long, Long, Double)]] =
      SampleSketch.profile(k, "g", "v").read(spark, root)
        .select(col("group"), col("sketch"))
        .as[(String, Seq[(Long, Long, Double)])].collect().toMap
    val direct = sketchOf(a ++ b, k)
      .select(col("group"), col("sketch"))
      .as[(String, Seq[(Long, Long, Double)])].collect().toMap
    assert(stored() === direct)
    val stats = Maintenance.compactStore(spark, root)
    assert(stats.folded.toSet === Set("base", "day-2"))
    assert(stored() === direct) // probe-after ≡ probe-before
    val e = intercept[IllegalArgumentException] {
      SampleSketch.profile(k + 1, "g", "v").read(spark, root)
    }
    assert(e.getMessage.contains("k:"), e.getMessage)
  }

  test("NULL ids, NULL values and NaN values are excluded, not crashed on") {
    val rows = Seq[(String, Option[Long], Option[Double])](
      ("g", Some(1L), Some(2.0)), ("g", None, Some(3.0)),
      ("g", Some(2L), None), ("g", Some(3L), Some(Double.NaN)),
      ("g", Some(4L), Some(8.0)))
    val got = rows.toDF("g", "id", "v")
    val sk = SampleSketch.sampleSketch(got, col("g"), col("id"), col("v"), 8)
      .select(explode(col("sketch")).as("s")).select(col("s.id"))
      .as[Long].collect().toSet
    assert(sk === Set(1L, 4L))
  }
}
