package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

class AuditSpec extends SparkSpecBase {
  import spark.implicits._

  private def md52(s: String): Long = java.lang.Long.parseLong(
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(13), 16)

  private def canon(v: Option[String]): String =
    v.fold("N")(x => s"V${x.length}:$x")

  test("digest matches the closed-form replay; order-independent") {
    val rows = Seq((1L, Some("a")), (2L, Some("bb")), (3L, None))
    val df = rows.toDF("k", "s")
    val got = Audit.tableDigest(df, Seq("k", "s"))
      .as[(Long, Long)].head()
    val want = rows.map { case (k, s) =>
      md52(canon(Some(k.toString)) + canon(s))
    }.map(BigInt(_)).sum.mod(BigInt(2305843009213693951L)).toLong
    assert(got === ((3L, want)))
    // any row order / partitioning digests identically
    val shuffled = rows.reverse.toDF("k", "s").repartition(7)
    assert(Audit.tableDigest(shuffled, Seq("k", "s"))
      .as[(Long, Long)].head() === got)
  }

  test("a single changed row changes the digest; NULL, empty and shifts stay distinct") {
    def dg(rows: Seq[(Option[String], Option[String])]): Long =
      Audit.tableDigest(rows.toDF("a", "b"), Seq("a", "b"))
        .as[(Long, Long)].head()._2
    val base = dg(Seq((Some("a|b"), Some("c"))))
    assert(base !== dg(Seq((Some("a"), Some("b|c")))), "field-shift collision")
    assert(dg(Seq((None, Some("x")))) !== dg(Seq((Some(""), Some("x")))),
      "NULL vs empty collision")
    assert(dg(Seq((Some("a"), Some("c")))) !== base, "change not detected")
  }

  test("diffByDigest localizes divergence to the changed group only") {
    val a = Seq(("d1", 1L, "x"), ("d1", 2L, "y"), ("d2", 3L, "z"),
      ("d3", 4L, "w")).toDF("day", "k", "v")
    val b = Seq(("d1", 1L, "x"), ("d1", 2L, "y"), ("d2", 3L, "Z"), // changed
      ("d4", 5L, "n")).toDF("day", "k", "v")               // d3 gone, d4 new
    val got = Audit.diffByDigest(a, b, Seq("k", "v"), Seq("day"))
      .as[(String, String, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    assert(got === Map(
      "d1" -> (("ok", 2L, 2L)),
      "d2" -> (("mismatch", 1L, 1L)),
      "d3" -> (("only_a", 1L, 0L)),
      "d4" -> (("only_b", 0L, 1L))))
  }

  test("SQL surface mirrors the Column API: graft_row_hash") {
    graft.functions.SqlFunctions.registerAll(spark)
    Seq((1L, Some("a")), (2L, None)).toDF("k", "s")
      .createOrReplaceTempView("rh_t")
    val sql = spark.sql("SELECT graft_row_hash(k, s) FROM rh_t ORDER BY k")
      .as[Long].collect().toSeq
    val colApi = Seq((1L, Some("a")), (2L, None)).toDF("k", "s")
      .orderBy("k")
      .select(Audit.rowHash(Seq(col("k"), col("s"))))
      .as[Long].collect().toSeq
    assert(sql === colApi)
  }

  test("persisted digest ledger: epoch partials fold to the direct digest; compaction preserves; column guard") {
    val a = Seq(("d1", 1L, "x"), ("d2", 2L, "y"))
    val b = Seq(("d1", 3L, "z"), ("d3", 4L, "w"))
    def partial(rows: Seq[(String, Long, String)]) =
      Audit.digestPartial(rows.toDF("day", "k", "v"), Seq("k", "v"),
        col("day"))
    val root = java.nio.file.Files
      .createTempDirectory("graft-dgst").toString + "/store"
    Audit.digestLedger(Seq("k", "v"), "day").write(partial(a), root)
    Audit.digestLedger(Seq("k", "v"), "day").append(spark, root, partial(b), "day-2")
    def stored(): Map[String, (Long, Long)] =
      Audit.digestLedger(Seq("k", "v"), "day").read(spark, root)
        .as[(String, Long, Long)].collect()
        .map(t => t._1 -> ((t._2, t._3))).toMap
    val direct = partial(a ++ b)
      .as[(String, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    assert(stored() === direct)
    val stats = Maintenance.compactStore(spark, root)
    assert(stats.folded.toSet === Set("base", "day-2"))
    assert(stored() === direct) // probe-after ≡ probe-before
    val e = intercept[IllegalArgumentException] {
      Audit.digestLedger(Seq("k"), "day").read(spark, root)
    }
    assert(e.getMessage.contains("cols"), e.getMessage)
  }

  test("grouped digests: per-group rows and checksums") {
    val df = Seq(("g1", 1L), ("g1", 2L), ("g2", 3L)).toDF("g", "v")
    val got = Audit.tableDigest(df, Seq("v"), groupCols = Seq("g"))
      .as[(String, Long, Long)].collect()
      .map { case (g, n, d) => g -> ((n, d)) }.toMap
    assert(got("g1")._1 === 2L && got("g2")._1 === 1L)
    val g2want = BigInt(md52(canon(Some("3")))).mod(
      BigInt(2305843009213693951L)).toLong
    assert(got("g2")._2 === g2want)
  }
}
