package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

class CardinalitySpec extends SparkSpecBase {
  import spark.implicits._

  test("under k distinct values the sketch IS the distinct set and the estimate is exact") {
    val df = Seq(("a", 1L), ("a", 2L), ("a", 2L), ("a", 3L), ("b", 9L))
      .toDF("g", "v")
    val out = Cardinality.distinctWithEstimates(df, col("g"), col("v"), k = 32)
      .as[(String, Long, Double)].collect().sortBy(_._1)
    assert(out === Array(("a", 3L, 3.0), ("b", 1L, 1.0)))
  }

  test("estimate lands within the 3-sigma KMV band on a large group") {
    val k = 64
    val n = 20000L
    val df = spark.range(n).select(lit("g").as("g"), col("id").as("v"))
    val Array((_, exact, est)) =
      Cardinality.distinctWithEstimates(df, col("g"), col("v"), k)
        .as[(String, Long, Double)].collect()
    assert(exact === n)
    // KMV relative sd ~ 1/sqrt(k-2); 3 sigma at k=64 is ~38%
    val rel = math.abs(est / n - 1.0)
    assert(rel < 0.38, f"KMV estimate $est vs $n (rel err $rel%.3f)")
  }

  test("sketch merge is associative: union of shards equals whole-corpus sketch") {
    val k = 16
    val whole = spark.range(0, 5000).select(lit("g").as("g"), col("id").as("v"))
    val sAll = Cardinality.kmvSketch(whole, col("g"), col("v"), k)
      .as[(String, Seq[Long])].head()._2
    // shard by parity, sketch each, merge = dedup-concat + re-take k
    val sketches = Seq(0, 1).map { p =>
      Cardinality.kmvSketch(whole.filter(col("v") % 2 === p),
        col("g"), col("v"), k).as[(String, Seq[Long])].head()._2
    }
    val merged = sketches.flatten.distinct.sorted.take(k)
    assert(merged === sAll.toList, "merged shard sketches diverge from whole-corpus sketch")
  }

  test("sketch algebra: under-k sketches give EXACT jaccard and intersection") {
    val k = 64
    // A = {0..49}, B = {30..79}: |A∩B| = 20, |A∪B| = 80 — over k? no: 80 > 64.
    // use smaller: A = {0..19}, B = {10..29}: inter 10, union 30 < 64 → exact
    val df = spark.range(0, 20).select(lit("A").as("g"), col("id").as("v"))
      .union(spark.range(10, 30).select(lit("B").as("g"), col("id").as("v")))
    val sk = Cardinality.kmvSketch(df, col("g"), col("v"), k)
    val row = sk.groupBy().pivot("group").agg(first("sketch"))
      .select(
        Cardinality.kmvJaccard(col("A"), col("B"), k).as("j"),
        Cardinality.kmvIntersection(col("A"), col("B"), k).as("i"))
      .as[(Double, Double)].head()
    assert(math.abs(row._1 - 10.0 / 30.0) < 1e-12, s"jaccard ${row._1}")
    assert(math.abs(row._2 - 10.0) < 1e-9, s"intersection ${row._2}")
  }

  test("sketch algebra: estimates land near truth on large overlapping sets") {
    val k = 256
    // A = {0..9999}, B = {5000..14999}: jaccard = 5000/15000 = 1/3
    val df = spark.range(0, 10000).select(lit("A").as("g"), col("id").as("v"))
      .union(spark.range(5000, 15000).select(lit("B").as("g"), col("id").as("v")))
    val sk = Cardinality.kmvSketch(df, col("g"), col("v"), k)
    val (j, i) = sk.groupBy().pivot("group").agg(first("sketch"))
      .select(
        Cardinality.kmvJaccard(col("A"), col("B"), k).as("j"),
        Cardinality.kmvIntersection(col("A"), col("B"), k).as("i"))
      .as[(Double, Double)].head()
    assert(math.abs(j - 1.0 / 3.0) < 0.12, s"jaccard est $j vs 0.333")
    assert(math.abs(i / 5000.0 - 1.0) < 0.35, s"intersection est $i vs 5000")
  }

  test("duplicates never occupy sketch slots") {
    val df = spark.range(0, 1000)
      .select(lit("g").as("g"), (col("id") % 5).as("v")) // 5 distinct, massively repeated
    val s = Cardinality.kmvSketch(df, col("g"), col("v"), k = 8)
      .as[(String, Seq[Long])].head()._2
    assert(s.size === 5)
    assert(s.distinct.size === 5)
    assert(s === s.sorted)
  }

  // ------------------------------------------------------------- HLL

  private def key52(v: Long): Long = java.lang.Long.parseLong(
    java.security.MessageDigest.getInstance("MD5")
      .digest(v.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(13), 16)

  /** The operator's exact arithmetic in plain Scala. */
  private def hllReplay(values: Seq[Long], p: Int): (Seq[Int], Double) = {
    val m = 1 << p
    val remBits = 52 - p
    val regs = Array.fill(m)(0)
    values.map(key52).foreach { h =>
      val idx = (h >> remBits).toInt
      val rem = h & ((1L << remBits) - 1)
      val rho =
        if (rem == 0) remBits + 1
        else remBits + 1 - (64 - java.lang.Long.numberOfLeadingZeros(rem))
      regs(idx) = math.max(regs(idx), rho)
    }
    val sumScaled = regs.map(r => 1L << (52 - r)).sum
    // per-m alpha, the paper's small-m constants included (independent
    // replay of Cardinality.hllAlpha — spelled out, not referenced)
    val alpha = m match {
      case 16 => 0.673; case 32 => 0.697; case 64 => 0.709
      case _ => 0.7213 / (1.0 + 1.079 / m)
    }
    val c = alpha * m * m * Cardinality.HashSpace
    val raw = c / sumScaled.toDouble
    val zeros = regs.count(_ == 0)
    // Spark's Log expression evaluates via StrictMath.log, not Math.log
    val e = if (raw <= 2.5 * m && zeros > 0)
      m.toDouble * StrictMath.log(m.toDouble / zeros) else raw
    (regs.toSeq, e)
  }

  test("HLL registers and estimate match the closed-form integer replay exactly") {
    for (p <- Seq(4, 9)) {
      val vals = (1L to 300L)
      val df = vals.map(("g", _)).toDF("g", "v")
      val got = Cardinality.hllSketch(df, col("g"), col("v"), p)
        .select(col("regs"),
          Cardinality.hllEstimate(col("regs"), p).as("e"))
        .as[(Seq[Int], Double)].head()
      val (regs, e) = hllReplay(vals, p)
      assert(got._1 === regs, s"p=$p register mismatch")
      assert(got._2 === e, s"p=$p estimate mismatch: ${got._2} vs $e")
    }
  }

  test("HLL union of shard sketches equals the whole-corpus sketch") {
    val p = 9
    val a = (1L to 500L).map(("x", _))
    val b = (400L to 900L).map(("x", _)) // overlapping shard
    def sk(rows: Seq[(String, Long)]) =
      Cardinality.hllSketch(rows.toDF("g", "v"), col("g"), col("v"), p)
    val merged = sk(a).select(col("regs").as("ra"))
      .crossJoin(sk(b).select(col("regs").as("rb")))
      .select(Cardinality.hllUnion(col("ra"), col("rb")).as("regs"))
      .as[Seq[Int]].head()
    val whole = sk(a ++ b).select(col("regs")).as[Seq[Int]].head()
    assert(merged === whole)
  }

  test("HLL SQL surface mirrors the Column API: merge + estimate") {
    graft.functions.SqlFunctions.registerAll(spark)
    val p = 9
    val a = (1L to 400L).map(("x", _))
    val b = (300L to 700L).map(("x", _))
    def sk(rows: Seq[(String, Long)]) =
      Cardinality.hllSketch(rows.toDF("g", "v"), col("g"), col("v"), p)
    sk(a).select(col("regs").as("ra"))
      .crossJoin(sk(b).select(col("regs").as("rb")))
      .createOrReplaceTempView("hll_pair")
    val sql = spark.sql(
      s"SELECT graft_hll_estimate(graft_hll_merge(ra, rb), $p) AS e " +
        "FROM hll_pair").as[Double].head()
    val colApi = sk(a ++ b)
      .select(Cardinality.hllEstimate(col("regs"), p)).as[Double].head()
    assert(sql === colApi)
  }

  test("persisted HLL store: epochs merge to the direct sketch; compaction preserves; p guard") {
    val p = 9
    val a = (1L to 300L).map(i => (s"g${i % 2}", i))
    val b = (250L to 600L).map(i => (s"g${i % 2}", i)) // overlapping batch
    def sk(rows: Seq[(String, Long)]) =
      Cardinality.hllSketch(rows.toDF("g", "v"), col("g"), col("v"), p)
    val root = java.nio.file.Files
      .createTempDirectory("graft-hllstore").toString + "/store"
    Cardinality.hll(p, "v").write(sk(a), root)
    Cardinality.hll(p, "v").append(spark, root, sk(b), "day-2")
    def stored(): Map[String, Seq[Int]] =
      Cardinality.hll(p, "v").read(spark, root)
        .as[(String, Seq[Int])].collect().toMap
    val direct = sk(a ++ b).as[(String, Seq[Int])].collect().toMap
    assert(stored() === direct)
    val stats = Maintenance.compactStore(spark, root)
    assert(stats.folded.toSet === Set("base", "day-2"))
    assert(stored() === direct) // probe-after ≡ probe-before
    val e = intercept[IllegalArgumentException] {
      Cardinality.hll(p + 1, "v").read(spark, root)
    }
    assert(e.getMessage.contains("p:"), e.getMessage)
  }

  test("persisted KMV store: epochs merge to the direct sketch; compaction preserves; k guard") {
    val k = 16
    val a = (1L to 300L).map(i => (s"g${i % 2}", i))
    val b = (250L to 600L).map(i => (s"g${i % 2}", i)) // overlapping batch
    def sk(rows: Seq[(String, Long)]) =
      Cardinality.kmvSketch(rows.toDF("g", "v"), col("g"), col("v"), k)
    val root = java.nio.file.Files
      .createTempDirectory("graft-kmvstore").toString + "/store"
    Cardinality.kmv(k, "v").write(sk(a), root)
    Cardinality.kmv(k, "v").append(spark, root, sk(b), "day-2")
    def stored(): Map[String, Seq[Long]] =
      Cardinality.kmv(k, "v").read(spark, root)
        .as[(String, Seq[Long])].collect().toMap
    // bottom-k closure: union-and-retruncate across overlapping epochs
    // equals the sketch of the unioned rows
    val direct = sk(a ++ b).as[(String, Seq[Long])].collect().toMap
    assert(stored() === direct)
    val stats = Maintenance.compactStore(spark, root)
    assert(stats.folded.toSet === Set("base", "day-2"))
    assert(stored() === direct) // probe-after ≡ probe-before
    val e = intercept[IllegalArgumentException] {
      Cardinality.kmv(k + 1, "v").read(spark, root)
    }
    assert(e.getMessage.contains("k:"), e.getMessage)
  }

  test("HLL p >= 12 refuses (the exact scaled sum would overflow a Long)") {
    val df = Seq(("g", 1L)).toDF("g", "v")
    val e = intercept[IllegalArgumentException] {
      Cardinality.hllSketch(df, col("g"), col("v"), p = 12)
    }
    assert(e.getMessage.contains("[4,11]"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Cardinality.hllEstimate(col("regs"), p = 12)
    }
    assert(e2.getMessage.contains("overflow"), e2.getMessage)
  }

  test("HLL estimate lands near truth at p=9 on 20k distincts") {
    val n = 20000L
    val df = spark.range(n).select(lit("g").as("g"), col("id").as("v"))
    val est = Cardinality.hllSketch(df, col("g"), col("v"), 9)
      .select(Cardinality.hllEstimate(col("regs"), 9))
      .as[Double].head()
    // HLL relative sd ~ 1.04/sqrt(m) = 4.6% at m=512; allow 3 sigma
    val rel = math.abs(est / n - 1.0)
    assert(rel < 0.14, f"HLL estimate $est vs $n (rel err $rel%.3f)")
  }
}
