package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

class CurationSpec extends SparkSpecBase {
  import spark.implicits._

  private def hostOf(url: String): String =
    Seq(url).toDF("u").select(Curation.urlHost(col("u"))).as[String].head()

  private def domainOf(host: String): String =
    Seq(host).toDF("h").select(Curation.registeredDomain(col("h")))
      .as[String].head()

  test("urlHost: scheme/userinfo/port/path/query/fragment all strip; case folds") {
    assert(hostOf("https://News.Example.co.uk:443/front") === "news.example.co.uk")
    assert(hostOf("http://user:pw@shop.example.com.au:8080/cart") ===
      "shop.example.com.au")
    assert(hostOf("https://www.sample.com/x?q=1") === "www.sample.com")
    assert(hostOf("http://media.sample.com/y#frag") === "media.sample.com")
    assert(hostOf("ftp://files.example.org") === "files.example.org")
    assert(hostOf("http://[2001:db8::1]:8443/api") === "2001:db8::1")
    assert(hostOf("not a url") === "")
    assert(hostOf("relative/path.html") === "")
  }

  test("registeredDomain: multi-part suffixes take three labels, plain two, short pass through") {
    assert(domainOf("news.example.co.uk") === "example.co.uk")
    assert(domainOf("a.b.shop.example.com.au") === "example.com.au")
    assert(domainOf("www.sample.com") === "sample.com")
    assert(domainOf("sample.com") === "sample.com")
    assert(domainOf("localhost") === "localhost")
    assert(domainOf("2001:db8::1") === "2001:db8::1")
    // a host that IS a bare multi-part suffix has only two labels —
    // the three-label branch cannot fire, so it passes through as-is
    assert(domainOf("co.uk") === "co.uk")
  }

  test("capPerKey: keeps exactly maxPerKey per key, ranked by md5 order with id ties") {
    val df = (1L to 200L).map(i => (if (i % 2 == 0) "a" else "b", i))
      .toDF("dom", "id")
    val kept = Curation.capPerKey(df, col("dom"), col("id"), maxPerKey = 7)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(kept.length === 14)
    assert(kept.count(_._1 == "a") === 7)
    // replay the contract: rank by (first-13-hex-of-md5 as long, id)
    def key52(i: Long): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(13), 16)
    val expectA = (1L to 200L).filter(_ % 2 == 0)
      .sortBy(i => (key52(i), i)).take(7)
    val gotA = kept.filter(_._1 == "a").sortBy(_._3).map(_._2).toSeq
    assert(gotA === expectA, s"kept-set/order mismatch: $gotA vs $expectA")
  }

  test("capPerKey: under-cap keys keep everything; rk is 1-based and dense") {
    val df = Seq(("x", 10L), ("x", 11L), ("y", 20L)).toDF("dom", "id")
    val kept = Curation.capPerKey(df, col("dom"), col("id"), maxPerKey = 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(kept.length === 3)
    assert(kept.filter(_._1 == "x").map(_._3).sorted.toSeq === Seq(1L, 2L))
    assert(kept.filter(_._1 == "y").map(_._3).toSeq === Seq(1L))
  }

  test("capPerKeyArrival: first maxPerKey ids per key survive, in id order") {
    val df = (1L to 20L).map(i => (if (i % 2 == 0) "a" else "b", i))
      .toDF("dom", "id")
    val kept = Curation.capPerKeyArrival(df, col("dom"), col("id"), maxPerKey = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(kept.filter(_._1 == "a").sortBy(_._3).map(_._2).toSeq ===
      Seq(2L, 4L, 6L))
    assert(kept.filter(_._1 == "b").sortBy(_._3).map(_._2).toSeq ===
      Seq(1L, 3L, 5L))
  }

  test("capPerKeyByScore: highest scores survive, ranked best-first, ties to smaller id") {
    val df = Seq(
      ("a", 1L, 5.0), ("a", 2L, 9.0), ("a", 3L, 9.0), ("a", 4L, 1.0),
      ("b", 5L, 2.0)).toDF("dom", "id", "sc")
    val kept = Curation.capPerKeyByScore(df, col("dom"), col("id"),
      col("sc"), maxPerKey = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // a: the two 9.0s win, tie broken by smaller id first
    assert(kept.filter(_._1 == "a").sortBy(_._3).map(_._2).toSeq ===
      Seq(2L, 3L))
    assert(kept.filter(_._1 == "b").map(_._2).toSeq === Seq(5L))
  }

  test("incrementalCapPerKey ≡ full arrival cap restricted to the batch; store lifecycle; keyName guard") {
    val history = (1L to 30L).map(i => (s"d${i % 3}", i)).toDF("dom", "id")
    val batch = (31L to 60L).map(i => (s"d${i % 5}", i)).toDF("dom", "id")
    val cap = 12
    val full = Curation.capPerKeyArrival(
      history.unionByName(batch), col("dom"), col("id"), cap)
      .filter(col("id") > 30L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

    val root = java.nio.file.Files
      .createTempDirectory("graft-capidx").toString + "/store"
    Curation.capCounts("dom").write(Curation.capCountIndex(history.filter(col("id") <= 15L),
        col("dom"), col("id")), root)
    Curation.capCounts("dom").append(spark, root,
      Curation.capCountIndex(history.filter(col("id") > 15L),
        col("dom"), col("id")), "day-2")
    val inc = Curation.incrementalCapPerKey(batch, col("dom"), col("id"),
      cap, Curation.capCounts("dom").read(spark, root))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(inc === full, s"incremental $inc vs full-restricted $full")

    // compaction: probe-after ≡ probe-before; counts survive the fold
    val before = Curation.capCounts("dom").read(spark, root)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val stats = Maintenance.compactStore(spark, root)
    assert(stats.folded.toSet === Set("base", "day-2"))
    assert(Curation.capCounts("dom").read(spark, root)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet === before)

    // probing under a different key derivation refuses loudly
    val e = intercept[IllegalArgumentException] {
      Curation.capCounts("url_host").read(spark, root)
    }
    assert(e.getMessage.contains("keyName"), e.getMessage)
  }

  test("dedupLinesAcrossCorpus: globally-first copy survives, later copies drop, order preserved") {
    val docs = Seq(
      (1L, "alpha\nshared para\nbeta"),
      (2L, "shared para\nown two\nshared para"), // both copies are later
      (3L, "own three\nshared para"),
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = Dedup.dedupLinesAcrossCorpus(docs, "doc_id", "text", sep = "\n")
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out === Array(
      (1L, "alpha\nshared para\nbeta", 0L),
      (2L, "own two", 2L),
      (3L, "own three", 1L),
      (4L, "", 0L)), s"got ${out.mkString("; ")}")
  }

  test("selectRepresentatives: max score wins, ties to the smaller id, counts per cluster") {
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (9L, 7L))
      .toDF("id", "cluster_id")
    val scored = Seq((1L, 10L), (2L, 30L), (3L, 30L), (7L, 5L), (9L, 5L))
      .toDF("doc_id", "ntok")
    val out = Dedup.selectRepresentatives(clusters, scored, "doc_id", "ntok")
      .orderBy("cluster_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(out === Array(
      (1L, 2L, 30L, 3L, 2L), // 2 and 3 tie at 30 — smaller id wins
      (7L, 7L, 5L, 2L, 1L)))
  }

  test("selectRepresentatives: negative ids are refused loudly") {
    val clusters = Seq((-1L, 1L), (2L, 1L)).toDF("id", "cluster_id")
    val scored = Seq((-1L, 10L), (2L, 3L)).toDF("doc_id", "ntok")
    val e = intercept[Exception] {
      Dedup.selectRepresentatives(clusters, scored, "doc_id", "ntok").collect()
    }
    assert(e.getMessage.contains("non-negative"), e.getMessage)
  }

  test("incrementalDedupLines ≡ full keep-first run restricted to the batch; index merge rebuilds") {
    val corpus = Seq(
      (1L, "alpha\nshared para\nbeta"),
      (2L, "own two\nshared para")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "shared para\nnew line\nnew line"), // corpus dup + batch-internal dup
      (11L, "new line\nfresh"),
      (12L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val idx = Dedup.lineFirstOccIndex(corpus, "doc_id", "text", "\n")
    val inc = Dedup.incrementalDedupLines(batch, "doc_id", "text", idx, "\n")
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val full = Dedup.dedupLinesAcrossCorpus(
      corpus.unionByName(batch), "doc_id", "text", "\n")
      .filter(col("doc_id") >= 10L).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(inc === full, s"incremental ${inc.mkString(";")} vs full ${full.mkString(";")}")
    assert(inc === Array(
      (10L, "new line", 2L),
      (11L, "fresh", 1L),
      (12L, "", 0L)))
  }

  test("dedupLinesAcrossCorpus: minLineLen exempts short lines (blank breaks recur untouched)") {
    val docs = Seq(
      (1L, "para one\n\nshared tail"),
      (2L, "para two\n\nshared tail")
    ).toDF("doc_id", "text")
    val out = Dedup.dedupLinesAcrossCorpus(docs, "doc_id", "text",
      sep = "\n", minLineLen = 2)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out === Array(
      (1L, "para one\n\nshared tail", 0L),
      (2L, "para two\n", 1L)), s"got ${out.mkString("; ")}")
  }

  test("budgetedSelectByScore: exact best-first prefix cut, budget never exceeded") {
    val rows = (0L until 300L).map(i =>
      (s"s${i % 3}", i, 10L + i % 17, (i * 31) % 200))  // (source, id, toks, score)
    val df = rows.toDF("src", "id", "toks", "score")
    val budgets = Map("s0" -> 700L, "s1" -> 350L, "s2" -> 10000L)
    val out = Curation.budgetedSelectByScore(df, "src", "id", "toks", "score",
      budgets, bandWidth = 16L)
      .as[(String, Long, Long, Long, Long)].collect().sortBy(_._2)
    // reference: per source, sort (score desc, id asc), keep while cum <= budget
    val want = rows.groupBy(_._1).flatMap { case (src, rs) =>
      val ordered = rs.sortBy(r => (-r._4, r._2))
      val cums = ordered.scanLeft(0L)(_ + _._3).tail
      ordered.zip(cums).takeWhile(_._2 <= budgets(src))
        .map { case ((s, id, t, sc), cum) => (s, id, t, sc, cum) }
    }.toArray.sortBy(_._2)
    assert(out === want)
    // budget is a hard ceiling per source
    out.groupBy(_._1).foreach { case (src, rs) =>
      assert(rs.map(_._5).max <= budgets(src))
    }
    // s2's budget covers everything: whole source selected
    assert(out.count(_._1 == "s2") === 100)
    // band width is an internal knob, not a semantics knob
    for (bw <- Seq(1L, 7L, 256L)) {
      val alt = Curation.budgetedSelectByScore(df, "src", "id", "toks", "score",
        budgets, bandWidth = bw)
        .as[(String, Long, Long, Long, Long)].collect().sortBy(_._2)
      assert(alt === want, s"bandWidth=$bw diverges")
    }
    // sources without a budget entry are dropped, not defaulted
    val partial = Curation.budgetedSelectByScore(df, "src", "id", "toks", "score",
      Map("s1" -> 350L))
    assert(partial.select("src").distinct().as[String].collect().toSeq === Seq("s1"))
    // negative scores fail loudly (selection order undefined)
    val bad = Seq(("s0", 1L, 5L, -3L)).toDF("src", "id", "toks", "score")
    val err = intercept[Exception] {
      Curation.budgetedSelectByScore(bad, "src", "id", "toks", "score",
        Map("s0" -> 100L)).collect()
    }
    assert(err.getMessage != null)
  }

  test("attrition: first dropping stage per doc, survivors null, reappearance reports the drop") {
    val universe = (1L to 10L).toDF("doc_id")
    val a = (1L to 10L).filter(_ % 2 == 0).toDF("doc_id")       // evens survive A
    val b = Seq(4L, 8L, 7L).toDF("doc_id")                      // 7 reappears (bug case)
    val out = Curation.attrition(universe, "doc_id",
      Seq("stage_a" -> a, "stage_b" -> b))
      .as[(Long, Option[String])].collect().sortBy(_._1).toMap
    // odds dropped at A — including 7, which "reappears" in B but WAS
    // dropped at A (the anomaly this report exists to surface)
    (1L to 10L by 2).foreach(i => assert(out(i) === Some("stage_a"), s"doc $i"))
    // evens not in B dropped at B; 4 and 8 survive everything
    Seq(2L, 6L, 10L).foreach(i => assert(out(i) === Some("stage_b")))
    Seq(4L, 8L).foreach(i => assert(out(i) === None))
    // the funnel aggregate falls out of one groupBy
    val funnel = Curation.attrition(universe, "doc_id",
      Seq("stage_a" -> a, "stage_b" -> b))
      .groupBy("dropped_at").count()
      .as[(Option[String], Long)].collect().toMap
    assert(funnel === Map(Some("stage_a") -> 5L, Some("stage_b") -> 3L, None -> 2L))
    // duplicate stage names fail loudly
    val dup = intercept[IllegalArgumentException] {
      Curation.attrition(universe, "doc_id", Seq("s" -> a, "s" -> b))
    }
    assert(dup.getMessage.contains("duplicate stage names"))
  }

  test("attrition: stage names with dots/backticks are data, never column paths") {
    // flag columns are positional, so a release-tag-style stage name
    // ("v1.0-dedup") or one with a backtick cannot break resolution
    val universe = (1L to 4L).toDF("doc_id")
    val survivors = Seq(2L, 4L).toDF("doc_id")
    for (name <- Seq("v1.0-dedup", "stage`tick", "a.b.c")) {
      val out = Curation.attrition(universe, "doc_id", Seq(name -> survivors))
        .as[(Long, Option[String])].collect().toMap
      assert(out === Map(1L -> Some(name), 2L -> None,
        3L -> Some(name), 4L -> None), s"stage name: $name")
    }
  }

  test("budgetedSelectByScore and rankTiers: empty inputs yield empty outputs, not errors") {
    val empty = Seq.empty[(String, Long, Long, Long)].toDF("src", "id", "toks", "score")
    assert(Curation.budgetedSelectByScore(empty, "src", "id", "toks", "score",
      Map("s0" -> 100L)).count() === 0L)
    assert(Curation.rankTiers(empty, Seq("src"), col("score"), "id",
      expr("score div 2"), 3).count() === 0L)
    assert(Curation.attrition(empty.select("id"), "id",
      Seq("a" -> empty.select("id"))).count() === 0L)
  }

  test("rankTiers: exact thirds by rank, balanced sizes, matches single-window reference") {
    import org.apache.spark.sql.expressions.Window
    // two groups, sizes 10 and 7 (remainder case), score with ties
    val rows = (0L until 17L).map(i =>
      (if (i < 10) "g1" else "g2", i, (i * 13 % 5)))
    val df = rows.toDF("src", "id", "score")
    val out = Curation.rankTiers(df, Seq("src"), col("score"), "id",
      shardBucket = expr("score div 2"), nBuckets = 3)
      .as[(String, Long, Long, Long)].collect().sortBy(_._2)
    val want = df
      .withColumn("rk", row_number().over(
        Window.partitionBy($"src").orderBy($"score", $"id")).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy($"src")))
      .withColumn("tier", expr("((rk - 1) * 3) div n"))
      .select($"src", $"id", $"score", $"tier")
      .as[(String, Long, Long, Long)].collect().sortBy(_._2)
    assert(out === want)
    // tier sizes within each group differ by at most one
    out.groupBy(_._1).foreach { case (_, rs) =>
      val sizes = rs.groupBy(_._4).values.map(_.size)
      assert(sizes.max - sizes.min <= 1, s"unbalanced tiers: $sizes")
      assert(rs.map(_._4).distinct.sorted.toSeq === Seq(0L, 1L, 2L))
    }
    // tier order follows score order: max score of tier t <= min of t+1
    out.groupBy(_._1).foreach { case (_, rs) =>
      val byTier = rs.groupBy(_._4).toSeq.sortBy(_._1).map(_._2.map(_._3))
      byTier.sliding(2).foreach {
        case Seq(lo, hi) => assert(lo.max <= hi.min)
        case _ =>
      }
    }
  }
}
