package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based checks over randomized inputs (SURVEY §5 item 4):
  *  - merge(merge(t,u),u) == merge(t,u)  (idempotency contract)
  *  - merged key sets are exact unions; update rows win
  *  - interval explode ≡ literal spine range join on random intervals
  *  - deferred + recognized == amount on every expanded day
  */
class PropertySpec extends SparkSpecBase {
  import spark.implicits._

  /** Deterministic sampling: the scalatest-scalacheck bridge is not on
    * the offline classpath, so drive Gen directly with fixed seeds. */
  private def forAllSeeded[A](gen: Gen[A], n: Int)(body: A => Unit): Unit =
    (1 to n).foreach { i =>
      body(gen.pureApply(Gen.Parameters.default, Seed(42L + i)))
    }

  private val keyValGen: Gen[List[(Long, Double)]] = for {
    n <- Gen.choose(0, 25)
    keys <- Gen.listOfN(n, Gen.choose(0L, 12L))
    vals <- Gen.listOfN(n, Gen.choose(-1000.0, 1000.0))
  } yield keys.distinct.zip(vals)

  test("property: merge is idempotent and unions key sets, updates winning") {
    forAllSeeded(Gen.zip(keyValGen, keyValGen), 10) {
      case (t: List[(Long, Double)], u: List[(Long, Double)]) =>
        val target = t.toDF("id", "v")
        val updates = u.toDF("id", "v")
        val once = Merge.mergeInto(target, updates, Seq("id"))
        val twice = Merge.mergeInto(once, updates, Seq("id"))
        val onceRows = once.as[(Long, Double)].collect().toMap
        val twiceRows = twice.as[(Long, Double)].collect().toMap
        assert(onceRows === twiceRows)
        val expected = t.toMap ++ u.toMap  // updates overwrite target
        assert(onceRows === expected)
    }
  }

  private val intervalGen: Gen[List[(Long, Int, Int)]] = for {
    n <- Gen.choose(1, 20)
    rows <- Gen.listOfN(n, for {
      id <- Gen.choose(0L, 1000L)
      s <- Gen.choose(0, 40)       // day offsets from 2024-01-01
      len <- Gen.choose(-5, 20)    // negative → inverted interval
    } yield (id, s, s + len))
  } yield rows.zipWithIndex.map { case ((_, s, e), i) => (i.toLong, s, e) }

  test("property: explode expansion ≡ spine range join for random (incl. inverted) intervals") {
    forAllSeeded(intervalGen, 6) { rows: List[(Long, Int, Int)] =>
      val base = java.sql.Date.valueOf("2024-01-01")
      val df = rows.toDF("id", "so", "eo").select(
        $"id",
        date_add(lit(base), $"so").as("s"),
        date_add(lit(base), $"eo").as("e"))
      val spine = spark.range(1).select(explode(sequence(
        date_sub(lit(base), 10), date_add(lit(base), 70))).as("date_day"))
      val viaExplode = IntervalExpand.expandDays(df, $"s", $"e")
        .select($"id", $"as_of_date").collect().map(_.toString).sorted
      val viaJoin = IntervalExpand.rangeJoinSpine(df, spine, "date_day", $"s", $"e")
        .select($"id", $"date_day").collect().map(_.toString).sorted
      assert(viaExplode.toSeq === viaJoin.toSeq)
    }
  }

  test("property: proration always splits the amount exactly, is monotone, and lands on the total") {
    forAllSeeded(
      Gen.listOfN(8, for {
        amountCents <- Gen.choose(1L, 500000L)
        periodDays <- Gen.choose(0, 60)
        leadDays <- Gen.choose(0, 10) // invoice before service start
      } yield (amountCents, periodDays, leadDays)), 5) {
      (items: List[(Long, Int, Int)]) =>
        val base = java.sql.Date.valueOf("2024-02-01")
        val li = items.zipWithIndex.map { case ((cents, days, lead), i) =>
          (s"li$i", s"inv$i", s"cus$i", null: String, "USD",
            new java.sql.Timestamp(base.getTime), base,
            cents / 100.0, 0.0, false,
            java.sql.Date.valueOf(base.toLocalDate.plusDays(lead)),
            java.sql.Date.valueOf(base.toLocalDate.plusDays(lead + days)))
        }.toDF("line_item_id", "invoice_id", "customer_id", "subscription_id",
          "currency", "invoice_created_at", "invoice_created_date",
          "amount", "tax_amount", "is_tax_inclusive",
          "period_start_date", "period_end_date")
        val fx = graft.pipeline.Models.exchangeRates(spark, java.time.LocalDate.of(2024, 3, 1))
        val dr = graft.pipeline.Models.deferredRevenue(li, fx, lit(null).cast("timestamp"))
        // invariant 1: split is exact on every day
        assert(dr.filter(
          abs($"deferred_revenue_usd" + $"recognized_revenue_usd" - $"amount_without_tax_usd") > 1e-6)
          .count() === 0)
        // invariant 2: recognized is within [0, amount]
        assert(dr.filter($"recognized_revenue_usd" < -1e-9 ||
          $"recognized_revenue_usd" > $"amount_without_tax_usd" + 1e-6).count() === 0)
        // invariant 3: on the final expanded day everything is recognized
        val lastDay = dr.withColumn("_rk",
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy("line_item_id").orderBy($"as_of_date".desc)))
          .filter($"_rk" === 1)
        assert(lastDay.filter(
          abs($"recognized_revenue_usd" - $"amount_without_tax_usd") > 1e-6).count() === 0)
    }
  }

  private val wordGen: Gen[String] = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff")
  private val textGen: Gen[String] = for {
    n <- Gen.choose(0, 30)
    ws <- Gen.listOfN(n, wordGen)
  } yield ws.mkString(" ")

  test("property: shingles/bigrams/repetition match naive Scala on random texts") {
    forAllSeeded(Gen.listOfN(8, Gen.zip(textGen, Gen.choose(1, 5))), 5) { cases =>
      cases.foreach { case (text, k) =>
        val toks = "[a-z0-9]+".r.findAllIn(text.toLowerCase).toList
        val naiveShingles =
          if (toks.size >= k) toks.sliding(k).map(_.mkString(" ")).toList.distinct
          else List(toks.mkString(" "))
        val naiveBigrams =
          if (toks.size >= 2) toks.sliding(2).map(_.mkString(" ")).toList
          else Nil
        val row = Seq(text).toDF("t").select(
          Dedup.shingles($"t", k).as("sh"),
          graft.functions.TextFunctions.bigrams($"t").as("bg"),
          graft.functions.TextFunctions.topFrequencyFraction(
            graft.functions.TextFunctions.bigrams($"t")).as("top")).head()
        assert(row.getAs[Seq[String]]("sh").toList === naiveShingles, s"k=$k text=$text")
        assert(row.getAs[Seq[String]]("bg").toList === naiveBigrams, s"text=$text")
        val naiveTop =
          if (naiveBigrams.isEmpty) 0.0
          else naiveBigrams.groupBy(identity).values.map(_.size).max.toDouble / naiveBigrams.size
        assert(math.abs(row.getAs[Double]("top") - naiveTop) < 1e-12, s"text=$text")
      }
    }
  }

  private val asofGen: Gen[(List[(Long, Int, Double)], List[(Long, Int, Option[Double])])] =
    for {
      nl <- Gen.choose(1, 15)
      nr <- Gen.choose(0, 15)
      left <- Gen.listOfN(nl, for {
        k <- Gen.choose(0L, 3L); t <- Gen.choose(0, 50); v <- Gen.choose(0.0, 10.0)
      } yield (k, t, v))
      right <- Gen.listOfN(nr, for {
        k <- Gen.choose(0L, 3L); t <- Gen.choose(0, 50)
        v <- Gen.option(Gen.choose(0.0, 10.0))
      } yield (k, t, v))
    } yield (left, right)

  private val rollingGen: Gen[(List[(String, Int, String)], Int, Int)] = for {
    n <- Gen.choose(1, 120)
    rows <- Gen.listOfN(n, for {
      k <- Gen.oneOf("a", "b", "c", "d")
      day <- Gen.choose(0, 9)
      v <- Gen.choose(0, 5)
    } yield (k, day, s"v$v"))
    frame <- Gen.choose(1, 20)
    extra <- Gen.choose(0, 20)
  } yield (rows, frame, frame + extra)

  /** The chunk/carry invariant behind q74, beyond the one oracle
    * instance it exercises: for random keyed data with skewed day
    * buckets and random frame/chunk sizes (chunks often smaller than
    * a bucket, frames often spanning several chunks), the two-phase
    * global sequence must equal a single-window row_number and the
    * chunked rolling distinct must equal the naive unbounded-window
    * form. Ordering is (day, id) with id unique — tie-free, as the
    * operator's contract requires. */
  test("property: sequenceByKey ≡ row_number and rollingDistinct ≡ naive window") {
    forAllSeeded(rollingGen, 8) { case (rows, n, chunkSize) =>
      val base = java.sql.Date.valueOf("2024-03-01")
      val df = rows.zipWithIndex
        .map { case ((k, day, v), i) => (k, day, i.toLong, v) }
        .toDF("key", "day_off", "id", "v")
        .select($"key", date_add(lit(base), $"day_off").as("d"), $"id", $"v")
      val wNaive = Window.partitionBy("key").orderBy(col("d"), col("id"))
      val expectedRn = df
        .withColumn("rn", row_number().over(wNaive))
        .select("key", "id", "rn").as[(String, Long, Int)].collect().toSet
      val gotRn = Rolling.sequenceByKey(df, Seq("key"),
        Seq(col("d"), col("id")), col("d"))
        .select(col("key"), col("id"), col("rn").cast("int"))
        .as[(String, Long, Int)].collect().toSet
      assert(gotRn === expectedRn, s"n=$n chunkSize=$chunkSize")
      val expectedRoll = df
        .withColumn("rd", size(collect_set(col("v"))
          .over(wNaive.rowsBetween(-(n - 1), Window.currentRow))).cast("long"))
        .select("key", "id", "rd").as[(String, Long, Long)].collect().toSet
      val gotRoll = Rolling.rollingDistinct(df, Seq("key"),
        Seq(col("d"), col("id")), col("d"), "v", n = n, chunkSize = chunkSize)
        .select(col("key"), col("id"), col("rolling_distinct"))
        .as[(String, Long, Long)].collect().toSet
      assert(gotRoll === expectedRoll, s"n=$n chunkSize=$chunkSize")
    }
  }

  private val percentileGen: Gen[(List[(Int, Double)], List[Double])] = for {
    n <- Gen.choose(1, 60)
    rows <- Gen.listOfN(n, Gen.zip(Gen.choose(0, 8), Gen.choose(-500.0, 500.0)))
    nps <- Gen.choose(1, 4)
    ps <- Gen.listOfN(nps, Gen.choose(0.0, 1.0))
  } yield (rows, ps)

  /** The two percentile paths (range-sort + rank offsets vs hash-window
    * rank filter) share one contract: identical output for any input.
    * Both combine as lo + (hi−lo)·w, so equality is exact. */
  test("property: interpolatedManyGroups ≡ interpolated for random data and fractions") {
    forAllSeeded(percentileGen, 8) { case (rows, ps) =>
      val df = rows.toDF("g", "v").repartition(4)
      val named = ps.zipWithIndex.map { case (p, i) => s"p$i" -> p }
      val few = Percentiles.interpolated(df, Seq("g"), "v", named)
        .collect().map(_.toSeq).toSet
      val many = Percentiles.interpolatedManyGroups(df, Seq("g"), "v", named)
        .collect().map(_.toSeq).toSet
      assert(many === few, s"ps=$named")
    }
  }

  test("property: asof join ≡ naive latest-right-at-or-before, nulls preserved") {
    forAllSeeded(asofGen, 8) { case (left, right) =>
      // dedupe right on (key, ts) — which row wins is unspecified otherwise
      val r = right.groupBy(x => (x._1, x._2)).map(_._2.head).toList
      def ts(i: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:${i / 60}%02d:${i % 60}%02d")
      val lidx = left.zipWithIndex.map { case ((k, t, v), i) => (i.toLong, k, t, v) }
      val ldf = lidx.map { case (i, k, t, v) => (i, k, ts(t), v) }
        .toDF("row_id", "k", "lts", "lv")
      val rdf = r.map { case (k, t, v) => (k, ts(t), v) }.toDF("k", "rts", "rv")
      val out = AsOfJoin.asof(ldf, rdf, Seq("k"), "lts", "rts", Map("rv" -> "m"))
        .select("row_id", "m").as[(Long, Option[Double])].collect().toMap
      lidx.foreach { case (i, k, t, _) =>
        val matched = r.filter(x => x._1 == k && x._2 <= t)
          .sortBy(_._2).lastOption
        assert(out(i) === matched.flatMap(_._3),
          s"row $i key=$k t=$t right=$r")
      }
    }
  }

  private val lineDocsGen: Gen[List[(Long, String)]] = for {
    n <- Gen.choose(3, 8)
    docs <- Gen.listOfN(n, Gen.listOf(
      Gen.oneOf("header", "footer", "alpha", "beta", "gamma", ""))
      .map(_.mkString("\n")))
  } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  test("property: the corpus cleaning ops are idempotent (clean(clean(x)) == clean(x))") {
    forAllSeeded(lineDocsGen, 6) { docs =>
      val df = docs.toDF("doc_id", "text")
      // boilerplate removal: a second pass over already-cleaned text
      // finds the same frequent lines already gone → fixpoint
      val once = Dedup.removeBoilerplateLines(df, "doc_id", "text",
        sep = "\n", minDocs = 2)
        .select($"doc_id", $"clean_text".as("text"))
      val twice = Dedup.removeBoilerplateLines(once, "doc_id", "text",
        sep = "\n", minDocs = 2)
      val a = once.as[(Long, String)].collect().sortBy(_._1)
      val b = twice.select($"doc_id", $"clean_text")
        .as[(Long, String)].collect().sortBy(_._1)
      assert(a === b, s"boilerplate not idempotent on $docs")
      // intra-doc line dedup: no repeats remain after one pass
      val r1 = graft.functions.TextFunctions.dedupLinesInDoc($"text", "\n")
      val c1 = df.select($"doc_id", r1.getField("clean_text").as("text"))
      val r2 = graft.functions.TextFunctions.dedupLinesInDoc($"text", "\n")
      val c2 = c1.select($"doc_id", r2.getField("clean_text").as("text"),
        r2.getField("n_removed").as("n_removed"))
        .as[(Long, String, Long)].collect().sortBy(_._1)
      val c1rows = c1.as[(Long, String)].collect().sortBy(_._1)
      assert(c2.map(x => (x._1, x._2)) === c1rows,
        s"line dedup not idempotent on $docs")
      assert(c2.forall(_._3 === 0L), "second pass removed lines")
    }
  }

  private val hostGen: Gen[String] = for {
    nLabels <- Gen.choose(1, 6)
    labels <- Gen.listOfN(nLabels, Gen.oneOf(
      "www", "a", "blog", "x9", "sub", "shop", "k12", "cc", "site",
      "github", "blogspot", "compute", "amazonaws", "eu-west-1",
      "io", "com", "uk", "co", "ck", "us", "ca", "zz", "np", "jp"))
  } yield labels.mkString(".")

  test("property: PSL registeredDomain is total, a suffix, and idempotent on random hosts") {
    forAllSeeded(Gen.listOfN(60, hostGen), 5) { hosts =>
      val rules = Psl.snapshot
      hosts.foreach { h =>
        val rd = Psl.registeredDomainImpl(h, rules)      // never throws
        assert(h == rd || h.endsWith("." + rd),
          s"'$rd' is not a label suffix of '$h'")
        assert(Psl.registeredDomainImpl(rd, rules) === rd,
          s"not idempotent: rd('$h') = '$rd' but rd('$rd') differs")
        // the expression agrees with the direct implementation
        val viaExpr = Seq(h).toDF("h")
          .select(Psl.registeredDomain(col("h"))).as[String].head()
        assert(viaExpr === rd, s"expression diverges on '$h'")
      }
    }
  }

  test("property: attrition ≡ first-missing-stage on random (non-nested) stage chains") {
    val stagesGen: Gen[(List[Long], List[Set[Long]])] = for {
      n <- Gen.choose(1, 40)
      k <- Gen.choose(1, 5)
      stages <- Gen.listOfN(k, Gen.listOfN(n, Gen.oneOf(true, false)))
    } yield ((0L until n.toLong).toList,
      stages.map(keep => (0L until n.toLong).filter(i => keep(i.toInt)).toSet))
    forAllSeeded(stagesGen, 12) { case (ids, stageSets) =>
      val universe = ids.toDF("id")
      val named = stageSets.zipWithIndex.map { case (s, i) =>
        s"st$i" -> s.toSeq.toDF("id")
      }
      val got = Curation.attrition(universe, "id", named)
        .as[(Long, Option[String])].collect().toMap
      ids.foreach { id =>
        val want = stageSets.zipWithIndex
          .collectFirst { case (s, i) if !s.contains(id) => s"st$i" }
        assert(got(id) === want, s"doc $id, stages=$stageSets")
      }
    }
  }

  test("property: epochShuffle is a permutation agreeing with the naive order, any n") {
    val nGen = Gen.choose(0, 120)
    forAllSeeded(nGen, 6) { n =>
      val ids = (0L until n.toLong).toDF("id")
      val got = Packing.epochShuffle(ids, "id", s"seed-$n")
        .as[(Long, Long)].collect().sortBy(_._2)
      val want = (0L until n.toLong)
        .sortBy { i =>
          val h = java.security.MessageDigest.getInstance("MD5")
            .digest(s"seed-$n:$i".getBytes("UTF-8"))
            .map("%02x".format(_)).mkString
          (h, i)
        }
      assert(got.map(_._1).toSeq === want.toSeq, s"n=$n")
      assert(got.map(_._2).toSeq === (0L until n.toLong).toSeq)
    }
  }

  private val jaccardCorpusGen: Gen[List[(Long, String)]] = for {
    n <- Gen.choose(2, 12)
    docs <- Gen.listOfN(n, for {
      len <- Gen.choose(1, 8)
      ws <- Gen.listOfN(len, Gen.oneOf(
        "apple", "banana", "cherry", "dates", "elder", "figs"))
    } yield ws.mkString(" "))
  } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  test("property: exactJaccardJoin ≡ brute force on random corpora and thresholds (zero false negatives)") {
    // small vocab forces heavy set overlap — the adversarial case for
    // prefix filtering (prefixes collide constantly, the length and
    // verify stages must carry the exactness)
    forAllSeeded(Gen.zip(jaccardCorpusGen, Gen.oneOf(0.3, 0.5, 0.8)), 8) {
      case (rows, t) =>
        val df = rows.toDF("doc_id", "text")
        val brute = Dedup.ngramJaccardPairs(df.withColumn("blk", lit(1)),
          "doc_id", "text", "blk", k = 1, threshold = t)
          .select("id_a", "id_b").as[(Long, Long)].collect().toSet
        val fast = Dedup.exactJoin(df, "doc_id", "text",
          Dedup.Jaccard(t, shingleK = 1))
          .select("id_a", "id_b").as[(Long, Long)].collect().toSet
        assert(fast === brute, s"t=$t rows=$rows")
    }
  }

  private val vecCorpusGen: Gen[(List[(Long, Array[Float])], Double)] = for {
    n <- Gen.choose(6, 36)
    dim <- Gen.choose(2, 10)
    seed <- Gen.choose(0, 10000)
    t <- Gen.oneOf(0.3, 0.6, 0.9, 0.99)
  } yield {
    val rnd = new scala.util.Random(seed)
    val base = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val rows = (0 until n).map { i =>
      val v =
        if (i % 7 == 6) Array.fill(dim)(0f)                  // zero-norm
        else if (i % 5 == 4 && i > 0) base.clone()           // exact dup
        else if (i % 3 == 0)                                  // near-dup
          base.map(x => x + 0.1f * rnd.nextGaussian().toFloat)
        else Array.fill(dim)(rnd.nextGaussian().toFloat)
      (i.toLong, v)
    }.toList
    (rows, t)
  }

  test("property: exactCosineJoin ≡ brute force on random corpora, thresholds, pivot counts") {
    forAllSeeded(vecCorpusGen, 6) { case (rows, t) =>
      val df = rows.toDF("vec_id", "embedding")
      // the judge: block-local brute force over a constant block
      val brute = Dedup.embeddingNearDup(df.withColumn("blk", lit(1)),
        "vec_id", "embedding", "blk", t)
        .as[(Long, Long, Double)].collect().toSet
      for (p <- Seq(2, 4)) {
        val fast = Dedup.exactJoin(df, "vec_id", "embedding",
          Dedup.Cosine(t, nPivots = p)).as[(Long, Long, Double)].collect().toSet
        assert(fast === brute,
          s"t=$t nPivots=$p miss=${brute -- fast} extra=${fast -- brute}")
      }
    }
  }

  test("property: batch-vs-corpus exact joins ≡ brute force on random splits") {
    forAllSeeded(vecCorpusGen, 4) { case (rows, t) =>
      val corpus = rows.filter(_._1 % 3 != 0).toDF("vec_id", "embedding")
      val batch = rows.filter(_._1 % 3 == 0)
        .map { case (i, v) => (1000L + i, v) }.toDF("vec_id", "embedding")
      val brute = Dedup.embeddingNearDup(
        corpus.withColumn("blk", lit(1))
          .unionByName(batch.withColumn("blk", lit(1))),
        "vec_id", "embedding", "blk", t)
        .filter(col("id_a") < 1000L && col("id_b") >= 1000L)
        .as[(Long, Long, Double)].collect().toSet
      val got = Dedup.exactJoinAgainst(corpus, batch, "vec_id", "embedding",
        Dedup.Cosine(t))
        .as[(Long, Long, Double)].collect().toSet
      assert(got === brute,
        s"t=$t miss=${brute -- got} extra=${got -- brute}")
    }
    forAllSeeded(jaccardCorpusGen, 4) { rows =>
      val corpus = rows.filter(_._1 % 3 != 0).toDF("doc_id", "text")
      val batch = rows.filter(_._1 % 3 == 0)
        .map { case (i, txt) => (1000L + i, txt) }.toDF("doc_id", "text")
      val t = 0.5
      val naive = (for {
        (ci, ct) <- rows.filter(_._1 % 3 != 0)
        (bi, bt) <- rows.filter(_._1 % 3 == 0)
        cs = ct.split("\\s+").filter(_.nonEmpty).toSet
        bs = bt.split("\\s+").filter(_.nonEmpty).toSet
        if cs.nonEmpty && bs.nonEmpty
        j = cs.intersect(bs).size.toDouble / cs.union(bs).size
        if j >= t
      } yield (ci, 1000L + bi)).toSet
      val got = Dedup.exactJoinAgainst(corpus, batch, "doc_id", "text",
        Dedup.Jaccard(t, shingleK = 1))
        .select("id_corpus", "id_batch")
        .as[(Long, Long)].collect().toSet
      assert(got === naive,
        s"miss=${naive -- got} extra=${got -- naive} rows=$rows")
    }
  }

  private def tmpStore(name: String): String = java.nio.file.Files
    .createTempDirectory("graft-prop-cert").toString + "/" + name

  test("property: store-backed certification probes ≡ brute force across appends (random corpora/splits)") {
    // the Jaccard side: bootstrap from the corpus slice, probe batch1,
    // APPEND batch1 (prefixes cut under its own df order — the
    // one-sided lemma is order-free), probe batch2 against the grown
    // corpus; every probe must equal naive brute force exactly
    forAllSeeded(Gen.zip(jaccardCorpusGen, Gen.oneOf(0.3, 0.5, 0.8)), 4) {
      case (rows, t) =>
        val corpus = rows.filter(_._1 % 3 == 1)
        val b1 = rows.filter(_._1 % 3 == 2)
          .map { case (i, txt) => (1000L + i, txt) }
        val b2 = rows.filter(_._1 % 3 == 0)
          .map { case (i, txt) => (2000L + i, txt) }
        def naive(c: List[(Long, String)], b: List[(Long, String)]) =
          (for {
            (ci, ct) <- c; (bi, bt) <- b
            cs = ct.split("\\s+").filter(_.nonEmpty).toSet
            bs = bt.split("\\s+").filter(_.nonEmpty).toSet
            if cs.nonEmpty && bs.nonEmpty
            j = cs.intersect(bs).size.toDouble / cs.union(bs).size
            if j >= t
          } yield (ci, bi)).toSet
        val root = tmpStore(s"jac$t")
        Dedup.certIndexWrite(corpus.toDF("doc_id", "text"), "doc_id", "text", root,
          Dedup.Jaccard(t, shingleK = 1))
        def probe(b: List[(Long, String)]) =
          Dedup.certIndexProbe(spark, root, b.toDF("doc_id", "text"), "doc_id",
            "text", Dedup.Jaccard(t, shingleK = 1))
            .select("id_corpus", "id_batch")
            .as[(Long, Long)].collect().toSet
        assert(probe(b1) === naive(corpus, b1), s"t=$t rows=$rows")
        Dedup.certIndexAppend(spark, root, b1.toDF("doc_id", "text"), "doc_id",
          "text", "b1", Dedup.Jaccard(t, shingleK = 1))
        assert(probe(b2) === naive(corpus ++ b1, b2),
          s"post-append t=$t rows=$rows")
    }
    // the cosine side: pivots freeze at bootstrap; appends band under
    // them and must stay probe-consistent on the grown corpus
    forAllSeeded(vecCorpusGen, 3) { case (rows, t) =>
      val corpus = rows.filter(_._1 % 3 == 1)
      val b1 = rows.filter(_._1 % 3 == 2)
        .map { case (i, v) => (1000L + i, v) }
      val b2 = rows.filter(_._1 % 3 == 0)
        .map { case (i, v) => (2000L + i, v) }
      // cross pairs only: ids are constructed so the store side is
      // always numerically below the probe side's boundary
      def brute(all: List[(Long, Array[Float])], boundary: Long) =
        Dedup.embeddingNearDup(
          all.toDF("vec_id", "embedding").withColumn("blk", lit(1)),
          "vec_id", "embedding", "blk", t)
          .filter(col("id_a") < boundary && col("id_b") >= boundary)
          .as[(Long, Long, Double)].collect().toSet
      if (corpus.size >= 2) {
        val root = tmpStore(s"vec$t")
        Dedup.certIndexWrite(corpus.toDF("vec_id", "embedding"), "vec_id",
          "embedding", root, Dedup.Cosine(t))
        def probe(b: List[(Long, Array[Float])]) =
          Dedup.certIndexProbe(spark, root, b.toDF("vec_id", "embedding"), "vec_id",
            "embedding", Dedup.Cosine(t)).as[(Long, Long, Double)].collect().toSet
        assert(probe(b1) === brute(corpus ++ b1, 1000L), s"t=$t")
        Dedup.certIndexAppend(spark, root, b1.toDF("vec_id", "embedding"), "vec_id",
          "embedding", "b1", Dedup.Cosine(t))
        assert(probe(b2) === brute(corpus ++ b1 ++ b2, 2000L),
          s"post-append t=$t")
      }
    }
  }

  test("property: cc_labels fold sequence ≡ full CC rebuild at EVERY step, through a compaction (random edge batches)") {
    // the min-fold theorem under fire: random edge sets arrive in
    // random batch splits; after every fold the store's min-per-id
    // read must equal connectedComponents over everything so far —
    // merges only ever LOWER labels, which is exactly what makes the
    // delta store order-free
    val edgesGen: Gen[List[(Long, Long)]] = for {
      n <- Gen.choose(1, 30)
      es <- Gen.listOfN(n, Gen.zip(Gen.choose(0L, 20L), Gen.choose(0L, 20L)))
    } yield es.filter(p => p._1 != p._2)
    forAllSeeded(edgesGen, 4) { edges =>
      if (edges.nonEmpty) {
        val root = tmpStore("cclab")
        val batches = edges.grouped(math.max(1, edges.size / 3)).toList
        var sofar = List.empty[(Long, Long)]
        def full() = Dedup.connectedComponents(sofar.toDF("id_a", "id_b"))
          .as[(Long, Long)].collect().toSet
        batches.zipWithIndex.foreach { case (b, i) =>
          sofar = sofar ++ b
          Dedup.ccLabelsFold(spark, root, b.toDF("id_a", "id_b"),
            s"e$i", "cosine", 0.4)
          val stored = Dedup.ccLabels("cosine", 0.4).read(spark, root)
            .as[(Long, Long)].collect().toSet
          assert(stored === full(), s"after batch $i: edges=$sofar")
        }
        Maintenance.compactStore(spark, root)
        assert(Dedup.ccLabels("cosine", 0.4).read(spark, root)
          .as[(Long, Long)].collect().toSet === full(),
          s"compaction changed the labeling: edges=$sofar")
      }
    }
  }

  test("property: certification erasure ≡ never-ingested, on random corpora and victim sets") {
    // the erasure contract under fire: whatever the corpus and
    // whoever the victims (including victims sharing every prefix
    // bucket with survivors), the post-erase probe must equal naive
    // brute force over the retained corpus — and erasing EVERYONE is
    // pinned as the loud/empty boundary below, not left to chance
    forAllSeeded(Gen.zip(jaccardCorpusGen, Gen.oneOf(0.3, 0.5)), 3) {
      case (rows, t) =>
        val corpus = rows.filter(_._1 % 2 == 1)
        val batch = rows.filter(_._1 % 2 == 0)
          .map { case (i, txt) => (1000L + i, txt) }
        if (corpus.size >= 2 && batch.nonEmpty) {
          val victims = corpus.filter(_._1 % 3 == 0).map(_._1)
          val retained = corpus.filterNot(r => victims.contains(r._1))
          if (victims.nonEmpty && retained.nonEmpty) {
            def naive(c: List[(Long, String)], b: List[(Long, String)]) =
              (for {
                (ci, ct) <- c; (bi, bt) <- b
                cs = ct.split("\\s+").filter(_.nonEmpty).toSet
                bs = bt.split("\\s+").filter(_.nonEmpty).toSet
                if cs.nonEmpty && bs.nonEmpty
                j = cs.intersect(bs).size.toDouble / cs.union(bs).size
                if j >= t
              } yield (ci, bi)).toSet
            val root = tmpStore(s"erase$t")
            Dedup.certIndexWrite(corpus.toDF("doc_id", "text"), "doc_id", "text",
              root, Dedup.Jaccard(t, shingleK = 1))
            Maintenance.eraseStore(spark, root,
              Maintenance.EraseRequest(victims.toDF("doc_id")))
            val got = Dedup.certIndexProbe(spark, root, batch.toDF("doc_id", "text"),
              "doc_id", "text", Dedup.Jaccard(t, shingleK = 1))
              .select("id_corpus", "id_batch")
              .as[(Long, Long)].collect().toSet
            assert(got === naive(retained, batch),
              s"t=$t victims=$victims rows=$rows")
            // and the store still composes: append + re-probe stays
            // equal to brute force over retained ∪ appended
            val extra = List((5000L, retained.head._2))
            Dedup.certIndexAppend(spark, root, extra.toDF("doc_id", "text"),
              "doc_id", "text", "post-erase", Dedup.Jaccard(t, shingleK = 1))
            val got2 = Dedup.certIndexProbe(spark, root,
              batch.toDF("doc_id", "text"), "doc_id", "text",
              Dedup.Jaccard(t, shingleK = 1))
              .select("id_corpus", "id_batch")
              .as[(Long, Long)].collect().toSet
            assert(got2 === naive(retained ++ extra, batch),
              s"post-erase append diverged: t=$t rows=$rows")
          }
        }
    }
  }

  test("property: adaptive re-blocking completes equal to brute force or raises loudly — never silently wrong") {
    forAllSeeded(Gen.zip(vecCorpusGen, Gen.oneOf(5L, 20L, 100L)), 6) {
      case ((rows, t), maxCell) =>
        val df = rows.toDF("vec_id", "embedding")
        val brute = Dedup.embeddingNearDup(df.withColumn("blk", lit(1)),
          "vec_id", "embedding", "blk", t)
          .as[(Long, Long, Double)].collect().toSet
        try {
          val fast = Dedup.exactJoin(df, "vec_id", "embedding",
            Dedup.Cosine(t, maxCell = maxCell))
            .as[(Long, Long, Double)].collect().toSet
          assert(fast === brute, s"t=$t maxCell=$maxCell " +
            s"miss=${brute -- fast} extra=${fast -- brute}")
        } catch {
          case e: Exception =>
            // the only acceptable failure is the LOUD backstop
            assert(Option(e.getMessage).exists(_.contains("cell overflow")) ||
              Seq(e.getCause).flatMap(c => Option(c).flatMap(x =>
                Option(x.getMessage))).exists(_.contains("cell overflow")),
              s"unexpected failure class: $e")
        }
    }
  }
}
