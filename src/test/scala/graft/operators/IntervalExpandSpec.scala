package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.functions._
import java.sql.Date

class IntervalExpandSpec extends SparkSpecBase {
  import spark.implicits._

  private def facts = Seq(
    (1L, "2024-01-01", "2024-01-03"),  // 3-day closed interval
    (2L, "2024-01-05", "2024-01-05"),  // single day
    (3L, "2024-01-10", "2024-01-08")   // inverted → no rows
  ).toDF("id", "s", "e")
    .select($"id", to_date($"s").as("s"), to_date($"e").as("e"))

  test("closed-interval expansion emits one row per day in [s, e]") {
    val out = IntervalExpand.expandDays(facts, $"s", $"e")
      .groupBy("id").count().as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 3L, 2L -> 1L))
  }

  test("half-open expansion emits [s, e) — end day excluded") {
    val out = IntervalExpand.expandDaysHalfOpen(facts, $"s", $"e")
      .groupBy("id").count().as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 2L))  // id 2 has zero-length period, id 3 inverted
  }

  test("explode rewrite ≡ literal spine range join (the J3/J4 equivalence)") {
    val spine = IntervalExpand.dateSpine(facts.limit(1),
      lit(Date.valueOf("2023-12-25")), lit(Date.valueOf("2024-01-20")))
    val viaJoin = IntervalExpand.rangeJoinSpine(facts, spine, "date_day",
      $"s", $"e", closedEnd = true)
      .select($"id", $"date_day".as("as_of_date"))
    val viaExplode = IntervalExpand.expandDays(facts, $"s", $"e")
      .select($"id", $"as_of_date")
    assert(viaExplode.exceptAll(viaJoin).count() === 0)
    assert(viaJoin.exceptAll(viaExplode).count() === 0)

    val halfJoin = IntervalExpand.rangeJoinSpine(facts, spine, "date_day",
      $"s", $"e", closedEnd = false)
      .select($"id", $"date_day".as("recognition_date"))
    val halfExplode = IntervalExpand.expandDaysHalfOpen(facts, $"s", $"e")
      .select($"id", $"recognition_date")
    assert(halfExplode.exceptAll(halfJoin).count() === 0)
    assert(halfJoin.exceptAll(halfExplode).count() === 0)
  }

  test("null bounds produce no rows (inner-join semantics)") {
    val withNull = Seq((9L, Some("2024-01-01"), None: Option[String]))
      .toDF("id", "s", "e")
      .select($"id", to_date($"s").as("s"), to_date($"e").as("e"))
    assert(IntervalExpand.expandDays(withNull, $"s", $"e").count() === 0)
  }

  test("mergeIntervals: overlaps and touching intervals chain; gaps split islands") {
    val ivs = Seq(
      ("a", 1L, 5L), ("a", 3L, 7L),   // overlap → [1,7)
      ("a", 7L, 9L),                  // touches → chains to [1,9)
      ("a", 12L, 14L),                // gap → own island
      ("b", 0L, 1L),                  // isolated
      ("b", 5L, 5L),                  // zero-length, swallowed by [4,6)
      ("b", 4L, 6L)
    ).toDF("k", "s", "e")
    val islands = IntervalExpand.mergeIntervals(ivs, "k", $"s", $"e")
      .as[(String, Long, Long)].collect().toSet
    assert(islands === Set(
      ("a", 1L, 9L), ("a", 12L, 14L),
      ("b", 0L, 1L), ("b", 4L, 6L)))
    val cov = IntervalExpand.intervalCoverage(ivs, "k", $"s", $"e")
      .as[(String, Long, Long)].collect().toSet
    assert(cov === Set(("a", 2L, 10L), ("b", 2L, 3L)))
  }

  test("persisted islands store: epochs re-merge to the direct islands; compaction preserves; key guard") {
    import org.apache.spark.sql.functions.col
    val a = Seq(("k1", 1L, 5L), ("k1", 10L, 12L), ("k2", 0L, 3L))
    val b = Seq(("k1", 4L, 11L), ("k2", 2L, 4L), ("k3", 7L, 9L))
    val root = java.nio.file.Files
      .createTempDirectory("graft-isl").toString + "/store"
    IntervalExpand.islands("k").write(IntervalExpand.mergeIntervals(a.toDF("k", "s",
      "e"), "k", col("s"), col("e")), root)
    IntervalExpand.islands("k").append(spark, root,
      IntervalExpand.mergeIntervals(b.toDF("k", "s", "e"), "k", col("s"), col("e")), "day-2")
    def stored(): Set[(String, Long, Long)] =
      IntervalExpand.islands("k").read(spark, root)
        .as[(String, Long, Long)].collect().toSet
    val direct = IntervalExpand.mergeIntervals(
      (a ++ b).toDF("k", "s", "e"), "k", col("s"), col("e"))
      .as[(String, Long, Long)].collect().toSet
    assert(stored() === direct)
    // the [1,5) ∪ [4,11) ∪ [10,12) chain must have fused across epochs
    assert(stored().contains(("k1", 1L, 12L)))
    val stats = Maintenance.compactStore(spark, root)
    assert(stats.folded.toSet === Set("base", "day-2"))
    assert(stored() === direct) // probe-after ≡ probe-before
    val e = intercept[IllegalArgumentException] {
      IntervalExpand.islands("wrong_key").read(spark, root)
    }
    assert(e.getMessage.contains("keyCol"), e.getMessage)
  }

  test("mergeIntervals: coverage equals the exploded-days ground truth") {
    val ivs = (1 to 60).map { i =>
      val k = s"k${i % 4}"
      val s = (i * 37) % 50
      (k, s.toLong, (s + i % 7).toLong)
    }.toDF("k", "s", "e")
    val viaIslands = IntervalExpand.intervalCoverage(ivs, "k", $"s", $"e")
      .as[(String, Long, Long)]
      .collect().map(t => t._1 -> t._3).toMap
    val viaDays = ivs.as[(String, Long, Long)].collect()
      .groupBy(_._1)
      .map { case (k, rows) =>
        k -> rows.flatMap(r => r._2 until r._3).distinct.length.toLong
      }
    assert(viaIslands === viaDays)
  }
}
