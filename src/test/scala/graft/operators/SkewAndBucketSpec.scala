package graft.operators

import graft.SparkSpecBase
import graft.sources.Sinks
import org.apache.spark.sql.functions._

class SkewAndBucketSpec extends SparkSpecBase {
  import spark.implicits._

  test("saltedJoin equals the plain join on skewed data") {
    // 90% of probe rows share one hot key
    val probe = spark.range(0, 2000)
      .select((when($"id" % 10 =!= 0, 1L).otherwise($"id")).as("k"),
        $"id".as("v"))
    val build = Seq((1L, "hot"), (2L, "cold"), (7L, "x")).toDF("k", "name")
    val plain = probe.join(build, Seq("k"), "inner")
      .collect().map(_.toString).sorted.toSeq
    val salted = Skew.saltedJoin(probe, build, Seq("k"), saltFactor = 8)
      .collect().map(_.toString).sorted.toSeq
    assert(salted === plain)
    // left join: unmatched probe rows survive with nulls
    val plainL = probe.join(build, Seq("k"), "left")
      .collect().map(_.toString).sorted.toSeq
    val saltedL = Skew.saltedJoin(probe, build, Seq("k"), 8, "left")
      .collect().map(_.toString).sorted.toSeq
    assert(saltedL === plainL)
  }

  test("bucketed tables join without any exchange") {
    val facts = spark.range(0, 10000).select($"id".as("k"), ($"id" * 2).as("a"))
    val dims = spark.range(0, 1000).select($"id".as("k"), ($"id" * 3).as("b"))
    Sinks.writeBucketed(facts, "graft_bkt_facts", Seq("k"), 8, Seq("k"))
    Sinks.writeBucketed(dims, "graft_bkt_dims", Seq("k"), 8, Seq("k"))
    try {
      // disable broadcast so the join would otherwise shuffle both sides
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("graft_bkt_facts")
        .join(spark.table("graft_bkt_dims"), Seq("k"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan)
      assert(joined.count() === 1000)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS graft_bkt_facts")
      spark.sql("DROP TABLE IF EXISTS graft_bkt_dims")
    }
  }
}
