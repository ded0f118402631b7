package graft.operators

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._

/** Skew mitigation for keyed joins: salting.
  *
  * A hash-partitioned join sends every row of a hot key to one task;
  * one key holding 10% of 100 TB is a task that never finishes. AQE's
  * skew-join splitting handles sort-merge cases at runtime; salting is
  * the explicit, planner-independent version and the only option when
  * the skewed side feeds an aggregation-free shuffle.
  *
  * `saltedJoin` fans the PROBE side's rows across `saltFactor`
  * sub-keys (deterministic hash of the whole row — no rand(), reruns
  * are stable) and replicates the BUILD side once per sub-key, so the
  * hot key's rows spread over `saltFactor` tasks. Build-side blow-up
  * is |build| × saltFactor: use it when the build side is small-ish
  * but too big (or unwanted) to broadcast.
  */
object Skew {

  /** Inner/left join of `probe` (large, possibly skewed) with `build`
    * (replicated saltFactor times) on `keys`. Result equals
    * `probe.join(build, keys, joinType)` exactly. */
  def saltedJoin(probe: DataFrame, build: DataFrame, keys: Seq[String],
                 saltFactor: Int, joinType: String = "inner"): DataFrame = {
    require(saltFactor > 0, "saltFactor must be positive")
    require(joinType == "inner" || joinType == "left" || joinType == "left_outer",
      s"salting supports inner/left joins, got $joinType")
    val saltCol = "_graft_salt"
    // deterministic per-row salt: hash of every probe column
    val p = probe.withColumn(saltCol,
      pmod(xxhash64(probe.columns.map(col): _*), lit(saltFactor.toLong)).cast("int"))
    val b = build.withColumn(saltCol,
      explode(sequence(lit(0), lit(saltFactor - 1))))
    p.join(b, keys :+ saltCol, joinType).drop(saltCol)
  }
}
