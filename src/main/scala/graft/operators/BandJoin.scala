package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Numeric band join: pairs (l, r) with |l.v − r.v| ≤ delta — the
  * numeric sibling of the date-range join (price matching, sensor
  * alignment, embedding-norm prefilters).
  *
  * A literal `abs(a − b) <= d` condition has no equi-key, so Spark
  * plans BroadcastNestedLoopJoin — O(|L|·|R|) compares. Here both
  * sides bucketize to floor(v/delta); a true pair's buckets differ by
  * at most 1, so replicating the LEFT side into its bucket and both
  * neighbors (explode of a 3-element array — bounded, not data-
  * dependent) turns the band condition into an equi join on the
  * bucket, followed by the exact filter. Cost: one hash shuffle per
  * side on the bucket key + 3× left replication — output-proportional
  * like every banding scheme in this engine, and the same pattern as
  * Dedup.lshPairs (candidates by construction ⊇ matches, exact predicate
  * owns the final cut).
  *
  * Skew note: a value concentration at one bucket behaves like any
  * hot join key — `Skew.saltedJoin` composes if needed; AQE splits
  * residual skew at runtime.
  */
object BandJoin {

  /** @param left/right   inputs; column names must be disjoint except none required
    * @param leftCol      numeric column on left
    * @param rightCol     numeric column on right
    * @param delta        inclusive band half-width (> 0)
    * @return left ++ right columns for every pair within the band
    */
  def bandJoin(left: DataFrame, right: DataFrame,
               leftCol: String, rightCol: String, delta: Double): DataFrame = {
    require(delta > 0, "band join requires delta > 0")
    val lb = floor(col(leftCol) / delta).cast("long")
    val l = left.withColumn("_band",
      explode(array(lb - 1, lb, lb + 1)))
    val r = right.withColumn("_band", floor(col(rightCol) / delta).cast("long"))
    l.join(r, "_band")
      .filter(abs(col(leftCol) - col(rightCol)) <= delta)
      .drop("_band")
  }
}
