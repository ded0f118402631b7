package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count-min-sketch heavy hitters — the mergeable-sketch answer to
  * "which tokens dominate this corpus" when the exact token→count
  * table is itself too large to hold (at 100 TB the distinct-token
  * universe is billions of rows; the sketch is d×w cells, fixed).
  *
  * The sketch is built as a d×w COUNT TABLE via ordinary keyed
  * aggregation: explode items → d (row, bucket) keys per item →
  * groupBy count. That makes it mergeable for free (counts add), and
  * the build is one map-side-combined shuffle of at most d·w output
  * rows per partition — the exact shape a 1000-executor rollup wants.
  * Probing takes min over the d cells per candidate.
  *
  * Hash buckets are md5-derived (`bucket(r, item) = int(md5(r ||
  * '_' || item)[0,8)) mod w`) rather than a faster private hash ON
  * PURPOSE: the whole sketch becomes engine-portable, so the q125
  * oracle rebuilds the identical d×w table in DuckDB and the
  * ESTIMATES hash-match bit-for-bit — the strongest check a
  * probabilistic structure can get. (The classic CMS guarantee —
  * est ≥ true always, est ≤ true + εN with high probability — is
  * distribution-level; matching the exact cell values checks the
  * implementation, not just the bound.) Estimation error only ever
  * inflates counts, so a heavy-hitter screen never MISSES a heavy
  * token — the CMS one-sided-error property the docstring contract
  * below pins with `est_ge_exact`.
  */
object HeavyHitters {

  /** One bucket hash: first 8 md5 hex chars of "r_item" mod w. */
  private def bucket(r: Int, item: Column, width: Int): Column =
    pmod(conv(substring(md5(concat(lit(r.toString), lit("_"), item)
      .cast("binary")), 1, 8), 16, 10).cast("long"), lit(width.toLong))

  /** Build the d×w sketch over an item column (pre-exploded: one row
    * per occurrence). Output: (r, b, c) — exactly d·w rows at most,
    * whatever the corpus size. */
  def countMinSketch(items: DataFrame, itemCol: String,
                     depth: Int, width: Int): DataFrame = {
    require(depth > 0 && width > 0, "depth and width must be > 0")
    val keys = array((0 until depth).map(r =>
      struct(lit(r).as("r"), bucket(r, col(itemCol), width).as("b"))): _*)
    items
      .select(explode(keys).as("k"))
      .groupBy(col("k.r").as("r"), col("k.b").as("b"))
      .agg(count(lit(1)).as("c"))
  }

  /** Merge sketches built with the same (depth, width): counts add. */
  def mergeSketches(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("r", "b").agg(sum("c").as("c"))

  /** Point-estimate candidates against a sketch: min over the d row
    * cells (absent cell ⇒ the item hashed somewhere nothing landed —
    * impossible for items that went INTO the sketch, 0 for others).
    * `candidates` must be distinct on `itemCol`. */
  def probe(candidates: DataFrame, sketch: DataFrame, itemCol: String,
            depth: Int, width: Int): DataFrame = {
    val keyed = candidates.select(
      col("*"),
      posexplode(array((0 until depth).map(r =>
        bucket(r, col(itemCol), width)): _*)).as(Seq("r", "b")))
    keyed
      .join(sketch, Seq("r", "b"), "left")
      .groupBy(candidates.columns.map(col): _*)
      .agg(min(coalesce(col("c"), lit(0L))).as("cms_est"))
  }

  // ------------------- persisted CMS store (the incremental shape)

  /** Epoch fold: counts are ADDITIVE over disjoint item streams —
    * per (r, b), sum the partials (associative, commutative; the
    * [[mergeSketches]] algebra as the store fold). */
  private def cmsFold(partials: DataFrame): DataFrame =
    partials.groupBy(col("r"), col("b")).agg(sum(col("c")).as("c"))

  /** Erasure is a REBUILD (the sketch-store convention, even though
    * CMS cells are additive in principle): [[countMinSketch]] over the
    * retained stream. One convention across all four sketch families
    * beats a per-family subtract-vs-rebuild split an operator must
    * memorize. */
  private[operators] val cmsStore =
    StoreFamily.flat("cms_counts", _ => cmsFold, StoreFamily.Rebuild())
  private[graft] def cmsMeta(depth: Int, width: Int,
                             itemName: String): IndexMeta =
    IndexMeta(cmsStore.name, "depth" -> depth, "width" -> width,
      "itemName" -> itemName)

  /** Bootstrap a stored frequency sketch: d·w count cells in the
    * epoch layout, geometry + item derivation in the manifest
    * (probing a (4,1024) store as (4,2048) re-buckets every hash —
    * the silent-divergence class the manifest refuses). The stream is
    * counted ONCE; each batch appends its own cell partial; point
    * estimates need only the ≤ d·w merged cells — never the stream. */
  def cmsIndexWrite(sketch: DataFrame, path: String, depth: Int,
                    width: Int, itemName: String): Unit = {
    EpochIndex.bootstrap(sketch, path)
    IndexMeta.write(sketch.sparkSession, path,
      cmsMeta(depth, width, itemName))
  }

  /** Append one batch's cell partial as a new epoch (idempotent per
    * epoch name; manifest-checked). */
  def cmsIndexAppend(spark: org.apache.spark.sql.SparkSession,
                     path: String, partial: DataFrame, epoch: String,
                     depth: Int, width: Int, itemName: String): Unit = {
    IndexMeta.check(spark, path, cmsMeta(depth, width, itemName))
    EpochIndex.append(partial, path, epoch)
  }

  /** Checked read: the summed cells across base and live epochs —
    * ≡ [[countMinSketch]] over the concatenated streams. */
  def cmsIndexRead(spark: org.apache.spark.sql.SparkSession,
                   path: String, depth: Int, width: Int, itemName: String,
                   excludeEpoch: Option[String] = None): DataFrame = {
    IndexMeta.check(spark, path, cmsMeta(depth, width, itemName))
    cmsFold(EpochIndex.read(spark, path, excludeEpoch,
      bootstrapName = "cmsIndexWrite"))
  }

  /** End-to-end heavy-hitter report: exact top-k tokens (count desc,
    * token asc — deterministic under ties) alongside their count-min
    * estimates from a (depth × width) sketch of the same stream, plus
    * the one-sided-error check `est_ge_exact` (CMS never
    * under-counts). The exact side is the ground truth a small-k
    * report can always afford (k rows survive the TakeOrdered); the
    * sketch side is what survives when the full count table cannot. */
  def topKWithEstimates(items: DataFrame, itemCol: String, k: Int,
                        depth: Int, width: Int): DataFrame = {
    val sketch = countMinSketch(items, itemCol, depth, width)
    val exact = items.groupBy(col(itemCol))
      .agg(count(lit(1)).as("exact_c"))
      .orderBy(col("exact_c").desc, col(itemCol).asc)
      .limit(k)
    probe(exact, sketch, itemCol, depth, width)
      .select(col(itemCol), col("exact_c"), col("cms_est"),
        (col("cms_est") >= col("exact_c")).as("est_ge_exact"))
  }
}
