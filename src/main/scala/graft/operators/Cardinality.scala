package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TopK

/** KMV (k-minimum-values / bottom-k) distinct-count sketch — the
  * mergeable cardinality estimator (Bar-Yossef et al. 2002) for
  * "how many distinct users/tokens/docs per group" when the exact
  * distinct set is too large to hold: the sketch is the k smallest
  * distinct hash values per group, and D ≈ (k−1) / h₍k₎ where h₍k₎
  * is the k-th smallest hash as a fraction of the hash space. Under
  * k distinct values the sketch IS the distinct set — the estimate
  * is exact by construction.
  *
  * Like the count-min sketch (q125), the hash is md5-derived ON
  * PURPOSE — engine-portable, so the q131 oracle rebuilds the
  * identical bottom-k set in DuckDB and the ESTIMATES match
  * bit-for-bit, checking the implementation rather than only the
  * distribution-level error bound.
  *
  * Scale shape: one partial-agg distinct on (group, hash) — 8-byte
  * hashes, never the values — then the bounded-heap [[TopK]] merge:
  * every scan partition reduces each group to ≤ k candidates
  * map-side, so a billion-distinct group shuffles k × partitions
  * tiny rows, and the result is k longs per group however large the
  * group. `approx_count_distinct` (HLL) is the built-in alternative;
  * KMV's bottom-k set is what it adds — mergeable ACROSS ENGINES and
  * auditable (the sketch contents are plain hashes any system can
  * recompute).
  */
object Cardinality {

  /** 2^52 — the hash-space size of the 52-bit md5-prefix key
    * ([[Curation.hashOrderKey]]); 52-bit values are exact in a
    * Double, so the fraction h/2^52 is reproducible anywhere. */
  val HashSpace: Double = 4503599627370496.0

  /** Per-group bottom-k sketch: `sketch` = ascending array of the k
    * smallest distinct 52-bit hashes of `value`. Merge two sketches
    * by concatenating, deduping and re-taking the k smallest —
    * associativity the spec pins. */
  def kmvSketch(df: DataFrame, group: Column, value: Column,
                k: Int): DataFrame = {
    require(k >= 2, s"KMV needs k >= 2, got $k")
    // NULL values never reach the heap: the exact side (count_distinct)
    // ignores NULLs, and a NULL h52 would crash the typed aggregator's
    // non-nullable (Double, Long) encoder at runtime
    val h = df.select(group.as("group"),
      Curation.hashOrderKey(value).as("h52"))
      .filter(col("h52").isNotNull).distinct()
    h.groupBy(col("group"))
      .agg(TopK.top_k(k)(-col("h52").cast("double"), col("h52")).as("mins"))
      .select(col("group"),
        transform(col("mins"), m => m.getField("_2")).as("sketch"))
  }

  /** Distinct-count estimate from a bottom-k sketch array: exact
    * size when the group held fewer than k distinct hashes, else
    * (k−1) / (h₍k₎ / 2^52). The arithmetic shape (divide by the
    * fraction, not multiply by the reciprocal) is part of the
    * cross-engine contract — replay it exactly. */
  def kmvEstimate(sketch: Column, k: Int): Column =
    when(size(sketch) < k, size(sketch).cast("double"))
      .otherwise(lit((k - 1).toDouble) /
        (element_at(sketch, k).cast("double") / lit(HashSpace)))

  /** Union of two bottom-k sketches: the k smallest of the merged
    * hash sets — itself a valid KMV sketch of A ∪ B (the closure
    * property that makes bottom-k a sketch ALGEBRA, not just a
    * counter: sketches of shards compose without touching data). */
  def kmvUnionSketch(a: Column, b: Column, k: Int): Column =
    slice(array_sort(array_union(a, b)), 1, k)

  /** Jaccard estimate from two bottom-k sketches (Beyer et al. 2007):
    * the union sketch K is a uniform sample of A ∪ B, so the fraction
    * of K present in BOTH input sketches estimates |A∩B| / |A∪B|.
    * Denominator is |K| (= min(k, |A∪B|)): under k distinct hashes
    * the sketches ARE the sets and the estimate is exact. */
  def kmvJaccard(a: Column, b: Column, k: Int): Column =
    jaccardOfUnion(kmvUnionSketch(a, b, k), a, b)

  private def jaccardOfUnion(u: Column, a: Column, b: Column): Column =
    when(size(u) === 0, lit(0.0))
      .otherwise(
        size(array_intersect(array_intersect(u, a), b)).cast("double") /
          size(u).cast("double"))

  /** Intersection-size estimate: Ĵ · D̂(A ∪ B) — how two 100 TB
    * streams' distinct-key overlap (join cardinality, audience
    * overlap) is estimated from two k-long arrays without scanning
    * either stream again. The union sketch is built once and shared
    * by both factors. */
  def kmvIntersection(a: Column, b: Column, k: Int): Column = {
    val u = kmvUnionSketch(a, b, k)
    jaccardOfUnion(u, a, b) * kmvEstimate(u, k)
  }

  // ----------------------------------------------------- HyperLogLog

  /** Engine-portable HyperLogLog (Flajolet et al. 2007) — the
    * FIXED-SIZE companion to the bottom-k sketch: 2^p integer
    * registers per group however many distincts, mergeable by
    * element-wise max. Spark's own `approx_count_distinct` IS an HLL,
    * but its binary state is engine-internal; this one's registers
    * derive from the same md5 52-bit key as every other sketch here,
    * and the estimate arithmetic is arranged so another engine
    * replays it BIT-FOR-BIT (the q158 oracle does):
    *
    *  - register index = top p bits of the key, rho = leading-zero
    *    run of the remaining 52−p bits + 1 — all integer ops
    *    (`bin()` length, never floating log2, whose boundary rounding
    *    differs per libm);
    *  - the harmonic sum Σ 2^−rho is kept EXACT by scaling to
    *    2^52: Σ 2^(52−rho) sums longs (≤ m·2^52 < 2^63), so the one
    *    double division at the end sees identical operands anywhere —
    *    a double Σ 2^−rho would round in aggregation order;
    *  - the small-range linear-counting branch (E ≤ 2.5m, zero
    *    registers present) uses the same integer zero-count.
    *
    * Scale shape: one (group, idx)-keyed max aggregation (map-side
    * partial) then one group-keyed densify — 8-byte rows in, m ints
    * per group out. KMV remains the choice when the sketch must stay
    * auditable as a SAMPLE (its hashes are data); HLL when groups are
    * many and the fixed 2^p footprint matters.
    */
  def hllSketch(df: DataFrame, group: Column, value: Column,
                p: Int = 9): DataFrame = {
    // p caps at 11: the exact scaled harmonic sum is ≤ m·2^52 =
    // 2^(p+52), which must stay inside a signed Long — p = 12 would
    // overflow SILENTLY and corrupt every estimate (the failure class
    // this integer construction exists to prevent)
    require(p >= 4 && p <= 11, s"HLL precision p must be in [4,11]: $p")
    val m = 1 << p
    val remBits = 52 - p
    val twoRem = 1L << remBits
    val h = df.select(group.as("group"),
      Curation.hashOrderKey(value).as("h52"))
      .filter(col("h52").isNotNull)
    val rr = h.select(col("group"),
      expr(s"h52 div ${twoRem}L").cast("int").as("idx"),
      (col("h52") % lit(twoRem)).as("rem"))
    val rho = when(col("rem") === 0, lit(remBits + 1))
      .otherwise(lit(remBits + 1) - length(bin(col("rem"))))
    val regRows = rr.select(col("group"), col("idx"), rho.cast("int").as("rho"))
      .groupBy(col("group"), col("idx")).agg(max(col("rho")).as("r"))
    regRows.groupBy(col("group"))
      .agg(map_from_arrays(collect_list(col("idx")),
        collect_list(col("r"))).as("_m"))
      .select(col("group"),
        transform(sequence(lit(0), lit(m - 1)),
          i => coalesce(element_at(col("_m"), i), lit(0))).as("regs"))
  }

  /** Merge two register arrays: element-wise max — the HLL union. */
  def hllUnion(a: Column, b: Column): Column =
    zip_with(a, b, (x, y) => greatest(x, y))

  /** α_m bias-correction constant (Flajolet et al. 2007, fig. 3):
    * the asymptotic 0.7213/(1 + 1.079/m) holds for m ≥ 128, but the
    * paper prescribes exact constants for the small register counts —
    * applying the asymptotic form at m = 16/32/64 (p = 4/5/6) bakes a
    * few-percent systematic bias into every estimate, which no oracle
    * can catch when it replays the same wrong constant. */
  private[graft] def hllAlpha(m: Int): Double = m match {
    case 16 => 0.673
    case 32 => 0.697
    case 64 => 0.709
    case _ => 0.7213 / (1.0 + 1.079 / m)
  }

  /** Cardinality estimate from a register array. The constant
    * α_m·m²·2^52 folds to ONE double literal at plan time from the
    * textbook expression — an oracle writing the same expression gets
    * the same double. */
  def hllEstimate(regs: Column, p: Int): Column = {
    require(p >= 4 && p <= 11,
      s"HLL precision p must be in [4,11] (p >= 12 overflows the " +
        s"exact scaled sum): $p")
    val m = 1 << p
    val remBits = 52 - p
    // element_at(pows, rho+1) = 2^(52-rho), exact longs; rho ∈ [0, remBits+1]
    val pows = array((0 to remBits + 1).map(r => lit(1L << (52 - r))): _*)
    val sumScaled = aggregate(regs, lit(0L),
      (acc, r) => acc + element_at(pows, r + lit(1)))
    val c = hllAlpha(m) * m * m * HashSpace
    val rawEst = lit(c) / sumScaled.cast("double")
    val zeros = size(filter(regs, r => r === 0))
    when(rawEst <= lit(2.5 * m) && zeros > 0,
      lit(m.toDouble) * log(lit(m.toDouble) / zeros.cast("double")))
      .otherwise(rawEst)
  }

  // ------------------- persisted HLL store (the incremental shape)

  /** Epoch fold: per group, element-wise max across the partials'
    * register arrays — the N-ary [[hllUnion]] (associative,
    * commutative, idempotent: a replayed identical partial merges to
    * itself, so overlapping epochs never inflate the estimate). */
  private def hllFold(m: Int)(partials: DataFrame): DataFrame =
    partials.groupBy(col("group"))
      .agg(expr(
        s"aggregate(collect_list(regs), array_repeat(0, $m), " +
          "(acc, x) -> zip_with(acc, x, (a, b) -> greatest(a, b)))")
        .as("regs"))

  /** Erasure is a REBUILD, never a filter (the cert-stats precedent):
    * registers are max-folds, so a document's contribution cannot be
    * subtracted out of them; the only exact erased state is
    * [[hllSketch]] recomputed over the retained corpus. */
  private[operators] val hllStore = StoreFamily.flat("hll_registers",
    param => hllFold(1 << param("p").toInt), StoreFamily.Rebuild())

  /** A stored cardinality profile (`hll_registers`): one (group, regs)
    * row per group, `p` and the counted-key derivation in the manifest
    * (estimating a p=9 store as p=12 is the silent-divergence class
    * the manifest refuses). The corpus is counted ONCE; each batch
    * appends its own registers; a read max-merges one register array
    * per group — ≡ [[hllSketch]] over the union of the counted row
    * sets, so distinct counts over the whole history need no rescan. */
  def hll(p: Int, keyName: String): StoreFamily.Bound =
    hllStore.bind("p" -> p, "keyName" -> keyName)

  // ------------------- persisted KMV store (bottom-k family symmetry)

  /** Epoch fold: per group, the k smallest distinct hashes across the
    * partials' sketches — the N-ary [[kmvUnionSketch]] (associative,
    * commutative, and IDEMPOTENT: `array_union` dedupes, so a
    * replayed identical partial merges to itself and the store
    * self-heals under at-least-once delivery — the HLL posture, not
    * the additive-CMS one). Bottom-k closure makes the folded row a
    * valid sketch of every row ever counted. */
  private def kmvFold(k: Int)(partials: DataFrame): DataFrame =
    partials.groupBy(col("group"))
      .agg(expr(
        s"slice(array_sort(aggregate(collect_list(sketch), " +
          s"cast(array() as array<bigint>), " +
          s"(acc, x) -> array_union(acc, x))), 1, $k)").as("sketch"))

  /** Erasure is a REBUILD ([[hllStore]]'s rationale): a bottom-k
    * sketch cannot re-admit the (k+1)-th smallest hash a victim
    * displaced — recompute [[kmvSketch]] over the retained corpus. */
  private[operators] val kmvStore = StoreFamily.flat("kmv_bottom_k",
    param => kmvFold(param("k").toInt), StoreFamily.Rebuild())

  /** A stored bottom-k profile (`kmv_bottom_k`): one (group, sketch)
    * row per group, `k` and the counted-key derivation in the manifest
    * (a k=128 store probed as k=512 would silently under-estimate —
    * the manifest refuses instead). The corpus is hashed ONCE; each
    * batch appends its own sketch partial; a read is one bottom-k
    * sketch per group — ≡ [[kmvSketch]] over the union of the counted
    * row sets — answering distinct counts, Jaccard and intersection
    * sizes over the whole history from k longs per group. Its
    * `readAsOf` is "the distinct-count profile release N shipped
    * with", bit-replayable however much the live store has grown. */
  def kmv(k: Int, keyName: String): StoreFamily.Bound =
    kmvStore.bind("k" -> k, "keyName" -> keyName)

  /** Report: per-group exact distinct count (the ground truth a
    * grouped report can afford) next to the KMV estimate — the q131
    * shape, mirroring q125's exact-vs-sketch contract. At 100 TB the
    * exact side is the half you drop: count_distinct shuffles the
    * full distinct key set per group, while the sketch side shuffles
    * k longs — the whole point of the algebra. Keep the exact
    * companion for audits at report scale, never at corpus scale. */
  def distinctWithEstimates(df: DataFrame, group: Column, value: Column,
                            k: Int): DataFrame = {
    val exact = df.groupBy(group.as("group"))
      .agg(count_distinct(value).as("n_exact"))
    val est = kmvSketch(df, group, value, k)
      .select(col("group"),
        round(kmvEstimate(col("sketch"), k), 4).as("kmv_est"))
    exact.join(est, Seq("group"))
  }
}
