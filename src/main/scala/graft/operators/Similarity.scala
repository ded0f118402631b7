package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{Sketches, TopK}

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Two paths:
  *  - `bruteForceTopK`: exact — broadcast the (small) query set
  *    against the (huge) corpus, score every pair with a codegen'd
  *    dot-product HOF, keep top-k per query with a window. The
  *    corpus-side scan is embarrassingly parallel and shuffle-free up
  *    to the final per-query top-k, whose input is already cut to k
  *    rows per (query, partition) by `rank-local` pre-filtering —
  *    at 1000 executors the shuffle carries ≤ queries × k × partitions
  *    tiny rows, not the corpus.
  *  - `ivfTopK`: approximate scale path — coarse-quantize the corpus
  *    to its nearest centroid once (any deterministic centroid set),
  *    then probe only `nProbe` nearest cells per query: a partition-
  *    pruned fraction of the corpus instead of all of it. This is the
  *    standard IVF-flat layout; with the corpus written partitioned by
  *    `cell`, probing is literal partition pruning on the parquet
  *    scan.
  */
object Similarity {

  /** Dot product of two float-array columns (accumulated in double,
    * left-to-right — deterministic). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def l2Norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, x) => acc + x))

  /** Cosine similarity; 0.0 when either vector has zero norm.
    * Codegen'd CosineSimilarityF expression — a tight compiled loop
    * over the float arrays, accumulated in double. */
  def cosine(a: Column, b: Column): Column = Sketches.cosine_f(a, b)

  /** HOF reference implementation of cosine (kept as the correctness
    * oracle for CosineSimilarityF in SimilaritySpec). */
  def cosineHof(a: Column, b: Column): Column = {
    val denom = l2Norm(a) * l2Norm(b)
    when(denom === 0.0, lit(0.0)).otherwise(dot(a, b) / denom)
  }

  /** Symmetric int8 scalar quantization scale for a float vector:
    * max|x| / 127, so round(x / scale) lands in [-127, 127]. NULL for
    * an all-zero or empty vector (nothing to quantize). Exact-integer
    * determinism: max and abs are exact on floats, the division is
    * one double op — every engine computes the identical scale. */
  def int8Scale(vec: Column): Column = {
    val m = array_max(transform(vec, x => abs(x.cast("double"))))
    when(m.isNull || m === 0.0, lit(null).cast("double"))
      .otherwise(m / 127.0)
  }

  /** Int8-quantized codes for a float vector under [[int8Scale]]:
    * round(x / scale) per element (ties away from zero, matching
    * standard SQL ROUND). Empty/zero vectors quantize to all-zero
    * codes.
    *
    * The scale is bound through a one-element outer `transform` so it
    * evaluates ONCE per row: referencing the scale expression directly
    * inside the inner lambda would re-evaluate the array_max per
    * element — the HOF re-evaluation trap (see dot/l2Norm, which avoid
    * it by construction). */
  def quantizeInt8(vec: Column): Column =
    element_at(
      transform(array(int8Scale(vec)), s =>
        when(s.isNull, transform(vec, _ => lit(0).cast("int")))
          .otherwise(transform(vec, x => round(x.cast("double") / s).cast("int")))),
      1)

  /** Exact top-k cosine neighbors for each query vector.
    *
    * @param corpus  (idCol, vecCol) — the big side, scanned once
    * @param queries (idCol, vecCol) — the small side, broadcast
    * @param k       neighbors per query (self-matches excluded)
    * @return (query_id, neighbor_id, cos) — cosine rounded to
    *         `roundTo` decimals before ranking so ranking is stable
    *         across summation orders; ties broken by neighbor id.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int,
                     roundTo: Int = 6): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qvec"), col("cvec")), roundTo).as("cos"))
    topKPerKey(scored, "query_id", k)
  }

  /** Hard-negative mining for metric/contrastive training: per query
    * vector, the k MOST similar corpus vectors carrying a DIFFERENT
    * label — the near-miss negatives that make embedding training
    * data hard. The label predicate lives in the JOIN (before
    * scoring/ranking), not as a post-filter on a top-k — filtering
    * after rank silently under-fills exactly when negatives crowd the
    * neighborhood, the case hard-negative mining exists for. Same
    * bounded-heap shape as [[bruteForceTopK]]. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, labelCol: String, k: Int,
                    roundTo: Int = 6): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cvec"), col(labelCol).as("_nl"))
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qvec"), col(labelCol).as("_ql"))
    val scored = c.join(broadcast(q),
      col("query_id") =!= col("neighbor_id") && col("_nl") =!= col("_ql"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qvec"), col("cvec")), roundTo).as("cos"))
    topKPerKey(scored, "query_id", k)
  }

  /** Final ranking via the bounded-heap TopKAggregator, NOT a window:
    * row_number over a per-query partition sorts the entire corpus in
    * one task at scale, while the aggregator reduces each scan
    * partition to ≤ k candidates map-side — the shuffle carries
    * k × partitions rows per query. */
  private def topKPerKey(scored: DataFrame, keyCol: String, k: Int): DataFrame =
    scored.groupBy(col(keyCol))
      .agg(TopK.top_k(k)(col("cos"), col("neighbor_id")).as("top"))
      .select(col(keyCol), explode(col("top")).as("t"))
      .select(col(keyCol), col("t._2").as("neighbor_id"), col("t._1").as("cos"))

  /** Assign each corpus vector to its nearest centroid (IVF coarse
    * quantization). Centroids broadcast; the per-vector argmax is a
    * map-side max_by aggregation (partial agg keeps one candidate per
    * vector per partition) — no window sort of the corpus × centroids
    * product. Ties break to the smaller cell id. */
  def assignCells(corpus: DataFrame, centroids: DataFrame,
                  idCol: String, vecCol: String): DataFrame = {
    val cents = broadcast(centroids.select(
      col(idCol).as("cell"), col(vecCol).as("cent_vec")))
    corpus.join(cents)
      .select(col(idCol), col(vecCol),
        col("cell"), cosine(col(vecCol), col("cent_vec")).as("sim"))
      .groupBy(col(idCol))
      .agg(
        first(col(vecCol)).as(vecCol),
        max_by(col("cell"), struct(col("sim"), -col("cell"))).as("cell"))
      .select(col(idCol), col(vecCol), col("cell"))
  }

  /** IVF top-k: probe the `nProbe` most-similar cells per query, then
    * exact-score only corpus vectors in those cells.
    *
    * For repeated queries against a static corpus, build the cell
    * assignment ONCE with [[ivfIndexWrite]] and probe the stored
    * index with [[ivfProbe]] — this entry point recomputes nothing
    * itself, but a caller who re-runs [[assignCells]] per query is
    * paying the full-corpus assignment cost every time. */
  def ivfTopK(corpusWithCells: DataFrame, centroids: DataFrame,
              queries: DataFrame, idCol: String, vecCol: String,
              k: Int, nProbe: Int = 4, roundTo: Int = 6): DataFrame = {
    val probes = probeCells(queries,
      centroids.select(col(idCol).as("cell"), col(vecCol).as("cent_vec")),
      idCol, vecCol, nProbe)
    // scan only probed cells (partition-prunable when stored by cell)
    val c = corpusWithCells.select(
      col(idCol).as("neighbor_id"), col(vecCol).as("cvec"), col("cell"))
    val scored = c.join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qvec"), col("cvec")), roundTo).as("cos"))
    topKPerKey(scored, "query_id", k)
  }

  /** ANN recall@k: per query, how much of the EXACT top-k an
    * approximate neighbor list recovered — the acceptance gate for
    * every IVF/PQ/LSH parameter choice (nProbe, cells, bands): an
    * index whose recall is unmeasured is a recall regression waiting
    * to ship. Pairs with [[Relevance.rankingMetrics]] (which grades
    * relevance; this grades faithfulness to brute force).
    *
    * Both inputs are (query_id, neighbor_id, …) top-k lists from the
    * rankers' own contracts ([[bruteForceTopK]] / [[ivfTopK]] /
    * [[ivfProbeStored]] — deterministic tie-breaks make the sets
    * well-defined). Cost: one semi join + two aggregations over
    * queries × k rows — evaluation never touches vectors.
    *
    * @return (query_id, n_exact, n_hit, recall) with
    *         recall = n_hit / n_exact rounded to 4dp */
  def annRecall(approx: DataFrame, exact: DataFrame): DataFrame = {
    val a = approx.select(col("query_id"), col("neighbor_id"))
    val e = exact.select(col("query_id"), col("neighbor_id"))
    val hits = a.join(e, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
    e.groupBy(col("query_id")).agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("n_exact"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)).cast("double") /
          col("n_exact"), 4).as("recall"))
  }

  /** Top-nProbe (query_id, qvec, cell) probe assignments against a
    * (cell, cent_vec) centroid table — the ONE probe-selection
    * definition, shared by [[ivfTopK]] and [[ivfProbeStored]] so the
    * in-memory and stored paths cannot diverge (their equivalence is
    * spec-pinned). Tiny input: |queries| × |centroids|. */
  private def probeCells(queries: DataFrame, cents: DataFrame,
                         idCol: String, vecCol: String,
                         nProbe: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("cell_sim").desc, col("cell").asc)
    q.join(broadcast(cents))
      .select(col("query_id"), col("qvec"), col("cell"),
        cosine(col("qvec"), col("cent_vec")).as("cell_sim"))
      .withColumn("_rk", row_number().over(wq))
      .filter(col("_rk") <= nProbe)
      .select(col("query_id"), col("qvec"), col("cell"))
  }

  // ------------------------------------------------------- persisted IVF index

  /** A persisted IVF index: the two tables a 100 TB pipeline writes at
    * corpus-build time and only READS per query batch — the ANN twin
    * of `Dedup.bandIndex` (the persisted band table the
    * incremental near-dup probes use). `centroids` is tiny
    * (cell, [[vecColName]]); `assignments` is one fixed-width row per
    * corpus vector (id, vec, cell), stored partitioned by
    * `(cell, _epoch)` so a probe's cell filter becomes literal parquet
    * partition pruning and incremental writers get an idempotent
    * overwrite unit.
    * Centroid choice is the caller's (any DETERMINISTIC set — e.g.
    * [[pickCentroids]]); determinism is what lets a later job's
    * probes and appends line up with the persisted assignments. */
  case class IvfIndex(centroids: DataFrame, assignments: DataFrame)

  /** Deterministic centroid seed-pick: the `nCells` corpus vectors with
    * the smallest md5(id) — a hash-shuffled sample (the same
    * no-`rand()` determinism contract as `Splits`), ranked via
    * TakeOrderedAndProject (bounded heap, no global sort). Re-labelled
    * `cell` ids 0..nCells-1 in hash order so cell ids are dense. */
  def pickCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                    nCells: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nCells > 0, s"nCells must be positive, got $nCells")
    val picked = corpus
      .select(col(idCol), col(vecCol), md5(col(idCol).cast("string")).as("_h"))
      .orderBy(col("_h"), col(idCol))
      .limit(nCells)
    // nCells rows total — the window sort is over the already-limited
    // driver-sized set, not the corpus
    picked
      .withColumn("cell", row_number().over(
        Window.orderBy(col("_h"), col(idCol))).cast("long") - 1L)
      .select(col("cell"), col(vecCol))
  }

  // ------------------------------------------------- k-means refinement

  /** One spherical-k-means (Lloyd) refinement step over the cosine
    * assignment: assign every corpus vector to its nearest centroid
    * ([[assignCells]] — broadcast argmax, ties to the smaller cell),
    * then move each centroid to the per-dimension MEAN of its members
    * (the spherical-k-means centroid direction; cosine is scale-
    * invariant, so the mean is not renormalized). Seed centroids from
    * [[pickCentroids]] and iterate with [[kmeansRefine]] — this is how
    * the IVF coarse quantizer ([[ivfIndex]]) gets TRAINED centroids
    * instead of raw seed vectors, which directly tightens cells and
    * lifts [[annRecall]] at the same nProbe.
    *
    * Determinism: member means are rounded to `roundTo` dp and cast
    * back to float, so the refined centroids — and every later
    * assignment made against them — are engine-portable (the q210
    * oracle replays the step bit-for-bit). Cells that captured no
    * members keep their previous centroid with n_members = 0; losing
    * them would silently shrink k.
    *
    * Scale shape: assignment is the [[assignCells]] broadcast argmax
    * (no corpus shuffle beyond the per-id partial agg); the mean is a
    * posexplode + groupBy(cell, dim) aggregate — map-side combined, so
    * the shuffle carries ≤ partitions × k × dims partial rows, never
    * the corpus. Output is k tiny rows.
    *
    * @param centroids (cell, vecCol) — [[pickCentroids]]' contract
    * @return (cell, n_members, vecCol) */
  def lloydStep(corpus: DataFrame, centroids: DataFrame,
                idCol: String, vecCol: String,
                roundTo: Int = 4): DataFrame = {
    val assigned = assignCells(corpus,
      centroids.select(col("cell").as(idCol), col(vecCol)), idCol, vecCol)
    val sums = assigned
      .select(col("cell"), posexplode(col(vecCol)).as(Seq("_i", "_x")))
      .groupBy(col("cell"), col("_i"))
      .agg(sum(col("_x").cast("double")).as("_s"), count(lit(1)).as("_n"))
    val refined = sums
      .select(col("cell"), col("_n"),
        struct(col("_i"),
          round(col("_s") / col("_n"), roundTo).cast("float").as("_m"))
          .as("_p"))
      .groupBy(col("cell"))
      .agg(max(col("_n")).as("n_members"),
        transform(array_sort(collect_list(col("_p"))),
          p => p.getField("_m")).as(vecCol))
    centroids.select(col("cell"), col(vecCol).as("_old"))
      .join(refined, Seq("cell"), "left")
      .select(col("cell"),
        coalesce(col("n_members"), lit(0L)).as("n_members"),
        coalesce(col(vecCol), col("_old")).as(vecCol))
  }

  /** `steps` Lloyd iterations from a deterministic init — k-means
    * training for the IVF quantizer. Each step's k-row centroid table
    * is eagerly checkpointed (and the superseded one freed, the
    * [[Centrality.pageRankFixedPoint]] discipline) so step N's plan
    * reads a k-row leaf instead of stacking N corpus scans; only the
    * RETURNED frame's checkpoint outlives the call (harness sweeps
    * free it between queries).
    *
    * @return (cell, n_members, vecCol) after the final step */
  def kmeansRefine(corpus: DataFrame, init: DataFrame, idCol: String,
                   vecCol: String, steps: Int,
                   roundTo: Int = 4): DataFrame = {
    require(steps >= 1, s"steps must be >= 1: $steps")
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    var pinned = bridge.freshLeaf(
      lloydStep(corpus, init, idCol, vecCol, roundTo).localCheckpoint(true))
    var i = 1
    while (i < steps) {
      val superseded = pinned
      pinned = bridge.freshLeaf(
        lloydStep(corpus, pinned.select(col("cell"), col(vecCol)),
          idCol, vecCol, roundTo).localCheckpoint(true))
      bridge.unpersistCheckpoint(superseded)
      i += 1
    }
    pinned
  }

  /** k-means|| initialization (Bahmani et al., VLDB 2012 — public
    * literature), deterministic: the sharded, few-round replacement
    * for both sequential k-means++ (k driver round-trips) and the
    * md5-seed pick ([[pickCentroids]] — O(1) passes but cost-blind).
    * Three phases, all corpus-parallel:
    *
    *  1. Start from the single [[pickCentroids]]-rule vector (min
    *     (md5(id), id)).
    *  2. `rounds` oversampling rounds: every point computes its
    *     spherical cost to the CURRENT candidate set
    *     (cost = max(0, 1 − max cosine), rounded to 6dp), and joins
    *     the candidates independently with probability
    *     min(1, l·cost/φ) where l = oversample·k and φ = Σcost —
    *     decided by comparing a deterministic md5 uniform
    *     u = md5("kmpar:round:id")[0,8) / 2³² against the rounded
    *     ratio, the engine-wide no-`rand()` rule (every run, retry,
    *     and the DuckDB oracle draw the same sample).
    *  3. Weigh each candidate by how many corpus points it is
    *     nearest to (ties to the smaller candidate id), then keep
    *     the k heaviest (weight desc, id) as cells 0..k−1 — a
    *     deterministic, SQL-replayable stand-in for the paper's
    *     weighted recluster; [[kmeansRefine]] does the actual Lloyd
    *     polishing either way.
    *
    * What it buys: candidates are COST-BIASED, so far-from-center
    * mass gets representation the hash-uniform seed pick misses —
    * [[kmeansObjective]] is strictly lower on the synthetic corpus
    * at both test SFs, before and after refinement (the paper's
    * O(log k)-competitive guarantee is about exactly this
    * objective, not any single query's recall).
    *
    * Scale shape: per round, one broadcast of the (bounded,
    * ≈ l·rounds-row) candidate set against the streaming corpus, one
    * map-side-combined per-id aggregate, one scalar-broadcast φ; the
    * corpus never shuffles by candidate. Each round's candidate
    * table is checkpoint-pinned and the superseded one freed (the
    * [[kmeansRefine]] discipline).
    *
    * @return (cell 0..k−1, seed_id, weight, vecCol) — fewer than k
    *         rows only if the corpus yields fewer candidates than k
    *         (degenerate: corpus smaller than k or φ = 0) */
  def kmeansParallelInit(corpus: DataFrame, idCol: String, vecCol: String,
                         k: Int, rounds: Int = 3, oversample: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"k must be >= 1: $k")
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    require(oversample >= 1, s"oversample must be >= 1: $oversample")
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    val l = oversample.toDouble * k
    val base = corpus.select(col(idCol).cast("long").as("_cid"),
      col(vecCol).as("_cv"))
    var cands = bridge.freshLeaf(base
      .withColumn("_h", md5(col("_cid").cast("string").cast("binary")))
      .orderBy(col("_h"), col("_cid")).limit(1)
      .select(col("_cid"), col("_cv")).localCheckpoint(true))
    var r = 1
    while (r <= rounds) {
      val costs = corpus
        .select(col(idCol).cast("long").as("_id"), col(vecCol))
        .join(broadcast(cands))
        .select(col("_id"), cosine(col(vecCol), col("_cv")).as("_sim"))
        .groupBy(col("_id"))
        .agg(round(greatest(lit(0.0), lit(1.0) - max(col("_sim"))), 6)
          .as("_cost"))
      val phi = costs.agg(sum(col("_cost")).as("_phi"))
      val u = round(
        conv(substring(md5(concat(lit(s"kmpar:$r:"),
          col("_id").cast("string")).cast("binary")), 1, 8), 16, 10)
          .cast("double") / lit(4294967296.0), 6)
      val sel = costs.crossJoin(broadcast(phi))
        .filter(col("_phi") > 0.0 &&
          u < round(lit(l) * col("_cost") / col("_phi"), 6))
        .select(col("_id").as("_cid"))
      val next = bridge.freshLeaf(cands
        .unionByName(base.join(sel, Seq("_cid"), "left_semi"))
        .dropDuplicates("_cid").localCheckpoint(true))
      bridge.unpersistCheckpoint(cands)
      cands = next
      r += 1
    }
    val weights = corpus
      .select(col(idCol).cast("long").as("_id"), col(vecCol))
      .join(broadcast(cands))
      .select(col("_id"), col("_cid"),
        cosine(col(vecCol), col("_cv")).as("_sim"))
      .groupBy(col("_id"))
      .agg(max_by(col("_cid"), struct(col("_sim"), -col("_cid"))).as("_cid"))
      .groupBy(col("_cid")).agg(count(lit(1)).as("weight"))
    // ≤ k rows after the bounded-heap cut: the relabeling window sorts
    // a driver-sized set, never the corpus
    cands.join(weights, Seq("_cid"), "left")
      .select(col("_cid"), coalesce(col("weight"), lit(0L)).as("weight"),
        col("_cv"))
      .orderBy(col("weight").desc, col("_cid"))
      .limit(k)
      .withColumn("cell", row_number().over(
        Window.orderBy(col("weight").desc, col("_cid"))).cast("long") - 1L)
      .select(col("cell"), col("_cid").as("seed_id"), col("weight"),
        col("_cv").as(vecCol))
  }

  /** Mean spherical k-means cost of a corpus under a centroid set —
    * THE quantizer acceptance number: cost(x) = max(0, 1 − max
    * cosine to any centroid), averaged corpus-wide. Lower is better;
    * [[kmeansRefine]] should decrease it monotonically-ish and a
    * better init ([[kmeansParallelInit]] vs [[pickCentroids]]) shows
    * up here directly, where a 5-query recall probe is noise.
    * One broadcast argmax pass + one scalar aggregate; never a
    * corpus shuffle.
    *
    * @return one row: (n_vectors, mean_cost rounded to `roundTo`) */
  def kmeansObjective(corpus: DataFrame, centroids: DataFrame,
                      idCol: String, vecCol: String,
                      roundTo: Int = 6): DataFrame =
    corpus.select(col(idCol).as("_id"), col(vecCol))
      .join(broadcast(centroids.select(col("cell"), col(vecCol).as("_cv"))))
      .select(col("_id"), cosine(col(vecCol), col("_cv")).as("_sim"))
      .groupBy(col("_id"))
      .agg(greatest(lit(0.0), lit(1.0) - max(col("_sim"))).as("_cost"))
      .agg(count(lit(1)).as("n_vectors"),
        round(avg(col("_cost")), roundTo).as("mean_cost"))

  /** Elbow surface: [[kmeansObjective]] swept over candidate k's,
    * each k trained from its own [[pickCentroids]] seed through
    * `steps` Lloyd iterations — the "how many cells should the IVF
    * quantizer have" curve. The elbow (where marginal cost drop
    * flattens) is read off the returned table; this operator
    * deliberately does NOT pick it (an automated kneedle on 3–6
    * points is false precision — the capacity choice belongs in the
    * corpus card with the curve attached).
    *
    * Scale shape: the k-sweep is a driver loop bounded by `ks.length`
    * (each iteration is fully distributed: broadcast-argmax Lloyd
    * steps + one scalar objective aggregate); cost is ≈ Σ ks × steps
    * corpus passes, so sweep coarsely (powers of two) at corpus
    * scale.
    *
    * @return one row per k: (k, n_vectors, mean_cost), ordered by k */
  def kmeansElbow(corpus: DataFrame, idCol: String, vecCol: String,
                  ks: Seq[Int], steps: Int = 1,
                  roundTo: Int = 6): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1),
      s"ks must be non-empty positive: $ks")
    require(ks.distinct.size == ks.size, s"duplicate k in sweep: $ks")
    ks.sorted.map { k =>
      val trained = kmeansRefine(corpus,
        pickCentroids(corpus, idCol, vecCol, k), idCol, vecCol, steps)
      kmeansObjective(corpus, trained, idCol, vecCol, roundTo)
        .select(lit(k).as("k"), col("n_vectors"), col("mean_cost"))
    }.reduce(_ unionByName _)
  }

  /** Knee pick over a [[kmeansElbow]] curve: the k with the MAXIMUM
    * second difference d(kᵢ) = cost(kᵢ₋₁) − 2·cost(kᵢ) + cost(kᵢ₊₁)
    * over the k-ordered curve (the discrete max-curvature heuristic —
    * the kneedle idea at the resolution a 3-6 point sweep actually
    * supports), ties to the SMALLER k. This closes the elbow loop:
    * q225 emits the curve, this picks the capacity — but the pick is
    * a RECORDED heuristic, not an oracle of cluster truth; ship the
    * curve alongside it in the corpus card (the [[kmeansElbow]]
    * caveat stands: on a coarse sweep the knee is a default, not a
    * discovery).
    *
    * Scale shape: the input is the |ks|-row sweep table — the
    * unpartitioned lag/lead window is bounded by the sweep length,
    * never the corpus; the argmax is one max-of-struct aggregate
    * (negated-k tiebreak), not a second sort.
    *
    * Degenerate-curve CONTRACT (not an accident of argmax order): on
    * a flat or affine curve every interior second difference is
    * equal (0 for flat), so the negated-k tiebreak returns the
    * SMALLEST interior k — the conservative capacity when the sweep
    * shows no curvature to exploit. `second_diff` rides in the
    * output precisely so a caller can tell a discovered knee
    * (positive curvature) from this tiebreak default (≈ 0) and widen
    * the sweep instead of shipping it blind.
    *
    * @return one row: (k, second_diff); raises if the curve has
    *         fewer than 3 points (no interior second difference) */
  def pickK(elbow: DataFrame, roundTo: Int = 6): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("k"))
    val d = elbow.select(col("k"), col("mean_cost"))
      .withColumn("_prev", lag(col("mean_cost"), 1).over(w))
      .withColumn("_next", lead(col("mean_cost"), 1).over(w))
      .filter(col("_prev").isNotNull && col("_next").isNotNull)
      .select(col("k"),
        round(col("_prev") - lit(2.0) * col("mean_cost") + col("_next"),
          roundTo).as("second_diff"))
    d.agg(max(struct(col("second_diff"),
        (-col("k")).cast("long").as("nk"))).as("_best"))
      .select(
        when(col("_best").isNull, raise_error(lit(
          "pickK needs an elbow curve with >= 3 points — fewer leaves " +
            "no interior point to take a second difference at")))
          .otherwise((-col("_best.nk")).cast("int")).as("k"),
        col("_best.second_diff").as("second_diff"))
  }

  /** Simplified silhouette (Hruschka et al.'s centroid-based variant
    * of Rousseeuw 1987 — the O(n·k) form; the classic pairwise
    * silhouette is O(n²) and cannot price a corpus): per vector,
    * a = cosine distance to its OWN centroid, b = distance to the
    * nearest OTHER centroid, s = (b − a) / max(a, b) ∈ [−1, 1]
    * (defined 0 when both distances are 0). Positive = the vector
    * sits with the right centroid; negative = the clustering is
    * wrong for it. Per-cell means localize WHICH cells are mush —
    * the diagnosis [[kmeansElbow]]'s single number cannot give.
    *
    * Determinism: a and b round to 6dp BEFORE the ratio (the
    * [[kmeansParallelInit]] cost convention) so the division never
    * amplifies sub-ulp engine noise past the 4dp output round.
    *
    * Scale shape: one broadcast of the k centroids against the
    * corpus (n×k fixed-width sim rows), two map-side-combined per-id
    * aggregates, one k-row output aggregate; the corpus never
    * shuffles by cell.
    *
    * @return per cell: (cell, n_members, mean_silhouette), plus one
    *         (-1, n, corpus mean) summary row; requires ≥ 2 centroids */
  def simplifiedSilhouette(corpus: DataFrame, centroids: DataFrame,
                           idCol: String, vecCol: String,
                           roundTo: Int = 4): DataFrame = {
    val cents = broadcast(centroids.select(
      col("cell"), col(vecCol).as("_cv")))
    val sims = corpus.select(col(idCol).as("_id"), col(vecCol))
      .join(cents)
      .select(col("_id"), col("cell"),
        cosine(col(vecCol), col("_cv")).as("_sim"))
    val own = sims.groupBy(col("_id"))
      .agg(max_by(col("cell"), struct(col("_sim"), -col("cell")))
        .as("_own"),
        round(lit(1.0) - max(col("_sim")), 6).as("_a"))
    val other = sims.join(own.select(col("_id"), col("_own")), Seq("_id"))
      .filter(col("cell") =!= col("_own"))
      .groupBy(col("_id"))
      .agg(round(lit(1.0) - max(col("_sim")), 6).as("_b"))
    // LEFT join + in-plan tripwire: with a single centroid there is
    // no "other" row for ANY vector and the silhouette is undefined —
    // fail loudly rather than return the silently-empty frame an
    // inner join would produce
    val sil = own.join(other, Seq("_id"), "left")
      .select(col("_own").cast("long").as("cell"), col("_a"),
        when(col("_b").isNull, raise_error(lit(
          "simplifiedSilhouette: fewer than 2 centroids — separation " +
            "(distance to the nearest OTHER centroid) is undefined"))
          .cast("double")).otherwise(col("_b")).as("_b"))
      .select(col("cell"),
        when(greatest(col("_a"), col("_b")) === 0.0, lit(0.0))
          .otherwise((col("_b") - col("_a")) /
            greatest(col("_a"), col("_b"))).as("_s"))
    sil.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"),
        round(avg(col("_s")), roundTo).as("mean_silhouette"))
      .unionByName(sil.agg(count(lit(1)).as("n_members"),
        round(avg(col("_s")), roundTo).as("mean_silhouette"))
        .select(lit(-1L).as("cell"), col("n_members"),
          col("mean_silhouette")))
  }

  /** Cluster quality profile under a centroid set: per cell, member
    * count, mean member-to-centroid cosine (the spherical k-means
    * objective — rises as [[kmeansRefine]] converges), and label
    * purity (majority label + its share) when the corpus carries a
    * label column. The SemDeDup-shaped diagnostic: semantic dedup and
    * cluster-balanced sampling both stand on "cells are coherent",
    * and this is the table that says whether they are.
    *
    * Scale shape: one [[assignCells]] pass, one broadcast join back
    * to the k centroids for the member cosine, and two map-side-
    * combined aggregates (cell × label is bounded by k × |labels|).
    * Ties in the majority label break to the smaller label under the
    * label type's own ordering (numeric or string alike).
    *
    * @return (cell, n_members, mean_cos, top_label, purity) */
  def clusterProfile(corpus: DataFrame, centroids: DataFrame,
                     idCol: String, vecCol: String, labelCol: String,
                     roundTo: Int = 4): DataFrame = {
    val assigned = assignCells(corpus,
      centroids.select(col("cell").as(idCol), col(vecCol)), idCol, vecCol)
    val cents = broadcast(centroids.select(col("cell"), col(vecCol).as("_cv")))
    val withLab = assigned.join(cents, Seq("cell"))
      .select(col(idCol), col("cell"), cosine(col(vecCol), col("_cv")).as("_sim"))
      .join(corpus.select(col(idCol), col(labelCol).as("_lab")), Seq(idCol))
    val prof = withLab.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"),
        round(avg(col("_sim")), roundTo).as("mean_cos"))
    // min_by over (-count, label) is the type-agnostic tie-break:
    // biggest count first, ties to the SMALLEST label under the label
    // type's own ordering — works for string labels too, where a
    // max_by over (count, -label) would need numeric negation
    val lab = withLab.groupBy(col("cell"), col("_lab"))
      .agg(count(lit(1)).as("_lc"))
      .groupBy(col("cell"))
      .agg(min_by(col("_lab"),
          struct((-col("_lc")).as("_nc"), col("_lab").as("_l")))
        .as("top_label"),
        max(col("_lc")).as("_top"))
    prof.join(lab, Seq("cell"))
      .select(col("cell"), col("n_members"), col("mean_cos"),
        col("top_label"),
        round(col("_top").cast("double") / col("n_members").cast("double"),
          roundTo).as("purity"))
  }

  /** Cluster-balanced sample: up to `perCell` docs per k-means cell,
    * ordered by md5(id) — the diversity-sampling move (uniform
    * coverage of the EMBEDDING SPACE, not of the row population): a
    * density-blind uniform sample re-creates the corpus's mode
    * collapse, while sampling per cell caps every semantic
    * neighborhood at the same budget. The md5 order is the engine-
    * wide deterministic-reservoir rule (no rand(); every run, retry
    * and engine draws the same docs — the q79 contract, applied to
    * semantic strata instead of metadata strata).
    *
    * Scale shape: one [[assignCells]] broadcast argmax, then a window
    * that partitions by cell — each partition ranks one cell,
    * parallel across cells; with assignments persisted cell-
    * partitioned ([[ivfIndexWrite]]) the rank never re-shuffles.
    *
    * @return (idCol, cell, rk) for the sampled docs, rk in
    *         [1, perCell] */
  def clusterBalancedSample(corpus: DataFrame, centroids: DataFrame,
                            idCol: String, vecCol: String,
                            perCell: Int): DataFrame = {
    require(perCell >= 1, s"perCell must be >= 1: $perCell")
    val w = Window.partitionBy(col("cell"))
      .orderBy(md5(col(idCol).cast("string").cast("binary")), col(idCol))
    assignCells(corpus,
      centroids.select(col("cell").as(idCol), col(vecCol)), idCol, vecCol)
      .select(col(idCol), col("cell"),
        row_number().over(w).cast("long").as("rk"))
      .filter(col("rk") <= perCell)
  }

  /** Build the index in-memory: assignments carry (idCol, vecCol,
    * cell). Callers persist via [[ivfIndexWrite]]; catalog queries and
    * specs can use the DataFrames directly. Centroids must expose
    * (cell, vecCol) as produced by [[pickCentroids]] — or any
    * deterministic (cell, vec) table. */
  def ivfIndex(corpus: DataFrame, centroids: DataFrame,
               idCol: String, vecCol: String): IvfIndex = {
    val cents = centroids.select(col("cell").as(idCol), col(vecCol))
    IvfIndex(centroids, assignCells(corpus, cents, idCol, vecCol))
  }

  /** Assignment rows are disjoint across epochs, so the fold is
    * identity — compaction bounds the per-cell FILE count (one file
    * per cell per epoch forever, otherwise) rather than the row
    * count. The centroids are plain parquet beside the epoch store.
    *
    * Erasure filters the per-vector rows by the id column the manifest
    * records (the first of `cols`): the erased store is exactly the
    * retained vectors' index. The centroids are UNTOUCHED — like the
    * cert_vec pivots, they are aggregate directions, not records of
    * any document, and keeping them keeps already-assigned epochs
    * consistent. */
  private[graft] val ivfStore = StoreFamily("ivf",
    Seq(StoreFamily.substore("assignments", _ => identity,
      StoreFamily.Filter(manifestIdCol), Seq("cell"))),
    reports = "assignments")

  /** The id column an IVF-family manifest records first in `cols`. */
  private def manifestIdCol(param: String => String): Seq[String] =
    Seq(param("cols").split(",").head)
  /** The IVF store over vectors keyed `idCol` in `vecCol`. */
  private[graft] def ivf(idCol: String, vecCol: String): StoreFamily.Bound =
    ivfStore.bind("cols" -> s"$idCol,$vecCol")

  /** Write the index: `path/centroids` plain parquet, `path/assignments`
    * partitioned by `(cell, _epoch)` — the cell level turns every
    * probe's cell set into parquet partition pruning (no full-corpus
    * scan, ever), and the `_epoch` level gives incremental writers
    * ([[ivfAppendWrite]], `Streaming.ivfIngestSink`) an idempotent
    * dynamic-overwrite unit without changing the directory depth the
    * readers expect. The bootstrap corpus lands as `_epoch=base`. */

  def ivfIndexWrite(index: IvfIndex, path: String): Unit = {
    index.centroids.write.mode("overwrite").parquet(s"$path/centroids")
    val cols = index.assignments.columns.filterNot(_ == "cell")
    ivfStore.bind("cols" -> cols.mkString(","))
      .write(Map("assignments" -> index.assignments), path)
  }

  def ivfIndexRead(spark: org.apache.spark.sql.SparkSession,
                   path: String): IvfIndex = {
    // partition-column type inference can narrow `cell` to int on
    // read; normalize to long so probes/appends line up with the
    // build-side type. A cast over a partition attribute still prunes:
    // partition filters are any predicates referencing only partition
    // columns, casts included. `_epoch` is a writer-side bookkeeping
    // column — readers never see it (the epoch-aware read also folds
    // in the compacted base, if the store has been compacted).
    val store = ivfStore.stored(spark, path)
    IvfIndex(spark.read.parquet(s"$path/centroids"),
      // observed = false: the probe's whole value is the cell-pruned
      // scan (dynamic partition pruning from the probe join), and a
      // CollectMetrics barrier would block that pruning — see
      // EpochIndex.read's scaladoc. SimilaritySpec pins ≤ nProbe×|q|
      // partitions read.
      store.read(spark, path, "assignments", observed = false)
        .withColumn("cell", col("cell").cast("long")))
  }

  /** Cell-occupancy skew of a stored IVF index — the number that says
    * when [[ivfRecluster]] is due: months of [[ivfAppendWrite]] under
    * distribution drift pile new vectors into whichever bootstrap
    * cells sit nearest the drifted mass, so probe cost (rows scanned
    * per probed cell) and recall (nProbe cells cover less of the true
    * neighborhood) both degrade while the store itself stays
    * "healthy" by every file-level metric. One row:
    * (n_rows, n_buckets, max_bucket_rows, max_bucket_frac) — the q204
    * diagnostic ([[Rolling.bucketSkew]]) over the cell assignment; a
    * balanced k-cell index sits near 1/k, and a `max_bucket_frac` many
    * multiples of that is the recluster trigger. Cost: one
    * map-side-combined aggregate over the assignments (id, cell)
    * columns — never the vectors. */
  def ivfCellSkew(spark: org.apache.spark.sql.SparkSession,
                  path: String): DataFrame =
    Rolling.bucketSkew(ivfIndexRead(spark, path).assignments,
      Nil, col("cell"))

  /** [[ivfCellSkew]]'s IVF+PQ twin — same one-row occupancy summary,
    * read from the codes table's cell column (per-document, so the
    * per-subspace code rows are first collapsed to one row per id).
    * The PQ store's recluster ([[ivfPqRecluster]]) needs the caller's
    * corpus (codes hold no floats), so there is no automatic trigger
    * arm here: a maintenance job reads this diagnostic and schedules
    * the recluster with the corpus in hand. */
  def ivfPqCellSkew(spark: org.apache.spark.sql.SparkSession,
                    path: String): DataFrame =
    Rolling.bucketSkew(
      ivfPqIndexRead(spark, path).codes
        .filter(col("sub") === 0), Nil, col("cell"))

  /** The skew TRIGGER: recluster iff [[ivfCellSkew]] says the store
    * needs it — the call a scheduled maintenance job makes, so the
    * recluster (a full index rewrite) only runs when drift actually
    * skewed the cells. `maxFrac` is the occupancy bar in multiples
    * of the balanced share: with k cells a balanced index has every
    * cell near 1/k of the rows, so the default 4.0 fires when some
    * cell holds over 4/k of the store — well past append jitter,
    * well before the one-hot-cell degeneracy q204's diagnostic is
    * built to catch. Returns None (with the measured skew available
    * via [[ivfCellSkew]]) when the store is healthy; Some(stats) when
    * it reclustered. The skew read is one map-side-combined aggregate
    * over the assignments' (cell) column — cheap enough to run every
    * maintenance window; the rewrite only happens on a trigger. */
  def ivfReclusterIfSkewed(spark: org.apache.spark.sql.SparkSession,
                           path: String, maxFrac: Double = 4.0,
                           steps: Int = 2, k: Int = 0,
                           keepVersions: Int = 2)
      : Option[EpochIndex.CompactionStats] = {
    require(maxFrac > 1.0,
      s"maxFrac is a multiple of the balanced 1/k share and must " +
        s"exceed 1.0: $maxFrac (a balanced index sits AT 1.0)")
    // the multiple is against the store's CAPACITY (the centroid
    // count), not the occupied-cell count — drift that empties cells
    // is part of the skew, not a discount on it; the centroid table
    // is k rows by construction, a bounded driver read
    val kStored = ivfIndexRead(spark, path).centroids.count()
    val frac = ivfCellSkew(spark, path)
      .select(col("max_bucket_frac")).head().getDouble(0)
    if (frac * kStored <= maxFrac) None
    else Some(ivfRecluster(spark, path, steps, k, keepVersions))
  }

  /** Recluster-on-drift maintenance arm — the answer to [[ivfCellSkew]]
    * flagging a skewed store: re-fit the coarse quantizer over the
    * STORED vectors (the assignments table carries them; no external
    * corpus is needed or accepted — what is in the store is, by the
    * erasure contract, exactly what may be reclustered), reassign
    * every stored vector to the new centroids, and publish the
    * reassignment as a new base version under the same
    * crash-safe compaction discipline as [[Maintenance.compactStore]]
    * (`_CURRENT` flip, retained versions, epoch GC).
    *
    * The re-fit is FROM SCRATCH — [[pickCentroids]] seeds over the
    * stored vectors polished by `steps` Lloyd iterations
    * ([[kmeansRefine]]) — NOT warm-started from the drifted
    * centroids: both are deterministic, but only the cold re-fit
    * makes recluster ≡ a fresh [[ivfIndexWrite]] over the same
    * vectors, centroid for centroid (the q243 oracle pins exactly
    * that), and a warm start from degenerate centroids (many empty
    * cells) can never repopulate them.
    *
    * Ordering/crash posture: the reassigned base publishes first
    * (atomic), then `centroids` is overwritten — recluster runs in
    * the same single-writer maintenance window as compaction, and a
    * crash between the two writes leaves a probe-consistent-but-
    * degraded store that RE-RUNNING recluster repairs exactly,
    * because the new centroids are a pure function of the stored
    * (id, vec) rows and those rows are invariant under reassignment.
    *
    * Scale shape: seeds are one bounded TakeOrdered pass; each Lloyd
    * step is [[lloydStep]]'s broadcast argmax + bounded-width mean
    * aggregate; the rewrite itself is one compaction pass re-
    * partitioned by the new cells. The corpus vectors stream from the
    * store each pass — nothing corpus-sized is ever pinned.
    *
    * @param k cells to re-fit; defaults (0) to the stored centroid
    *          count, so plain drift repair keeps the index capacity
    * @return the published base version's [[EpochIndex.CompactionStats]] */
  def ivfRecluster(spark: org.apache.spark.sql.SparkSession, path: String,
                   steps: Int = 2, k: Int = 0,
                   keepVersions: Int = 2): EpochIndex.CompactionStats = {
    require(steps >= 1, s"steps must be >= 1: $steps")
    val store = ivfStore.stored(spark, path)
    val cols = store.meta.param("cols", path).split(",")
    require(cols.length == 2,
      s"IVF manifest cols at $path is not 'id,vec': ${cols.mkString(",")}")
    val (idCol, vecCol) = (cols(0), cols(1))
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    val index = ivfIndexRead(spark, path)
    // the centroid table is k rows by construction — counting it is a
    // bounded driver read, the MaxCells bound
    val kEff = if (k > 0) k else index.centroids.count().toInt
    require(kEff >= 1, s"ivfRecluster at $path: no centroids and no k")
    val vectors = index.assignments.select(col(idCol), col(vecCol))
    val refined = kmeansRefine(vectors,
      pickCentroids(vectors, idCol, vecCol, kEff), idCol, vecCol, steps)
    try {
      val cents = refined.select(col("cell").as(idCol), col(vecCol))
      val stats = store.rewrite(spark, path, "assignments",
        p => assignCells(p.drop("cell"), cents, idCol, vecCol)
          .select(p.columns.map(col).toIndexedSeq: _*), keepVersions)
      refined.select(col("cell"), col(vecCol))
        .write.mode("overwrite").parquet(s"$path/centroids")
      stats
    } finally bridge.unpersistCheckpoint(refined)
  }

  /** Incremental append: assign ONLY the new vectors to the existing
    * centroids — the corpus pays nothing. Returns the appended-to
    * index; for a STORED index use [[ivfAppendWrite]] (a hand-rolled
    * append must match its `(cell, _epoch)` partitioning — writing
    * `partitionBy("cell")` alone puts files at a different directory
    * depth and breaks partition discovery for every later reader).
    * Because assignment is a pure deterministic function of
    * (vector, centroids), the result equals rebuilding the index over
    * corpus ∪ batch from scratch (q99 pins this in-engine). */
  def ivfAppend(index: IvfIndex, newVecs: DataFrame,
                idCol: String, vecCol: String): IvfIndex = {
    val cents = index.centroids.select(col("cell").as(idCol), col(vecCol))
    IvfIndex(index.centroids,
      index.assignments.unionByName(
        assignCells(newVecs, cents, idCol, vecCol)))
  }

  /** Incremental append to a STORED index: assign only the new
    * vectors against the stored centroids and land their rows as
    * epoch `epochLabel` of the cell-partitioned assignments table —
    * the daily-batch write path (only the touched cell directories
    * gain files; the corpus's existing files are never rewritten).
    * Equivalent to [[ivfAppend]] + [[ivfIndexWrite]] without
    * rewriting the corpus, and idempotent per epoch label: a retry of
    * the same label replaces its own rows (SimilaritySpec). */
  def ivfAppendWrite(spark: org.apache.spark.sql.SparkSession, path: String,
                     newVecs: DataFrame, idCol: String, vecCol: String,
                     epochLabel: String): Unit = {
    val store = ivf(idCol, vecCol)
    IndexMeta.check(spark, path, store.meta)
    val cents = spark.read.parquet(s"$path/centroids")
      .select(col("cell").as(idCol), col(vecCol))
    store.append(spark, path,
      Map("assignments" -> assignCells(newVecs, cents, idCol, vecCol)), epochLabel)
  }

  /** Probe a persisted index: identical semantics to [[ivfTopK]] over
    * (index.assignments, index.centroids) — the point is what it does
    * NOT do: no corpus re-assignment, no centroid re-fit, and (on a
    * cell-partitioned store) no scan outside the probed cells. */
  def ivfProbe(queries: DataFrame, index: IvfIndex,
               idCol: String, vecCol: String,
               k: Int, nProbe: Int = 4, roundTo: Int = 6): DataFrame = {
    val cents = index.centroids.select(col("cell").as(idCol), col(vecCol))
    ivfTopK(index.assignments, cents, queries, idCol, vecCol, k, nProbe, roundTo)
  }

  // ------------------------------------------------- product quantization

  /** Rounded squared-L2 distance between two double-array columns —
    * the PQ assignment metric. Rounding BEFORE the argmin is what
    * makes nearest-code choice engine-portable: the raw sum differs
    * between engines at ulp level (summation order), the rounded
    * value doesn't, and ties on the rounded value break by code id. */
  private def sqDistRounded(a: Column, b: Column, roundTo: Int): Column =
    round(aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x), roundTo)

  /** Per-(vector, subspace) slices: (idCol, sub, sv) with sv the
    * `sub`-th of `m` equal slices, cast to double. The vector dim
    * must be divisible by m (PQ's structural precondition — slices of
    * uneven length would zip against shorter centroids and
    * null-poison every distance). */
  private def subVectors(df: DataFrame, idCol: String, vecCol: String,
                         m: Int): DataFrame = {
    val vec = transform(col(vecCol), _.cast("double"))
    df.select(col(idCol), explode(sequence(lit(0), lit(m - 1))).as("sub"),
      vec.as("_vec"))
      .select(col(idCol), col("sub"),
        slice(col("_vec"), col("sub") * (size(col("_vec")) / lit(m)) + 1,
          size(col("_vec")) / lit(m)).as("sv"))
  }

  /** Product-quantization codebooks: split each vector into `m`
    * subspaces, learn `k` centroids per subspace — deterministic
    * md5-ordered seeds (the [[pickCentroids]] contract: no `rand()`,
    * any engine picks the same seeds) refined by `iters` Lloyd
    * iterations whose means are ROUNDED to `roundTo` decimals, so the
    * learned codebooks are bit-identical across engines and runs.
    *
    * PQ is the memory side of the ANN story the IVF index leaves
    * open: k ≤ 256 makes each subspace code one byte — an m-byte
    * compressed vector (m·8 bytes here as oracle-checkable longs),
    * a 64-float embedding compressed 32× while distances stay
    * approximable per subspace (ADC lookup tables at query time).
    *
    * Scale shape: seeds are a bounded TakeOrdered (k full vectors);
    * each Lloyd pass is one broadcast join of the (id, sub) slice
    * stream against m·k centroids, an argmin as a map-side
    * min_by partial aggregate (never a per-group window sort), and a
    * (sub, code, pos) mean aggregate of bounded width m·k·dsub — the
    * corpus shuffles nothing; only slice streams flow.
    *
    * Empty clusters (a seed that attracts no vectors) drop out of the
    * codebook — deterministic on both engines, standard k-means
    * behavior at tiny k; real deployments re-seed, which would break
    * oracle determinism here for no test value.
    *
    * @return (sub, code, cvec: Array[Double]) — ≤ m·k rows
    */
  def pqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                  m: Int, k: Int, iters: Int = 1,
                  roundTo: Int = 6): DataFrame = {
    require(m >= 1 && k >= 2 && iters >= 0, s"bad PQ params: m=$m k=$k iters=$iters")
    val sv = subVectors(corpus, idCol, vecCol, m)
    val seeds = subVectors(
      pickCentroids(corpus, idCol, vecCol, k)
        .select(col("cell").as("code"), col(vecCol)),
      "code", vecCol, m)
      .select(col("sub"), col("code"), col("sv").as("cvec"))
    (1 to iters).foldLeft(seeds) { (cents, _) =>
      val assigned = sv.join(broadcast(cents), Seq("sub"))
        .withColumn("_rd", sqDistRounded(col("sv"), col("cvec"), roundTo))
        .groupBy(col(idCol), col("sub"))
        .agg(min_by(col("code"), struct(col("_rd"), col("code"))).as("code"),
          first(col("sv")).as("sv"))
      assigned
        .select(col("sub"), col("code"), posexplode(col("sv")).as(Seq("pos", "v")))
        .groupBy(col("sub"), col("code"), col("pos"))
        .agg(round(avg(col("v")), roundTo).as("mv"))
        .groupBy(col("sub"), col("code"))
        .agg(transform(sort_array(collect_list(struct(col("pos"), col("mv")))),
          _.getField("mv")).as("cvec"))
    }
  }

  /** Encode every vector against PQ codebooks: nearest centroid per
    * subspace on the ROUNDED squared-L2 distance (ties to the smaller
    * code — the same portable argmin as training), with the
    * subspace reconstruction error exposed. One broadcast join + one
    * map-side min_by aggregate; the corpus never shuffles.
    *
    * @return (idCol, sub, code, err) — m rows per vector
    */
  def pqEncode(corpus: DataFrame, codebooks: DataFrame,
               idCol: String, vecCol: String, m: Int,
               roundTo: Int = 6): DataFrame =
    subVectors(corpus, idCol, vecCol, m)
      .join(broadcast(codebooks), Seq("sub"))
      .withColumn("_rd", sqDistRounded(col("sv"), col("cvec"), roundTo))
      .groupBy(col(idCol), col("sub"))
      .agg(min_by(struct(col("code"), col("_rd")),
        struct(col("_rd"), col("code"))).as("_best"))
      .select(col(idCol), col("sub").cast("long").as("sub"),
        col("_best").getField("code").as("code"),
        col("_best").getField("_rd").as("err"))

  /** ADC (asymmetric distance computation) top-k over PQ codes — the
    * query side of product quantization: the query stays a full
    * vector, the corpus is only its m-byte codes, and each
    * (query, neighbor) distance is a sum of m table lookups
    *
    *   d(q, x) ≈ Σ_sub lut[q][sub][code(x, sub)]
    *
    * where the LUT holds the query-to-centroid squared distances per
    * subspace. This is how a 100 TB corpus gets scanned for neighbors
    * WITHOUT touching a single corpus float: the |queries|·m·k LUT
    * broadcasts, the code table (8 bytes of codes per vector here,
    * m bytes in a packed layout) streams map-side through one
    * broadcast join, the per-(query, neighbor) sum is a partial
    * aggregate, and the final top-k is the bounded-heap
    * TopKAggregator — never a corpus sort, never the embedding
    * column. Smallest-distance ranking rides the max-heap via score
    * negation (exact for doubles); ties break to the smaller
    * neighbor id, matching the catalog's deterministic-rank contract.
    *
    * @param codes (idCol, sub, code) as produced by [[pqEncode]]
    * @return (query_id, neighbor_id, adist) — k rows per query,
    *         self-matches excluded, adist = rounded ADC distance
    */
  def pqAdcTopK(queries: DataFrame, codebooks: DataFrame, codes: DataFrame,
                idCol: String, vecCol: String, m: Int, k: Int,
                roundTo: Int = 6): DataFrame = {
    val scored = codes
      .join(broadcast(pqLut(queries, codebooks, idCol, vecCol, m, roundTo)),
        Seq("sub", "code"))
      .filter(col("query_id") =!= col(idCol))
    adcAggregateTopK(scored, idCol, k, roundTo)
  }

  /** Query-to-centroid LUT: one row per (query, sub, code) holding the
    * rounded partial squared distance — the |queries|·m·k table every
    * ADC scan broadcasts. */
  private def pqLut(queries: DataFrame, codebooks: DataFrame,
                    idCol: String, vecCol: String, m: Int,
                    roundTo: Int): DataFrame =
    subVectors(queries.select(col(idCol).as("query_id"), col(vecCol)),
      "query_id", vecCol, m)
      .join(broadcast(codebooks), Seq("sub"))
      .select(col("query_id"), col("sub"), col("code"),
        sqDistRounded(col("sv"), col("cvec"), roundTo).as("_lut"))

  /** Sum the m per-subspace LUT rows per (query, neighbor), then keep
    * the k SMALLEST distances via the bounded-heap aggregator (score
    * negation — exact for doubles; ties to the smaller id). */
  private def adcAggregateTopK(scored: DataFrame, idCol: String,
                               k: Int, roundTo: Int): DataFrame =
    scored
      .groupBy(col("query_id"), col(idCol))
      .agg(round(sum(col("_lut")), roundTo).as("adist"))
      .groupBy(col("query_id"))
      .agg(TopK.top_k(k)(-col("adist"), col(idCol)).as("top"))
      .select(col("query_id"), explode(col("top")).as("t"))
      .select(col("query_id"), col("t").getField("_2").as("neighbor_id"),
        (-col("t").getField("_1")).as("adist"))

  /** IVF + PQ — the standard two-level ANN layout (FAISS IVFPQ shape):
    * coarse IVF cells bound WHERE to look (`nProbe` cells per query →
    * partition pruning on a cell-partitioned store), PQ codes bound
    * WHAT is read there (m small ints per vector, no corpus floats).
    * Probe selection reuses [[ivfTopK]]'s cosine rule verbatim;
    * scoring is [[pqAdcTopK]]'s LUT sum restricted to probed cells.
    * Both metrics' determinism contracts carry over unchanged
    * (rounded scores, id tiebreaks).
    *
    * @param codesWithCells (idCol, cell, sub, code) — [[pqEncode]]
    *                       output joined to its IVF cell assignment
    * @return (query_id, neighbor_id, adist) — ≤ k rows per query
    */
  def ivfPqTopK(queries: DataFrame, centroids: DataFrame,
                codebooks: DataFrame, codesWithCells: DataFrame,
                idCol: String, vecCol: String, m: Int, k: Int,
                nProbe: Int = 4, roundTo: Int = 6): DataFrame = {
    val probes = probeCells(queries,
      centroids.select(col("cell"), col(vecCol).as("cent_vec")),
      idCol, vecCol, nProbe)
      .select(col("query_id"), col("cell"))
    val scored = codesWithCells
      .join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col(idCol))
      .join(broadcast(pqLut(queries, codebooks, idCol, vecCol, m, roundTo)),
        Seq("query_id", "sub", "code"))
    adcAggregateTopK(scored, idCol, k, roundTo)
  }

  // ------------------------------------------------- persisted IVF+PQ index

  /** The persisted two-level ANN store: tiny `centroids` (cell, vec)
    * and `codebooks` (sub, code, cvec) tables plus the `codes` table —
    * one (id, sub, code) row per vector per subspace, partitioned by
    * `(cell, _epoch)` like [[IvfIndex]]'s assignments so a probe's
    * cell set becomes parquet partition pruning and incremental
    * writers get an idempotent overwrite unit. The corpus FLOATS are
    * not in the store at all — this is the layout where 100 TB of
    * embeddings serve ANN queries from m bytes per vector. */
  case class IvfPqIndex(centroids: DataFrame, codebooks: DataFrame,
                        codes: DataFrame)

  /** Build in-memory: assign cells, learn PQ codebooks, encode. */
  def ivfPqIndex(corpus: DataFrame, centroids: DataFrame,
                 idCol: String, vecCol: String, m: Int, k: Int,
                 iters: Int = 1): IvfPqIndex = {
    val cells = assignCells(corpus,
      centroids.select(col("cell").as(idCol), col(vecCol)), idCol, vecCol)
      .select(col(idCol), col("cell"))
    val books = pqCodebooks(corpus, idCol, vecCol, m, k, iters)
    IvfPqIndex(centroids, books,
      pqEncode(corpus, books, idCol, vecCol, m)
        .select(col(idCol), col("sub"), col("code"))
        .join(cells, Seq(idCol)))
  }

  /** Identity-fold `codes` epochs (the [[ivfStore]] disjoint-rows
    * rationale); centroids and codebooks are plain parquet. Erasure
    * filters the per-vector code rows; centroids AND codebooks stay —
    * both are aggregate quantizer geometry, and keeping them keeps
    * already-encoded epochs decodable. */
  private[operators] val ivfPqStore = StoreFamily("ivf_pq",
    Seq(StoreFamily.substore("codes", _ => identity,
      StoreFamily.Filter(manifestIdCol), Seq("cell"))),
    reports = "codes")

  def ivfPqIndexWrite(index: IvfPqIndex, path: String): Unit = {
    index.centroids.write.mode("overwrite").parquet(s"$path/centroids")
    index.codebooks.write.mode("overwrite").parquet(s"$path/codebooks")
    val cols = index.codes.columns.filterNot(_ == "cell")
    ivfPqStore.bind("cols" -> cols.mkString(","))
      .write(Map("codes" -> index.codes), path)
  }

  /** The IVF+PQ store over vectors keyed `idCol`. */
  private[graft] def ivfPq(idCol: String): StoreFamily.Bound =
    ivfPqStore.bind("cols" -> s"$idCol,sub,code")

  def ivfPqIndexRead(spark: org.apache.spark.sql.SparkSession,
                     path: String): IvfPqIndex = {
    // same partition-column normalization as ivfIndexRead: `cell`
    // re-widens to long, `_epoch` never reaches readers
    val store = ivfPqStore.stored(spark, path)
    IvfPqIndex(spark.read.parquet(s"$path/centroids"),
      spark.read.parquet(s"$path/codebooks"),
      // observed = false for the same cell-pruning reason as
      // ivfIndexRead (CollectMetrics blocks DPP)
      store.read(spark, path, "codes", observed = false)
        .withColumn("cell", col("cell").cast("long")))
  }

  /** [[ivfRecluster]]'s IVF+PQ twin — the maintenance arm that
    * re-fits BOTH quantizer levels (coarse cells AND the per-subspace
    * PQ codebooks) and rewrites the codes table as a new base version
    * under the store's compaction/erasure discipline. Unlike the flat
    * IVF store, the codes table holds NO corpus floats (that is its
    * whole point), so the vectors must be re-supplied: `corpus` is
    * the caller's (id, vec) table, and the rewrite REFUSES unless its
    * id set equals the stored id set exactly — the RTBF guard: a
    * recluster fed the original pre-erasure corpus would silently
    * resurrect every erased victim's codes, and one fed a grown
    * corpus would smuggle an append past the epoch discipline.
    *
    * Re-fit is from scratch like [[ivfRecluster]] ([[pickCentroids]]
    * seeds + `steps` Lloyd iterations for the cells;
    * [[pqCodebooks]]' own deterministic seed/refine for the
    * codebooks), so the rewritten store is value-identical to a
    * fresh [[ivfPqIndexWrite]] over the same corpus — the q244
    * oracle's claim. Same write ordering and crash posture as
    * [[ivfRecluster]]: codes base publishes atomically first, then
    * the tiny `centroids`/`codebooks` tables are overwritten;
    * re-running repairs a crash between them exactly.
    *
    * @param nCells coarse cells to re-fit; defaults (0) to the stored
    *               centroid count */
  def ivfPqRecluster(spark: org.apache.spark.sql.SparkSession, path: String,
                     corpus: DataFrame, idCol: String, vecCol: String,
                     m: Int, k: Int, iters: Int = 1, steps: Int = 1,
                     nCells: Int = 0,
                     keepVersions: Int = 2): EpochIndex.CompactionStats = {
    require(steps >= 1, s"steps must be >= 1: $steps")
    val store = ivfPq(idCol)
    IndexMeta.check(spark, path, store.meta)
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    val index = ivfPqIndexRead(spark, path)
    val kCells = if (nCells > 0) nCells else index.centroids.count().toInt
    require(kCells >= 1, s"ivfPqRecluster at $path: no centroids and no nCells")
    // RTBF guard: stored ids and corpus ids must be the SAME set —
    // two anti-join counts over id columns, never the vectors
    val storedIds = index.codes.select(col(idCol)).distinct()
    val corpusIds = corpus.select(col(idCol)).distinct()
    val resurrected = corpusIds.join(storedIds, Seq(idCol), "left_anti").count()
    val vanished = storedIds.join(corpusIds, Seq(idCol), "left_anti").count()
    require(resurrected == 0 && vanished == 0,
      s"ivfPqRecluster at $path: corpus ids do not match the stored id " +
        s"set ($resurrected corpus-only — re-encoding them would " +
        "resurrect erased or never-ingested vectors past the epoch " +
        s"discipline; $vanished store-only — their codes would silently " +
        "vanish). Recluster over exactly the stored ids; append or erase " +
        "through the family writers first")
    val refined = kmeansRefine(corpus,
      pickCentroids(corpus, idCol, vecCol, kCells), idCol, vecCol, steps)
    try {
      val cents = refined.select(col("cell").as(idCol), col(vecCol))
      val cells = assignCells(corpus, cents, idCol, vecCol)
        .select(col(idCol), col("cell"))
      val books = pqCodebooks(corpus, idCol, vecCol, m, k, iters)
      val newCodes = pqEncode(corpus, books, idCol, vecCol, m)
        .select(col(idCol), col("sub"), col("code"))
        .join(cells, Seq(idCol))
      val stats = store.rewrite(spark, path, "codes",
        p => newCodes.select(p.columns.map(col).toIndexedSeq: _*), keepVersions)
      refined.select(col("cell"), col(vecCol))
        .write.mode("overwrite").parquet(s"$path/centroids")
      books.write.mode("overwrite").parquet(s"$path/codebooks")
      stats
    } finally bridge.unpersistCheckpoint(refined)
  }

  /** The most cells a stored IVF index may hold — the bound of the
    * probed-cell driver read. */
  private val MaxCells = 1 << 20

  /** The distinct cells `probes` touches, collected for a literal
    * `isin` filter: at most min(|queries|·nProbe, nCells) values,
    * a bounded driver read ([[BoundedRead.boundedDriverRead]]). */
  private def probedCells(probes: DataFrame): Seq[java.lang.Long] =
    BoundedRead.boundedDriverRead(probes.select(col("cell")).distinct(),
      MaxCells, "IVF probed cells", s"a stored IVF index has at most $MaxCells cells")
      .map(r => Long.box(r.getLong(0))).toSeq

  /** Probe a stored IVF+PQ index: [[ivfPqTopK]] semantics with the
    * probed-cell set collected (bounded — ≤ |queries|·nProbe) into a
    * literal `isin` filter for GUARANTEED static partition pruning on
    * the cell-partitioned codes table, exactly the [[ivfProbeStored]]
    * contract. The scan that follows reads codes only — no corpus
    * floats exist anywhere in the store. */
  def ivfPqProbeStored(spark: org.apache.spark.sql.SparkSession, path: String,
                       queries: DataFrame, idCol: String, vecCol: String,
                       m: Int, k: Int, nProbe: Int = 4,
                       roundTo: Int = 6): DataFrame = {
    IndexMeta.check(spark, path, ivfPq(idCol).meta)
    val index = ivfPqIndexRead(spark, path)
    val probes = probeCells(queries,
      index.centroids.select(col("cell"), col(vecCol).as("cent_vec")),
      idCol, vecCol, nProbe)
      .select(col("query_id"), col("cell"))
    val scored = index.codes
      .filter(col("cell").isin(probedCells(probes): _*))
      .join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col(idCol))
      .join(broadcast(pqLut(queries, index.codebooks, idCol, vecCol, m, roundTo)),
        Seq("query_id", "sub", "code"))
    adcAggregateTopK(scored, idCol, k, roundTo)
  }

  /** Probe a STORED index directly from its path, pruning the
    * assignments scan to the probed cells with a static `isin` filter:
    * the distinct probed-cell set is at most min(|queries|·nProbe,
    * nCells) — nCells is bounded (an IVF design parameter, typically
    * ≤ 2^16), so collecting it to the driver is a bounded read (the
    * same contract as the percentile boundaries), and a literal
    * filter gives GUARANTEED static partition pruning where dynamic
    * partition pruning is a planner heuristic. */
  def ivfProbeStored(spark: org.apache.spark.sql.SparkSession, path: String,
                     queries: DataFrame, idCol: String, vecCol: String,
                     k: Int, nProbe: Int = 4, roundTo: Int = 6): DataFrame = {
    // manifest-verify the probe's (id, vec) columns against the
    // build's before touching data — probing an index stored under
    // different column names would resolve to the wrong attributes
    // or miss silently, the class _GRAFT_META exists to catch
    IndexMeta.check(spark, path, ivf(idCol, vecCol).meta)
    val index = ivfIndexRead(spark, path)
    // the probes subtree runs twice (once collected for the pruning
    // literal, once joined below) — the price of GUARANTEED static
    // pruning, and it is the tiny side of the query
    val probes = probeCells(queries,
      index.centroids.select(col("cell"), col(vecCol).as("cent_vec")),
      idCol, vecCol, nProbe)
    val pruned = index.assignments
      .filter(col("cell").isin(probedCells(probes): _*))
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"), col("cell"))
    val scored = pruned.join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qvec"), col("cvec")), roundTo).as("cos"))
    topKPerKey(scored, "query_id", k)
  }
}
