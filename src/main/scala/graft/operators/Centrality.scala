package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph centrality — the PageRank-style domain/page authority
  * prior web-curation pipelines attach to crawled documents (the
  * CommonCrawl/RefinedWeb ranking signal: spam farms score low,
  * linked-to reference pages high).
  *
  * The engine's portability problem with PageRank is FLOATS: each
  * iteration sums fan-in contributions, and double addition is
  * aggregation-order-dependent — two engines (or two runs) disagree
  * in the low bits, and after k iterations the drift is structural.
  * This implementation runs entirely in FIXED-POINT LONGS: ranks are
  * scaled integers (`scale` = 10¹²), every division is integral
  * (`div`, truncating — floor for the non-negative values here), and
  * every sum is exact. Any engine replaying the same integer
  * arithmetic reproduces every rank bit-for-bit after any number of
  * iterations — the q157 oracle unrolls the same iterations in SQL
  * and hash-matches the raw longs. Truncation loses < 1 unit of
  * 10⁻¹² rank mass per division — noise for ranking, determinism for
  * auditing.
  *
  * Semantics per iteration (standard damped PageRank with dangling
  * redistribution, all ops integral):
  * {{{
  *   base       = scale div N
  *   contrib(u) = pr(u) div out(u)          u with out-edges
  *   dangShare  = (Σ pr of dangling nodes) div N
  *   pr'(v)     = (15·base) div 100 + (85·(Σ contrib(u→v) + dangShare)) div 100
  * }}}
  *
  * Scale shape: one edges⋈ranks equi join (shuffle on src) plus one
  * dst-keyed partial-aggregated sum per iteration — the Pregel shape;
  * the dangling mass and N ride as one-row broadcast scalars. Ranks
  * checkpoint per iteration (`freshLeaf`, the connectedComponents
  * discipline) so plan depth and inherited size stats stay bounded
  * across iterations — and each superseded iteration's checkpoint is
  * unpersisted the moment the next one materializes, so the
  * block-manager footprint stays at ONE rank generation regardless of
  * iteration count (the returned final ranks are the caller's to
  * free). Edges must be distinct (dup edges double
  * contributions — assert upstream); vertices with no edges at all
  * still receive the base + dangling share every iteration.
  */
object Centrality {

  /** @param vertices  one `id` column, distinct
    * @param edges     (`src`, `dst`) columns, distinct pairs
    * @param initRanks warm start: (id, pr) from a PREVIOUS run's
    *                  output (persist the returned frame, resume
    *                  later). Because each iteration is a pure
    *                  function of the previous ranks, k iterations
    *                  from a stored j-iteration state are BIT-EQUAL
    *                  to j+k from scratch — the checkpoint/restart
    *                  story a 40-iteration job over a 100 TB graph
    *                  needs (q180 oracle-pins the identity). Must
    *                  cover every vertex: a missing rank refuses
    *                  loudly at execution, it does not default.
    * @return (id, pr) — pr is the SCALED long rank (divide by
    *         `scale` for the probability) */
  def pageRankFixedPoint(vertices: DataFrame, edges: DataFrame,
                         iterations: Int,
                         scale: Long = 1000000000000L,
                         initRanks: Option[DataFrame] = None): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    require(scale >= 1000000L, s"scale too small for meaningful ranks: $scale")
    val spark = vertices.sparkSession
    val v = vertices.select(col("id"))
    val e = edges.select(col("src"), col("dst"))
    val outd = e.groupBy(col("src")).agg(count(lit(1)).as("outd"))
    val n = v.agg(count(lit(1)).as("n"))
    // base = scale div N, attached as a broadcast scalar
    val withBase = v.crossJoin(broadcast(n))
      .select(col("id"), expr(s"${scale}L div n").as("base"), col("n"))
    var pr = initRanks match {
      case None =>
        withBase.select(col("id"), col("base").as("pr"))
          .localCheckpoint(true)
      case Some(stored) =>
        // left join + loud refusal: a vertex the stored ranks missed
        // would silently restart from zero mass
        v.join(stored.select(col("id"), col("pr").as("_stored")),
          Seq("id"), "left")
          .select(col("id"), coalesce(col("_stored"),
            raise_error(concat(lit("pageRankFixedPoint warm start: no " +
              "stored rank for vertex "), col("id").cast("string")))
              .cast("long")).as("pr"))
          .localCheckpoint(true)
    }
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    val fresh = bridge.freshLeaf _
    var iterNo = 0
    while (iterNo < iterations) {
      val ranked = pr.join(outd, pr("id") === outd("src"), "left")
        .select(col("id"), col("pr"), col("outd"))
      // dangling mass: ranks of vertices with no out-edges
      val dang = ranked.agg(coalesce(
        sum(when(col("outd").isNull, col("pr"))), lit(0L)).as("dang"))
      val contribs = e
        .join(ranked.filter(col("outd").isNotNull)
          .select(col("id").as("src"), expr("pr div outd").as("c")),
          Seq("src"))
        .groupBy(col("dst")).agg(sum(col("c")).as("insum"))
      val next = withBase
        .join(contribs, withBase("id") === contribs("dst"), "left")
        .crossJoin(broadcast(dang))
        .select(col("id"),
          (expr("(15L * base) div 100") +
            expr("(85L * (coalesce(insum, 0L) + (dang div n))) div 100"))
            .as("pr"))
      val superseded = pr
      pr = fresh(next.localCheckpoint(true))
      // the eager checkpoint above fully materialized iteration i, so
      // iteration i−1's pinned blocks are dead — free them now instead
      // of leaking one checkpoint per iteration for the session's life
      bridge.unpersistCheckpoint(superseded)
      iterNo += 1
    }
    pr
  }

  /** Personalized PageRank — authority RELATIVE to a seed set, the
    * "more pages like these" signal (seed a few hand-curated reference
    * sites, rank the whole crawl by proximity to them). Same
    * fixed-point integer discipline as [[pageRankFixedPoint]]
    * (bit-exact replay on any engine), with the teleport vector
    * restricted to the seeds:
    *
    * {{{
    *   base(v)    = scale div |S|   if v ∈ S else 0
    *   dangShare  = (Σ pr of dangling nodes) div |S|   — to SEEDS only
    *   pr'(v)     = (15·base(v)) div 100
    *              + (85·(Σ contrib(u→v) + dangShare·[v ∈ S])) div 100
    * }}}
    *
    * Scale shape: identical to the global variant — one edges⋈ranks
    * shuffle plus one dst-keyed partial-agg per iteration; the seed
    * membership is a broadcast-joined 0/1 column (seed sets are
    * hand-curated, i.e. small), |S| and the dangling mass ride as
    * one-row broadcast scalars; superseded iteration checkpoints are
    * freed as the next one materializes.
    *
    * @param seeds one `id` column; must be non-empty and a subset of
    *              `vertices` (ranks teleport nowhere otherwise) */
  def personalizedPageRankFixedPoint(vertices: DataFrame, edges: DataFrame,
                                     seeds: DataFrame, iterations: Int,
                                     scale: Long = 1000000000000L): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    require(scale >= 1000000L, s"scale too small for meaningful ranks: $scale")
    val v = vertices.select(col("id"))
    val sd = seeds.select(col("id")).distinct()
    val e = edges.select(col("src"), col("dst"))
    val outd = e.groupBy(col("src")).agg(count(lit(1)).as("outd"))
    val ns = sd.agg(count(lit(1)).as("ns"))
    val withBase = v
      .join(broadcast(sd.withColumn("_s", lit(1L))), Seq("id"), "left")
      .crossJoin(broadcast(ns))
      .select(col("id"), coalesce(col("_s"), lit(0L)).as("is_seed"),
        when(col("_s").isNotNull, expr(s"${scale}L div ns"))
          .otherwise(lit(0L)).as("base"),
        col("ns"))
    var pr = withBase.select(col("id"), col("base").as("pr"))
      .localCheckpoint(true)
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    var iterNo = 0
    while (iterNo < iterations) {
      val ranked = pr.join(outd, pr("id") === outd("src"), "left")
        .select(col("id"), col("pr"), col("outd"))
      val dang = ranked.agg(coalesce(
        sum(when(col("outd").isNull, col("pr"))), lit(0L)).as("dang"))
      val contribs = e
        .join(ranked.filter(col("outd").isNotNull)
          .select(col("id").as("src"), expr("pr div outd").as("c")),
          Seq("src"))
        .groupBy(col("dst")).agg(sum(col("c")).as("insum"))
      val next = withBase
        .join(contribs, withBase("id") === contribs("dst"), "left")
        .crossJoin(broadcast(dang))
        .select(col("id"),
          (expr("(15L * base) div 100") +
            expr("(85L * (coalesce(insum, 0L) + (dang div ns) * is_seed)) div 100"))
            .as("pr"))
      val superseded = pr
      pr = bridge.freshLeaf(next.localCheckpoint(true))
      bridge.unpersistCheckpoint(superseded)
      iterNo += 1
    }
    pr
  }

  /** Exact triangle count over an undirected graph — the clustering
    * signal (spam farms and scraped mirror rings are triangle-dense;
    * organic link neighborhoods are not). Counting is exact integer
    * work, so the q168 oracle recomputes the same number from the
    * same planted graph.
    *
    * Scale shape — the degree-ordered orientation trick: every
    * undirected edge orients from its lower-(degree, id) endpoint, so
    * each triangle is counted EXACTLY ONCE at its lowest-degree
    * vertex and, crucially, wedge enumeration fans out only over
    * out-neighborhoods bounded by graph arboricity (a celebrity node
    * with 10⁸ followers has out-degree ~0 after orientation — the
    * naive u-centered wedge join would square the 10⁸). One
    * self-join on the oriented source + one edge-close join, all
    * keyed equi joins; AQE splits residual skew.
    *
    * Input edges may be directed/duplicated — they canonicalize to
    * distinct undirected pairs first; self-loops drop.
    *
    * @return one row: (n_vertices, n_edges, n_triangles)
    */
  /** Distinct undirected canonical pairs (a < b); self-loops drop. */
  private def canonUndirected(edges: DataFrame): DataFrame =
    edges.select(
      least(col("src"), col("dst")).as("a"),
      greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()

  def triangleCount(edges: DataFrame): DataFrame = {
    val und = canonUndirected(edges)
    val deg = und.select(col("a").as("v"))
      .unionByName(und.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val withDeg = und
      .join(deg.select(col("v").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("deg").as("db")), Seq("b"))
    val oriented = withDeg.select(
      when(col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("u"), col("b").as("w")))
        .otherwise(struct(col("b").as("u"), col("a").as("w"))).as("e"))
      .select(col("e.u").as("u"), col("e.w").as("w"))
    val wedges = oriented.as("e1").join(oriented.as("e2"),
      col("e1.u") === col("e2.u") && col("e1.w") < col("e2.w"))
      .select(least(col("e1.w"), col("e2.w")).as("a"),
        greatest(col("e1.w"), col("e2.w")).as("b"))
    val tri = wedges.join(und, Seq("a", "b"))
      .agg(count(lit(1)).as("n_triangles"))
    deg.agg(count(lit(1)).as("n_vertices"))
      .crossJoin(broadcast(und.agg(count(lit(1)).as("n_edges"))))
      .crossJoin(broadcast(tri))
  }

  /** Triangles CREATED by an edge batch — the graph family's
    * incremental shape: a daily link-graph append updates the
    * triangle (clustering) census by counting only triangles that
    * touch a new edge, so the exact identity
    * `T(base ∪ batch) = T(base) + newTriangles(base, batch)` holds
    * without ever re-enumerating the base graph's wedges.
    *
    * Counting: every new triangle contains ≥ 1 fresh edge; enumerate,
    * for each fresh edge (p, q), the common neighbors w in the UNION
    * graph (a triangle per w), and de-duplicate triangles holding
    * SEVERAL fresh edges exactly: an incidence's triangle has
    * k = 1 + [pw fresh] + [qw fresh] fresh edges and is generated
    * once per fresh edge — k times — so ΔT = Σ_k count(k)/k, an
    * exact integer division by construction. Batch edges already in
    * the base (or repeated) dedup first, making re-delivery
    * idempotent.
    *
    * Scale shape: wedge fan-out is bounded by the LOWER-degree
    * endpoint of each fresh edge (the orientation trick applied to
    * the delta — a batch edge landing on a celebrity node enumerates
    * the other end), then two co-partitioned equi joins (closure +
    * freshness marks) against the canonical edge set. Cost is
    * O(Σ over fresh edges of min-degree) + joins bounded by the
    * candidate count — independent of the base graph's total wedge
    * count, which is the whole point.
    *
    * @return one row: (n_new_edges, new_triangles) — add
    *         `new_triangles` to the stored census */
  def incrementalTriangles(baseEdges: DataFrame,
                           batchEdges: DataFrame): DataFrame = {
    val base = canonUndirected(baseEdges)
    val fresh = canonUndirected(batchEdges)
      .join(base, Seq("a", "b"), "left_anti")
    val union = base.unionByName(fresh)
    val adj = union.select(col("a").as("u"), col("b").as("w"))
      .unionByName(union.select(col("b").as("u"), col("a").as("w")))
    val deg = adj.groupBy(col("u")).agg(count(lit(1)).as("dg"))
    val oriented = fresh
      .join(deg.select(col("u").as("a"), col("dg").as("da")), Seq("a"))
      .join(deg.select(col("u").as("b"), col("dg").as("db")), Seq("b"))
      .select(when(col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("p"), col("b").as("q")))
        .otherwise(struct(col("b").as("p"), col("a").as("q"))).as("e"))
      .select(col("e.p").as("p"), col("e.q").as("q"))
    val cand = oriented
      .join(adj.select(col("u").as("p"), col("w")), Seq("p"))
      .filter(col("w") =!= col("q"))
    val closed = cand.join(union,
      least(col("q"), col("w")) === col("a") &&
        greatest(col("q"), col("w")) === col("b"), "left_semi")
    val freshMark = fresh.select(col("a").as("fa"), col("b").as("fb"))
    val marked = closed
      .join(freshMark.withColumn("m1", lit(1)),
        least(col("p"), col("w")) === col("fa") &&
          greatest(col("p"), col("w")) === col("fb"), "left")
      .drop("fa", "fb")
      .join(freshMark.select(col("fa"), col("fb")).withColumn("m2", lit(1)),
        least(col("q"), col("w")) === col("fa") &&
          greatest(col("q"), col("w")) === col("fb"), "left")
      .select((lit(1L) + coalesce(col("m1"), lit(0)).cast("long") +
        coalesce(col("m2"), lit(0)).cast("long")).as("k"))
    val deltaTri = marked.groupBy(col("k")).agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(expr("c div k")), lit(0L)).as("new_triangles"))
    fresh.agg(count(lit(1)).as("n_new_edges"))
      .crossJoin(broadcast(deltaTri))
  }

  // ---------------- persisted graph-census store (incremental graph)

  /** The graph family's persisted store: canonical undirected edges
    * under `path/edges` (disjoint epochs — appends dedup against the
    * store first) and an EXACT triangle census under `path/census`
    * (one `(n_edges, n_triangles)` partial per epoch, additive fold
    * by the [[incrementalTriangles]] identity). The census is
    * maintained without ever recounting the stored graph: each batch
    * pays only for the triangles it touches, and the summed partials
    * equal the from-scratch count bit for bit (q181's oracle).
    *
    * Replay safety is the cleaning-sink pattern: an append EXCLUDES
    * its own epoch from the stored-edges read, so a re-delivered
    * batch recomputes the identical partial and the epoch-scoped
    * dynamic overwrite rewrites it in place — at-least-once delivery
    * can never double-count a triangle. */
  private[graft] def censusMeta: IndexMeta = IndexMeta(censusStore.name)

  /** Two substores: `census` partials sum (compacted first, and the
    * stats compaction reports) and `edges` rows are disjoint across
    * epochs (identity fold — bounds the file count). Erasing NODES
    * filters every edge touching a victim and REBUILDS the census from
    * the retained edges (a triangle count cannot drop per node: a
    * victim's triangles also counted its retained co-members). */
  private[operators] val censusStore = StoreFamily("graph_census", Seq(
    StoreFamily.substore("census", _ => p =>
      p.agg(coalesce(sum(col("n_edges")), lit(0L)).as("n_edges"),
        coalesce(sum(col("n_triangles")), lit(0L)).as("n_triangles")),
      StoreFamily.Derived("edges", p => censusOf(p.select(col("a"), col("b"))))),
    StoreFamily.substore("edges", _ => identity,
      StoreFamily.Filter(_ => Seq("a", "b")))), reports = "census")

  private def censusOf(canonEdges: DataFrame): DataFrame =
    triangleCount(canonEdges.select(col("a").as("src"), col("b").as("dst")))
      .select(col("n_edges"), col("n_triangles"))

  /** Bootstrap: canonical edges + one full-count census partial. */
  def triangleCensusWrite(edges: DataFrame, path: String): Unit = {
    // canonicalize ONCE: the edges bootstrap and the census bootstrap
    // are separate write ACTIONS, so without the checkpoint each
    // re-ran the dedup shuffle; the two bootstraps are independent
    // writes to different substores and overlap (guide §2.6)
    val canon = org.apache.spark.sql.graftbridge.Bridge.freshLeaf(
      canonUndirected(edges).localCheckpoint(true))
    try Par.concurrently(
      () => EpochIndex.bootstrap(canon, s"$path/edges"),
      () => EpochIndex.bootstrap(censusOf(canon), s"$path/census"))
    finally org.apache.spark.sql.graftbridge.Bridge.unpersistCheckpoint(canon)
    IndexMeta.write(edges.sparkSession, path, censusMeta)
  }

  /** Append one edge batch: dedup against the store, count only the
    * triangles the fresh edges create, land edges + census partial
    * under the same epoch name (idempotent per epoch). */
  def triangleCensusAppend(spark: org.apache.spark.sql.SparkSession,
                           path: String, batch: DataFrame,
                           epoch: String): Unit = {
    IndexMeta.check(spark, path, censusMeta)
    val stored = EpochIndex.read(spark, s"$path/edges",
      excludeEpoch = Some(epoch), bootstrapName = "triangleCensusWrite")
      .select(col("a"), col("b"))
    // checkpoint: the fresh set feeds BOTH the delta count and the
    // edges append — one computation, and the append cannot race the
    // stored-edges read it was derived from
    val fresh = canonUndirected(batch)
      .join(stored, Seq("a", "b"), "left_anti")
      .localCheckpoint(true)
    try {
      val stats = incrementalTriangles(
        stored.select(col("a").as("src"), col("b").as("dst")),
        fresh.select(col("a").as("src"), col("b").as("dst")))
        .select(col("n_new_edges").as("n_edges"),
          col("new_triangles").as("n_triangles"))
      EpochIndex.append(stats, s"$path/census", epoch)
      EpochIndex.append(fresh, s"$path/edges", epoch)
    } finally org.apache.spark.sql.graftbridge.Bridge.unpersistCheckpoint(fresh)
  }

  /** The census: one row `(n_edges, n_triangles)` over everything
    * ever appended — summed partials, never a recount. */
  def triangleCensusRead(spark: org.apache.spark.sql.SparkSession,
                         path: String): DataFrame = {
    IndexMeta.check(spark, path, censusMeta)
    EpochIndex.read(spark, s"$path/census",
      bootstrapName = "triangleCensusWrite")
      .agg(coalesce(sum(col("n_edges")), lit(0L)).as("n_edges"),
        coalesce(sum(col("n_triangles")), lit(0L)).as("n_triangles"))
  }
}
