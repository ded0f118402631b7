package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TopK

/** Web-curation operators: URL host / registered-domain extraction
  * and deterministic per-domain document caps — the RefinedWeb /
  * CCNet-style "no single site dominates the corpus" stage that runs
  * right after URL-level dedup in a web-scale training-data pipeline.
  *
  * Reference scope: the reference pipeline has no web-curation stage —
  * this is north-star surface (training-data curation) beyond parity.
  *
  * Scale shape: the cap is NOT a `row_number() OVER (PARTITION BY
  * domain)` — that window sorts each domain's rows in one task, and at
  * 100 TB a mega-domain (e.g. a blog platform contributing 1% of the
  * corpus) becomes a single straggler task holding billions of rows.
  * Instead the kept set is a bounded-heap aggregation ([[TopK]]):
  * every scan partition reduces each domain to ≤ cap candidates
  * map-side, the shuffle carries ≤ cap × partitions tiny rows per
  * domain, and the merge is O(cap log cap). Same deterministic result,
  * no corpus-sized sort, no skew task.
  */
object Curation {

  /** Hostname of a URL: the authority with scheme, userinfo, port,
    * path, query and fragment stripped, lowercased. Bracketed IPv6
    * hosts come back without the brackets. Strings without a
    * `scheme://` prefix yield ''. Pure regexp — codegen'd, scan-speed,
    * and replayable verbatim by any engine with RE2-class regex. */
  def urlHost(url: Column): Column = {
    // bracketed (IPv6) authority first: the host contains ':', which
    // the plain pattern treats as the port delimiter
    val bracketed = regexp_extract(url,
      "^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?\\[([^\\]]*)\\]", 1)
    val plain = regexp_extract(url,
      "^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]*)", 1)
    lower(when(length(bracketed) > 0, bracketed).otherwise(plain))
  }

  /** Multi-part public suffixes recognized by [[registeredDomain]].
    * A deliberately small, documented subset of the public-suffix
    * list — the full PSL is a versioned external artifact; callers
    * with one ship it through the `extraSuffixes` parameter. */
  val MultiPartSuffixes: Seq[String] = Seq(
    "co.uk", "org.uk", "ac.uk", "gov.uk", "co.jp", "com.au", "com.br",
    "co.in", "com.cn", "co.kr", "com.mx", "com.tr", "co.za")

  /** Registered domain ("site") of a hostname: the last two labels,
    * or the last three when the last two form a known multi-part
    * public suffix (`bbc.co.uk`, not `co.uk`). Hosts with fewer
    * labels (bare TLDs, IPv4/IPv6 literals, localhost) pass through
    * unchanged — a cap keyed on them groups exact-host. */
  def registeredDomain(host: Column,
                       extraSuffixes: Seq[String] = Nil): Column = {
    val parts = split(host, "\\.")
    val n = size(parts)
    val lastTwo = concat_ws(".", element_at(parts, -2), element_at(parts, -1))
    val suffixes = (MultiPartSuffixes ++ extraSuffixes).map(lit(_))
    when(n >= 3 && lastTwo.isin(suffixes: _*),
      concat_ws(".", element_at(parts, -3), element_at(parts, -2),
        element_at(parts, -1)))
      .when(n >= 2, lastTwo)
      .otherwise(host)
  }

  /** Planted host/URL mix for the oracle-pinned catalog query (q127):
    * exercises scheme case, userinfo, ports, query/fragment suffixes,
    * multi-part public suffixes, a single-label host and an IPv6
    * literal — every branch of [[urlHost]] + [[registeredDomain]]. */
  val DemoHosts: Seq[String] = Seq(
    "https://News.Example.co.uk:443/front",
    "http://blog.example.co.uk/posts?page=2",
    "https://www.sample.com/x?q=1",
    "http://media.sample.com/y#frag",
    "https://api.sample.com:8443/v1",
    "http://user:pw@shop.example.com.au:8080/cart",
    "https://cdn.net/assets",
    "http://[2001:db8::1]:8443/api")

  /** 52-bit order key from md5 of the id: the first 13 hex chars as a
    * long. 52 bits fit a Double EXACTLY (IEEE mantissa), so the key
    * survives the TopK aggregator's Double score unchanged, and the
    * ordering is replayable in any engine as
    * `('0x' || substr(md5(id), 1, 13))::BIGINT`. */
  private[operators] def hashOrderKey(id: Column): Column =
    conv(substring(md5(id.cast("string").cast("binary")), 1, 13), 16, 10)
      .cast("long")

  /** Deterministic per-key cap: keep at most `maxPerKey` rows per key,
    * chosen by smallest md5-derived order key (id tiebreak) — an
    * unbiased, reproducible "which N docs from this domain survive"
    * that every run, retry and engine answers identically (a rand()
    * cap reshuffles survivors per run — silent train/test leakage).
    *
    * Output: one row per KEPT (key, id) with `rk` (1 = first kept).
    * Callers keep the winners with a semi join on the id, which stays
    * skew-free: the kept set is ≤ cap rows per domain by construction.
    *
    * @param key  grouping column (typically [[registeredDomain]])
    * @param id   unique row id (long); ordering hashes THIS
    */
  def capPerKey(df: DataFrame, key: Column, id: Column,
                maxPerKey: Int): DataFrame = {
    require(maxPerKey > 0, "maxPerKey must be > 0")
    // TopK keeps the HIGHEST scores: negate the 52-bit hash key so
    // "smallest hash" wins; integers ≤ 2^52 negate exactly in a Double
    capBy(df, key, id, maxPerKey, -hashOrderKey(id).cast("double"))
  }

  /** Arrival-order cap: keep the FIRST `maxPerKey` rows per key by
    * ascending id (monotonic ingest ids = arrival order — the same
    * append-only contract the incremental dedup families document).
    * This is the cap shape that COMPOSES across batches: a later
    * batch's keep decision needs only how many rows each key has
    * already seen ([[incrementalCapPerKey]]), where [[capPerKey]]'s
    * hash rank would let a later arrival displace an already-
    * published survivor. Same bounded-heap scale shape. */
  def capPerKeyArrival(df: DataFrame, key: Column, id: Column,
                       maxPerKey: Int): DataFrame = {
    require(maxPerKey > 0, "maxPerKey must be > 0")
    // ids ≤ 2^52 negate exactly in a Double (hashOrderKey contract)
    capBy(df, key, id, maxPerKey, -id.cast("double"))
  }

  /** Quality-ranked per-key cap: keep the `maxPerKey` HIGHEST-scored
    * rows per key (ties: smaller id) — "no site dominates, and what
    * survives is each site's best", the form a curation run uses once
    * a quality/authority score exists (the md5 cap is unbiased, the
    * arrival cap is first-come; this one is merit). Same bounded-heap
    * shape as the other caps — never a per-key window sort. Round
    * the score first if it must rank engine-independently. */
  def capPerKeyByScore(df: DataFrame, key: Column, id: Column,
                       score: Column, maxPerKey: Int): DataFrame = {
    require(maxPerKey > 0, "maxPerKey must be > 0")
    capBy(df, key, id, maxPerKey, score.cast("double"))
  }

  private def capBy(df: DataFrame, key: Column, id: Column,
                    maxPerKey: Int, score: Column): DataFrame =
    df.select(key.as("_key"), score.as("_s"), id.cast("long").as("_id"))
      // a NULL id would crash the typed aggregator's non-nullable
      // (Double, Long) encoder; rows without an id can't be ranked
      .filter(col("_id").isNotNull)
      .groupBy(col("_key"))
      .agg(TopK.top_k(maxPerKey)(col("_s"), col("_id")).as("kept"))
      .select(col("_key").as("key"),
        posexplode(col("kept")).as(Seq("_pos", "_ki")))
      .select(col("key"), col("_ki._2").as("id"),
        (col("_pos") + 1).cast("long").as("rk"))

  // ----------------------- incremental caps vs persisted count index

  /** Per-key TOTAL row counts — the persisted state incremental caps
    * probe. Deliberately raw totals, not kept counts: a batch row's
    * global arrival rank is (prior total) + (rank within the batch),
    * so raw counts make the fold a plain associative SUM — epoch
    * partials compose in any order, kept counts would not (each
    * epoch's keeps depend on every earlier epoch). One fixed-width
    * row per key, never the documents: the 100 TB corpus persists
    * megabytes. */
  def capCountIndex(df: DataFrame, key: Column, id: Column): DataFrame =
    df.select(key.as("key"), id.cast("long").as("_id"))
      .filter(col("_id").isNotNull)
      .groupBy(col("key")).agg(count(lit(1)).as("n"))

  private def capCountFold(partials: DataFrame): DataFrame =
    partials.groupBy(col("key")).agg(sum(col("n")).as("n"))

  /** Erasure subtracts the victims' own [[capCountIndex]] partial —
    * exact and O(victims), never a corpus re-count; keys only the
    * victims contributed to leave the disk. RTBF caveat the caller
    * owns: counts already CONSUMED by a published cap decision are
    * not undone — erasure fixes what FUTURE batches rank against;
    * re-opening past quota slots is a re-publication decision, not an
    * index operation. */
  private[operators] val capStore = StoreFamily.flat("domain_cap_counts",
    _ => capCountFold, StoreFamily.Subtract(Seq("n")))

  /** A stored per-key count index (`domain_cap_counts`); a read sums
    * the per-key totals across the compacted base and live epochs.
    * `keyName` names the key derivation (e.g. "psl_registered_domain")
    * — the manifest guard against probing with a DIFFERENT domain
    * definition than the index was built under, the one parameter a
    * count table cannot reveal about itself. The cap itself is NOT
    * index state: any cap probes the same counts. */
  def capCounts(keyName: String): StoreFamily.Bound =
    capStore.bind("keyName" -> keyName)

  /** Batch arrival-order cap against persisted history:
    * `incrementalCapPerKey(batch, …, priorCounts)` ≡
    * [[capPerKeyArrival]] over (history ∪ batch) restricted to the
    * batch — EXACT under the append-only contract (every history id
    * precedes every batch id), because a batch row's global rank is
    * prior + its batch rank. The batch reduces to ≤ `maxPerKey`
    * candidates per key map-side before the prior counts (one row
    * per key) join on — the corpus is never re-read, and the join's
    * both sides are already tiny. Output ranks are GLOBAL
    * (`rk` = prior + batch rank), so survivors publish with their
    * final quota positions. */
  def incrementalCapPerKey(batch: DataFrame, key: Column, id: Column,
                           maxPerKey: Int,
                           priorCounts: DataFrame): DataFrame = {
    require(maxPerKey > 0, "maxPerKey must be > 0")
    capPerKeyArrival(batch, key, id, maxPerKey)
      .join(priorCounts.select(col("key"), col("n").as("_prior")),
        Seq("key"), "left")
      .withColumn("_prior", coalesce(col("_prior"), lit(0L)))
      .filter(col("_prior") + col("rk") <= maxPerKey)
      .select(col("key"), col("id"),
        (col("_prior") + col("rk")).as("rk"))
  }

  /** Token-budget selection: per source, take documents in QUALITY
    * order until the source's token budget is spent — the "fill 30B
    * tokens of web, best-first" mixture-construction step that pairs
    * with [[Splits.mixtureSample]] (which fills budgets in a
    * deterministic-SHUFFLE order; this variant fills them
    * best-first). A document is selected iff the running token total
    * THROUGH it stays ≤ the budget, in (score desc, id asc) order —
    * a prefix cut, so the budget is never exceeded and the selected
    * set is exactly the best-scoring affordable prefix.
    *
    * Scale shape — no per-source global sort: scores split into
    * descending BANDS of width `bandWidth` whose order IS the
    * selection order; per-(source, band) token masses (one tiny
    * aggregate, ≤ sources × maxBands rows, [[BoundedRead]]-enforced)
    * prefix-sum on the driver into exact global offsets; bands whose
    * offset already exceeds the budget are pruned BEFORE any sort,
    * and the remaining window sort is per-band — the
    * [[Splits.mixtureSample]] shard pattern keyed by score instead
    * of md5.
    *
    * Scores must be non-negative longs (a scaled quality score) and
    * non-null — enforced loudly, since a null/negative score has no
    * defined place in the descending band order.
    *
    * @param budgets per-source token budgets; sources without an
    *                entry are dropped (not defaulted)
    * @return input rows that made the cut, plus `cum_tokens` — the
    *         running per-source total through this row */
  def budgetedSelectByScore(df: DataFrame, sourceCol: String, idCol: String,
                            tokenCol: String, scoreCol: String,
                            budgets: Map[String, Long],
                            bandWidth: Long = 256L,
                            maxBands: Int = 4096): DataFrame = {
    require(budgets.nonEmpty && budgets.values.forall(_ >= 0L),
      "budgets must be non-negative")
    require(bandWidth >= 1L, s"bandWidth must be >= 1: $bandWidth")
    import org.apache.spark.sql.expressions.Window
    val base = org.apache.spark.sql.graftbridge.Bridge.freshLeaf(df
      .withColumn("_budget", element_at(typedLit(budgets), col(sourceCol)))
      .filter(col("_budget").isNotNull && col("_budget") > 0)
      .withColumn("_score", when(col(scoreCol).isNull ||
        col(scoreCol) < 0 || col(idCol).isNull,
        raise_error(lit("budgetedSelectByScore: scores must be non-null " +
          "and non-negative and ids non-null — the deterministic " +
          "(score desc, id) selection order is undefined otherwise")))
        .otherwise(col(scoreCol).cast("long")))
      // ascending band order == descending score-range order (scores
      // are non-negative, so div truncation is floor)
      .withColumn("_band", -expr(s"_score div ${bandWidth}L"))
      // checkpoint BEFORE the driver offset collect (the
      // mixtureSample/Percentiles boundary pattern): offsets and the
      // window pass below must read the SAME materialized rows
      .localCheckpoint(true))
    val masses = BoundedRead.boundedDriverRead(
      base.groupBy(col(sourceCol), col("_band"))
        .agg(sum(coalesce(col(tokenCol).cast("long"), lit(0L))).as("_mass")),
      maxRows = budgets.size * maxBands,
      what = "Curation.budgetedSelectByScore band masses",
      boundWhy = s"budgeted sources (${budgets.size}) x maxBands " +
        s"($maxBands) possible (source, band) groups")
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val offsets: Map[String, Long] = masses
      .groupBy(_._1)
      .flatMap { case (src, rows) =>
        val sorted = rows.sortBy(_._2)
        val prefix = sorted.scanLeft(0L)(_ + _._3)
        sorted.map(_._2).zip(prefix).map { case (b, off) => s"$src|$b" -> off }
      }
    base
      .withColumn("_off", element_at(typedLit(offsets),
        concat_ws("|", col(sourceCol), col("_band"))))
      // band-level pruning: a band starting PAST the budget
      // contributes nothing — drop before the sort. <= not <: a
      // zero-token row at the band head still satisfies cum <= budget
      .filter(col("_off") <= col("_budget"))
      .withColumn("_cum", col("_off") + sum(coalesce(
        col(tokenCol).cast("long"), lit(0L))).over(
        Window.partitionBy(col(sourceCol), col("_band"))
          .orderBy(col("_score").desc, col(idCol))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("_cum") <= col("_budget"))
      .select(df.columns.map(col) :+ col("_cum").as("cum_tokens"): _*)
  }

  /** Per-document pipeline attrition: for every document in the
    * universe, the FIRST stage that dropped it (null = survived the
    * whole pipeline) — the "why is my document gone" record-level
    * provenance every production curation pipeline ends up logging,
    * and the per-stage funnel report in one derived aggregate
    * (`groupBy(dropped_at).count`). Debugging a 100 TB curation run
    * without this means re-running the pipeline stage by stage for
    * every complaint.
    *
    * Stages are the pipeline's stage OUTPUTS in order (id column
    * each); a document's `dropped_at` is the first stage whose output
    * no longer contains it. Outputs of a real pipeline are nested
    * subsets, but the operator doesn't require it — "first missing in
    * stage order" is well-defined regardless (a doc absent from stage
    * i but present in stage i+1 still reports stage i: it WAS dropped
    * there; reappearance is the bug this report would surface).
    *
    * Scale shape: one left join per stage on the id (each stage
    * output carries only ids — co-partitioned narrow shuffles that
    * AQE coalesces; no stage's payload moves), then a scan-side
    * CASE. K stages = K joins over id-only tables, not K passes over
    * the corpus text. */
  def attrition(universe: DataFrame, idCol: String,
                stages: Seq[(String, DataFrame)]): DataFrame = {
    require(stages.nonEmpty, "attrition needs at least one stage")
    require(stages.map(_._1).distinct.size == stages.size,
      s"duplicate stage names: ${stages.map(_._1)}")
    // Flag columns are POSITIONAL (_in_0.._in_k), never interpolated
    // from the caller's stage names: a name containing '.' or a
    // backtick would otherwise resolve as a nested-field path (or not
    // at all). The name appears only as the emitted dropped_at VALUE.
    val indexed = stages.zipWithIndex
    val flagged = indexed.foldLeft(universe.select(col(idCol))) {
      case (acc, ((_, stage), i)) =>
        acc.join(stage.select(col(idCol)).distinct()
          .withColumn(s"_in_$i", lit(true)), Seq(idCol), "left")
    }
    val firstMissing = indexed.foldRight(lit(null).cast("string")) {
      case (((name, _), i), rest) =>
        when(col(s"_in_$i").isNull, lit(name)).otherwise(rest)
    }
    flagged.select(col(idCol), firstMissing.as("dropped_at"))
  }

  /** CCNet-style rank tiers: per group, bucket rows into `nBuckets`
    * equal-rank slices of the score order — the head/middle/tail
    * perplexity split (keep head, sample middle, drop tail) that
    * filters RELATIVE to each source's own distribution instead of
    * one absolute threshold a heterogeneous corpus can't share.
    *
    * `tier = ((rank − 1) · nBuckets) div n` — pure integer
    * arithmetic on the rank, NOT interpolated quantile thresholds:
    * a value-threshold split puts every document whose score sits
    * within one ulp of the cut at the mercy of engine summation
    * order, while rank arithmetic is exactly replayable (ties broken
    * by `tieCol`). Tier sizes differ by at most one row.
    *
    * Scale shape: ranks from [[Rolling.sequenceByKey]] (bucket-local
    * windows + broadcast offsets — no one-task source sort); group
    * sizes join back as a broadcast aggregate.
    *
    * @param shardBucket monotone-in-score coarse shard for the rank
    *                    windows (e.g. `expr("score div 100")`)
    * @param skewGuardFrac the [[Rolling.sequenceByKey]] skew guard,
    *                      armed by default since round 13 — a score
    *                      distribution that legitimately concentrates
    *                      > 50% of a ≥ 10k-row group in one shard
    *                      (a spiky difficulty metric) can opt out
    *                      with `None` after confirming the bucket is
    *                      the intended tradeoff
    * @return df columns + `tier` (0-based, 0 = lowest scores) */
  def rankTiers(df: DataFrame, groupCols: Seq[String], score: Column,
                tieCol: String, shardBucket: Column, nBuckets: Int,
                as: String = "tier",
                skewGuardFrac: Option[Double] = Some(0.5)): DataFrame = {
    require(nBuckets >= 1, s"nBuckets must be >= 1: $nBuckets")
    require(groupCols.nonEmpty,
      "rankTiers needs at least one group column (for a global split, " +
        "add a literal group: df.withColumn(\"g\", lit(1)))")
    val ranked = Rolling.sequenceByKey(df, groupCols,
      orderCols = Seq(score, col(tieCol)), bucket = shardBucket,
      as = "_rt_rank", skewGuardFrac = skewGuardFrac)
    val counts = df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("_rt_n"))
    ranked.join(broadcast(counts), groupCols)
      .withColumn(as, expr(s"((_rt_rank - 1) * $nBuckets) div _rt_n"))
      .select(df.columns.map(col) :+ col(as): _*)
  }
}
