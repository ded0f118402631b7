package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.operators.{AsOfJoin, Audit, BandJoin, Cardinality, Centrality, Chunking, Contamination, Curation, Dedup, Diff, GapFill, HeavyHitters, Incremental, IntervalExpand, Layout, LmFilter, Maintenance, Merge, Multimodal, Packing, Par, Percentiles, Profile, Psl, Quality, Relevance, Rolling, SampleSketch, Scd, Similarity, Skew, Splits, Traversal}
import graft.functions.{Bpe, TextFunctions}

/** The operator catalog: one named query per SURVEY.md §2 operator
  * (plus the north-star dedup/similarity/text/multimodal families),
  * each paired with the ANSI-SQL DuckDB oracle the driver hash-
  * compares against.
  *
  * Determinism rules used throughout (driver compares by value hash
  * with columns sorted by name):
  *  - double aggregates are `round(…, n)` in BOTH engines — double
  *    summation order differs between engines, rounding absorbs the
  *    ulp-level drift;
  *  - any top-k ranks on the ROUNDED measure with an id tiebreak, so
  *    set membership is engine-independent;
  *  - no current_date()/now() anywhere — date bounds derive from the
  *    data.
  */
case class CatalogQuery(
    name: String,
    description: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Catalog {

  private def q(name: String, description: String, oracle: String)(
      fn: (SparkSession, String) => DataFrame): CatalogQuery =
    CatalogQuery(name, description, fn, Some(oracle))

  private def noOracle(name: String, description: String)(
      fn: (SparkSession, String) => DataFrame): CatalogQuery =
    CatalogQuery(name, description, fn, None)

  /** Stage checkpoint barrier for multi-reference query builders
    * (q99/q100 — the same primitive Dedup.connectedComponents uses
    * per round): materialize a subtree ONCE so the branches that
    * reference it read the checkpoint instead of re-deriving the
    * chain, with `freshLeaf` resetting the inherited size stats
    * (see Bridge.freshLeaf for why a bare localCheckpoint compounds
    * them). PlanAuditSpec pins the resulting plan shapes. */
  private def stageBarrier(df: DataFrame): DataFrame =
    org.apache.spark.sql.graftbridge.Bridge.freshLeaf(df.localCheckpoint(true))

  /** Session-scoped scratch root for queries whose SUBJECT is a
    * materialized store (q130's zone-mapped copy, q143's epoch
    * index): under the JVM temp dir, suffixed with the Spark
    * application id so two drivers running the catalog concurrently
    * never race on each other's scratch tables. Cleared for this
    * invocation — a fresh tempdir per run would accrete one corpus
    * copy per bench pass, deleteOnExit never removes non-empty dirs,
    * and a store left by an earlier run in the same application would
    * change what the query writes. */
  private def freshScratch(s: SparkSession, name: String): String = {
    val root = s"${System.getProperty("java.io.tmpdir")}/graft-scratch-" +
      s"${s.sparkContext.applicationId}/$name"
    graft.sources.Fs.deleteRecursively(s, root)
    root
  }

  /** Shared incremental-equals-full scaffold for q93/q97/q98: the
    * full-corpus pair set restricted to pairs touching the batch must
    * equal the incremental probe's output — emitted as (batch size,
    * sets_match) for the oracle to pin. `batchIds` carries one column
    * named id_a. */
  private def restrictedEquivalence(batch: DataFrame, batchIds: DataFrame,
                                    full: DataFrame, incremental: DataFrame,
                                    countName: String): DataFrame = {
    // NOTE (r19 A/B): `full` feeds two semi-joins and `touching`/
    // `incremental` feed both anti-join directions, but materializing
    // them behind stageBarrier made the family 15-50% SLOWER (q93
    // 7.0→10.4 s scoped min-of-3, control +7%): AQE's runtime stage
    // reuse already dedupes the canonically-equal subtrees within the
    // one final job, and eager checkpoints serialize what the single
    // job overlaps. Leave the shared subtrees to AQE.
    val touching = full
      .join(batchIds, Seq("id_a"), "left_semi")
      .unionByName(full.join(batchIds.select(col("id_a").as("id_b")),
        Seq("id_b"), "left_semi"))
      .distinct()
    val missed = touching.join(incremental, Seq("id_a", "id_b"), "left_anti")
      .agg(count(lit(1)).as("n_missed"))
    val spurious = incremental.join(touching, Seq("id_a", "id_b"), "left_anti")
      .agg(count(lit(1)).as("n_spurious"))
    batch.agg(count(lit(1)).as(countName))
      .crossJoin(broadcast(missed))
      .crossJoin(broadcast(spurious))
      .select(col(countName),
        (col("n_missed") === 0 && col("n_spurious") === 0).as("sets_match"))
  }

  /** The source-blocked, recall-oriented MinHash banding of
    * q20/q42/q93/q137/q189: 32 bands of 2 rows over unigram shingles,
    * candidate-only (an exact verifier owns the 0.5 cut), the skew
    * guard above the largest real clique. */
  private val sourceMinHash = Dedup.MinHash(numHashes = 64, bands = 32,
    shingleK = 1, threshold = 0.0, maxBucket = 10000,
    blockCol = Some("source"))

  // ---------------------------------------------------------------- A3/A1/A2
  val q1Agg = q("q1_agg",
    "Grouped SUM/AVG/COUNT (A2,A3) — TPC-H Q1-shaped pricing summary",
    """SELECT l_returnflag, l_linestatus,
      |       round(sum(l_quantity), 4) AS sum_qty,
      |       round(sum(l_extendedprice), 4) AS sum_base_price,
      |       round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
      |       round(avg(l_discount), 6) AS avg_disc,
      |       count(*) AS n_rows
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 4).as("sum_qty"),
        round(sum("l_extendedprice"), 4).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("sum_disc_price"),
        round(avg("l_discount"), 6).as("avg_disc"),
        count(lit(1)).as("n_rows"))
  }

  // ---------------------------------------------------------------- P2/P3
  val q2FilterProject = q("q2_filter_project",
    "Typed rename/cast projection + equality filter (P2, P3)",
    """SELECT l_orderkey AS order_id, l_linenumber AS line_no,
      |       CAST(l_quantity AS BIGINT) AS qty,
      |       round(l_extendedprice * (1 - l_discount), 4) AS net_price
      |FROM lineitem WHERE l_returnflag = 'R'""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_returnflag") === "R")
      .select(
        col("l_orderkey").as("order_id"),
        col("l_linenumber").as("line_no"),
        col("l_quantity").cast("long").as("qty"),
        round(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("net_price"))
  }

  // ---------------------------------------------------------------- P4/A1/S3
  val q3HwmFilter = q("q3_hwm_filter",
    "Incremental high-water-mark filter: scalar subquery vs self (P4, A1, S3)",
    """SELECT l_orderkey, l_linenumber, l_shipdate
      |FROM lineitem
      |WHERE l_shipdate > (SELECT max(o_orderdate) FROM orders)""".stripMargin) { (s, d) =>
    val li = Tables.lineitem(s, d)
    val hwm = Incremental.highWaterMark(Tables.orders(s, d), "o_orderdate")
    // an absent HWM (empty/all-null orders) means nothing is newer —
    // return empty like the oracle's NULL comparison, don't crash
    hwm.map(h => li.filter(col("l_shipdate") > lit(h)))
      .getOrElse(li.limit(0))
      .select("l_orderkey", "l_linenumber", "l_shipdate")
  }

  // ---------------------------------------------------------------- P1
  val q4StarPlus = q("q4_star_plus",
    "Star-plus projection: pass-through + derived event date (P1)",
    """SELECT event_id, user_id, event_type, value, props,
      |       CAST(ts AS DATE) AS event_date
      |FROM events""".stripMargin) { (s, d) =>
    Tables.events(s, d).select(
      col("event_id"), col("user_id"), col("event_type"), col("value"),
      col("props"), to_date(col("ts")).as("event_date"))
  }

  // ---------------------------------------------------------------- P5
  val q5NullFilter = q("q5_null_filter",
    "IS NULL predicate over a derived nullable column (P5)",
    """SELECT event_id, user_id, value
      |FROM events WHERE nullif(event_type, 'error') IS NULL""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .filter(nullif(col("event_type"), lit("error")).isNull)
      .select("event_id", "user_id", "value")
  }

  // ---------------------------------------------------------------- J1
  val q6BroadcastJoin = q("q6_broadcast_join",
    "Small-dimension broadcast equi-joins + grouped agg (J1, A3)",
    """SELECT r_name, n_name,
      |       count(*) AS n_customers,
      |       round(sum(c_acctbal), 4) AS total_acctbal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name""".stripMargin) { (s, d) =>
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(count(lit(1)).as("n_customers"),
        round(sum("c_acctbal"), 4).as("total_acctbal"))
  }

  // ---------------------------------------------------------------- J2
  val q7FactJoin = q("q7_fact_join",
    "Fact-to-fact equi join + grouped agg (J2, A3)",
    """SELECT o_orderpriority,
      |       count(*) AS n_items,
      |       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"))
  }

  // ---------------------------------------------------------------- J3 (explode rewrite)
  val q8IntervalExpand = q("q8_interval_expand",
    "Interval expansion to one row per day — explode(sequence) rewrite of the cross-join range filter (J3, G1)",
    """SELECT as_of_date, count(*) AS n_active,
      |       round(sum(o_totalprice), 4) AS open_value
      |FROM (SELECT o_totalprice,
      |             unnest(generate_series(CAST(o_orderdate AS DATE),
      |                                    CAST(o_orderdate AS DATE) + CAST(o_orderkey % 30 AS INTEGER),
      |                                    INTERVAL 1 DAY))::DATE AS as_of_date
      |      FROM orders)
      |GROUP BY as_of_date""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d).select(
      col("o_totalprice"),
      to_date(col("o_orderdate")).as("start_date"),
      date_add(to_date(col("o_orderdate")), (col("o_orderkey") % 30).cast("int")).as("end_date"))
    IntervalExpand.expandDays(o, col("start_date"), col("end_date"))
      .groupBy("as_of_date")
      .agg(count(lit(1)).as("n_active"),
        round(sum("o_totalprice"), 4).as("open_value"))
  }

  // ---------------------------------------------------------------- J4 (half-open range join vs spine)
  val q9RangeJoin = q("q9_range_join",
    "Half-open date-spine range join, rewritten to linear explode (J4, P6, G1)",
    """WITH spine AS (
      |  SELECT unnest(generate_series((SELECT min(CAST(o_orderdate AS DATE)) FROM orders),
      |                                (SELECT max(CAST(o_orderdate AS DATE)) FROM orders),
      |                                INTERVAL 1 DAY))::DATE AS date_day)
      |SELECT s.date_day, count(*) AS n_active, round(sum(o.o_totalprice), 4) AS open_value
      |FROM spine s
      |JOIN orders o ON s.date_day >= CAST(o.o_orderdate AS DATE)
      |             AND s.date_day < CAST(o.o_orderdate AS DATE) + 7
      |GROUP BY s.date_day""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d).select(
      col("o_totalprice"), to_date(col("o_orderdate")).as("od"))
    val maxDate = o.agg(max("od")).head().get(0)
    // explode rewrite of the non-equi join: [od, od+7) ∩ [min, max]
    IntervalExpand.expandDaysHalfOpen(o, col("od"), date_add(col("od"), 7), "date_day")
      .filter(col("date_day") <= lit(maxDate))
      .groupBy("date_day")
      .agg(count(lit(1)).as("n_active"),
        round(sum("o_totalprice"), 4).as("open_value"))
  }

  // ---------------------------------------------------------------- J5/G2 + distinct agg
  val q10Tokens = q("q10_tokens",
    "Lateral array explode of a tokenized column + distinct agg (J5, G2)",
    """SELECT token, count(*) AS n, count(DISTINCT doc_id) AS n_docs
      |FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
      |      FROM documents)
      |GROUP BY token""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n"), countDistinct("doc_id").as("n_docs"))
  }

  // ---------------------------------------------------------------- A5/A6 (array HOFs)
  val q11ArrayHof = q("q11_array_hof",
    "Correlated array aggregation + first-element subquery as HOFs (A5, A6, O3)",
    """SELECT vec_id,
      |       round(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE)), 'sum'), 4) AS vec_sum,
      |       round(CAST(embedding[1] AS DOUBLE), 6) AS first_val,
      |       len(embedding) AS dim
      |FROM embeddings""".stripMargin) { (s, d) =>
    val e = Tables.embeddings(s, d)
    e.select(
      col("vec_id"),
      round(aggregate(transform(col("embedding"), x => x.cast("double")),
        lit(0.0), (acc, x) => acc + x), 4).as("vec_sum"),
      // try_element_at: ANSI-mode element_at THROWS on an empty array,
      // while the oracle's embedding[1] returns NULL
      round(try_element_at(col("embedding"), lit(1)).cast("double"), 6).as("first_val"),
      size(col("embedding")).cast("long").as("dim"))
  }

  // ---------------------------------------------------------------- W1/W2 + ranking
  val q12Window = q("q12_window",
    "Window count over partition + ranked top-N per group (W1, W2)",
    """SELECT * FROM (
      |  SELECT o_orderkey,
      |         -- INTEGER casts: Spark year()/month()/row_number() emit
      |         -- 32-bit ints; DuckDB's are BIGINT — pin the engine type
      |         CAST(year(o_orderdate) AS INTEGER) AS yr,
      |         CAST(month(o_orderdate) AS INTEGER) AS mo,
      |         count(*) OVER (PARTITION BY year(o_orderdate), month(o_orderdate)) AS n_in_month,
      |         CAST(row_number() OVER (PARTITION BY year(o_orderdate), month(o_orderdate)
      |                                 ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
      |  FROM orders)
      |WHERE rn <= 5""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d)
      .withColumn("yr", year(col("o_orderdate")))
      .withColumn("mo", month(col("o_orderdate")))
    val part = Window.partitionBy(col("yr"), col("mo"))
    o.withColumn("n_in_month", count(lit(1)).over(part))
      .withColumn("rn", row_number().over(
        part.orderBy(col("o_totalprice").desc, col("o_orderkey").asc)))
      .filter(col("rn") <= 5)
      .select("o_orderkey", "yr", "mo", "n_in_month", "rn")
  }

  // ---------------------------------------------------------------- G1 + calendar semantics (W1, W2, date scalars)
  val q13Calendar = q("q13_calendar",
    "Generated calendar date spine with window-derived attributes (G1, W1, W2)",
    """WITH spine AS (
      |  SELECT unnest(generate_series((SELECT min(CAST(o_orderdate AS DATE)) FROM orders),
      |                                (SELECT max(CAST(o_orderdate AS DATE)) FROM orders),
      |                                INTERVAL 1 DAY))::DATE AS date_day)
      |SELECT date_day,
      |       -- INTEGER casts: Spark's date parts are 32-bit ints,
      |       -- DuckDB's BIGINT — pin the engine type
      |       CAST(year(date_day) AS INTEGER) AS yr,
      |       CAST(month(date_day) AS INTEGER) AS mo,
      |       CAST(day(date_day) AS INTEGER) AS day_of_month,
      |       CAST(weekofyear(date_day) AS BIGINT) AS week_of_year,
      |       CAST(floor((dayofyear(date_day)
      |                   + (dayofweek(date_trunc('year', date_day)) + 6) % 7) / 7)
      |            AS BIGINT) AS week_sunday_start,
      |       dayname(date_day) AS day_name,
      |       CAST(quarter(date_day) AS VARCHAR) AS quarter_of_year,
      |       CAST(isodow(date_day) AS INTEGER) AS iso_dow,
      |       CASE WHEN dayname(date_day) IN ('Saturday','Sunday') THEN FALSE ELSE TRUE END AS is_weekday,
      |       count(*) OVER (PARTITION BY year(date_day), month(date_day)) AS days_in_month,
      |       CASE WHEN count(*) OVER (PARTITION BY year(date_day)) = 365 THEN FALSE ELSE TRUE END AS is_leap_year
      |FROM spine""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d).select(to_date(col("o_orderdate")).as("od"))
    val bounds = o.agg(min("od").as("lo"), max("od").as("hi")).head()
    val spine = IntervalExpand.dateSpine(
      o.limit(1), lit(bounds.get(0)), lit(bounds.get(1)))
    val wMonth = Window.partitionBy(year(col("date_day")), month(col("date_day")))
    val wYear = Window.partitionBy(year(col("date_day")))
    spine.select(
      col("date_day"),
      year(col("date_day")).as("yr"),
      month(col("date_day")).as("mo"),
      dayofmonth(col("date_day")).as("day_of_month"),
      weekofyear(col("date_day")).cast("long").as("week_of_year"),
      // BigQuery Sunday-start WEEK (Models.calendar week_sunday_start):
      // both engines derive it from their own date primitives — a real
      // cross-check of the convention, not a shared formula constant
      floor((dayofyear(col("date_day")) +
        pmod(dayofweek(trunc(col("date_day"), "year")) + 5, lit(7))) / 7)
        .cast("long").as("week_sunday_start"),
      date_format(col("date_day"), "EEEE").as("day_name"),
      quarter(col("date_day")).cast("string").as("quarter_of_year"),
      (weekday(col("date_day")) + 1).as("iso_dow"),
      (!date_format(col("date_day"), "EEEE").isin("Saturday", "Sunday")).as("is_weekday"),
      count(lit(1)).over(wMonth).as("days_in_month"),
      (count(lit(1)).over(wYear) =!= 365).as("is_leap_year"))
  }

  // ---------------------------------------------------------------- U1
  val q14UnionFx = q("q14_union_fx",
    "UNION ALL of literal rows — the static FX matrix (U1)",
    """SELECT from_currency, to_currency, CAST(exchange_rate AS DOUBLE) AS exchange_rate
      |FROM (VALUES
      |  ('USD','USD',1.0), ('GBP','USD',1.27), ('EUR','USD',1.08),
      |  ('USD','GBP',0.79), ('EUR','GBP',0.85), ('GBP','EUR',1.17),
      |  ('USD','EUR',0.93), ('EUR','EUR',1.0), ('GBP','GBP',1.0))
      |AS t(from_currency, to_currency, exchange_rate)""".stripMargin) { (s, _) =>
    // the SAME literal matrix the pipeline uses — not a private copy
    // that could silently drift from Models.exchangeRates
    graft.pipeline.Models.exchangeRates(s, java.time.LocalDate.of(2024, 8, 12))
      .drop("rate_date")
  }

  // ---------------------------------------------------------------- S6 (merge)
  val q15Merge = q("q15_merge",
    "Keyed incremental MERGE: updates win, new keys insert (S6)",
    """WITH updates AS (
      |  SELECT event_id, user_id, event_type, value * 1.1 AS value FROM events WHERE event_type = 'purchase'
      |  UNION ALL
      |  SELECT -event_id - 1, user_id, event_type, value FROM events WHERE event_type = 'signup')
      |SELECT event_id, user_id, event_type, round(value, 4) AS value FROM updates
      |UNION ALL
      |SELECT e.event_id, e.user_id, e.event_type, round(e.value, 4) AS value
      |FROM events e
      |WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.event_id = e.event_id)""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d).select("event_id", "user_id", "event_type", "value")
    val upd = ev.filter(col("event_type") === "purchase")
      .withColumn("value", col("value") * 1.1)
      .unionByName(ev.filter(col("event_type") === "signup")
        // negated ids can never collide with the real (non-negative) id
        // space — a fixed +offset silently collides once ids reach it,
        // making the merge dedupe keys the oracle's UNION ALL keeps
        .withColumn("event_id", -col("event_id") - 1))
    Merge.mergeInto(ev, upd, Seq("event_id"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        round(col("value"), 4).as("value"))
  }

  // ---------------------------------------------------------------- O1 (top-k)
  val q16TopK = q("q16_topk",
    "Global ORDER BY DESC + LIMIT as deterministic top-k (O1, A3, J2)",
    """SELECT c_custkey, c_name, round(sum(o_totalprice), 4) AS revenue
      |FROM customer JOIN orders ON o_custkey = c_custkey
      |GROUP BY c_custkey, c_name
      |ORDER BY revenue DESC, c_custkey
      |LIMIT 10""".stripMargin) { (s, d) =>
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy("c_custkey", "c_name")
      .agg(round(sum("o_totalprice"), 4).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(10)
  }

  // ---------------------------------------------------------------- A4 (HAVING + scalar total)
  val q17Having = q("q17_having",
    "COUNT + ratio vs scalar-subquery total + HAVING (A4)",
    """SELECT event_type, count(*) AS n,
      |       round(count(*) * 100.0 / (SELECT count(*) FROM events), 4) AS pct
      |FROM events
      |GROUP BY event_type
      |HAVING count(*) * 100.0 / (SELECT count(*) FROM events) > 5.0""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    // scalar total via crossJoin(broadcast(agg)) — one lazy plan; a
    // driver-side ev.count() would be an extra eager full scan per
    // invocation (the q65/q72 pattern)
    val total = ev.agg(count(lit(1)).as("_total"))
    ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(total))
      .withColumn("pct", round(col("n") * 100.0 / col("_total"), 4))
      .filter(col("n") * 100.0 / col("_total") > 5.0)
      .drop("_total")
  }

  // ---------------------------------------------------------------- JSON + CASE + IN scalar functions
  val q18JsonCase = q("q18_json_case",
    "JSON extraction, CASE bands, IN-list, COALESCE (§2.9 scalar surface)",
    """SELECT event_id,
      |       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
      |       CASE WHEN value < 50 THEN 'low' WHEN value < 150 THEN 'mid' ELSE 'high' END AS band,
      |       event_type IN ('purchase', 'signup') AS is_conversion,
      |       coalesce(CAST(json_extract_string(props, '$.missing') AS BIGINT), -1) AS missing_k
      |FROM events""".stripMargin) { (s, d) =>
    Tables.events(s, d).select(
      col("event_id"),
      get_json_object(col("props"), "$.k").cast("long").as("k"),
      when(col("value") < 50, "low").when(col("value") < 150, "mid")
        .otherwise("high").as("band"),
      col("event_type").isin("purchase", "signup").as("is_conversion"),
      coalesce(get_json_object(col("props"), "$.missing").cast("long"), lit(-1L)).as("missing_k"))
  }

  // ---------------------------------------------------------------- dedup: exact
  val q19DedupExact = q("q19_dedup_exact",
    "Exact dedup by canonical-text fingerprint (north star: dedup)",
    """SELECT md5(array_to_string(regexp_extract_all(lower(text), '[a-z0-9]+'), ' ')) AS dedup_key,
      |       min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents
      |GROUP BY 1""".stripMargin) { (s, d) =>
    Dedup.exactDedupStats(Tables.documents(s, d),
      TextFunctions.fingerprint(col("text")), col("doc_id"))
  }

  // ---------------------------------------------------------------- dedup: minhash LSH (recall pinned by the oracle)
  /** The LSH candidate set itself is engine-hash-dependent, so instead
    * of emitting pairs the query emits the BOUND CHECK as data: the
    * exact-Jaccard ground-truth pair count (which DuckDB recomputes
    * independently, the q21 formulation) and a recall ≥ 99% boolean
    * computed in-engine against that ground truth. The (1−s²)^32
    * banding math (64 hashes × 32 bands) bounds the miss probability
    * at 4e-5 per true pair at s = 0.5, so recall_ok must be true; a
    * regression in band slicing, bucket collapse, or the skew guard
    * flips it to false and breaks the hash match. Both sides are
    * sub-quadratic-shape operators (blocked exact scorer, banded LSH);
    * the single-row agg attach is a broadcast, not a cartesian. */
  val q20MinHash = q("q20_minhash_lsh",
    "MinHash+LSH candidate recall >= 99% vs exact-Jaccard ground truth the oracle recomputes (north star: dedup)",
    """WITH t AS (
      |  SELECT source, doc_id,
      |         list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')) AS sh
      |  FROM documents)
      |SELECT count(*) AS n_true_pairs, TRUE AS recall_ok
      |FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
      |WHERE CASE WHEN len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) = 0 THEN 1.0
      |           ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |                / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) END >= 0.5""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      blockCol = "source", k = 1, threshold = 0.5).select("id_a", "id_b")
    val candidates = Dedup.lshPairs(docs, "doc_id", "text", sourceMinHash)
      .select("id_a", "id_b")
    val recalled = exact.join(candidates, Seq("id_a", "id_b"), "left_semi")
    exact.agg(count(lit(1)).as("n_true_pairs"))
      .crossJoin(broadcast(recalled.agg(count(lit(1)).as("n_recalled"))))
      .select(col("n_true_pairs"),
        (col("n_recalled") >= col("n_true_pairs") * 0.99).as("recall_ok"))
  }

  // ---------------------------------------------------------------- dedup: exact n-gram jaccard
  val q21Jaccard = q("q21_ngram_jaccard",
    "Exact unigram-Jaccard similar pairs within a blocking key (north star: dedup)",
    """WITH t AS (
      |  SELECT source, doc_id,
      |         list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')) AS sh
      |  FROM documents)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |       round(CASE WHEN len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) = 0 THEN 1.0
      |                  ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |                       / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) END, 4) AS jaccard
      |FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
      |WHERE CASE WHEN len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) = 0 THEN 1.0
      |           ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |                / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) END >= 0.5""".stripMargin) { (s, d) =>
    Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text",
      blockCol = "source", k = 1, threshold = 0.5)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  // ---------------------------------------------------------------- dedup: simhash (pinned by planted dups + blocked brute force)
  /** SimHash signatures are engine-seeded, so the query emits what the
    * oracle CAN pin: every 10th document is planted back as an exact
    * copy under a shifted id (identical text ⇒ identical signature ⇒
    * Hamming 0 ⇒ the 4×16-bit pigeonhole banding finds it
    * DETERMINISTICALLY), and DuckDB recomputes the planted count from
    * the table. The banding path is additionally checked in-engine
    * against a source-blocked brute-force Hamming scan (an equi join,
    * not a cartesian) — set equality both directions, emitted as a
    * boolean the oracle expects to be true. maxHamming = 3 makes the
    * pigeonhole argument exact: ≤3 differing bits touch ≤3 of 4 bands. */
  val q22SimHash = q("q22_simhash",
    "SimHash banding recovers all planted exact dups and equals blocked brute-force Hamming (north star: dedup)",
    """SELECT count(*) AS n_planted, count(*) AS n_planted_recovered,
      |       TRUE AS matches_blocked_brute
      |FROM documents WHERE doc_id % 10 = 0""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"), col("text"))
    val planted = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("source"), col("text"))
    val corpus = docs.unionByName(planted)
    val banded = Dedup.lshPairs(corpus, "doc_id", "text",
      Dedup.SimHash(maxHamming = 3))
      .select("id_a", "id_b")
    val sigs = corpus.select(col("doc_id").as("id"), col("source"),
      Dedup.simHash(col("text")).as("sig"))
    // blocked ground truth: same-source pairs only — an equi join on
    // the block key (q21's shape), never an all-pairs cartesian
    val bruteBlocked = sigs.as("a").join(sigs.as("b"),
        col("a.source") === col("b.source") && col("a.id") < col("b.id"))
      .filter(bit_count(col("a.sig").bitwiseXOR(col("b.sig"))) <= 3)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val bandedBlocked = banded
      .join(sigs.select(col("id").as("id_a"), col("source").as("src_a")), Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("source").as("src_b")), Seq("id_b"))
      .filter(col("src_a") === col("src_b"))
      .select("id_a", "id_b")
    val plantedPairs = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
      .select(col("doc_id").as("id_a"), (col("doc_id") + 1000000L).as("id_b"))
    val nPlanted = plantedPairs.agg(count(lit(1)).as("n_planted"))
    val nRecovered = plantedPairs
      .join(banded, Seq("id_a", "id_b"), "left_semi")
      .agg(count(lit(1)).as("n_planted_recovered"))
    val missed = bruteBlocked.join(bandedBlocked, Seq("id_a", "id_b"), "left_anti")
      .agg(count(lit(1)).as("n_missed"))
    val spurious = bandedBlocked.join(bruteBlocked, Seq("id_a", "id_b"), "left_anti")
      .agg(count(lit(1)).as("n_spurious"))
    nPlanted
      .crossJoin(broadcast(nRecovered))
      .crossJoin(broadcast(missed))
      .crossJoin(broadcast(spurious))
      .select(col("n_planted"), col("n_planted_recovered"),
        (col("n_missed") === 0 && col("n_spurious") === 0).as("matches_blocked_brute"))
  }

  // ---------------------------------------------------------------- similarity: brute-force cosine top-k
  val q23CosineTopK = q("q23_cosine_topk",
    "Brute-force cosine top-k over embeddings (north star: similarity)",
    """WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 5),
      |scored AS (
      |  SELECT q.query_id, e.vec_id AS neighbor_id,
      |         round(list_cosine_similarity(list_transform(q.qvec, x -> CAST(x AS DOUBLE)),
      |                                      list_transform(e.embedding, x -> CAST(x AS DOUBLE))), 4) AS cos
      |  FROM embeddings e CROSS JOIN q
      |  WHERE e.vec_id <> q.query_id),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
      |  FROM scored)
      |SELECT query_id, neighbor_id, cos FROM ranked WHERE rk <= 5""".stripMargin) { (s, d) =>
    val e = Tables.embeddings(s, d)
    Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 5),
      "vec_id", "embedding", k = 5, roundTo = 4)
  }

  // ---------------------------------------------------------------- similarity: IVF
  val q24Ivf = q("q24_ivf_topk",
    "IVF-bucketed approximate top-k (north star: similarity scale path)",
    """WITH cents AS (
      |  SELECT vec_id AS cell, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
      |  FROM embeddings WHERE vec_id % 50 = 0),
      |corpus AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec FROM embeddings),
      |assign AS (
      |  SELECT vec_id, vec, cell FROM (
      |    SELECT c.vec_id, c.vec, ct.cell,
      |           row_number() OVER (PARTITION BY c.vec_id
      |                              ORDER BY list_cosine_similarity(c.vec, ct.cvec) DESC, ct.cell) AS rk
      |    FROM corpus c CROSS JOIN cents ct) WHERE rk = 1),
      |q AS (SELECT vec_id AS query_id, vec AS qvec FROM corpus WHERE vec_id < 5),
      |probes AS (
      |  SELECT query_id, qvec, cell FROM (
      |    SELECT q.query_id, q.qvec, ct.cell,
      |           row_number() OVER (PARTITION BY q.query_id
      |                              ORDER BY list_cosine_similarity(q.qvec, ct.cvec) DESC, ct.cell) AS rk
      |    FROM q CROSS JOIN cents ct) WHERE rk <= 3),
      |scored AS (
      |  SELECT p.query_id, a.vec_id AS neighbor_id,
      |         round(list_cosine_similarity(p.qvec, a.vec), 4) AS cos
      |  FROM probes p JOIN assign a ON a.cell = p.cell
      |  WHERE a.vec_id <> p.query_id),
      |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
      |           FROM scored)
      |SELECT query_id, neighbor_id, cos FROM ranked WHERE rk <= 5""".stripMargin) { (s, d) =>
    val e = Tables.embeddings(s, d)
    val centroids = e.filter(col("vec_id") % 50 === 0)
    val cells = Similarity.assignCells(e, centroids, "vec_id", "embedding")
    Similarity.ivfTopK(cells, centroids, e.filter(col("vec_id") < 5),
      "vec_id", "embedding", k = 5, nProbe = 3, roundTo = 4)
  }

  // ---------------------------------------------------------------- text: language ID
  val q25LangId = q("q25_langid",
    "Marker-ratio language ID (north star: text analysis)",
    s"""WITH t AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      |  FROM documents)
      |SELECT doc_id,
      |       round(CASE WHEN len(toks) = 0 THEN 0.0
      |                  ELSE CAST(len(list_filter(toks, t -> t IN (${TextFunctions.EnglishMarkers.map(w => s"'$w'").mkString(", ")}))) AS DOUBLE) / len(toks) END, 4) AS en_score,
      |       CASE WHEN (CASE WHEN len(toks) = 0 THEN 0.0
      |                  ELSE CAST(len(list_filter(toks, t -> t IN (${TextFunctions.EnglishMarkers.map(w => s"'$w'").mkString(", ")}))) AS DOUBLE) / len(toks) END) >= 0.05
      |            THEN 'en' ELSE 'other' END AS lang_pred
      |FROM t""".stripMargin) { (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"),
      round(TextFunctions.englishScore(TextFunctions.tokens(col("text"))), 4).as("en_score"),
      TextFunctions.langId(col("text")).as("lang_pred"))
  }

  // ---------------------------------------------------------------- text: quality scoring
  val q26Quality = q("q26_quality",
    "Document quality scoring: token stats + alpha ratio (north star: text analysis)",
    """WITH t AS (
      |  SELECT doc_id, text, lower(text) AS lt,
      |         regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      |  FROM documents)
      |SELECT doc_id,
      |       len(toks) AS n_tokens,
      |       round(CASE WHEN length(lt) = 0 THEN 0.0
      |                  ELSE CAST(length(regexp_replace(lt, '[^a-z ]', '', 'g')) AS DOUBLE) / length(lt) END, 4) AS alpha_ratio,
      |       round(CASE WHEN len(toks) = 0 THEN 0.0
      |                  ELSE CAST(list_aggregate(list_transform(toks, t -> length(t)), 'sum') AS DOUBLE) / len(toks) END, 4) AS mean_token_len
      |FROM t""".stripMargin) { (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"),
      TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"),
      round(TextFunctions.alphaRatio(col("text")), 4).as("alpha_ratio"),
      round(TextFunctions.meanTokenLen(col("text")), 4).as("mean_token_len"))
  }

  // ---------------------------------------------------------------- multimodal: binary payload stats
  val q27Multimodal = q("q27_multimodal_stats",
    "Opaque binary payload column: byte length + content hash (north star: multimodal plumbing)",
    """SELECT doc_id AS asset_id, 'text' AS modality,
      |       octet_length(encode(text)) AS byte_len,
      |       md5(text) AS content_hash
      |FROM documents""".stripMargin) { (s, d) =>
    Multimodal.payloadStats(
      Multimodal.assetsFromText(Tables.documents(s, d), "doc_id", "text"))
  }

  // ---------------------------------------------------------------- rollup (beyond-ref completeness)
  val q28Rollup = q("q28_rollup",
    "ROLLUP subtotals (grouping-set family; beyond-reference completeness)",
    """SELECT l_returnflag, l_linestatus,
      |       round(sum(l_extendedprice), 4) AS sum_base, count(*) AS n
      |FROM lineitem
      |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .rollup("l_returnflag", "l_linestatus")
      .agg(round(sum("l_extendedprice"), 4).as("sum_base"), count(lit(1)).as("n"))
  }

  // ---------------------------------------------------------------- lag/lead (beyond-ref window completeness)
  val q29Lag = q("q29_lag_gap",
    "LAG over user sessions: inter-event gap (beyond-reference window completeness)",
    """SELECT event_id, user_id,
      |       epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      |FROM events""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d).select(
      col("event_id"), col("user_id"),
      (unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w)).as("gap_us"))
  }

  // ---------------------------------------------------------------- semi/anti joins (beyond-ref join completeness)
  val q30AntiJoin = q("q30_anti_join",
    "Left-anti join: customers with no orders (beyond-reference join completeness)",
    """SELECT c_custkey, c_name FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')""".stripMargin) { (s, d) =>
    Tables.customer(s, d)
      .join(Tables.orders(s, d).filter(col("o_orderstatus") === "F"),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .select("c_custkey", "c_name")
  }

  // ---------------------------------------------------------------- as-of join
  val q31Asof = q("q31_asof_join",
    "As-of (point-in-time) join via single-shuffle union+window — each purchase gets the user's latest prior click",
    """SELECT p.event_id, p.user_id, p.value, c.value AS last_click_value
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    AsOfJoin.asof(
      left = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value"),
      right = ev.filter(col("event_type") === "click")
        .select("user_id", "ts", "value"),
      keyCols = Seq("user_id"),
      leftTime = "ts", rightTime = "ts",
      payload = Map("value" -> "last_click_value"))
      .select("event_id", "user_id", "value", "last_click_value")
  }

  // ---------------------------------------------------------------- outer join
  val q32OuterJoin = q("q32_outer_join",
    "Left outer join with null-aware aggregation (beyond-reference join completeness)",
    """SELECT c.c_custkey, c.c_mktsegment,
      |       count(o.o_orderkey) AS n_f_orders,
      |       coalesce(round(sum(o.o_totalprice), 4), 0.0) AS f_total
      |FROM customer c
      |LEFT JOIN (SELECT * FROM orders WHERE o_orderstatus = 'F') o
      |  ON o.o_custkey = c.c_custkey
      |GROUP BY c.c_custkey, c.c_mktsegment""".stripMargin) { (s, d) =>
    Tables.customer(s, d)
      .join(Tables.orders(s, d).filter(col("o_orderstatus") === "F"),
        col("o_custkey") === col("c_custkey"), "left_outer")
      .groupBy("c_custkey", "c_mktsegment")
      .agg(count(col("o_orderkey")).as("n_f_orders"),
        coalesce(round(sum("o_totalprice"), 4), lit(0.0)).as("f_total"))
  }

  // ---------------------------------------------------------------- percentiles
  val q33Percentile = q("q33_percentile",
    "Exact interpolated percentiles per group (beyond-reference agg completeness)",
    """SELECT l_returnflag,
      |       round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
      |       round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
      |       count(*) AS n
      |FROM lineitem
      |GROUP BY l_returnflag""".stripMargin) { (s, d) =>
    // Percentiles.interpolated, not percentile(): the built-in exact
    // aggregate funnels each group's full value set into one reducer
    // buffer; the operator's distributed-sort + rank-offset plan keeps
    // per-partition memory bounded (see Percentiles scaladoc)
    Percentiles.interpolated(Tables.lineitem(s, d),
      Seq("l_returnflag"), "l_extendedprice",
      Seq("p50" -> 0.5, "p90" -> 0.9))
      .select(col("l_returnflag"),
        round(col("p50"), 4).as("p50"),
        round(col("p90"), 4).as("p90"),
        col("n"))
  }

  // ---------------------------------------------------------------- embedding near-dup
  val q34EmbDedup = q("q34_embedding_neardup",
    "Embedding-cosine near-duplicate pairs within label blocks (north star: dedup)",
    """WITH v AS (SELECT label, vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
      |           FROM embeddings)
      |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |       round(list_cosine_similarity(a.vec, b.vec), 4) AS cos
      |FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
      |WHERE round(list_cosine_similarity(a.vec, b.vec), 4) >= 0.4""".stripMargin) { (s, d) =>
    Dedup.embeddingNearDup(Tables.embeddings(s, d), "vec_id", "embedding",
      blockCol = "label", threshold = 0.4)
  }

  // ---------------------------------------------------------------- SQL-text surface (E3)
  val q35Sql = q("q35_sql_surface",
    "Query expressed as SQL text over registered views — the spark.sql entry path (E3)",
    """SELECT n_name,
      |       count(*) AS n_orders,
      |       round(sum(o_totalprice), 4) AS total_price
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE o_orderstatus <> 'F'
      |GROUP BY n_name""".stripMargin) { (s, d) =>
    Tables.registerAll(s, d)
    s.sql(
      """SELECT n_name,
        |       count(*) AS n_orders,
        |       round(sum(o_totalprice), 4) AS total_price
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderstatus <> 'F'
        |GROUP BY n_name""".stripMargin)
  }

  // ---------------------------------------------------------------- set operations
  val q36SetOps = q("q36_set_ops",
    "INTERSECT / EXCEPT set operations (beyond-reference completeness)",
    """SELECT c_custkey FROM customer JOIN orders ON o_custkey = c_custkey
      |  WHERE o_orderstatus = 'F'
      |INTERSECT
      |SELECT c_custkey FROM customer JOIN orders ON o_custkey = c_custkey
      |  WHERE o_orderstatus = 'O'
      |EXCEPT
      |SELECT c_custkey FROM customer WHERE c_acctbal < 0""".stripMargin) { (s, d) =>
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
    def custWithStatus(st: String) =
      c.join(o.filter(col("o_orderstatus") === st),
        col("o_custkey") === col("c_custkey")).select("c_custkey")
    custWithStatus("F")
      .intersect(custWithStatus("O"))
      .except(c.filter(col("c_acctbal") < 0).select("c_custkey"))
  }

  // ---------------------------------------------------------------- batch sessionization
  val q37Sessionize = q("q37_sessionize",
    "Gap-based sessionization via lag + cumulative window (training-pipeline op)",
    """WITH flagged AS (
      |  SELECT user_id, event_id, ts,
      |         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
      |                   OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
      |              OR lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |              THEN 1 ELSE 0 END AS new_session
      |  FROM events),
      |sessions AS (
      |  SELECT user_id, event_id,
      |         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
      |  FROM flagged)
      |SELECT user_id, session_seq, count(*) AS n_events
      |FROM sessions GROUP BY user_id, session_seq""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val gapUs = unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w)
    Tables.events(s, d)
      .withColumn("new_session",
        when(gapUs > 1800000000L || gapUs.isNull, 1).otherwise(0))
      .withColumn("session_seq",
        sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_seq")
      .agg(count(lit(1)).as("n_events"))
  }

  // ---------------------------------------------------------------- pivot
  val q38Pivot = q("q38_pivot",
    "Pivot event values into per-type columns (beyond-reference completeness)",
    """SELECT user_id,
      |       round(coalesce(sum(value) FILTER (WHERE event_type = 'purchase'), 0.0), 4) AS purchase_value,
      |       round(coalesce(sum(value) FILTER (WHERE event_type = 'click'), 0.0), 4) AS click_value,
      |       round(coalesce(sum(value) FILTER (WHERE event_type = 'signup'), 0.0), 4) AS signup_value
      |FROM events GROUP BY user_id""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy("user_id")
      .pivot("event_type", Seq("purchase", "click", "signup"))
      .agg(sum("value"))
      .select(
        col("user_id"),
        round(coalesce(col("purchase"), lit(0.0)), 4).as("purchase_value"),
        round(coalesce(col("click"), lit(0.0)), 4).as("click_value"),
        round(coalesce(col("signup"), lit(0.0)), 4).as("signup_value"))
  }

  // ---------------------------------------------------------------- tumbling event-time windows
  val q39Tumbling = q("q39_tumbling_window",
    "Tumbling event-time window aggregation, batch form of the streaming operator",
    """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
      |       count(*) AS n, round(sum(value), 4) AS total_value
      |FROM events GROUP BY 1, 2""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("total_value"))
      .select(col("w.start").cast("timestamp_ntz").as("window_start"),
        col("event_type"), col("n"), col("total_value"))
  }

  // ---------------------------------------------------------------- semi join (EXISTS)
  val q40SemiJoin = q("q40_semi_join",
    "Left-semi join: EXISTS subquery form (beyond-reference join completeness)",
    """SELECT c_custkey, c_name, c_mktsegment FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)""".stripMargin) { (s, d) =>
    Tables.customer(s, d)
      .join(Tables.orders(s, d).filter(col("o_totalprice") > 300000),
        col("o_custkey") === col("c_custkey"), "left_semi")
      .select("c_custkey", "c_name", "c_mktsegment")
  }

  // ---------------------------------------------------------------- multimodal decode (oracled)
  /** The per-partition decode path with a REAL codec under the
    * oracle: every doc becomes a payload — a well-formed PNG header
    * (even ids), a well-formed JPEG SOI+SOF0 (odd ids), or raw text
    * bytes (every 7th id, the non-image fallback) — with pixel
    * dimensions PLANTED from doc_id arithmetic. `extractFeatures`
    * parses format/width/height back out of the bytes with
    * `Multimodal.ImageCodec` (pure-JVM header parsing, no stub), and
    * the oracle recomputes the planted values arithmetically: any
    * parsing error (endianness, offset, marker walk) breaks the hash
    * match. Payload construction itself is codegen'd binary concat —
    * unhex/lpad/hex — so the corpus is built scan-side at scale. */
  val q41Features = q("q41_multimodal_features",
    "Per-partition image-header decode (real PNG/JPEG codec) over planted payloads (north star: multimodal)",
    """SELECT doc_id AS asset_id,
      |       CASE WHEN doc_id % 7 = 0 THEN 'text' ELSE 'image' END AS modality,
      |       CASE WHEN doc_id % 7 = 0 THEN octet_length(encode(text))
      |            WHEN doc_id % 2 = 0 THEN CAST(29 AS BIGINT)
      |            ELSE CAST(15 AS BIGINT) END AS byte_len,
      |       CASE WHEN doc_id % 7 = 0 THEN NULL
      |            WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS image_format,
      |       CASE WHEN doc_id % 7 = 0 THEN NULL
      |            ELSE CAST(16 + doc_id % 1024 AS INTEGER) END AS width,
      |       CASE WHEN doc_id % 7 = 0 THEN NULL
      |            ELSE CAST(16 + (doc_id * 7) % 768 AS INTEGER) END AS height
      |FROM documents""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val wPix = (lit(16) + pmod(col("doc_id"), lit(1024))).cast("int")
    val hPix = (lit(16) + pmod(col("doc_id") * 7, lit(768))).cast("int")
    // PNG signature + IHDR(len=13) + planted 32-bit BE dims + tail
    // (bit depth 8, color 6, no compression/filter/interlace) = 29 B
    val png = concat(
      unhex(lit("89504E470D0A1A0A0000000D49484452")),
      unhex(lpad(hex(wPix), 8, "0")), unhex(lpad(hex(hPix), 8, "0")),
      unhex(lit("0806000000")))
    // JPEG SOI + SOF0(len=11): precision 8, planted 16-bit BE
    // height/width, 1 component (id 1, 1x1 sampling, qtable 0) = 15 B
    val jpeg = concat(
      unhex(lit("FFD8FFC0000B08")),
      unhex(lpad(hex(hPix), 4, "0")), unhex(lpad(hex(wPix), 4, "0")),
      unhex(lit("01011100")))
    val sevMod = pmod(col("doc_id"), lit(7))
    val assets = Par.widen(docs, "doc_id").select(
      col("doc_id").as("asset_id"),
      when(sevMod === 0, lit("text")).otherwise(lit("image")).as("modality"),
      when(sevMod === 0, col("text").cast("binary"))
        .when(pmod(col("doc_id"), lit(2)) === 0, png)
        .otherwise(jpeg).as("payload"),
      lit(null).cast(Multimodal.assetSchema("meta").dataType).as("meta"))
    Multimodal.extractFeatures(s, assets).toDF()
      .select(col("asset_id"), col("modality"), col("byte_len"),
        col("image_format"), col("width"), col("height"))
  }

  // ---------------------------------------------------------------- dedup clusters
  val q42DedupClusters = q("q42_dedup_clusters",
    "Connected components over exact-Jaccard near-dup pairs — cluster id per duplicated doc (north star: dedup)",
    """WITH RECURSIVE
      |t AS (SELECT source, doc_id,
      |             list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')) AS sh
      |      FROM documents),
      |edges AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
      |  WHERE CASE WHEN len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) = 0 THEN 1.0
      |             ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |                  / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) END >= 0.5),
      |verts AS (SELECT DISTINCT id FROM (SELECT id_a AS id FROM edges UNION SELECT id_b FROM edges)),
      |undirected AS (SELECT id_a AS s, id_b AS d FROM edges UNION SELECT id_b, id_a FROM edges),
      |reach(id, r) AS (
      |  SELECT id, id FROM verts
      |  UNION
      |  SELECT reach.id, u.d FROM reach JOIN undirected u ON reach.r = u.s)
      |SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id""".stripMargin) { (s, d) =>
    // Scale-safe edge generation: banded-LSH candidates → exact
    // verification → connected components. The oracle's all-pairs-
    // within-source stage is O(Σ block²); here candidate cost is
    // O(docs · bands) + O(candidates). Recall-oriented knobs: 32 bands
    // of 2 rows ⇒ a true pair at the 0.5 threshold is missed with
    // probability (1−s²)^32 ≈ 4e-5 (deterministic per corpus — seeded
    // hashes), shingleK=1 so the LSH estimates the SAME token-Jaccard
    // the verifier measures, threshold=0 skips signature scoring
    // because the exact verifier — not the noisy estimate — owns the
    // cut at 0.5, and blockCol=source keeps cross-source pairs out of
    // the candidate set by construction (the dedup unit is the
    // source; filtering them AFTER pair generation measured 14× worse
    // at sf0.1). maxBucket is the degenerate-content guard, not a
    // correctness knob: near-dup cliques legitimately form large
    // 2-row-band buckets, so it sits above the largest real clique.
    val docs = Tables.documents(s, d)
    val cands = Dedup.lshPairs(docs, "doc_id", "text", sourceMinHash)
    val pairs = Dedup.ngramJaccardVerify(docs, cands, "doc_id", "text",
      k = 1, threshold = 0.5)
    Dedup.connectedComponents(pairs)
      .select(col("id").as("doc_id"), col("cluster_id"))
  }

  // ---------------------------------------------------------------- map-typed columns
  val q43MapFns = q("q43_map_functions",
    "JSON → MapType parsing + map functions (§1.2 metadata mapping)",
    """SELECT event_id,
      |       array_to_string(list_sort(json_keys(props)), ',') AS ks,
      |       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value,
      |       len(json_keys(props)) AS n_keys
      |FROM events""".stripMargin) { (s, d) =>
    val m = from_json(col("props"), org.apache.spark.sql.types.MapType(
      org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.StringType))
    // Keys are emitted as a sorted comma-joined scalar (not an array column): the
    // driver's pandas compare cannot sort rows on array cells, and sorting removes
    // JSON key-order sensitivity between Spark's from_json and DuckDB's json_keys.
    Tables.events(s, d).select(
      col("event_id"),
      array_join(sort_array(map_keys(m)), ",").as("ks"),
      // try_element_at: ANSI element_at throws MAP_KEY_DOES_NOT_EXIST for
      // props without 'k'; the oracle's json_extract_string returns NULL
      try_element_at(m, lit("k")).cast("long").as("k_value"),
      size(map_keys(m)).cast("long").as("n_keys"))
  }

  // ---------------------------------------------------------------- cube
  val q44Cube = q("q44_cube",
    "CUBE over two dimensions (grouping-set family completeness)",
    """SELECT l_returnflag, l_linestatus,
      |       round(sum(l_quantity), 4) AS qty, count(*) AS n
      |FROM lineitem
      |GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .cube("l_returnflag", "l_linestatus")
      .agg(round(sum("l_quantity"), 4).as("qty"), count(lit(1)).as("n"))
  }

  // ---------------------------------------------------------------- range frame + first/last window
  val q45RangeFrame = q("q45_range_frame",
    "RANGE window frame + first/last_value (window completeness)",
    """SELECT o_orderkey,
      |       round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY epoch_us(o_orderdate)
      |                                     RANGE BETWEEN 7776000000000 PRECEDING AND CURRENT ROW), 4) AS trailing_90d,
      |       round(first_value(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 4) AS first_order_price,
      |       round(last_value(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |                                            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 4) AS last_order_price
      |FROM orders""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d).withColumn("ots", unix_micros(col("o_orderdate").cast("timestamp")))
    val wRange = Window.partitionBy("o_custkey").orderBy("ots")
      .rangeBetween(-7776000000000L, Window.currentRow) // 90 days in micros
    val wRows = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
    o.select(
      col("o_orderkey"),
      round(sum("o_totalprice").over(wRange), 4).as("trailing_90d"),
      round(first("o_totalprice").over(wRows), 4).as("first_order_price"),
      round(last("o_totalprice").over(
        wRows.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)), 4).as("last_order_price"))
  }

  // ---------------------------------------------------------------- grouping sets
  /** Arbitrary GROUPING SETS + GROUPING() marker — completes the
    * grouping family beyond ROLLUP (q28) and CUBE (q44). Expressed via
    * spark.sql on a registered temp view: grouping sets have no
    * DataFrame-API form, and the SQL surface is itself part of the
    * engine contract (§2.9). */
  val q52GroupingSets = q("q52_grouping_sets",
    "GROUPING SETS with grouping() markers (grouping-set family completeness)",
    """SELECT l_returnflag, l_linestatus,
      |       CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
      |       CAST(grouping(l_linestatus) AS BIGINT) AS g_status,
      |       round(sum(l_quantity), 4) AS qty, count(*) AS n
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
      |                        (l_returnflag, l_linestatus), ())""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d).createOrReplaceTempView("g52_lineitem")
    s.sql("""
      SELECT l_returnflag, l_linestatus,
             CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
             CAST(grouping(l_linestatus) AS BIGINT) AS g_status,
             round(sum(l_quantity), 4) AS qty, count(*) AS n
      FROM g52_lineitem
      GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
                              (l_returnflag, l_linestatus), ())""")
  }

  // ---------------------------------------------------------------- rank-family windows
  /** The remaining ranking/distribution window functions in one row:
    * dense_rank, percent_rank, cume_dist, ntile. Completes §2.5 beyond
    * row_number/rank/lag/first/last. */
  val q53RankFamily = q("q53_rank_family",
    "dense_rank / percent_rank / cume_dist / ntile windows (window-family completeness)",
    """SELECT o_orderkey,
      |       CAST(dense_rank()   OVER w AS BIGINT) AS drank,
      |       percent_rank() OVER w AS prank,
      |       cume_dist()    OVER w AS cdist,
      |       CAST(ntile(4)  OVER w AS BIGINT) AS quartile
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(s, d).select(
      col("o_orderkey"),
      dense_rank().over(w).cast("long").as("drank"),
      percent_rank().over(w).as("prank"),
      cume_dist().over(w).as("cdist"),
      ntile(4).over(w).cast("long").as("quartile"))
  }

  // ---------------------------------------------------------------- gap filling (LOCF)
  /** GapFill.ffillDaily under the oracle: per-customer daily spend
    * carried forward across order-less days — the "balance as of any
    * day" time-series surface. Oracle uses DuckDB's native
    * `last_value(... IGNORE NULLS)`; per-column fill ≡ the operator's
    * atomic struct fill here because observations never carry nulls
    * (GapFillSpec covers the null-observation distinction). */
  val q54GapFill = q("q54_gap_fill",
    "Daily spine + forward-fill (LOCF) per customer (time-series completeness)",
    """WITH src AS (
      |  SELECT o_custkey AS k, CAST(o_orderdate AS DATE) AS d,
      |         round(sum(o_totalprice), 4) AS spend, count(*) AS n_orders
      |  FROM orders WHERE o_custkey < 100 GROUP BY 1, 2),
      |b AS (SELECT k, min(d) AS lo, max(d) AS hi FROM src GROUP BY 1),
      |spine AS (
      |  SELECT k, unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS d FROM b),
      |j AS (SELECT spine.k, spine.d, src.spend, src.n_orders
      |      FROM spine LEFT JOIN src USING (k, d))
      |SELECT k, d,
      |       last_value(spend IGNORE NULLS)
      |         OVER (PARTITION BY k ORDER BY d) AS spend,
      |       last_value(n_orders IGNORE NULLS)
      |         OVER (PARTITION BY k ORDER BY d) AS n_orders
      |FROM j""".stripMargin) { (s, d) =>
    val src = Tables.orders(s, d)
      .filter(col("o_custkey") < 100)
      .groupBy(col("o_custkey").as("k"), to_date(col("o_orderdate")).as("d"))
      .agg(round(sum("o_totalprice"), 4).as("spend"), count(lit(1)).as("n_orders"))
    GapFill.ffillDaily(src, Seq("k"), "d", Seq("spend", "n_orders"))
  }

  // ---------------------------------------------------------------- sequence packing
  /** Packing.packGreedy under the oracle: deterministic-shuffle order
    * (md5 hash), shard-parallel greedy fill of 512-token context
    * windows. Ordering inside the window is (hash, doc_id) — unique,
    * so the engines' default RANGE frames agree. cum_tokens CAST to
    * BIGINT oracle-side (DuckDB window sums return HUGEINT). */
  val q55SeqPacking = q("q55_seq_packing",
    "Shard-parallel greedy sequence packing into fixed token budgets (north star: training shards)",
    """WITH h AS (
      |  SELECT doc_id,
      |         CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens,
      |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 2147483647 AS _h
      |  FROM documents),
      |s AS (SELECT *, _h % 8 AS shard FROM h)
      |SELECT doc_id, shard,
      |       CAST(row_number() OVER w AS BIGINT) AS seq_in_shard,
      |       CAST(sum(n_tokens) OVER w AS BIGINT) AS cum_tokens,
      |       CAST(floor((CAST(sum(n_tokens) OVER w AS BIGINT) - n_tokens) / 512.0) AS BIGINT) AS bin
      |FROM s
      |WINDOW w AS (PARTITION BY shard ORDER BY _h, doc_id)""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
    Packing.packGreedy(docs, "doc_id", "n_tokens", ctxLen = 512, shards = 8)
  }

  // ---------------------------------------------------------------- incremental dedup
  /** Dedup.incrementalExactDedup under the oracle: every 7th doc plays
    * the incoming batch, deduped within-batch (min doc_id per
    * fingerprint) and then anti-joined against the REST of the corpus'
    * fingerprint index — the daily "dedupe incoming against what we
    * already hold" production shape. */
  val q64IncrementalDedup = q("q64_incremental_dedup",
    "Incremental exact dedup: new batch anti-joined on the corpus fingerprint index (north star: dedup)",
    """WITH fp AS (
      |  SELECT doc_id, source,
      |         md5(array_to_string(regexp_extract_all(lower(text), '[a-z0-9]+'), ' ')) AS fingerprint
      |  FROM documents),
      |batch AS (
      |  SELECT * FROM fp WHERE doc_id % 7 = 0
      |  QUALIFY row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) = 1)
      |SELECT b.doc_id, b.source, b.fingerprint
      |FROM batch b
      |WHERE NOT EXISTS (SELECT 1 FROM fp e
      |                  WHERE e.doc_id % 7 <> 0 AND e.fingerprint = b.fingerprint)""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val newBatch = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
      .select("doc_id", "source", "text")
    val existing = docs.filter(pmod(col("doc_id"), lit(7)) =!= 0)
      .select(TextFunctions.fingerprint(col("text")).as("fingerprint"))
    Dedup.incrementalExactDedup(newBatch, "text", "doc_id", existing)
      .select("doc_id", "source", "fingerprint")
  }

  // ---------------------------------------------------------------- bloom-prefiltered dedup
  /** q64's 100 TB sibling: same incremental-dedup semantics, but the
    * corpus index is folded into a broadcast bloom filter and only
    * the filter's "maybe" rows reach the exact anti join — batch rows
    * the bloom rejects skip the shuffle entirely. The bloom can only
    * err toward extra verification, so the oracle is the SAME exact
    * anti-join SQL: the prefilter must be output-invisible. */
  val q90BloomDedup = q("q90_bloom_dedup",
    "Incremental exact dedup behind a broadcast bloom prefilter (north star: dedup at scale)",
    """WITH fp AS (
      |  SELECT doc_id, source,
      |         md5(array_to_string(regexp_extract_all(lower(text), '[a-z0-9]+'), ' ')) AS fingerprint
      |  FROM documents),
      |batch AS (
      |  SELECT * FROM fp WHERE doc_id % 5 = 0
      |  QUALIFY row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) = 1)
      |SELECT b.doc_id, b.source, b.fingerprint
      |FROM batch b
      |WHERE NOT EXISTS (SELECT 1 FROM fp e
      |                  WHERE e.doc_id % 5 <> 0 AND e.fingerprint = b.fingerprint)""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val newBatch = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      .select("doc_id", "source", "text")
    val existing = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      .select(TextFunctions.fingerprint(col("text")).as("fingerprint"))
    // expectedItems: at scale this is the index table's row-count stat;
    // a generous constant keeps the filter deterministic across SFs
    Dedup.bloomIncrementalExactDedup(newBatch, "text", "doc_id", existing,
      expectedItems = 1000000L, fpp = 0.01)
      .select("doc_id", "source", "fingerprint")
  }

  // ---------------------------------------------------------------- null-safe join
  /** Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): the
    * "unspecified" priority becomes NULL and still joins to its group
    * row — a plain equi join would silently drop every null-keyed
    * fact row. Completes the join-predicate surface (§2.3). */
  val q63NullSafeJoin = q("q63_null_safe_join",
    "Null-safe equality join: NULL keys match their group (join completeness)",
    """WITH o AS (
      |  SELECT o_orderkey, NULLIF(o_orderpriority, '4-NOT SPECIFIED') AS prio
      |  FROM orders),
      |g AS (SELECT prio, count(*) AS group_n FROM o GROUP BY prio)
      |SELECT o.o_orderkey, o.prio, g.group_n
      |FROM o JOIN g ON o.prio IS NOT DISTINCT FROM g.prio""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d).select(col("o_orderkey"),
      nullif(col("o_orderpriority"), lit("4-NOT SPECIFIED")).as("prio"))
    val g = o.groupBy(col("prio").as("gprio"))
      .agg(count(lit(1)).as("group_n"))
    o.join(g, col("prio") <=> col("gprio"))
      .select("o_orderkey", "prio", "group_n")
  }

  // ---------------------------------------------------------------- salted skew join
  /** Skew.saltedJoin under the oracle: user_id in events is the
    * classic skewed fact key (hot users), customer is the build side.
    * The salted plan fans each hot key over saltFactor tasks; the
    * ORACLE is the plain equi join — stating the operator's contract
    * (result equals the unsalted join exactly) as the correctness
    * check itself. */
  val q62SaltedJoin = q("q62_salted_join",
    "Salted skewed fact join ≡ plain equi join (skew mitigation correctness)",
    """SELECT e.event_id, e.user_id, c.c_name, round(e.value, 4) AS value
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey""".stripMargin) { (s, d) =>
    val e = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("value"))
    val c = Tables.customer(s, d)
      .select(col("c_custkey").as("user_id"), col("c_name"))
    Skew.saltedJoin(e, c, Seq("user_id"), saltFactor = 8)
      .select(col("event_id"), col("user_id"), col("c_name"),
        round(col("value"), 4).as("value"))
  }

  // ---------------------------------------------------------------- sliding windows
  /** Sliding (hopping) event-time windows: 1-hour windows every 15
    * minutes — each event lands in 4 overlapping windows. Spark's
    * `window(ts, len, slide)` generates the replicas inside the
    * aggregation; the oracle spells the same epoch-aligned window
    * starts out with generate_series. Completes the window-aggregation
    * family: tumbling (q39), session (q37), sliding (here). */
  val q60SlidingWindow = q("q60_sliding_window",
    "Sliding event-time windows (1h every 15min) — hopping aggregation completeness",
    """SELECT ws AS window_start, event_type,
      |       count(*) AS n, round(sum(value), 4) AS total_value
      |FROM (SELECT unnest(generate_series(
      |               time_bucket(INTERVAL '15 minutes', ts) - INTERVAL '45 minutes',
      |               time_bucket(INTERVAL '15 minutes', ts),
      |               INTERVAL '15 minutes')) AS ws,
      |             event_type, value
      |      FROM events)
      |GROUP BY 1, 2""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("total_value"))
      .select(col("w.start").cast("timestamp_ntz").as("window_start"),
        col("event_type"), col("n"), col("total_value"))
  }

  // ---------------------------------------------------------------- numeric band join
  /** BandJoin under the oracle: supplier↔customer account balances
    * within ±1.0 — fuzzy entity matching by a numeric band. The
    * oracle states the naive inequality join; the Spark side buckets
    * to an equi join (no BroadcastNestedLoopJoin at scale). */
  val q59BandJoin = q("q59_band_join",
    "Numeric band join |a-b|<=delta via bucketized equi join (non-equi join completeness)",
    """SELECT s_suppkey, c_custkey,
      |       round(s_acctbal, 4) AS s_bal, round(c_acctbal, 4) AS c_bal
      |FROM supplier JOIN customer
      |  ON abs(s_acctbal - c_acctbal) <= 1.0""".stripMargin) { (s, d) =>
    BandJoin.bandJoin(
      Tables.supplier(s, d).select("s_suppkey", "s_acctbal"),
      Tables.customer(s, d).select("c_custkey", "c_acctbal"),
      "s_acctbal", "c_acctbal", delta = 1.0)
      .select(col("s_suppkey"), col("c_custkey"),
        round(col("s_acctbal"), 4).as("s_bal"),
        round(col("c_acctbal"), 4).as("c_bal"))
  }

  // ---------------------------------------------------------------- approximate aggregates
  /** The 100 TB versions of count-distinct and percentile: HLL++ and
    * a quantile sketch, both map-side mergeable partial aggregates
    * (constant memory per partition; no Expand, no per-group value
    * collection — contrast q56's exact distinct and q33's exact
    * percentile). DuckDB's sketches are different algorithms, so the
    * sketch VALUES can't hash-match by design — instead the query
    * emits the error-bound checks as data: the exact sides (n, exact
    * distinct, exact p49/p51 bracket) the oracle recomputes
    * independently, plus booleans asserting |HLL − exact| ≤ 3·rsd·
    * exact and approx-p50 within the bracket (QuantileSummaries
    * guarantees rank error ≤ n/accuracy = n/10000 ≪ 0.01·n). The
    * exact bracket comes from Percentiles.interpolated — the engine's
    * own range-sort path — NOT the builtin percentile() aggregate,
    * whose whole-group value-map buffer is both the 100 TB anti-
    * pattern and a measured 20s at sf0.1 next to the sketches' 0.6s;
    * the three exact/sketch legs join broadcast on the 3-row key. */
  val q58ApproxAggs = q("q58_approx_aggs",
    "HLL++ approx distinct + approx percentile per group, error bounds oracle-pinned against exact recomputes",
    """SELECT l_returnflag, count(*) AS n,
      |       count(DISTINCT l_orderkey) AS exact_distinct,
      |       round(quantile_cont(l_extendedprice, 0.49), 4) AS p49,
      |       round(quantile_cont(l_extendedprice, 0.51), 4) AS p51,
      |       TRUE AS distinct_err_ok, TRUE AS p50_err_ok
      |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (s, d) =>
    val li = Tables.lineitem(s, d)
    val sketches = li.groupBy("l_returnflag").agg(
      count(lit(1)).as("n"),
      approx_count_distinct(col("l_orderkey"), rsd = 0.02).as("approx_orders"),
      percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).as("approx_p50"))
    val exactDistinct = li.groupBy("l_returnflag")
      .agg(count_distinct(col("l_orderkey")).as("exact_distinct"))
    val brackets = Percentiles.interpolated(li, Seq("l_returnflag"),
      "l_extendedprice", Seq("p49" -> 0.49, "p51" -> 0.51))
      .select("l_returnflag", "p49", "p51")
    sketches
      .join(broadcast(exactDistinct), Seq("l_returnflag"))
      .join(broadcast(brackets), Seq("l_returnflag"))
      .select(col("l_returnflag"), col("n"), col("exact_distinct"),
        round(col("p49"), 4).as("p49"), round(col("p51"), 4).as("p51"),
        (abs(col("approx_orders") - col("exact_distinct"))
          <= col("exact_distinct") * 0.06).as("distinct_err_ok"),
        (col("approx_p50") >= col("p49")
          && col("approx_p50") <= col("p51")).as("p50_err_ok"))
  }

  // ---------------------------------------------------------------- column profiling
  /** Profile.summarize under the oracle: exact per-column stats in one
    * Spark pass (the oracle's per-column subqueries are the N-scan
    * shape the operator exists to avoid). String/integer/date columns
    * only — double min/max would hit engine string-formatting deltas. */
  val q56Profile = q("q56_profile",
    "One-pass column profiling: nulls, distinct, min/max per column (pipeline observability)",
    """SELECT 'o_orderkey' AS column_name, count(*) AS n_rows,
      |       CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
      |       count(DISTINCT o_orderkey) AS n_distinct,
      |       CAST(min(o_orderkey) AS VARCHAR) AS min_value,
      |       CAST(max(o_orderkey) AS VARCHAR) AS max_value
      |FROM orders
      |UNION ALL
      |SELECT 'o_orderpriority', count(*),
      |       CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |       count(DISTINCT o_orderpriority),
      |       CAST(min(o_orderpriority) AS VARCHAR), CAST(max(o_orderpriority) AS VARCHAR)
      |FROM orders
      |UNION ALL
      |SELECT 'o_orderdate', count(*),
      |       CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |       count(DISTINCT o_orderdate),
      |       CAST(min(CAST(o_orderdate AS DATE)) AS VARCHAR), CAST(max(CAST(o_orderdate AS DATE)) AS VARCHAR)
      |FROM orders""".stripMargin) { (s, d) =>
    Profile.summarize(
      Tables.orders(s, d).withColumn("o_orderdate", to_date(col("o_orderdate"))),
      Seq("o_orderkey", "o_orderpriority", "o_orderdate"))
  }

  // ---------------------------------------------------------------- grouped top-k
  /** Per-group top-k (top 3 highest-value orders per priority class):
    * the window row_number form — correct when groups are many and
    * k small; the TopKAggregator (q16/q23) is the map-side-bounded
    * alternative when a single group would swamp one task. */
  val q57GroupTopK = q("q57_group_topk",
    "Group-wise top-k via ranked window (top 3 orders per priority)",
    """SELECT * FROM (
      |  SELECT o_orderpriority, o_orderkey,
      |         round(o_totalprice, 4) AS price,
      |         CAST(row_number() OVER (PARTITION BY o_orderpriority
      |                                 ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rk
      |  FROM orders) WHERE rk <= 3""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d)
      .select(col("o_orderpriority"), col("o_orderkey"),
        round(col("o_totalprice"), 4).as("price"),
        row_number().over(w).cast("long").as("rk"))
      .filter(col("rk") <= 3)
  }

  // ---------------------------------------------------------------- PII redaction
  /** PII scrubbing under the oracle. The raw corpus carries no PII, so
    * both engines append an identical synthetic email + phone tail to
    * every document before redacting — what's verified is that the
    * engine-portable patterns (TextFunctions.EmailPattern/PhonePattern,
    * character classes only, valid under both Java regex and RE2)
    * redact identically. */
  val q48PiiRedact = q("q48_pii_redact",
    "PII redaction: email+phone regexp scrubbing at scan speed (north star: text analysis)",
    """SELECT doc_id,
      |       regexp_replace(
      |         regexp_replace(
      |           text || ' contact user' || CAST(doc_id AS VARCHAR)
      |                || '@mail.example.com or +1 (555) 010-2345 now',
      |           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
      |         '\+?[0-9][0-9()\- ]{6,}[0-9]', '[PHONE]', 'g') AS clean_text
      |FROM documents""".stripMargin) { (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"),
      TextFunctions.redactPii(
        concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.com or +1 (555) 010-2345 now"))).as("clean_text"))
  }

  // ---------------------------------------------------------------- deterministic splits
  /** Deterministic hash-based train/val/test assignment (Splits):
    * bucket = md5(id)[0,8) as int mod 100 — a pure per-row function,
    * reproducible across engines/runs/retries (the anti-rand()
    * property that prevents split leakage on reprocessing). The oracle
    * recomputes the same md5 arithmetic in DuckDB. */
  val q49HashSplit = q("q49_hash_split",
    "Deterministic md5-bucket train/val/test split (north star: dataset curation)",
    """SELECT doc_id,
      |       ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bucket,
      |       CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 80 THEN 'train'
      |            WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 90 THEN 'val'
      |            ELSE 'test' END AS split
      |FROM documents""".stripMargin) { (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"),
      Splits.splitBucket(col("doc_id")).as("bucket"),
      Splits.assignSplit(col("doc_id")).as("split"))
  }

  // ---------------------------------------------------------------- benchmark contamination
  /** Contamination.ngramOverlap under the oracle: every ~29th doc
    * plays the held-out benchmark; the rest are probed for verbatim
    * 8-gram overlap. n-grams join as strings (portable) — the 100 TB
    * variant hashes them to 8-byte keys, same plan. */
  val q50Contamination = q("q50_contamination",
    "Benchmark n-gram contamination scan: per-doc verbatim overlap ratio (north star: decontamination)",
    """WITH tk AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      |  FROM documents),
      |grams AS (
      |  SELECT doc_id,
      |         CASE WHEN len(toks) >= 8
      |              THEN list_distinct(list_transform(range(1, len(toks) - 6),
      |                     i -> array_to_string(toks[i:i+7], ' ')))
      |              ELSE [array_to_string(toks, ' ')] END AS ngs
      |  FROM tk),
      |bench AS (
      |  SELECT DISTINCT unnest(ngs) AS ng FROM grams WHERE doc_id % 29 = 0),
      |probe AS (
      |  SELECT doc_id, unnest(ngs) AS ng FROM grams WHERE doc_id % 29 <> 0)
      |SELECT probe.doc_id,
      |       count(*) AS n_ngrams,
      |       count(bench.ng) AS n_contaminated,
      |       CAST(count(bench.ng) AS DOUBLE) / count(*) AS overlap_ratio
      |FROM probe LEFT JOIN bench ON probe.ng = bench.ng
      |GROUP BY probe.doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    Contamination.ngramOverlap(
      probe = docs.filter(pmod(col("doc_id"), lit(29)) =!= 0),
      benchmark = docs.filter(pmod(col("doc_id"), lit(29)) === 0),
      idCol = "doc_id", textCol = "text", n = 8)
  }

  // ---------------------------------------------------------------- within-doc repetition
  /** Gopher-style repetition quality signals, token-level. The Spark
    * side is pure per-row HOFs (sorted-run-length, zero shuffle — see
    * TextFunctions.topFrequencyFraction); the oracle deliberately
    * computes the same numbers the explode + group-by way, so the two
    * independent implementations cross-check. Restricted to docs with
    * ≥ 2 tokens (bigram metrics undefined below that). */
  val q51Repetition = q("q51_repetition",
    "Within-document repetition: dup-token/bigram and top-bigram fractions (north star: quality filtering)",
    """WITH tk AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      |  FROM documents WHERE len(regexp_extract_all(lower(text), '[a-z0-9]+')) >= 2),
      |bg AS (
      |  SELECT doc_id, toks,
      |         list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) AS bgs
      |  FROM tk),
      |exploded AS (SELECT doc_id, unnest(bgs) AS g FROM bg),
      |cnt AS (SELECT doc_id, g, count(*) AS c FROM exploded GROUP BY 1, 2),
      |top AS (SELECT doc_id, max(c) AS mx, sum(c) AS tot FROM cnt GROUP BY 1)
      |SELECT bg.doc_id,
      |       CAST(len(bgs) AS BIGINT) AS n_bigrams,
      |       CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE) / len(toks) AS dup_token_frac,
      |       CAST(len(bgs) - len(list_distinct(bgs)) AS DOUBLE) / len(bgs) AS dup_bigram_frac,
      |       CAST(top.mx AS DOUBLE) / top.tot AS top_bigram_frac
      |FROM bg JOIN top ON bg.doc_id = top.doc_id""".stripMargin) { (s, d) =>
    val tk = TextFunctions.tokens(col("text"))
    val bg = TextFunctions.bigrams(col("text"))
    Tables.documents(s, d)
      .filter(size(tk) >= 2)
      .select(
        col("doc_id"),
        size(bg).cast("long").as("n_bigrams"),
        TextFunctions.dupFraction(tk).as("dup_token_frac"),
        TextFunctions.dupFraction(bg).as("dup_bigram_frac"),
        TextFunctions.topFrequencyFraction(bg).as("top_bigram_frac"))
  }

  // ---------------------------------------------------------------- the revenue pipeline itself
  /** Checked-in Stripe-shaped NDJSON fixture (scripts/gen_fixture.py,
    * FIXTURES.md §A.1) — absolute path because both engines (Spark here,
    * DuckDB in the driver's oracle run) must read the same bytes. */
  private val InvoiceFixture = "/root/repo/fixtures/stripe_invoices.ndjson"

  /** The one deferred-revenue mart both q46 and q61 run — a single
    * construction so the analyst query can never drift from the mart
    * the oracle verifies. */
  private def martInputs(s: SparkSession)
      : (DataFrame, DataFrame, org.apache.spark.sql.Column) = {
    val raw = s.read.schema(graft.pipeline.Schemas.invoiceSchema).json(InvoiceFixture)
    val staged = graft.pipeline.Models.staged(raw)
    val loadedAt = lit(null).cast("timestamp")
    val lineItems = graft.pipeline.Models.invoiceLineItems(staged, loadedAt)
    val fx = graft.pipeline.Models.exchangeRates(s, java.time.LocalDate.of(2024, 8, 12))
    (lineItems, fx, loadedAt)
  }

  private def deferredMart(s: SparkSession): DataFrame = {
    val (lineItems, fx, loadedAt) = martInputs(s)
    graft.pipeline.Models.deferredRevenue(lineItems, fx, loadedAt)
  }

  private def recognizedMart(s: SparkSession): DataFrame = {
    val (lineItems, fx, loadedAt) = martInputs(s)
    graft.pipeline.Models.recognizedRevenue(lineItems, fx, loadedAt)
  }

  private val invoiceFixtureDuckdbColumns =
    """columns={id:'VARCHAR', customer:'VARCHAR', subscription:'VARCHAR',
      |         status:'VARCHAR', currency:'VARCHAR', created:'BIGINT', total:'BIGINT',
      |         lines:'STRUCT(data STRUCT(id VARCHAR, currency VARCHAR, amount BIGINT,
      |                subscription VARCHAR, period STRUCT("start" BIGINT, "end" BIGINT),
      |                taxes STRUCT(amount BIGINT, tax_behavior VARCHAR)[])[])'}""".stripMargin

  /** Shared oracle CTE chain for both marts (mirrors
    * Models.revenueBase): NDJSON scan → paid filter → line-item
    * flatten → tax split → FX → daily rate. q46 appends the closed
    * [created, period_end] expansion (deferred), q83 the half-open
    * [period_start, period_end) one (recognized). */
  private val revenueBaseSql =
    s"""WITH src AS (
      |  SELECT id, customer, subscription, currency,
      |         CAST(make_timestamp(created * 1000000) AS DATE) AS created_at_date,
      |         lines
      |  FROM read_json('$InvoiceFixture', format='newline_delimited',
      |                 $invoiceFixtureDuckdbColumns)
      |  WHERE status = 'paid'),
      |flattened AS (
      |  SELECT id AS invoice_id, customer AS customer_id,
      |         subscription AS invoice_subscription_id,
      |         currency AS invoice_currency,
      |         created_at_date AS invoice_created_date,
      |         unnest(lines.data) AS li
      |  FROM src),
      |items AS (
      |  SELECT li.id AS line_item_id, invoice_id, customer_id,
      |         coalesce(li.subscription, invoice_subscription_id) AS subscription_id,
      |         CAST(li.amount AS DOUBLE) / 100 AS amount,
      |         coalesce(li.currency, invoice_currency) AS currency,
      |         invoice_created_date,
      |         CAST(make_timestamp(li.period['start'] * 1000000) AS DATE) AS period_start_date,
      |         coalesce(list_aggregate(list_transform(li.taxes,
      |                    t -> CAST(t.amount AS DOUBLE)), 'sum') / 100,
      |                  CAST(0 AS DOUBLE)) AS tax_amount,
      |         coalesce(li.taxes[1].tax_behavior = 'inclusive', false) AS is_tax_inclusive,
      |         CASE WHEN li.period['end'] IS NULL
      |              THEN CAST(make_timestamp(li.period['start'] * 1000000) AS DATE) + 1
      |              ELSE CAST(make_timestamp(li.period['end'] * 1000000) AS DATE)
      |         END AS period_end_date
      |  FROM flattened),
      |fx AS (SELECT * FROM (VALUES
      |         ('USD', CAST(1.0 AS DOUBLE)), ('GBP', CAST(1.27 AS DOUBLE)),
      |         ('EUR', CAST(1.08 AS DOUBLE))) v(from_currency, exchange_rate)),
      |rev AS (
      |  SELECT items.*,
      |         CASE WHEN is_tax_inclusive THEN amount - tax_amount ELSE amount END AS amount_without_tax,
      |         CASE WHEN is_tax_inclusive THEN amount ELSE amount + tax_amount END AS amount_with_tax
      |  FROM items),
      |usd AS (
      |  SELECT rev.*,
      |         amount_without_tax * exchange_rate AS amount_without_tax_usd,
      |         amount_with_tax * exchange_rate AS amount_with_tax_usd
      |  FROM rev JOIN fx ON currency = from_currency),
      |spc AS (
      |  SELECT usd.*,
      |         date_diff('day', period_start_date, period_end_date) AS service_period_days,
      |         CASE WHEN date_diff('day', period_start_date, period_end_date) > 0
      |              THEN amount_without_tax_usd / date_diff('day', period_start_date, period_end_date)
      |              ELSE amount_without_tax_usd END AS daily_revenue_usd
      |  FROM usd)""".stripMargin

  /** The reference's whole point, under the oracle end-to-end: raw
    * invoice NDJSON → staging date → line-item flatten + tax HOFs →
    * FX → daily-rate proration → the deferred-revenue mart at
    * (line_item_id, as_of_date) grain (reference:
    * dbt/stripe/models/marts/deferred_revenue.sql:19-128 compiled into
    * one chain; analyst surface README.md:176-213). Raw doubles, no
    * rounding: both engines execute the identical IEEE-754 op sequence
    * (cents/100 → ×rate → /days → ×days), so values are bit-equal —
    * which is itself part of the parity claim (SURVEY §1.2: FLOAT64
    * math, never Decimal). */
  val q46DeferredMart = q("q46_deferred_mart",
    "End-to-end revenue pipeline: NDJSON → flatten/tax → FX → proration → deferred mart (E2)",
    s"""$revenueBaseSql,
      |expanded AS (
      |  SELECT spc.*,
      |         CAST(unnest(generate_series(invoice_created_date, period_end_date,
      |                                     INTERVAL 1 DAY)) AS DATE) AS as_of_date
      |  FROM spc
      |  WHERE invoice_created_date <= period_end_date)
      |SELECT line_item_id, invoice_id, customer_id, subscription_id, currency,
      |       invoice_created_date, period_start_date, period_end_date,
      |       CAST(service_period_days AS BIGINT) AS service_period_days,
      |       daily_revenue_usd, amount_without_tax_usd, amount_with_tax_usd, as_of_date,
      |       CASE WHEN as_of_date < period_start_date THEN CAST(0 AS DOUBLE)
      |            WHEN as_of_date >= period_end_date THEN amount_without_tax_usd
      |            ELSE daily_revenue_usd * date_diff('day', period_start_date, as_of_date)
      |       END AS recognized_revenue_usd,
      |       CASE WHEN as_of_date < period_start_date THEN amount_without_tax_usd
      |            WHEN as_of_date >= period_end_date THEN CAST(0 AS DOUBLE)
      |            ELSE daily_revenue_usd * date_diff('day', as_of_date, period_end_date)
      |       END AS deferred_revenue_usd
      |FROM expanded""".stripMargin) { (s, _) =>
    deferredMart(s)
      .select(
        col("line_item_id"), col("invoice_id"), col("customer_id"),
        col("subscription_id"), col("currency"),
        col("invoice_created_date"), col("period_start_date"), col("period_end_date"),
        col("service_period_days").cast("long").as("service_period_days"),
        col("daily_revenue_usd"), col("amount_without_tax_usd"),
        col("amount_with_tax_usd"), col("as_of_date"),
        col("recognized_revenue_usd"), col("deferred_revenue_usd"))
  }

  /** The reference's second mart under the oracle: recognized revenue
    * at (line_item_id, recognition_date) grain over the half-open
    * service window [period_start_date, period_end_date), carrying
    * daily_revenue_usd (reference intent:
    * recognized_revenue.sql:70-97 — the committed SQL is
    * syntactically broken, SURVEY §7.4 risk 7; semantics are the
    * deferred chain restricted to the half-open window). Unrounded
    * doubles for the same bit-parity reason as q46. */
  val q83RecognizedMart = q("q83_recognized_mart",
    "End-to-end revenue pipeline: half-open service-window expansion → recognized mart (E2)",
    s"""$revenueBaseSql,
      |expanded AS (
      |  SELECT spc.*,
      |         CAST(unnest(generate_series(period_start_date,
      |                                     period_end_date - INTERVAL 1 DAY,
      |                                     INTERVAL 1 DAY)) AS DATE) AS recognition_date
      |  FROM spc
      |  WHERE period_start_date < period_end_date)
      |SELECT line_item_id, invoice_id, customer_id, subscription_id, currency,
      |       invoice_created_date, period_start_date, period_end_date,
      |       CAST(service_period_days AS BIGINT) AS service_period_days,
      |       recognition_date, daily_revenue_usd, amount_without_tax_usd
      |FROM expanded""".stripMargin) { (s, _) =>
    recognizedMart(s)
      .select(
        col("line_item_id"), col("invoice_id"), col("customer_id"),
        col("subscription_id"), col("currency"),
        col("invoice_created_date"), col("period_start_date"), col("period_end_date"),
        col("service_period_days").cast("long").as("service_period_days"),
        col("recognition_date"), col("daily_revenue_usd"),
        col("amount_without_tax_usd"))
  }

  // ---------------------------------------------------------------- analyst surface
  /** The reference's end-user query (README.md:195-203, deferred
    * revenue trend) over the full NDJSON → mart chain — what an
    * analyst actually runs. The oracle nests q46's verified mart SQL
    * and aggregates it identically. Sums are rounded to 4dp on BOTH
    * sides: a float sum's bit pattern depends on addend order, which
    * the engines don't share (the mart itself — q46 — is compared
    * unrounded because it never aggregates). */
  val q61AnalystTrend = q("q61_analyst_trend",
    "Analyst surface: deferred-revenue trend over the end-to-end mart (E3)",
    s"""SELECT as_of_date,
       |       round(sum(deferred_revenue_usd), 4) AS total_deferred_revenue_usd
       |FROM (
       |${q46DeferredMart.oracle.get}
       |) m
       |GROUP BY as_of_date""".stripMargin) { (s, _) =>
    deferredMart(s)
      .groupBy("as_of_date")
      .agg(round(sum("deferred_revenue_usd"), 4).as("total_deferred_revenue_usd"))
  }

  /** README.md:176-182 Q1 — total deferred revenue as of a day — run
    * through the actual `AnalystQueries.totalDeferred` API (not a
    * reimplementation), over the full NDJSON → mart chain. Rounded at
    * the outermost sum only (q61's rationale). */
  val q84TotalDeferred = q("q84_total_deferred",
    "Analyst surface: total deferred revenue as of a date via AnalystQueries (E3)",
    s"""SELECT round(sum(deferred_revenue_usd), 4) AS total_deferred_revenue_usd
       |FROM (
       |${q46DeferredMart.oracle.get}
       |) m
       |WHERE as_of_date = DATE '2024-06-15'""".stripMargin) { (s, _) =>
    graft.pipeline.AnalystQueries
      .totalDeferred(deferredMart(s), java.time.LocalDate.of(2024, 6, 15))
      .select(round(col("total_deferred_revenue_usd"), 4)
        .as("total_deferred_revenue_usd"))
  }

  /** README.md:184-193 Q2 — deferred revenue by customer, largest
    * first, via `AnalystQueries.deferredByCustomer`. No LIMIT, so set
    * membership is engine-independent and the ORDER BY is cosmetic —
    * the oracle omits it (driver hashing is row-order-insensitive,
    * q61 precedent). */
  val q85DeferredByCustomer = q("q85_deferred_by_customer",
    "Analyst surface: deferred revenue by customer via AnalystQueries (E3)",
    s"""SELECT customer_id,
       |       round(sum(deferred_revenue_usd), 4) AS total_deferred_revenue_usd
       |FROM (
       |${q46DeferredMart.oracle.get}
       |) m
       |WHERE as_of_date = DATE '2024-06-15'
       |GROUP BY customer_id""".stripMargin) { (s, _) =>
    graft.pipeline.AnalystQueries
      .deferredByCustomer(deferredMart(s), java.time.LocalDate.of(2024, 6, 15))
      .select(col("customer_id"),
        round(col("total_deferred_revenue_usd"), 4)
          .as("total_deferred_revenue_usd"))
  }

  /** README.md:206-213 Q4 — revenue recognized in a quarter via the
    * calendar join (`AnalystQueries.recognizedInQuarter`), the one
    * analyst query that exercises the J2 calendar join end-to-end.
    * Quarter is compared as a STRING (the FORMAT_DATE('%Q') artifact,
    * SURVEY §2.9). The oracle filters on year/quarter of
    * recognition_date directly — equivalent because the calendar
    * spine (2020-01-01..2024-12-31) covers every 2024-Q2 date, so the
    * inner join drops nothing the filter keeps. */
  val q86RecognizedQuarter = q("q86_recognized_quarter",
    "Analyst surface: revenue recognized in 2024-Q2 via the calendar join (E3/J2)",
    s"""SELECT round(sum(daily_revenue_usd), 4) AS recognized_revenue_usd
       |FROM (
       |${q83RecognizedMart.oracle.get}
       |) m
       |WHERE year(recognition_date) = 2024
       |  AND CAST(quarter(recognition_date) AS VARCHAR) = '2'""".stripMargin) { (s, _) =>
    val cal = graft.pipeline.Models.calendar(s, java.time.LocalDate.of(2024, 12, 31))
    graft.pipeline.AnalystQueries
      .recognizedInQuarter(recognizedMart(s), cal, 2024, "2")
      .select(round(col("recognized_revenue_usd"), 4).as("recognized_revenue_usd"))
  }

  // ---------------------------------------------------------------- DSv2 pushdown scan
  /** The DSv2 NDJSON source under the oracle: equality + range filters
    * pushed INTO the scan (the reference's API-side `status:'paid'`,
    * `created >= hwm` pushdown, extract_stripe_data.py:16,32,130-131),
    * verified against DuckDB's read_json over the same file. The plan's
    * scan node reports `PushedFilters=[...]` (asserted in
    * NdjsonSourceSpec). */
  val q47NdjsonPushdown = q("q47_ndjson_pushdown",
    "DSv2 NDJSON scan with filter+column pushdown vs read_json (S1/S5)",
    s"""SELECT id AS invoice_id, customer AS customer_id, currency, created,
      |       CAST(make_timestamp(created * 1000000) AS DATE) AS created_at_date,
      |       CAST(total AS DOUBLE) / 100 AS total_units
      |FROM read_json('$InvoiceFixture', format='newline_delimited',
      |               $invoiceFixtureDuckdbColumns)
      |WHERE status = 'paid' AND created >= 1709251200""".stripMargin) { (s, _) =>
    s.read.format("graft.sources.NdjsonSource")
      .schema(graft.pipeline.Schemas.invoiceSchema)
      .option("path", InvoiceFixture).load()
      .filter(col("status") === "paid" && col("created") >= 1709251200L) // 2024-03-01
      .select(
        col("id").as("invoice_id"), col("customer").as("customer_id"),
        col("currency"), col("created"),
        to_date(timestamp_seconds(col("created"))).as("created_at_date"),
        (col("total").cast("double") / 100).as("total_units"))
  }

  // ---------------------------------------------------------------- tf-idf relevance
  /** Relevance.tfidfTopTerms under the oracle: corpus-level keyword
    * extraction — tf from one (doc, term) aggregate, df derived from
    * it, corpus size broadcast in, per-doc top-3 by the ROUNDED score
    * with a term tiebreak (the catalog's determinism rule for ranks).
    * ln() is one libm call on an exact rational — both engines emit
    * the same double, and 6dp rounding absorbs any last-ulp delta. */
  val q65Tfidf = q("q65_tfidf",
    "TF-IDF top terms per document (north star: text analysis)",
    """WITH toks AS (
      |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
      |         round(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS score
      |  FROM tf JOIN df USING (term) CROSS JOIN n)
      |SELECT doc_id, term, tf, df, score FROM (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id
      |                               ORDER BY score DESC, term) AS rk
      |  FROM scored) WHERE rk <= 3""".stripMargin) { (s, d) =>
    Relevance.tfidfTopTerms(Tables.documents(s, d), "doc_id", "text", k = 3)
  }

  // ---------------------------------------------------------------- SCD Type 2
  /** Scd.scd2FromChangeLog under the oracle: orders as a per-customer
    * status change log (ts = order date, tiebreak = order key) →
    * versioned dimension rows with [valid_from, valid_to) intervals.
    * The dbt-snapshot analog the reference ecosystem provides but the
    * reference's full-rebuild dims lack. */
  val q66Scd2 = q("q66_scd2",
    "SCD Type 2 versioned dimension from a change log (warehouse completeness)",
    """WITH c AS (
      |  SELECT o_custkey AS customer_id, o_orderstatus AS status,
      |         CAST(o_orderdate AS DATE) AS ts, o_orderkey AS seq
      |  FROM orders),
      |marked AS (
      |  SELECT *, lag(status) OVER (PARTITION BY customer_id ORDER BY ts, seq) AS prev
      |  FROM c),
      |numbered AS (
      |  SELECT *, row_number() OVER (PARTITION BY customer_id ORDER BY ts, seq) AS rn
      |  FROM marked),
      |starts AS (SELECT * FROM numbered WHERE prev IS DISTINCT FROM status OR rn = 1)
      |SELECT customer_id, status, ts AS valid_from,
      |       lead(ts) OVER w AS valid_to,
      |       lead(ts) OVER w IS NULL AS is_current
      |FROM starts
      |WINDOW w AS (PARTITION BY customer_id ORDER BY ts, seq)""".stripMargin) { (s, d) =>
    val changes = Tables.orders(s, d).select(
      col("o_custkey").as("customer_id"),
      col("o_orderstatus").as("status"),
      to_date(col("o_orderdate")).as("ts"),
      col("o_orderkey").as("seq"))
    Scd.scd2FromChangeLog(changes, Seq("customer_id"), "ts", "seq", Seq("status"))
      .select(col("customer_id"), col("status"),
        col("valid_from"), col("valid_to"), col("is_current"))
  }

  // ---------------------------------------------------------------- stratified sampling
  /** Splits.stratifiedSample under the oracle: per-language keep rates
    * in integer basis points (en 25%, de 50%, fr 100%; unlisted
    * strata drop), decided by the same engine-portable md5 bucket as
    * q49 — a reproducible sample, not a rand() one. The oracle states
    * the identical md5 arithmetic over an inner-joined VALUES rate
    * table. */
  val q67StratifiedSample = q("q67_stratified_sample",
    "Deterministic stratified sample: per-stratum md5-bucket rates (north star: dataset curation)",
    """WITH r AS (SELECT * FROM (VALUES ('en', 2500), ('de', 5000), ('fr', 10000))
      |                v(lang, bps))
      |SELECT d.doc_id, d.lang
      |FROM documents d JOIN r USING (lang)
      |WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000
      |      < r.bps""".stripMargin) { (s, d) =>
    Splits.stratifiedSample(
      Tables.documents(s, d), strataCol = "lang", idCol = "doc_id",
      ratesBps = Map("en" -> 2500, "de" -> 5000, "fr" -> 10000))
      .select("doc_id", "lang")
  }

  // ---------------------------------------------------------------- embedding quantization
  /** Similarity.int8Scale/quantizeInt8 under the oracle: symmetric
    * int8 scalar quantization of the embedding column — the storage/
    * bandwidth scale path for ANN (4× smaller than float32). Compared
    * UNROUNDED: scale = max|x|/127 and each code = round(x/scale) are
    * single IEEE-754 ops on exactly-widened floats, so both engines
    * produce bit-identical doubles and identical integer codes (codes
    * travel as a joined string — the driver's compare can't sort array
    * columns). */
  val q68QuantizeInt8 = q("q68_quantize_int8",
    "Int8 scalar quantization of embeddings: scale + codes (north star: similarity storage path)",
    """SELECT vec_id,
      |       CASE WHEN m IS NULL OR m = 0 THEN NULL ELSE m / 127.0 END AS scale,
      |       CASE WHEN m IS NULL OR m = 0
      |            THEN array_to_string(list_transform(embedding, x -> 0), ',')
      |            ELSE array_to_string(list_transform(embedding,
      |                   x -> CAST(round(CAST(x AS DOUBLE) / (m / 127.0)) AS INTEGER)), ',')
      |       END AS codes
      |FROM (SELECT vec_id, embedding,
      |             list_aggregate(list_transform(embedding,
      |               x -> abs(CAST(x AS DOUBLE))), 'max') AS m
      |      FROM embeddings)""".stripMargin) { (s, d) =>
    Tables.embeddings(s, d).select(
      col("vec_id"),
      Similarity.int8Scale(col("embedding")).as("scale"),
      array_join(Similarity.quantizeInt8(col("embedding")).cast("array<string>"), ",")
        .as("codes"))
  }

  // ---------------------------------------------------------------- unpivot
  /** UNPIVOT — the inverse of q38's pivot, closing the reshaping
    * family: wide per-row measures become (measure, value) rows via
    * Spark's native unpivot (an Expand node, zero shuffle). The
    * oracle states the portable UNION ALL form. */
  val q69Unpivot = q("q69_unpivot",
    "UNPIVOT lineitem measures to (measure, value) rows (reshaping completeness)",
    """SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
      |       round(l_quantity, 4) AS value
      |FROM lineitem WHERE l_orderkey % 7 = 0
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, 'l_extendedprice', round(l_extendedprice, 4)
      |FROM lineitem WHERE l_orderkey % 7 = 0
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, 'l_discount', round(l_discount, 4)
      |FROM lineitem WHERE l_orderkey % 7 = 0""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .filter(pmod(col("l_orderkey"), lit(7)) === 0)
      .select(col("l_orderkey"), col("l_linenumber"),
        round(col("l_quantity"), 4).as("l_quantity"),
        round(col("l_extendedprice"), 4).as("l_extendedprice"),
        round(col("l_discount"), 4).as("l_discount"))
      .unpivot(
        ids = Array(col("l_orderkey"), col("l_linenumber")),
        values = Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        variableColumnName = "measure",
        valueColumnName = "value")
  }

  // ---------------------------------------------------------------- document chunking
  /** Chunking.slidingChunks under the oracle: 50-token windows with a
    * 10-token overlap (stride 40) — the context-window preparation
    * step. All integer boundary arithmetic, so the DuckDB oracle
    * reproduces every chunk byte-for-byte. */
  val q70Chunks = q("q70_chunks",
    "Sliding-window document chunking: 50-token chunks, 10-token overlap (north star: training prep)",
    """WITH tk AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      |  FROM documents),
      |counted AS (
      |  SELECT doc_id, toks,
      |         CASE WHEN len(toks) <= 50 THEN 1
      |              ELSE 1 + (len(toks) - 50 + 39) // 40 END AS n_chunks
      |  FROM tk)
      |SELECT doc_id,
      |       CAST(i AS INTEGER) AS chunk_id,
      |       CAST(len(toks[i*40+1 : i*40+50]) AS INTEGER) AS n_tokens,
      |       array_to_string(toks[i*40+1 : i*40+50], ' ') AS chunk_text
      |FROM counted, unnest(generate_series(0, n_chunks - 1)) t(i)""".stripMargin) { (s, d) =>
    Chunking.slidingChunks(Tables.documents(s, d), "doc_id", "text",
      chunkTokens = 50, overlapTokens = 10)
  }

  // ---------------------------------------------------------------- URL normalization
  /** Web-corpus URL canonicalization (north star: curation). The
    * corpus tables carry no URL column, so both engines synthesize
    * the identical messy URL from doc_id (the q48 synthetic-PII
    * pattern), then normalize with the same engine-portable
    * character-class regexes: strip fragment, strip utm params, strip
    * the default :443 port, lowercase scheme+host (path case is
    * preserved — it is significant in URLs). */
  val q71UrlNormalize = q("q71_url_normalize",
    "URL canonicalization: fragment/utm/port strip + case-folded host (north star: web curation)",
    """WITH u AS (
      |  SELECT doc_id,
      |         'HTTPS://WWW.Example' || CAST(doc_id % 5 AS VARCHAR) ||
      |         '.COM:443/Path/' || CAST(doc_id AS VARCHAR) ||
      |         '/?id=' || CAST(doc_id AS VARCHAR) || '&utm_source=feed#sec' ||
      |         CAST(doc_id AS VARCHAR) AS url
      |  FROM documents),
      |stripped AS (
      |  SELECT doc_id,
      |         regexp_replace(
      |           regexp_replace(
      |             regexp_replace(url, '#[A-Za-z0-9]*$', '', 'g'),
      |             '&utm_[a-z]+=[a-z]*', '', 'g'),
      |           ':443/', '/', 'g') AS u
      |  FROM u)
      |SELECT doc_id,
      |       lower(regexp_extract(u, '^[^/]+//[^/]+')) ||
      |         regexp_replace(u, '^[^/]+//[^/]+', '', 'g') AS url_norm,
      |       regexp_extract(lower(regexp_extract(u, '^[^/]+//[^/]+')),
      |                      '//([a-z0-9.]+)', 1) AS host
      |FROM stripped""".stripMargin) { (s, d) =>
    val url = concat(
      lit("HTTPS://WWW.Example"), (col("doc_id") % 5).cast("string"),
      lit(".COM:443/Path/"), col("doc_id").cast("string"),
      lit("/?id="), col("doc_id").cast("string"),
      lit("&utm_source=feed#sec"), col("doc_id").cast("string"))
    val stripped = regexp_replace(
      regexp_replace(
        regexp_replace(url, "#[A-Za-z0-9]*$", ""),
        "&utm_[a-z]+=[a-z]*", ""),
      ":443/", "/")
    val prefix = regexp_extract(stripped, "^[^/]+//[^/]+", 0)
    Tables.documents(s, d).select(
      col("doc_id"),
      concat(lower(prefix),
        regexp_replace(stripped, "^[^/]+//[^/]+", "")).as("url_norm"),
      regexp_extract(lower(prefix), "//([a-z0-9.]+)", 1).as("host"))
  }

  // ---------------------------------------------------------------- time-decayed aggregation
  /** Exponentially-decayed engagement score per user — the recency-
    * weighted aggregate every feed/feature pipeline carries. All
    * decay arithmetic is integer until the final pow: the decay
    * exponent is WHOLE half-life periods (integer microsecond
    * difference DIV the 30-day period), so pow(0.5, k) is a power of
    * two both engines represent exactly — no libm ulp drift in the
    * weights. The reference date is max(ts) of the data, not now(). */
  val q72DecayedAgg = q("q72_decayed_agg",
    "Time-decayed engagement: pow(1/2, whole 30-day periods) weighted sum per user (feature-pipeline completeness)",
    """WITH mx AS (SELECT max(epoch_us(ts)) AS mx FROM events)
      |SELECT user_id,
      |       round(sum(value * pow(0.5, (mx - epoch_us(ts)) // 2592000000000)), 4)
      |         AS decayed_value,
      |       count(*) AS n_events
      |FROM events, mx
      |GROUP BY user_id""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val mx = ev.agg(max(unix_micros(col("ts"))).as("mx"))
    ev.crossJoin(broadcast(mx))
      .withColumn("periods",
        expr("(mx - unix_micros(ts)) DIV 2592000000000"))
      .groupBy("user_id")
      .agg(
        round(sum(col("value") * pow(lit(0.5), col("periods"))), 4).as("decayed_value"),
        count(lit(1)).as("n_events"))
  }

  // ---------------------------------------------------------------- weighted sampling
  /** Length-weighted deterministic Bernoulli sample: keep probability
    * proportional to document length, capped at 1 — the "prefer long
    * documents" curation policy. Same engine-portable md5-bucket
    * decision as q49/q67 (Splits.splitBucket), threshold in integer
    * basis points: keep iff bucket < min(10000, n_chars * 5). Pure
    * integer comparison — reproducible across engines and runs. */
  val q73WeightedSample = q("q73_weighted_sample",
    "Deterministic length-weighted document sample via md5 buckets (north star: curation)",
    """SELECT doc_id, lang, n_chars
      |FROM documents
      |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000
      |      < least(10000, n_chars * 5)""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .filter(Splits.splitBucket(col("doc_id"), 10000) <
        least(lit(10000), col("n_chars") * 5))
      .select(col("doc_id"), col("lang"), col("n_chars"))
  }

  // ---------------------------------------------------------------- windowed distinct count
  /** Rolling distinct-user count per event type over the trailing 100
    * events — dashboard-style rolling reach. Spark has no
    * count(DISTINCT) window aggregate; the idiomatic translation is
    * size(collect_set() OVER ...), but a window partitioned by
    * event_type ALONE sorts the whole fact table into ≤ |event_types|
    * tasks — a single-task-per-hot-key sort at 100 TB. The engine
    * form is `Rolling.rollingDistinct`: day-bucketed two-phase global
    * sequence + chunked trailing window with a 99-row overlap carry,
    * so every sort partition is bounded by chunkSize + 99 regardless
    * of key cardinality. The oracle cross-checks with DuckDB's native
    * windowed COUNT(DISTINCT) over the unchunked formulation —
    * exact-equality proof that the chunk/carry rewrite preserves the
    * frame semantics. */
  val q74WindowDistinct = q("q74_window_distinct",
    "Rolling 100-event distinct-user reach per event type, chunk+carry scale form (window-family completeness)",
    """SELECT event_id,
      |       CAST(count(DISTINCT user_id) OVER (
      |         PARTITION BY event_type ORDER BY ts, event_id
      |         ROWS BETWEEN 99 PRECEDING AND CURRENT ROW) AS BIGINT) AS rolling_users
      |FROM events""".stripMargin) { (s, d) =>
    Rolling.rollingDistinct(
      Tables.events(s, d),
      keyCols = Seq("event_type"),
      orderCols = Seq(col("ts"), col("event_id")),
      bucket = date_trunc("day", col("ts")),
      valueCol = "user_id", n = 100, as = "rolling_users",
      chunkSize = 1000)
      .select(col("event_id"), col("rolling_users"))
  }

  // ---------------------------------------------------------------- edit distance
  /** Levenshtein string similarity on adjacent customer names — the
    * fuzzy-matching primitive (entity resolution, OCR dedup) both
    * engines ship natively. Pairing is the deterministic
    * consecutive-key self join, so the pair set — unlike a threshold
    * join on a similarity score — is engine-independent. */
  val q75EditDistance = q("q75_edit_distance",
    "Levenshtein distance + similarity ratio over consecutive customer names (fuzzy matching)",
    """SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
      |       CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS edit_dist,
      |       round(1.0 - CAST(levenshtein(a.c_name, b.c_name) AS DOUBLE)
      |             / greatest(length(a.c_name), length(b.c_name)), 4) AS name_sim
      |FROM customer a JOIN customer b ON b.c_custkey = a.c_custkey + 1""".stripMargin) { (s, d) =>
    val c = Tables.customer(s, d)
    val a = c.select(col("c_custkey").as("key_a"), col("c_name").as("name_a"))
    val b = c.select(col("c_custkey").as("key_b"), col("c_name").as("name_b"))
    a.join(b, col("key_b") === col("key_a") + 1)
      .select(col("key_a"), col("key_b"),
        levenshtein(col("name_a"), col("name_b")).cast("long").as("edit_dist"),
        round(lit(1.0) - levenshtein(col("name_a"), col("name_b")).cast("double") /
          greatest(length(col("name_a")), length(col("name_b"))), 4).as("name_sim"))
  }

  // ---------------------------------------------------------------- z-score outliers
  /** Per-type z-score outlier flagging over event values — the
    * data-quality anomaly gate. Stats come from a groupBy + broadcast
    * join (not a window): the per-type aggregate is map-side partial
    * and the dimension re-joins broadcast, so the fact shuffles once
    * at most — the window form would sort the whole fact inside a
    * handful of type partitions.
    *
    * Known FP-boundary risk (accepted): the |z| >= 2.0 cut is applied
    * to the 4dp-ROUNDED score in both engines, so divergence needs a
    * row whose unrounded z differs between engines ACROSS a 0.00005
    * rounding boundary that also straddles 2.0 — none exists in the
    * synthetic data (nearest z gap to the cut ≫ double agg drift). */
  /** Known, accepted FP-boundary risk (same class as every rounded
    * double in the catalog): membership is decided on round(z, 4), so
    * a row whose unrounded z sits within the engines' aggregation-
    * order drift (~1e-12 relative) of a 0.00005 rounding edge at
    * |z| ≈ 2 could diverge. Moving to an epsilon-shifted unrounded
    * threshold only relocates the boundary; with the deterministic
    * driver corpus the current form is stable (green since r3). */
  val q76ZscoreOutliers = q("q76_zscore_outliers",
    "Z-score outliers per event type, |z| >= 2 on the rounded score (data-quality completeness)",
    """WITH stats AS (
      |  SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sigma
      |  FROM events GROUP BY event_type)
      |SELECT e.event_id, e.event_type, round((e.value - s.mu) / s.sigma, 4) AS z
      |FROM events e JOIN stats s ON e.event_type = s.event_type
      |WHERE abs(round((e.value - s.mu) / s.sigma, 4)) >= 2.0""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val stats = ev.groupBy("event_type")
      .agg(avg("value").as("mu"), stddev_samp("value").as("sigma"))
    val z = round((col("value") - col("mu")) / col("sigma"), 4)
    ev.join(broadcast(stats), Seq("event_type"))
      .select(col("event_id"), col("event_type"), z.as("z"))
      .filter(abs(col("z")) >= 2.0)
  }

  // ---------------------------------------------------------------- length histogram
  /** Document-length histogram per source: fixed-width 200-char
    * buckets, capped at bucket 19 — profiling/observability over the
    * corpus. Pure integer bucket arithmetic (no width_bucket: DuckDB
    * and Spark disagree on boundary conventions), one partial-agg
    * shuffle of (source, bucket) pairs. */
  val q77Histogram = q("q77_histogram",
    "Fixed-width document-length histogram per source (profiling completeness)",
    """SELECT source,
      |       least(19, n_chars // 200) AS bucket,
      |       count(*) AS n
      |FROM documents
      |GROUP BY source, least(19, n_chars // 200)""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .withColumn("bucket", least(lit(19), expr("n_chars DIV 200")))
      .groupBy("source", "bucket")
      .agg(count(lit(1)).as("n"))
  }

  // ---------------------------------------------------------------- n-gram containment
  /** Asymmetric containment |A∩B|/|A| on consecutive same-source doc
    * pairs — "how much of A is inside B", the quote/subset-detection
    * measure Jaccard (q21) can't express (a short doc fully quoted in
    * a long one has low Jaccard but containment 1). Token sets are
    * hashed once per doc (codegen'd HashedTokenSet) and scored by the
    * linear-merge ContainmentSortedLong expression; pairing is each
    * doc with its id-successor WITHIN the source (one lead() window —
    * no join), so the pair set is deterministic in both engines. */
  val q78Containment = q("q78_containment",
    "Token-set containment on successive same-source doc pairs (north star: contamination)",
    """WITH t AS (
      |  SELECT doc_id, source,
      |         list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')) AS sh
      |  FROM documents),
      |p AS (
      |  SELECT doc_id AS id_a, sh AS sh_a,
      |         lead(doc_id) OVER w AS id_b,
      |         lead(sh)     OVER w AS sh_b
      |  FROM t
      |  WINDOW w AS (PARTITION BY source ORDER BY doc_id))
      |SELECT id_a, id_b,
      |       round(CASE WHEN len(sh_a) = 0 THEN 0.0
      |                  ELSE CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
      |                       / len(sh_a) END, 4) AS containment
      |FROM p WHERE id_b IS NOT NULL""".stripMargin) { (s, d) =>
    val toks = Tables.documents(s, d).select(
      col("doc_id"), col("source"),
      graft.functions.Sketches.hashed_token_set(
        TextFunctions.tokens(col("text"))).as("sh"))
    val w = Window.partitionBy("source").orderBy("doc_id")
    toks.select(
      col("doc_id").as("id_a"), col("sh").as("sh_a"),
      lead(col("doc_id"), 1).over(w).as("id_b"),
      lead(col("sh"), 1).over(w).as("sh_b"))
      .filter(col("id_b").isNotNull)
      .select(col("id_a"), col("id_b"),
        round(graft.functions.Sketches.containment_sorted_long(col("sh_a"), col("sh_b")), 4)
          .as("containment"))
  }

  // ---------------------------------------------------------------- per-group deterministic sample
  /** Uniform k-per-stratum sample ordered by md5(id) — the
    * deterministic "reservoir": every engine, run and retry draws the
    * SAME k docs per language because the order key is a hash of the
    * row id, not rand(). Window partitions by stratum, so each
    * partition is one stratum — bounded and parallel across strata. */
  val q79GroupSample = q("q79_group_sample",
    "Deterministic k-per-group sample via md5-ordered ranking (north star: curation)",
    """SELECT doc_id, lang, CAST(rk AS BIGINT) AS rk FROM (
      |  SELECT doc_id, lang,
      |         row_number() OVER (PARTITION BY lang
      |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      |  FROM documents) WHERE rk <= 5""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("lang")
      .orderBy(md5(col("doc_id").cast("string").cast("binary")), col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), row_number().over(w).cast("long").as("rk"))
      .filter(col("rk") <= 5)
  }

  // ---------------------------------------------------------------- winsorization
  /** Per-group winsorization at [p05, p95] — outlier clamping for
    * feature pipelines, composed from Percentiles.interpolated (the
    * distributed exact-percentile operator) + a broadcast bounds join
    * + a pure clamp projection. The fact table shuffles zero times:
    * bounds come back as a 3-row broadcast dimension. */
  val q80Winsorize = q("q80_winsorize",
    "Winsorize prices at per-group [p05, p95] via the distributed percentile operator",
    """WITH b AS (
      |  SELECT l_returnflag AS f,
      |         quantile_cont(l_extendedprice, 0.05) AS p05,
      |         quantile_cont(l_extendedprice, 0.95) AS p95
      |  FROM lineitem GROUP BY 1)
      |SELECT l_orderkey, l_linenumber, l_returnflag,
      |       round(least(greatest(l_extendedprice, p05), p95), 4) AS clipped
      |FROM lineitem JOIN b ON l_returnflag = f""".stripMargin) { (s, d) =>
    val li = Tables.lineitem(s, d)
    val bounds = Percentiles.interpolated(li, Seq("l_returnflag"),
      "l_extendedprice", Seq("p05" -> 0.05, "p95" -> 0.95))
      .select(col("l_returnflag"), col("p05"), col("p95"))
    li.join(broadcast(bounds), Seq("l_returnflag"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        round(least(greatest(col("l_extendedprice"), col("p05")), col("p95")), 4)
          .as("clipped"))
  }

  // ---------------------------------------------------------------- data-quality checks
  /** The dbt-tests analog as one query: named assertion → violation
    * count (not-null, PK-unique, FK-orphan, domain, non-empty text,
    * exact-dup fingerprints). Each check is a filter + count or an
    * anti join — map-side partial aggregation everywhere; the union
    * is of 6 single-row aggregates. A pipeline gates promotion on
    * violations = 0 (the dup-fingerprint row is deliberately > 0
    * here: the synthetic corpus plants exact duplicates). */
  val q81QualityChecks = q("q81_quality_checks",
    "Suite of data-quality assertions with violation counts (§2.12 quality gates)",
    """SELECT 'orders_custkey_not_null' AS check_name, count(*) AS violations
      |FROM orders WHERE o_custkey IS NULL
      |UNION ALL
      |SELECT 'orders_pk_unique', count(*) FROM (
      |  SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING count(*) > 1)
      |UNION ALL
      |SELECT 'lineitem_fk_orders', count(*) FROM lineitem l
      |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
      |UNION ALL
      |SELECT 'lineitem_qty_positive', count(*) FROM lineitem WHERE l_quantity <= 0
      |UNION ALL
      |SELECT 'documents_nonempty', count(*) FROM documents
      |WHERE length(trim(text)) = 0
      |UNION ALL
      |SELECT 'documents_exact_dupes', count(*) FROM (
      |  SELECT md5(array_to_string(regexp_extract_all(lower(text), '[a-z0-9]+'), ' ')) AS fp
      |  FROM documents GROUP BY 1 HAVING count(*) > 1)""".stripMargin) { (s, d) =>
    val orders = Tables.orders(s, d)
    val li = Tables.lineitem(s, d)
    val docs = Tables.documents(s, d)
    def check(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("violations"))
        .select(lit(name).as("check_name"), col("violations"))
    check("orders_custkey_not_null", orders.filter(col("o_custkey").isNull))
      .unionByName(check("orders_pk_unique",
        orders.groupBy("o_orderkey").agg(count(lit(1)).as("n")).filter(col("n") > 1)))
      .unionByName(check("lineitem_fk_orders",
        li.join(orders.select(col("o_orderkey").as("l_orderkey")),
          Seq("l_orderkey"), "left_anti")))
      .unionByName(check("lineitem_qty_positive", li.filter(col("l_quantity") <= 0)))
      .unionByName(check("documents_nonempty",
        docs.filter(length(trim(col("text"))) === 0)))
      .unionByName(check("documents_exact_dupes",
        docs.groupBy(TextFunctions.fingerprint(col("text")).as("fp"))
          .agg(count(lit(1)).as("n")).filter(col("n") > 1)))
  }

  // ---------------------------------------------------------------- SRP embedding LSH
  /** Dedup.lshPairs under SRP — the sub-quadratic embedding near-dup
    * path (SRP signatures + Hamming banding + exact-cosine verify).
    * The synthetic embeddings carry no true near-duplicates (SRP
    * banding targets cosine ≈ 1), so the query injects an exact copy
    * of every 10th vector under a shifted id — the q48 synthetic-
    * input pattern — and the operator must recover EXACTLY those
    * planted pairs, which makes the output fully oracle-expressible:
    * identical vectors produce identical SRP signatures (Hamming 0 —
    * banding recall on exact copies is deterministic, not
    * probabilistic), the exact-cosine verify scores them 1.0, and the
    * synthetic corpus carries no natural pairs at cosine ≥ 0.99
    * (random high-d vectors are near-orthogonal; a natural pair
    * appearing would break the hash match loudly, which is the
    * point). DuckDB reconstructs the planted pair list directly from
    * the table. */
  val q82SrpNearDup = q("q82_srp_neardup",
    "Embedding near-dup via SRP-LSH banding + exact cosine verify recovers exactly the planted copies (north star: similarity)",
    """SELECT vec_id AS id_a, CAST(vec_id + 1000000 AS BIGINT) AS id_b,
      |       CAST(1.0 AS DOUBLE) AS cos
      |FROM embeddings WHERE vec_id % 10 = 0""".stripMargin) { (s, d) =>
    val base = Tables.embeddings(s, d)
    val planted = base.filter(pmod(col("vec_id"), lit(10)) === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    Dedup.lshPairs(
      base.select(col("vec_id"), col("embedding")).unionByName(planted),
      "vec_id", "embedding", Dedup.Srp(threshold = 0.99))
  }

  // ---------------------------------------------------------------- multimodal audio decode (oracled)
  /** The audio twin of q41: every doc becomes either a well-formed
    * 44-byte WAV header (RIFF + fmt + data chunk declaration, no
    * sample bytes — the byte-range-probe shape) with sample rate /
    * channels / sample count PLANTED from doc_id arithmetic, or raw
    * text bytes (every 7th id, the non-audio fallback).
    * `Multimodal.AudioCodec.wavMeta` parses the RIFF chunk walk back
    * out in pure JVM, and the oracle recomputes the planted values —
    * any endianness/offset/chunk-walk error, or a wrong
    * duration = dataSize·1000/byteRate floor division, breaks the
    * hash match. Payload construction is codegen'd binary concat
    * (unhex/lpad/hex), so the corpus is built scan-side at scale. */
  val q87WavMeta = q("q87_wav_meta",
    "Per-partition WAV-header decode (real RIFF codec) over planted payloads (north star: multimodal audio)",
    """SELECT doc_id AS asset_id,
      |       CASE WHEN doc_id % 7 = 0 THEN 'text' ELSE 'audio' END AS modality,
      |       CASE WHEN doc_id % 7 = 0 THEN octet_length(encode(text))
      |            ELSE CAST(44 AS BIGINT) END AS byte_len,
      |       CASE WHEN doc_id % 7 = 0 THEN NULL ELSE 'wav' END AS audio_format,
      |       CASE WHEN doc_id % 7 = 0 THEN NULL
      |            ELSE CAST(8000 + (doc_id % 8) * 4000 AS INTEGER) END AS sample_rate,
      |       CASE WHEN doc_id % 7 = 0 THEN NULL
      |            ELSE CAST(1 + doc_id % 2 AS INTEGER) END AS channels,
      |       CASE WHEN doc_id % 7 = 0 THEN NULL
      |            ELSE CAST(16 AS INTEGER) END AS bits_per_sample,
      |       CASE WHEN doc_id % 7 = 0 THEN NULL
      |            ELSE CAST(((1000 + (doc_id * 37) % 50000) * 1000)
      |                      // (8000 + (doc_id % 8) * 4000) AS BIGINT) END AS duration_ms
      |FROM documents""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    // little-endian byte encoding via codegen'd hex round-trip
    def le(v: Column, nBytes: Int): Column = concat((0 until nBytes).map(i =>
      unhex(lpad(hex(shiftright(v, 8 * i).bitwiseAND(lit(255L))), 2, "0"))): _*)
    val sr = (lit(8000L) + pmod(col("doc_id"), lit(8)) * 4000L)
    val ch = (lit(1L) + pmod(col("doc_id"), lit(2)))
    val nSamples = (lit(1000L) + pmod(col("doc_id") * 37L, lit(50000L)))
    val blockAlign = ch * 2L
    val byteRate = sr * blockAlign
    val dataSize = nSamples * blockAlign
    val wav = concat(
      unhex(lit("52494646")),                 // "RIFF"
      le(lit(36L) + dataSize, 4),             // RIFF chunk size
      unhex(lit("57415645666D7420")),         // "WAVE" + "fmt "
      le(lit(16L), 4),                        // fmt chunk size (PCM block)
      le(lit(1L), 2),                         // audio format 1 = PCM
      le(ch, 2), le(sr, 4), le(byteRate, 4), le(blockAlign, 2),
      le(lit(16L), 2),                        // bits per sample
      unhex(lit("64617461")),                 // "data"
      le(dataSize, 4))                        // declared sample bytes (none follow)
    val sevMod = pmod(col("doc_id"), lit(7))
    val assets = Par.widen(docs, "doc_id").select(
      col("doc_id").as("asset_id"),
      when(sevMod === 0, lit("text")).otherwise(lit("audio")).as("modality"),
      when(sevMod === 0, col("text").cast("binary")).otherwise(wav).as("payload"))
    Multimodal.extractAudioMeta(s, assets).toDF()
  }

  // ---------------------------------------------------------------- multimodal: video metadata
  /** The third modality's q41/q87: minimal-but-valid MP4 payloads
    * (ftyp + moov[mvhd + trak[tkhd]], ISO/IEC 14496-12 box layout)
    * planted scan-side with per-row timescale/duration/dimensions;
    * `Multimodal.VideoCodec.mp4Meta` walks the box tree back out in
    * pure JVM and the oracle recomputes the planted values — any
    * box-size accounting, version-offset, or 16.16 fixed-point error,
    * or a wrong duration = dur·1000/timescale floor division, breaks
    * the hash match. */
  val q89Mp4Meta = q("q89_mp4_meta",
    "Per-partition MP4 box-walk decode (real ISO-BMFF codec) over planted payloads (north star: multimodal video)",
    """SELECT doc_id AS asset_id,
      |       CASE WHEN doc_id % 7 = 0 THEN 'text' ELSE 'video' END AS modality,
      |       CASE WHEN doc_id % 7 = 0 THEN octet_length(encode(text))
      |            ELSE CAST(232 AS BIGINT) END AS byte_len,
      |       CASE WHEN doc_id % 7 = 0 THEN NULL ELSE 'mp4' END AS video_format,
      |       CASE WHEN doc_id % 7 = 0 THEN NULL
      |            ELSE CAST((500 + (doc_id * 53) % 100000) * 1000
      |                      // (1000 * (1 + doc_id % 3)) AS BIGINT) END AS duration_ms,
      |       CASE WHEN doc_id % 7 = 0 THEN NULL
      |            ELSE CAST(160 * (1 + doc_id % 8) AS INTEGER) END AS width,
      |       CASE WHEN doc_id % 7 = 0 THEN NULL
      |            ELSE CAST(90 * (1 + doc_id % 8) AS INTEGER) END AS height
      |FROM documents""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    // big-endian byte encoding via codegen'd hex round-trip (the BE
    // twin of q87's `le`)
    def be(v: Column, nBytes: Int): Column = concat((nBytes - 1 to 0 by -1).map(i =>
      unhex(lpad(hex(shiftright(v, 8 * i).bitwiseAND(lit(255L))), 2, "0"))): _*)
    val ts = lit(1000L) * (lit(1L) + pmod(col("doc_id"), lit(3)))
    val dur = lit(500L) + pmod(col("doc_id") * 53L, lit(100000L))
    val w = lit(160L) * (lit(1L) + pmod(col("doc_id"), lit(8)))
    val h = lit(90L) * (lit(1L) + pmod(col("doc_id"), lit(8)))
    val unityMatrix = "000100000000000000000000" +
      "000000000001000000000000" + "000000000000000040000000"
    val mvhd = concat(
      be(lit(108L), 4), unhex(lit("6D766864")),      // size + "mvhd"
      unhex(lit("00000000")),                         // version 0 + flags
      be(lit(0L), 4), be(lit(0L), 4),                 // creation/modification
      be(ts, 4), be(dur, 4),                          // timescale + duration
      unhex(lit("00010000")), unhex(lit("0100")),     // rate 1.0, volume 1.0
      unhex(lit(("00" * 10) + unityMatrix + ("00" * 24))), // reserved+matrix+predefined
      be(lit(2L), 4))                                 // next_track_ID
    val tkhd = concat(
      be(lit(92L), 4), unhex(lit("746B6864")),        // size + "tkhd"
      unhex(lit("00000007")),                         // version 0 + enabled flags
      be(lit(0L), 4), be(lit(0L), 4),                 // creation/modification
      be(lit(1L), 4), be(lit(0L), 4),                 // track_ID + reserved
      be(dur, 4),                                     // duration
      unhex(lit(("00" * 16) + unityMatrix)),          // reserved(8)+layer+alt+vol+reserved+matrix
      be(shiftleft(w, 16), 4), be(shiftleft(h, 16), 4)) // 16.16 fixed dims
    val mp4 = concat(
      unhex(lit("000000106674797069736F6D00000000")), // 16-byte ftyp "isom"
      be(lit(216L), 4), unhex(lit("6D6F6F76")),       // moov = 8 + 108 + 100
      mvhd,
      be(lit(100L), 4), unhex(lit("7472616B")),       // trak = 8 + 92
      tkhd)
    val sevMod = pmod(col("doc_id"), lit(7))
    val assets = Par.widen(docs, "doc_id").select(
      col("doc_id").as("asset_id"),
      when(sevMod === 0, lit("text")).otherwise(lit("video")).as("modality"),
      when(sevMod === 0, col("text").cast("binary")).otherwise(mp4).as("payload"))
    Multimodal.extractVideoMeta(s, assets).toDF()
  }

  // ---------------------------------------------------------------- many-group percentiles
  /** q33's few-groups sibling: the same exact-interpolation contract
    * over a HIGH-cardinality key (l_partkey — 2k groups at sf0.01,
    * 20k at sf0.1, ~20M at SF100). `Percentiles.interpolatedManyGroups`
    * hash-partitions by group and rank-filters inside one exchange —
    * no driver-side offsets, no range sort — the shape that survives
    * millions of groups where q33's collect(partitions×groups) cannot. */
  val q88ManyGroupPercentile = q("q88_manygroup_percentile",
    "Exact interpolated percentiles over a high-cardinality group key (many-groups path)",
    """SELECT l_partkey,
      |       round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
      |       round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
      |       count(*) AS n
      |FROM lineitem
      |GROUP BY l_partkey""".stripMargin) { (s, d) =>
    Percentiles.interpolatedManyGroups(Tables.lineitem(s, d),
      Seq("l_partkey"), "l_extendedprice",
      Seq("p50" -> 0.5, "p90" -> 0.9))
      .select(col("l_partkey"),
        round(col("p50"), 4).as("p50"),
        round(col("p90"), 4).as("p90"),
        col("n"))
  }

  // ---------------------------------------------------------------- multimodal: PNG pixel decode (real inflate + unfilter)
  /** q41 proved the header walk; this proves the PIXELS. Every non-text
    * doc becomes a complete, VALID grayscale PNG built scan-side:
    * planted gradient pixel (k + doc_id) % 256 at index k, rows
    * cycling through filter types None/Sub/Up (the filtered bytes are
    * planted pre-filtered — gradient rows Sub-filter to constant 1 and
    * Up-filter to constant W), wrapped in a stored-block zlib stream
    * with a true Adler-32 (computed scan-side via aggregate() HOFs)
    * and true CRC-32s (Spark's codegen'd crc32 IS the PNG CRC).
    * `Multimodal.PngCodec` inflates with the JDK Inflater, unfilters
    * per RFC 2083 §6.3, and the oracle recomputes the per-pixel mean
    * in closed form — any inflate framing, unfilter, or channel
    * accounting error breaks the hash match. (Average/Paeth filters
    * are exercised by MultimodalSpec's ImageIO round-trip, which uses
    * the JDK encoder's own adaptive filter choice.) */
  val q91PngPixels = q("q91_png_pixels",
    "Full PNG pixel decode (JDK inflate + scanline unfilter) over planted gradient images (north star: multimodal)",
    """WITH t AS (
      |  SELECT doc_id, text,
      |         8 + doc_id % 8 AS w, 4 + doc_id % 4 AS h, doc_id % 256 AS a
      |  FROM documents),
      |t2 AS (SELECT *, w * h AS n FROM t)
      |SELECT doc_id AS asset_id,
      |       CASE WHEN doc_id % 7 = 0 THEN 'text' ELSE 'image' END AS modality,
      |       CASE WHEN doc_id % 7 = 0 THEN octet_length(encode(text))
      |            ELSE CAST(68 + h * (w + 1) AS BIGINT) END AS byte_len,
      |       CASE WHEN doc_id % 7 = 0 THEN NULL ELSE CAST(w AS INTEGER) END AS width,
      |       CASE WHEN doc_id % 7 = 0 THEN NULL ELSE CAST(h AS INTEGER) END AS height,
      |       CASE WHEN doc_id % 7 = 0 THEN NULL ELSE CAST(n AS BIGINT) END AS n_pixels,
      |       CASE WHEN doc_id % 7 = 0 THEN NULL
      |            ELSE round((n * a + (n * (n - 1)) // 2
      |                        - 256 * greatest(0, a + n - 256))
      |                       / CAST(n AS DOUBLE), 4) END AS mean_gray
      |FROM t2""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val did = col("doc_id")
    val w = lit(8L) + pmod(did, lit(8))
    val h = lit(4L) + pmod(did, lit(4))
    val stride = w + lit(1L)
    val rawLen = h * stride
    // the filtered scanline bytes: per row r the filter type is r % 3,
    // and the pre-filtered values of the (k + doc_id) % 256 gradient
    // are closed-form (Sub ⇒ 1 after the first pixel, Up ⇒ W)
    val bytesArr = transform(sequence(lit(0L), rawLen - 1L), i => {
      val o = pmod(i, stride)
      val r = floor((i - o) / stride).cast("long")
      val c = o - 1L
      val t = pmod(r, lit(3L))
      when(o === 0L, t)
        .when(t === 0L, pmod(r * w + c + did, lit(256L)))
        .when(t === 1L, when(c === 0L, pmod(r * w + did, lit(256L))).otherwise(lit(1L)))
        .otherwise(w)
    })
    val rawHex = concat_ws("", transform(bytesArr, v => lpad(hex(v), 2, "0")))
    // Adler-32 over the raw stream: s1 = 1 + Σb, s2 = n·1 + Σ(n−k)·b_k
    val sumB = aggregate(bytesArr, lit(0L), (acc, x) => acc + x)
    val sumW = aggregate(
      zip_with(bytesArr, sequence(lit(1L), rawLen), (b, j) => (rawLen - j + 1L) * b),
      lit(0L), (acc, x) => acc + x)
    val s1 = pmod(lit(1L) + sumB, lit(65521L))
    val s2 = pmod(rawLen + sumW, lit(65521L))
    def le16hex(v: Column): Column = concat(
      lpad(hex(pmod(v, lit(256L))), 2, "0"),
      lpad(hex(floor(v / 256).cast("long")), 2, "0"))
    // one final stored deflate block: 78 01 (zlib CMF/FLG), 01 (BFINAL,
    // BTYPE=00), LEN/NLEN little-endian, raw bytes, Adler-32 big-endian
    val zlibHex = concat(lit("780101"), le16hex(rawLen),
      le16hex(lit(65535L) - rawLen), rawHex,
      lpad(hex(s2 * 65536L + s1), 8, "0"))
    val ihdrDataHex = concat(lpad(hex(w), 8, "0"), lpad(hex(h), 8, "0"),
      lit("0800000000")) // bit depth 8, grayscale, default comp/filter/interlace
    val pngHex = concat(
      lit("89504E470D0A1A0A0000000D49484452"), ihdrDataHex,
      lpad(hex(crc32(unhex(concat(lit("49484452"), ihdrDataHex)))), 8, "0"),
      lpad(hex(rawLen + 11L), 8, "0"), lit("49444154"), zlibHex,
      lpad(hex(crc32(unhex(concat(lit("49444154"), zlibHex)))), 8, "0"),
      lit("0000000049454E44AE426082"))
    val sevMod = pmod(did, lit(7))
    val assets = Par.widen(docs, "doc_id").select(
      did.as("asset_id"),
      when(sevMod === 0, lit("text")).otherwise(lit("image")).as("modality"),
      when(sevMod === 0, col("text").cast("binary")).otherwise(unhex(pngHex)).as("payload"))
    Multimodal.extractPixelStats(s, assets).toDF()
      .select(col("asset_id"), col("modality"), col("byte_len"),
        col("width"), col("height"), col("n_pixels"),
        round(element_at(col("channel_means"), 1), 4).as("mean_gray"))
  }

  // ---------------------------------------------------------------- multimodal: WAV PCM sample stats (real sample decode)
  /** q87 proved the RIFF header walk; this proves the SAMPLES. Every
    * non-text doc becomes a complete mono 16-bit PCM WAV whose sample
    * values are planted from doc_id arithmetic
    * (v_i = ((doc_id·31 + i·7919) mod 65536) − 32768, little-endian
    * two's complement built scan-side), and `Multimodal.PcmCodec`
    * reads them back to RMS / peak / strict zero-crossings. The
    * oracle regenerates the exact same sample stream with a lateral
    * range() and recomputes all three — integer-valued doubles sum
    * exactly in any order, so RMS matches bit-for-bit after round(4). */
  val q92WavPcm = q("q92_wav_pcm",
    "WAV PCM sample decode to RMS/peak/zero-crossings over planted waveforms (north star: multimodal audio)",
    """WITH t AS (SELECT doc_id, text, 50 + doc_id % 50 AS n FROM documents),
      |s AS (SELECT doc_id, i, ((doc_id * 31 + i * 7919) % 65536) - 32768 AS v
      |      FROM t, range(100) r(i) WHERE i < t.n),
      |lagged AS (SELECT doc_id, v,
      |                  lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
      |           FROM s),
      |agg AS (SELECT doc_id,
      |               round(sqrt(avg(CAST(v * v AS DOUBLE))), 4) AS rms,
      |               CAST(max(abs(v)) AS INTEGER) AS peak,
      |               CAST(count(*) FILTER (WHERE pv IS NOT NULL AND v * pv < 0) AS BIGINT) AS zc
      |        FROM lagged GROUP BY doc_id)
      |SELECT t.doc_id AS asset_id,
      |       CASE WHEN t.doc_id % 7 = 0 THEN 'text' ELSE 'audio' END AS modality,
      |       CASE WHEN t.doc_id % 7 = 0 THEN octet_length(encode(text))
      |            ELSE CAST(44 + 2 * n AS BIGINT) END AS byte_len,
      |       CASE WHEN t.doc_id % 7 = 0 THEN NULL ELSE CAST(n AS BIGINT) END AS n_samples,
      |       CASE WHEN t.doc_id % 7 = 0 THEN NULL ELSE agg.rms END AS rms,
      |       CASE WHEN t.doc_id % 7 = 0 THEN NULL ELSE agg.peak END AS peak,
      |       CASE WHEN t.doc_id % 7 = 0 THEN NULL ELSE agg.zc END AS zero_crossings
      |FROM t JOIN agg ON t.doc_id = agg.doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val did = col("doc_id")
    def le(v: Column, nBytes: Int): Column = concat((0 until nBytes).map(i =>
      unhex(lpad(hex(shiftright(v, 8 * i).bitwiseAND(lit(255L))), 2, "0"))): _*)
    val n = lit(50L) + pmod(did, lit(50))
    val dataSize = n * 2L
    // planted int16 stream, little-endian two's complement:
    // enc_i = (v_i + 32768) mod 65536 = (d·31 + i·7919 + 32768) mod 65536
    val sampleHex = concat_ws("", transform(sequence(lit(0L), n - 1L), i => {
      val hx = lpad(hex(pmod(did * 31L + i * 7919L + 32768L, lit(65536L))), 4, "0")
      concat(substring(hx, 3, 2), substring(hx, 1, 2))
    }))
    val wav = concat(
      unhex(lit("52494646")), le(lit(36L) + dataSize, 4),
      unhex(lit("57415645666D7420")), le(lit(16L), 4),
      le(lit(1L), 2), le(lit(1L), 2),          // PCM, mono
      le(lit(8000L), 4), le(lit(16000L), 4),   // sample rate, byte rate
      le(lit(2L), 2), le(lit(16L), 2),         // block align, bits
      unhex(lit("64617461")), le(dataSize, 4),
      unhex(sampleHex))
    val sevMod = pmod(did, lit(7))
    val assets = Par.widen(docs, "doc_id").select(
      did.as("asset_id"),
      when(sevMod === 0, lit("text")).otherwise(lit("audio")).as("modality"),
      when(sevMod === 0, col("text").cast("binary")).otherwise(wav).as("payload"))
    Multimodal.extractAudioStats(s, assets).toDF()
      .select(col("asset_id"), col("modality"), col("byte_len"),
        col("n_samples"), round(col("rms"), 4).as("rms"),
        col("peak"), col("zero_crossings"))
  }

  // ---------------------------------------------------------------- dedup: incremental MinHash-LSH vs persisted band index
  /** The near-dup sibling of q90's exact bloom dedup: a daily batch is
    * probed against the corpus's PERSISTED band index
    * (`Dedup.bandIndex` — the table a 100 TB pipeline writes at
    * corpus build and only range-reads per batch), so the corpus is
    * never re-tokenized or re-signatured. Correctness contract: with
    * the skew guard above the largest real clique, the incremental
    * candidate set equals the FULL-corpus LSH run restricted to pairs
    * touching the batch — computed in-engine both ways and emitted as
    * a boolean the oracle pins, alongside the batch size DuckDB
    * recomputes from the table. */
  val q93IncrementalLsh = q("q93_incremental_lsh",
    "Incremental MinHash-LSH: batch vs persisted band index equals full-corpus LSH restricted to the batch (north star: dedup)",
    """SELECT count(*) AS n_batch_docs, TRUE AS sets_match
      |FROM documents WHERE doc_id % 3 = 0""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val batch = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
    val corpus = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
    // the index is a PERSISTED bucketed store (round 16): the probe
    // reads only the batch's band-key buckets as a parquet partition
    // filter — PlanAuditSpec gates partitionFilters.nonEmpty on it
    val root = freshScratch(s, "q93_lshidx")
    Dedup.bandIndexWrite(corpus, "doc_id", "text", root, sourceMinHash)
    val incremental = Dedup.lshProbeStore(s, root, batch, "doc_id", "text",
      sourceMinHash)
    val full = Dedup.lshPairs(docs, "doc_id", "text", sourceMinHash)
      .select("id_a", "id_b")
    restrictedEquivalence(batch, batch.select(col("doc_id").as("id_a")),
      full, incremental.select("id_a", "id_b"), "n_batch_docs")
  }

  // ---------------------------------------------------------------- multimodal: AVI frame decode + sample + resize (real frame-level video)
  /** The video twin of q91 (PNG pixels) and q92 (WAV samples): every
    * non-text doc becomes a complete AVI whose raw-DIB frames carry a
    * planted gradient v(ch,f,y,x) = (7·doc_id + 31f + 13y + 5x +
    * 17·ch) mod 256, muxed scan-side exactly as the container
    * demands (BGR byte order, bottom-up rows, stride padded to 4).
    * `Multimodal.AviCodec` walks RIFF→hdrl/avih→movi, flips rows
    * back, samples every 2nd frame, nearest-neighbor-resizes to 2×2,
    * and reduces to per-channel means; the oracle regenerates the
    * SAME sampled/resized pixel set directly from the gradient
    * formula (sx = ⌊x·w/2⌋, sy = ⌊y·h/2⌋) — any muxing, stride,
    * row-flip, channel-order, sampling, or resize error breaks the
    * hash match. Widths 3..7 force both padded and unpadded strides. */
  val q94AviFrames = q("q94_avi_frames",
    "AVI raw-DIB frame decode + every-2nd sample + 2x2 nearest resize over planted gradients (north star: multimodal video)",
    """WITH t AS (SELECT doc_id, text,
      |                  3 + doc_id % 5 AS w, 2 + doc_id % 4 AS h,
      |                  2 + doc_id % 5 AS nf
      |           FROM documents),
      |t2 AS (SELECT *, ((3 * w + 3) // 4) * 4 * h AS fb FROM t),
      |px AS (SELECT doc_id,
      |              (doc_id * 7 + f.f * 31 + ((y.y * h) // 2) * 13
      |               + ((x.x * w) // 2) * 5 + c.c * 17) % 256 AS v,
      |              c.c AS ch
      |       FROM t2, range(6) f(f), range(2) y(y), range(2) x(x), range(3) c(c)
      |       WHERE f.f < nf AND f.f % 2 = 0),
      |agg AS (SELECT doc_id,
      |               round(avg(CASE WHEN ch = 0 THEN CAST(v AS DOUBLE) END), 4) AS mr,
      |               round(avg(CASE WHEN ch = 1 THEN CAST(v AS DOUBLE) END), 4) AS mg,
      |               round(avg(CASE WHEN ch = 2 THEN CAST(v AS DOUBLE) END), 4) AS mb
      |        FROM px GROUP BY doc_id)
      |SELECT t2.doc_id AS asset_id,
      |       CASE WHEN t2.doc_id % 7 = 0 THEN 'text' ELSE 'video' END AS modality,
      |       CASE WHEN t2.doc_id % 7 = 0 THEN octet_length(encode(text))
      |            ELSE CAST(100 + nf * (8 + fb) AS BIGINT) END AS byte_len,
      |       CASE WHEN t2.doc_id % 7 = 0 THEN NULL ELSE CAST(w AS INTEGER) END AS width,
      |       CASE WHEN t2.doc_id % 7 = 0 THEN NULL ELSE CAST(h AS INTEGER) END AS height,
      |       CASE WHEN t2.doc_id % 7 = 0 THEN NULL ELSE CAST(nf AS INTEGER) END AS n_frames,
      |       CASE WHEN t2.doc_id % 7 = 0 THEN NULL
      |            ELSE CAST((nf + 1) // 2 AS INTEGER) END AS n_kept,
      |       CASE WHEN t2.doc_id % 7 = 0 THEN NULL ELSE agg.mr END AS mean_r,
      |       CASE WHEN t2.doc_id % 7 = 0 THEN NULL ELSE agg.mg END AS mean_g,
      |       CASE WHEN t2.doc_id % 7 = 0 THEN NULL ELSE agg.mb END AS mean_b
      |FROM t2 JOIN agg ON t2.doc_id = agg.doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val did = col("doc_id")
    // 4-byte little-endian hex of a non-negative long column
    def le32hex(v: Column): Column = concat((0 until 4).map(i =>
      lpad(hex(shiftright(v, 8 * i).bitwiseAND(lit(255L))), 2, "0")): _*)
    val w = lit(3L) + pmod(did, lit(5))
    val h = lit(2L) + pmod(did, lit(4))
    val nf = lit(2L) + pmod(did, lit(5))
    val stride = floor((w * 3L + 3L) / 4).cast("long") * 4L
    val fb = stride * h
    // one raw-DIB frame chunk: '00db' + LE size + stored bytes, where
    // stored row r is image row h-1-r (bottom-up), byte order B,G,R,
    // and bytes past 3w are stride padding zeros
    val frameHex = transform(sequence(lit(0L), nf - 1L), f =>
      concat(lit("30306462"), le32hex(fb),
        concat_ws("", transform(sequence(lit(0L), fb - 1L), i => {
          val o = pmod(i, stride)
          val r = floor((i - o) / stride).cast("long")
          val x = floor(o / 3).cast("long")
          val c = o - x * 3L // 0=B,1=G,2=R as stored
          val y = h - 1L - r
          val ch = lit(2L) - c
          when(o >= w * 3L, lit("00"))
            .otherwise(lpad(hex(pmod(
              did * 7L + f * 31L + y * 13L + x * 5L + ch * 17L, lit(256L))), 2, "0"))
        }))))
    val moviHex = concat(lit("4C495354"), // 'LIST'
      le32hex(lit(4L) + nf * (fb + 8L)), lit("6D6F7669"), // 'movi'
      concat_ws("", frameHex))
    // avih MainAVIHeader (56 B): usec/frame, 3×0, totalFrames, 0,
    // streams=1, 0, width, height, 16 reserved zero bytes
    val avihHex = concat(le32hex(lit(33333L)), lit("00" * 12),
      le32hex(nf), lit("00" * 4), le32hex(lit(1L)), lit("00" * 4),
      le32hex(w), le32hex(h), lit("00" * 16))
    val hdrlHex = concat(lit("4C495354"), le32hex(lit(68L)),
      lit("6864726C61766968"), le32hex(lit(56L)), avihHex) // 'hdrl'+'avih'
    val totalLen = lit(100L) + nf * (fb + 8L)
    val aviHex = concat(lit("52494646"), le32hex(totalLen - 8L),
      lit("41564920"), hdrlHex, moviHex) // 'RIFF' … 'AVI '
    val sevMod = pmod(did, lit(7))
    val assets = Par.widen(docs, "doc_id").select(
      did.as("asset_id"),
      when(sevMod === 0, lit("text")).otherwise(lit("video")).as("modality"),
      when(sevMod === 0, col("text").cast("binary")).otherwise(unhex(aviHex)).as("payload"))
    Multimodal.extractFrameStats(s, assets, every = 2, targetW = 2, targetH = 2)
      .toDF()
      .select(col("asset_id"), col("modality"), col("byte_len"),
        col("width"), col("height"), col("n_frames"), col("n_kept"),
        round(col("mean_r"), 4).as("mean_r"),
        round(col("mean_g"), 4).as("mean_g"),
        round(col("mean_b"), 4).as("mean_b"))
  }

  // ---------------------------------------------------------------- layout: z-order clustering key (data skipping at 100 TB)
  /** `Layout.zorderKey` under the oracle: the Morton key that
    * `zorderWrite` clusters files by (LayoutSpec proves the actual
    * min/max file pruning on real writes; this query pins the KEY
    * ARITHMETIC — shift-aligned bucketing of each dimension to 16
    * bits, then 3-way bit interleave — exactly in DuckDB, including
    * the dynamic min/max and the binary-width computation
    * (`length(printf('%b', span))` ≡ 64 − numberOfLeadingZeros).
    * Any drift in bucket alignment or bit placement breaks the hash
    * match on all 60k keys. */
  val q95Zorder = {
    val dims = Seq("l_orderkey", "l_partkey", "l_suppkey")
    val bits = 16
    val bucketSql = dims.zipWithIndex.map { case (c, j) =>
      val w = s"length(printf('%b', mx$j - mn$j))"
      s"""CASE WHEN mx$j <= mn$j THEN 0
         |     WHEN $w >= $bits THEN ($c - mn$j) >> ($w - $bits)
         |     ELSE ($c - mn$j) << ($bits - $w) END AS b$j""".stripMargin
    }.mkString(",\n")
    val terms = (for (j <- dims.indices; i <- 0 until bits)
      yield s"(((b$j >> $i) & 1) << ${i * dims.size + j})").mkString(" | ")
    q("q95_zorder_key",
      "Z-order (Morton) clustering key: shift-aligned buckets + bit interleave, the zorderWrite sort key (layout/data skipping)",
      s"""WITH m AS (SELECT ${dims.zipWithIndex.map { case (c, j) =>
            s"min($c) AS mn$j, max($c) AS mx$j" }.mkString(", ")}
         |           FROM lineitem),
         |z AS (SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
         |$bucketSql
         |      FROM lineitem, m)
         |SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
         |       ($terms) AS zkey
         |FROM z""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d)
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
      Layout.zorderKey(li, dims, bits)
    }
  }

  // ---------------------------------------------------------------- layout: equal-depth z-order key (skew-robust data skipping)
  /** `Layout.zorderKeyEqualDepth` under the oracle: bucket boundaries
    * are each dimension's own exact quantiles (the engine's
    * `Percentiles`, bit-identical to DuckDB `quantile_cont` — q33's
    * proven interpolation), the per-row bucket is a pure
    * count-of-boundaries-≤-v (so boundary TIES collapse identically
    * on both engines — l_quantity has 50 distinct values under 255
    * boundaries, a deliberate tie stress), and the Morton interleave
    * is the same bit placement as q95. 60k keys hash-matched. */
  val q96ZorderEqualDepth = {
    val bits = 8
    val nb = (1 << bits) - 1
    val fracs = (1 to nb).map(i => s"$i/256.0").mkString(", ")
    val terms = (for (j <- 0 until 2; i <- 0 until bits)
      yield s"(((b$j >> $i) & 1) << ${i * 2 + j})").mkString(" | ")
    q("q96_zorder_equal_depth",
      "Equal-depth (quantile-bucketed) z-order key: skew-robust clustering, boundary ties collapse identically (layout/data skipping)",
      s"""WITH bs AS (
         |  SELECT quantile_cont(l_extendedprice, [$fracs]) AS q0,
         |         quantile_cont(l_quantity, [$fracs]) AS q1
         |  FROM lineitem),
         |z AS (SELECT l_orderkey, l_linenumber, l_extendedprice, l_quantity,
         |             len(list_filter(bs.q0, b -> l_extendedprice >= b)) AS b0,
         |             len(list_filter(bs.q1, b -> l_quantity >= b)) AS b1
         |      FROM lineitem, bs)
         |SELECT l_orderkey, l_linenumber, l_extendedprice, l_quantity,
         |       ($terms) AS zkey
         |FROM z""".stripMargin) { (s, d) =>
      // widen before the per-row bucket trees + interleave (the zkey
      // expression is hundreds of codegen'd comparisons per row) and
      // the two exact-percentile passes — all scan-side on a narrow
      // input otherwise
      val li = Par.widen(
        Tables.lineitem(s, d)
          .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity"),
        "l_orderkey")
      Layout.zorderKeyEqualDepth(li, Seq("l_extendedprice", "l_quantity"), bits)
    }
  }

  // ---------------------------------------------------------------- dedup: incremental SimHash vs persisted band index
  /** q93's SimHash twin: the daily batch probes the corpus's
    * PERSISTED (band, bh, id, sig) index — signatures ride in the
    * index so the probe Hamming-verifies without corpus text — and
    * the result must equal the full-corpus SimHash `lshPairs` run
    * restricted to pairs touching the batch. Computed both ways
    * in-engine, emitted as a boolean the oracle pins alongside the
    * batch size DuckDB recomputes. */
  val q97IncrementalSimHash = q("q97_incremental_simhash",
    "Incremental SimHash: batch vs persisted band index equals full-corpus banding restricted to the batch (north star: dedup)",
    """SELECT count(*) AS n_batch_docs, TRUE AS sets_match
      |FROM documents WHERE doc_id % 3 = 0""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val batch = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
    val corpus = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
    // persisted bucketed store + partition-pruned probe (round 16)
    val root = freshScratch(s, "q97_shidx")
    val lsh = Dedup.SimHash(maxHamming = 3, maxBucket = 10000)
    Dedup.bandIndexWrite(corpus, "doc_id", "text", root, lsh)
    val incremental = Dedup.lshProbeStore(s, root, batch, "doc_id", "text",
      lsh)
    val full = Dedup.lshPairs(docs, "doc_id", "text", lsh)
      .select("id_a", "id_b")
    restrictedEquivalence(batch, batch.select(col("doc_id").as("id_a")),
      full, incremental.select("id_a", "id_b"), "n_batch_docs")
  }

  // ---------------------------------------------------------------- dedup: incremental embedding (SRP) vs persisted band index
  /** The third and last family of q93/q97's incremental contract:
    * new EMBEDDINGS probe the corpus's persisted SRP band index
    * (vectors ride in the index, as a real ANN index stores them)
    * and the cosine-verified result must equal the full-corpus
    * SRP `lshPairs` run restricted to pairs touching the batch.
    * With this, every near-dup family — token MinHash, bitwise
    * SimHash, embedding SRP — has the same daily-batch shape: probe
    * a stored index, never re-process the corpus. */
  val q98IncrementalSrp = q("q98_incremental_srp",
    "Incremental embedding near-dup: batch vs persisted SRP index equals full-corpus banding restricted to the batch (north star: dedup)",
    """SELECT count(*) FILTER (WHERE vec_id % 3 = 0)
      |     + count(*) FILTER (WHERE vec_id % 10 = 0) AS n_batch_vecs,
      |       TRUE AS sets_match
      |FROM embeddings""".stripMargin) { (s, d) =>
    val vecs = Tables.embeddings(s, d).select("vec_id", "embedding")
    // synthetic embeddings are near-orthogonal, so near-dups are
    // PLANTED (the q82 pattern): every 10th vector re-arrives in the
    // daily batch as an exact copy under a shifted id — cross pairs
    // against corpus originals, internal pairs when the original is
    // also batch-side
    val planted = vecs.filter(pmod(col("vec_id"), lit(10)) === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val batch = vecs.filter(pmod(col("vec_id"), lit(3)) === 0)
      .unionByName(planted)
    val corpus = vecs.filter(pmod(col("vec_id"), lit(3)) =!= 0)
    val lsh = Dedup.Srp(threshold = 0.99, maxBucket = 10000)
    // persisted bucketed store + partition-pruned probe (round 16)
    val root = freshScratch(s, "q98_srpidx")
    Dedup.bandIndexWrite(corpus, "vec_id", "embedding", root, lsh)
    val incremental = Dedup.lshProbeStore(s, root, batch, "vec_id",
      "embedding", lsh)
    val full = Dedup.lshPairs(vecs.unionByName(planted),
      "vec_id", "embedding", lsh)
      .select("id_a", "id_b")
    restrictedEquivalence(batch, batch.select(col("vec_id").as("id_a")),
      full, incremental.select("id_a", "id_b"), "n_batch_vecs")
  }

  // ---------------------------------------------------------------- similarity: incremental IVF vs persisted index
  /** The fourth and last probe-a-stored-index family: IVF. q93/q97/q98
    * gave MinHash/SimHash/SRP near-dup the daily-batch shape; this
    * gives it to ANN top-k. The corpus's cell assignments are built
    * once (`Similarity.ivfIndex` — at 100 TB, the cell-partitioned
    * table `ivfIndexWrite` persists); a new batch is APPENDED by
    * assigning only its own vectors, then probed. Because assignment
    * is a pure deterministic function of (vector, centroids), probe-
    * after-append must equal a from-scratch IVF over corpus ∪ batch
    * with the same centroids — compared here on the full
    * (query, neighbor, cos) result set, and emitted as a boolean the
    * oracle pins alongside the batch size DuckDB recomputes. Planted
    * exact copies (the q98 pattern) guarantee cos=1 neighbors exist,
    * so the top-k sets are non-trivial. */
  val q99IncrementalIvf = q("q99_incremental_ivf",
    "Incremental IVF: append-assign batch + probe equals from-scratch IVF over corpus+batch (north star: similarity)",
    """SELECT count(*) FILTER (WHERE vec_id % 4 = 1)
      |     + count(*) FILTER (WHERE vec_id % 10 = 0) AS n_batch_vecs,
      |       TRUE AS sets_match
      |FROM embeddings""".stripMargin) { (s, d) =>
    val vecs = Tables.embeddings(s, d).select("vec_id", "embedding")
    val planted = vecs.filter(pmod(col("vec_id"), lit(10)) === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val batch = vecs.filter(pmod(col("vec_id"), lit(4)) === 1)
      .unionByName(planted)
    val corpus = vecs.filter(pmod(col("vec_id"), lit(4)) =!= 1)
    // checkpoint barriers (the q100/q42 pattern): centroids feed five
    // downstream subtrees and each index feeds two — without barriers
    // every reference re-runs the pick/assignment from the scan
    val centroids = stageBarrier(
      Similarity.pickCentroids(corpus, "vec_id", "embedding", 16))
    val index = Similarity.ivfIndex(corpus, centroids, "vec_id", "embedding")
    val appended = Similarity.IvfIndex(centroids, stageBarrier(
      Similarity.ivfAppend(index, batch, "vec_id", "embedding").assignments))
    val incremental = Similarity.ivfProbe(batch, appended,
      "vec_id", "embedding", k = 5, nProbe = 3, roundTo = 4)
    val fromScratch = Similarity.IvfIndex(centroids, stageBarrier(
      Similarity.ivfIndex(corpus.unionByName(batch), centroids,
        "vec_id", "embedding").assignments))
    val full = Similarity.ivfProbe(batch, fromScratch,
      "vec_id", "embedding", k = 5, nProbe = 3, roundTo = 4)
    // exact result-set equality including the cosine scores (both
    // sides run the identical codegen'd scorer, so doubles are
    // bit-equal); exceptAll also catches multiplicity differences
    val missed = full.exceptAll(incremental)
      .agg(count(lit(1)).as("n_missed"))
    val spurious = incremental.exceptAll(full)
      .agg(count(lit(1)).as("n_spurious"))
    batch.agg(count(lit(1)).as("n_batch_vecs"))
      .crossJoin(broadcast(missed))
      .crossJoin(broadcast(spurious))
      .select(col("n_batch_vecs"),
        (col("n_missed") === 0 && col("n_spurious") === 0).as("sets_match"))
  }

  // ---------------------------------------------------------------- end-to-end curation pipeline
  /** The composition proof: every north-star operator is proven alone
    * (q19/q21/q50/q26/q49/q55) — this query chains them as one real
    * training-data curation flow and pins the per-stage survivor
    * counts, which the oracle recomputes through the identical chain:
    *
    *   ingest → exact dedup (fingerprint, keep min id)
    *          → near dedup (exact unigram Jaccard ≥ 0.5 within source,
    *            drop the larger id of every pair — greedy keep-earliest)
    *          → decontaminate (drop held-out docs + probes with > 10 %
    *            verbatim 8-gram overlap against the benchmark)
    *          → quality filter (≥ 25 tokens, alpha ratio ≥ 0.6)
    *          → deterministic split (md5 bucket, train < 80)
    *          → pack (greedy 512-token bins over 8 shards)
    *
    * Every stage keeps the scale shape of its standalone operator
    * (hash-partitioned dedup, blocked pair scoring, broadcast bench
    * grams, per-row quality exprs, arithmetic packing); the chain adds
    * only semi/anti joins on ids between stages. A drift in ANY stage
    * shifts every downstream count — the hash match is a seven-way
    * integration test. */
  val q100CurationPipeline = q("q100_curation_pipeline",
    "End-to-end curation: ingest -> exact dedup -> near dedup -> decontaminate -> quality -> split -> pack, per-stage counts (north star: the pipeline)",
    """WITH ingest AS (
      |  SELECT doc_id, source, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, source, text FROM documents WHERE doc_id % 10 = 0),
      |fp AS (
      |  SELECT doc_id, source, text,
      |         md5(array_to_string(regexp_extract_all(lower(text), '[a-z0-9]+'), ' ')) AS fingerprint
      |  FROM ingest),
      |exact AS (
      |  SELECT doc_id, source, text FROM fp
      |  QUALIFY row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) = 1),
      |t AS (SELECT source, doc_id,
      |             list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')) AS sh
      |      FROM exact),
      |near_drop AS (
      |  SELECT DISTINCT b.doc_id
      |  FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
      |  WHERE CASE WHEN len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) = 0 THEN 1.0
      |             ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |                  / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) END >= 0.5),
      |near AS (SELECT * FROM exact WHERE doc_id NOT IN (SELECT doc_id FROM near_drop)),
      |tk AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      |       FROM documents),
      |grams AS (
      |  SELECT doc_id,
      |         CASE WHEN len(toks) >= 8
      |              THEN list_distinct(list_transform(range(1, len(toks) - 6),
      |                     i -> array_to_string(toks[i:i+7], ' ')))
      |              ELSE [array_to_string(toks, ' ')] END AS ngs
      |  FROM tk),
      |bench AS (
      |  SELECT DISTINCT unnest(ngs) AS ng FROM grams WHERE doc_id % 29 = 0),
      |probe AS (
      |  SELECT g.doc_id, unnest(g.ngs) AS ng FROM grams g
      |  JOIN near ON near.doc_id = g.doc_id WHERE g.doc_id % 29 <> 0),
      |overlap AS (
      |  SELECT probe.doc_id,
      |         CAST(count(bench.ng) AS DOUBLE) / count(*) AS overlap_ratio
      |  FROM probe LEFT JOIN bench ON probe.ng = bench.ng
      |  GROUP BY probe.doc_id),
      |clean AS (
      |  SELECT near.* FROM near JOIN overlap ON near.doc_id = overlap.doc_id
      |  WHERE overlap.overlap_ratio <= 0.1),
      |quality AS (
      |  SELECT doc_id, text FROM clean
      |  WHERE len(regexp_extract_all(lower(text), '[a-z0-9]+')) >= 25
      |    AND CASE WHEN length(lower(text)) = 0 THEN 0.0
      |             ELSE CAST(length(regexp_replace(lower(text), '[^a-z ]', '', 'g')) AS DOUBLE)
      |                  / length(lower(text)) END >= 0.6),
      |train AS (
      |  SELECT doc_id, text FROM quality
      |  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 80),
      |h AS (SELECT doc_id,
      |             CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens,
      |             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 2147483647 AS _h
      |      FROM train),
      |s AS (SELECT *, _h % 8 AS shard FROM h),
      |packed AS (
      |  SELECT shard,
      |         CAST(floor((CAST(sum(n_tokens) OVER w AS BIGINT) - n_tokens) / 512.0) AS BIGINT) AS bin
      |  FROM s WINDOW w AS (PARTITION BY shard ORDER BY _h, doc_id))
      |SELECT (SELECT count(*) FROM ingest) AS n_ingested,
      |       (SELECT count(*) FROM exact) AS n_exact,
      |       (SELECT count(*) FROM near) AS n_near,
      |       (SELECT count(*) FROM clean) AS n_clean,
      |       (SELECT count(*) FROM quality) AS n_quality,
      |       (SELECT count(*) FROM train) AS n_train,
      |       (SELECT count(*) FROM (SELECT DISTINCT shard, bin FROM packed)) AS n_packs""".stripMargin) { (s, d) =>
    val base = Tables.documents(s, d).select("doc_id", "source", "text")
    // planted exact copies (the q22/q98 pattern): every 10th doc
    // re-arrives under a shifted id, so the exact-dedup stage has
    // real work the oracle can count
    val docs = base.unionByName(
      base.filter(pmod(col("doc_id"), lit(10)) === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("source"), col("text")))

    // stageBarrier between stages: the seven count branches below
    // each reference their stage's survivor set, and without a
    // barrier Catalyst inlines the whole upstream chain into every
    // branch — measured 406 parquet scans / 440 exchanges in the
    // static plan, with the near-dedup pair scoring recomputed per
    // branch. Each stage is small (survivor rows of a small table),
    // so materializing it once is the scale-correct shape a real
    // pipeline would have anyway: every stage output IS a table
    // between jobs.

    // stage 2: exact dedup — keep the min-id representative per
    // canonical-text fingerprint (one hash shuffle on the fingerprint)
    val keepIds = Dedup.exactDedupStats(docs,
      TextFunctions.fingerprint(col("text")), col("doc_id"))
      .select(col("keep_id").as("doc_id"))
    val exact = stageBarrier(docs.join(keepIds, Seq("doc_id"), "left_semi"))

    // stage 3: near dedup — exact unigram Jaccard within source
    // (blocked pair scoring, q21's operator), greedy keep-earliest:
    // the larger id of every ≥ 0.5 pair is dropped
    val nearDrop = Dedup.ngramJaccardPairs(exact, "doc_id", "text",
      blockCol = "source", k = 1, threshold = 0.5)
      .select(col("id_b").as("doc_id")).distinct()
    val near = stageBarrier(exact.join(nearDrop, Seq("doc_id"), "left_anti"))

    // stage 4: decontaminate — held-out docs (doc_id % 29 = 0) never
    // pass; surviving probes with > 10 % verbatim 8-gram overlap
    // against the benchmark's gram set are dropped (broadcast bench)
    // the held-out benchmark is defined over the RAW table (planted
    // copies are dedup fodder, not benchmark members — their shifted
    // ids would otherwise leak extra docs into the bench set)
    val probe = near.filter(pmod(col("doc_id"), lit(29)) =!= 0)
    val overlap = Contamination.ngramOverlap(
      probe = probe, benchmark = base.filter(pmod(col("doc_id"), lit(29)) === 0),
      idCol = "doc_id", textCol = "text", n = 8)
    val clean = stageBarrier(near.join(
      overlap.filter(col("overlap_ratio") <= 0.1).select("doc_id"),
      Seq("doc_id"), "left_semi"))

    // stage 5: quality — per-row codegen'd exprs, zero shuffle
    // (token floor at the corpus's ~10th percentile so the stage
    // actually filters; the alpha-ratio guard is the real-corpus
    // shape even though this synthetic text is pure alpha)
    val quality = stageBarrier(clean.filter(
      TextFunctions.tokenCount(col("text")) >= 25 &&
        TextFunctions.alphaRatio(col("text")) >= 0.6))

    // stage 6: deterministic split — md5-bucket, no rand()
    val train = stageBarrier(quality.filter(Splits.assignSplit(col("doc_id")) === "train"))

    // stage 7: pack — greedy 512-token bins over 8 hash shards
    val packs = Packing.packGreedy(
      train.select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens")),
      "doc_id", "n_tokens", ctxLen = 512, shards = 8)
      .select("shard", "bin").distinct()

    def n(df: DataFrame, as: String) = df.agg(count(lit(1)).as(as))
    n(docs, "n_ingested")
      .crossJoin(broadcast(n(exact, "n_exact")))
      .crossJoin(broadcast(n(near, "n_near")))
      .crossJoin(broadcast(n(clean, "n_clean")))
      .crossJoin(broadcast(n(quality, "n_quality")))
      .crossJoin(broadcast(n(train, "n_train")))
      .crossJoin(broadcast(n(packs, "n_packs")))
  }

  // ------------------------------------------------- semantic dedup (SemDeDup)
  val q101SemanticDedup = q("q101_semantic_dedup",
    "SemDeDup: IVF-cell clustering + within-cell cosine keep-earliest (north star: dedup)",
    """WITH cents AS (
      |  SELECT vec_id AS cell, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
      |  FROM embeddings WHERE vec_id % 50 = 0),
      |corpus AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec FROM embeddings),
      |assign AS (
      |  SELECT vec_id, vec, cell FROM (
      |    SELECT c.vec_id, c.vec, ct.cell,
      |           row_number() OVER (PARTITION BY c.vec_id
      |                              ORDER BY list_cosine_similarity(c.vec, ct.cvec) DESC, ct.cell) AS rk
      |    FROM corpus c CROSS JOIN cents ct) WHERE rk = 1),
      |drops AS (
      |  SELECT DISTINCT b.vec_id
      |  FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
      |  WHERE round(list_cosine_similarity(a.vec, b.vec), 4) >= 0.4)
      |SELECT s.vec_id, s.cell FROM assign s
      |WHERE s.vec_id NOT IN (SELECT vec_id FROM drops)""".stripMargin) { (s, d) =>
    val e = Tables.embeddings(s, d)
    Dedup.semanticDedup(e, e.filter(col("vec_id") % 50 === 0),
      "vec_id", "embedding", tau = 0.4)
  }

  // -------------------------------------------- boilerplate line removal
  // The synthetic corpus has no newlines, so the catalog entry
  // segments on a literal separator that DOES recur (' the ') — the
  // operator itself takes any literal sep (production: "\n").
  val q102Boilerplate = q("q102_boilerplate_lines",
    "Corpus-frequency boilerplate line removal, order-preserving reassembly (north star: text cleaning)",
    """WITH seg AS (
      |  SELECT doc_id, l[i] AS seg, i AS pos
      |  FROM (SELECT doc_id, string_split(coalesce(text, ''), ' the ') AS l FROM documents),
      |       UNNEST(generate_series(1, len(l))) AS t(i)),
      |boiler AS (
      |  SELECT seg FROM seg WHERE len(seg) >= 1
      |  GROUP BY seg HAVING count(DISTINCT doc_id) >= 2)
      |SELECT s.doc_id,
      |       coalesce(string_agg(CASE WHEN b.seg IS NULL THEN s.seg END,
      |                           ' the ' ORDER BY s.pos), '') AS clean_text,
      |       count(b.seg) AS n_removed
      |FROM seg s LEFT JOIN boiler b ON s.seg = b.seg
      |GROUP BY s.doc_id""".stripMargin) { (s, d) =>
    Dedup.removeBoilerplateLines(Tables.documents(s, d)
      .select("doc_id", "text"), "doc_id", "text", sep = " the ", minDocs = 2)
  }

  // ------------------------------------------------- training-mixture sampling
  val q103Mixture = q("q103_mixture_sample",
    "Per-source token-budget mixture selection in md5-shuffle order (north star: sampling)",
    """WITH t AS (
      |  SELECT doc_id, source,
      |         CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens,
      |         md5(CAST(doc_id AS VARCHAR)) AS h
      |  FROM documents WHERE source IN ('src0', 'src1', 'src2')),
      |b AS (SELECT * FROM (VALUES ('src0', 1000), ('src1', 600), ('src2', 400)) AS v(source, budget)),
      |c AS (
      |  SELECT t.doc_id, t.source, t.n_tokens, b.budget,
      |         CAST(sum(t.n_tokens) OVER (PARTITION BY t.source ORDER BY t.h, t.doc_id
      |                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      |  FROM t JOIN b USING (source))
      |SELECT doc_id, source, n_tokens, cum_tokens FROM c WHERE cum_tokens <= budget""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"),
      TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
    Splits.mixtureSample(docs, "doc_id", "n_tokens", "source",
      Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2), totalTokens = 2000)
  }

  // ------------------------------------------- temperature-scaled mixture
  val q104Temperature = q("q104_temperature_mixture",
    "Temperature-weighted (mass^alpha) token-budget mixture over all sources (north star: sampling)",
    """WITH t AS (
      |  SELECT doc_id, source,
      |         CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens,
      |         md5(CAST(doc_id AS VARCHAR)) AS h
      |  FROM documents),
      |m AS (SELECT source, CAST(sum(n_tokens) AS DOUBLE) AS mass FROM t GROUP BY source),
      |b AS (
      |  SELECT source,
      |         CAST(floor(round(pow(mass, 0.5) / sum(pow(mass, 0.5)) OVER (), 6) * 8000) AS BIGINT) AS budget
      |  FROM m),
      |c AS (
      |  SELECT t.doc_id, t.source, t.n_tokens, b.budget,
      |         CAST(sum(t.n_tokens) OVER (PARTITION BY t.source ORDER BY t.h, t.doc_id
      |                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      |  FROM t JOIN b USING (source))
      |SELECT doc_id, source, n_tokens, cum_tokens FROM c WHERE cum_tokens <= budget""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"),
      TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
    Splits.temperatureMixture(docs, "doc_id", "n_tokens", "source",
      alpha = 0.5, totalTokens = 8000)
  }

  // --------------------------------------------- intra-document line dedup
  // No natural intra-doc repeats in the synthetic corpus, so even-id
  // docs are doubled in-query (text + sep + text) — the op must
  // restore exactly the original; odd ids must pass through unchanged.
  val q105IntraDocDedup = q("q105_intradoc_line_dedup",
    "Within-document repeated-line removal, first occurrence wins (north star: text cleaning)",
    """WITH src AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 2 = 0 THEN coalesce(text, '') || ' the ' || coalesce(text, '') ELSE coalesce(text, '') END AS text
      |  FROM documents),
      |t AS (SELECT doc_id, string_split(coalesce(text, ''), ' the ') AS l FROM src)
      |SELECT doc_id,
      |       array_to_string(list_filter(l, (x, i) -> len(x) < 1 OR list_position(l, x) = i), ' the ') AS clean_text,
      |       CAST(len(l) - len(list_filter(l, (x, i) -> len(x) < 1 OR list_position(l, x) = i)) AS BIGINT) AS n_removed
      |FROM t""".stripMargin) { (s, d) =>
    val planted = Tables.documents(s, d).select(col("doc_id"),
      when(pmod(col("doc_id"), lit(2)) === 0,
        concat(col("text"), lit(" the "), col("text")))
        .otherwise(col("text")).as("text"))
    val r = TextFunctions.dedupLinesInDoc(col("text"), " the ")
    planted.select(col("doc_id"),
      r.getField("clean_text").as("clean_text"),
      r.getField("n_removed").as("n_removed"))
  }

  // ----------------------------------------------- vocabulary / OOV coverage
  val q106VocabCoverage = q("q106_vocab_coverage",
    "Top-V corpus vocabulary + per-doc out-of-vocabulary ratio (north star: tokenizer prep)",
    """WITH toks AS (
      |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      |  FROM documents),
      |vocab AS (
      |  SELECT tok FROM (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok
      |                   ORDER BY cnt DESC, tok ASC LIMIT 20)),
      |agg AS (
      |  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |         round(CAST(count(CASE WHEN v.tok IS NULL THEN 1 END) AS DOUBLE) / count(*), 4) AS oov_ratio
      |  FROM toks t LEFT JOIN vocab v USING (tok) GROUP BY t.doc_id)
      |SELECT d.doc_id, coalesce(a.n_tokens, 0) AS n_tokens,
      |       coalesce(a.oov_ratio, 0.0) AS oov_ratio
      |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin) { (s, d) =>
    Relevance.vocabCoverage(Tables.documents(s, d).select("doc_id", "text"),
      "doc_id", "text", vocabSize = 20)
  }

  // --------------------------------------- incremental boilerplate removal
  // Batch = doc_id % 3 = 0 cleaned against a line-frequency index
  // built from the REST of the corpus — the daily-batch shape; the
  // oracle recomputes merged old+new line frequencies directly.
  val q107IncrementalBoilerplate = q("q107_incremental_boilerplate",
    "Batch boilerplate removal against a persisted line-frequency index (north star: incremental cleaning)",
    """WITH seg AS (
      |  SELECT doc_id, l[i] AS seg, i AS pos
      |  FROM (SELECT doc_id, string_split(coalesce(text, ''), ' the ') AS l FROM documents),
      |       UNNEST(generate_series(1, len(l))) AS t(i)),
      |old_counts AS (
      |  SELECT seg, count(DISTINCT doc_id) AS nd FROM seg
      |  WHERE doc_id % 3 <> 0 AND len(seg) >= 1 GROUP BY seg),
      |new_counts AS (
      |  SELECT seg, count(DISTINCT doc_id) AS nd FROM seg
      |  WHERE doc_id % 3 = 0 AND len(seg) >= 1 GROUP BY seg),
      |boiler AS (
      |  SELECT n.seg FROM new_counts n LEFT JOIN old_counts o USING (seg)
      |  WHERE n.nd + coalesce(o.nd, 0) >= 2)
      |SELECT s.doc_id,
      |       coalesce(string_agg(CASE WHEN b.seg IS NULL THEN s.seg END,
      |                           ' the ' ORDER BY s.pos), '') AS clean_text,
      |       count(b.seg) AS n_removed
      |FROM seg s LEFT JOIN boiler b ON s.seg = b.seg
      |WHERE s.doc_id % 3 = 0
      |GROUP BY s.doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val index = Dedup.boilerplateIndex(
      docs.filter(pmod(col("doc_id"), lit(3)) =!= 0), "doc_id", "text", " the ")
    Dedup.incrementalRemoveBoilerplate(
      docs.filter(pmod(col("doc_id"), lit(3)) === 0), "doc_id", "text",
      index, " the ", minDocs = 2)
  }

  // ------------------------------------------- length-bucketed batching
  val q108LengthBatches = q("q108_length_batches",
    "Length-bucketed batch assignment + per-doc padding cost (north star: batching prep)",
    """WITH t AS (
      |  SELECT doc_id,
      |         CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |r AS (SELECT doc_id, n_tokens,
      |             row_number() OVER (ORDER BY n_tokens, md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn FROM t),
      |b AS (SELECT doc_id, n_tokens, CAST((rn - 1) // 16 AS BIGINT) AS batch_id FROM r)
      |SELECT doc_id, batch_id, n_tokens,
      |       CAST(max(n_tokens) OVER (PARTITION BY batch_id) - n_tokens AS BIGINT) AS pad_tokens
      |FROM b""".stripMargin) { (s, d) =>
    Packing.lengthBatches(
      Tables.documents(s, d).select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens")),
      "doc_id", "n_tokens", batchSize = 16)
  }

  // ------------------------------------------- token-distribution drift
  val q109TokenDrift = q("q109_token_drift",
    "Token-distribution drift between snapshots: per-token TV contribution (north star: data-quality monitoring)",
    """WITH oc AS (
      |  SELECT tok, count(*) AS n_old FROM (
      |    SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      |    FROM documents WHERE doc_id % 2 = 0) GROUP BY tok),
      |nc AS (
      |  SELECT tok, count(*) AS n_new FROM (
      |    SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      |    FROM documents WHERE doc_id % 2 = 1) GROUP BY tok),
      |j AS (
      |  SELECT coalesce(oc.tok, nc.tok) AS tok,
      |         coalesce(n_old, 0) AS n_old, coalesce(n_new, 0) AS n_new
      |  FROM oc FULL OUTER JOIN nc ON oc.tok = nc.tok),
      |tt AS (SELECT sum(n_old) AS t_o, sum(n_new) AS t_n FROM j)
      |SELECT tok, n_old, n_new,
      |       round(n_old / t_o, 6) AS p_old,
      |       round(n_new / t_n, 6) AS p_new,
      |       round(abs(n_old / t_o - n_new / t_n) / 2, 6) AS tv_contrib
      |FROM j, tt""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    Profile.tokenDistributionDrift(
      docs.filter(pmod(col("doc_id"), lit(2)) === 0),
      docs.filter(pmod(col("doc_id"), lit(2)) === 1), "text")
  }

  // --------------------------------------- exact-substring repeated spans
  // Planted full-document copies (id+1e6 for id % 10 = 0) guarantee
  // whole-doc spans; natural 8-gram repeats in the corpus surface too.
  val q110RepeatedSpans = q("q110_repeated_spans",
    "Exact-substring repeated k-gram spans, maximal per doc (north star: dedup, Lee et al. 2022)",
    """WITH base AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0),
      |toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS l FROM base),
      |w AS (
      |  SELECT doc_id, i - 1 AS pos, array_to_string(l[i:i+7], ' ') AS gram
      |  FROM toks, UNNEST(generate_series(1, len(l) - 7)) AS t(i)),
      |rep AS (SELECT gram FROM w GROUP BY gram HAVING count(*) >= 2),
      |f AS (SELECT w.doc_id, w.pos FROM w JOIN rep USING (gram)),
      |m AS (
      |  SELECT doc_id, pos,
      |         max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
      |                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
      |  FROM f),
      |isl AS (
      |  SELECT doc_id, pos,
      |         sum(CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END)
      |           OVER (PARTITION BY doc_id ORDER BY pos) AS island
      |  FROM m)
      |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
      |       CAST(max(pos) + 8 AS BIGINT) AS span_end,
      |       CAST(count(*) AS BIGINT) AS n_windows
      |FROM isl GROUP BY doc_id, island""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val base = docs.unionByName(
      docs.filter(pmod(col("doc_id"), lit(10)) === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    Dedup.repeatedSpans(base, "doc_id", "text", k = 8)
  }

  // --------------------------------------- incremental decontamination
  // The daily-batch shape of q50: the benchmark gram set is a stored
  // fingerprint index (built once from doc_id % 13 = 0), and only the
  // batch is tokenized at probe time. The oracle recomputes the whole
  // overlap from raw text — the fp-keyed probe must land on identical
  // counts.
  val q111IncrementalContamination = q("q111_incremental_contamination",
    "Batch contamination probe against a persisted benchmark gram index (north star: incremental decontamination)",
    """WITH tk AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      |  FROM documents),
      |grams AS (
      |  SELECT doc_id,
      |         CASE WHEN len(toks) >= 8
      |              THEN list_distinct(list_transform(range(1, len(toks) - 6),
      |                     i -> array_to_string(toks[i:i+7], ' ')))
      |              ELSE [array_to_string(toks, ' ')] END AS ngs
      |  FROM tk),
      |bench AS (
      |  SELECT DISTINCT unnest(ngs) AS ng FROM grams WHERE doc_id % 13 = 0),
      |probe AS (
      |  SELECT doc_id, unnest(ngs) AS ng FROM grams WHERE doc_id % 13 <> 0)
      |SELECT probe.doc_id,
      |       count(*) AS n_ngrams,
      |       count(bench.ng) AS n_contaminated,
      |       CAST(count(bench.ng) AS DOUBLE) / count(*) AS overlap_ratio
      |FROM probe LEFT JOIN bench ON probe.ng = bench.ng
      |GROUP BY probe.doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val index = Contamination.benchmarkGramIndex(
      docs.filter(pmod(col("doc_id"), lit(13)) === 0), "text", n = 8)
    Contamination.incrementalNgramOverlap(
      docs.filter(pmod(col("doc_id"), lit(13)) =!= 0), index,
      idCol = "doc_id", textCol = "text", n = 8)
  }

  // --------------------------------------------- bigram LM fluency scoring
  // Train on doc_id % 3 != 0, score the rest — the CCNet-style cheap
  // perplexity filter. Both engines compute identical smoothed
  // probabilities; round(avg, 6) absorbs summation-order ulp drift.
  val q112BigramLm = q("q112_bigram_lm",
    "Bigram LM fluency score: add-alpha smoothed mean log-prob per doc (north star: quality filtering)",
    """WITH tk AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      |  FROM documents),
      |trb AS (
      |  SELECT toks[i] AS w1, toks[i+1] AS w2
      |  FROM tk, UNNEST(generate_series(1, len(toks) - 1)) AS t(i)
      |  WHERE doc_id % 3 <> 0),
      |c2 AS (SELECT w1, w2, count(*) AS c2 FROM trb GROUP BY w1, w2),
      |c1 AS (SELECT w1, count(*) AS c1 FROM trb GROUP BY w1),
      |v AS (
      |  SELECT count(DISTINCT tok) AS v FROM (
      |    SELECT unnest(toks) AS tok FROM tk WHERE doc_id % 3 <> 0)),
      |scb AS (
      |  SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
      |  FROM tk, UNNEST(generate_series(1, len(toks) - 1)) AS t(i)
      |  WHERE doc_id % 3 = 0),
      |scored AS (
      |  SELECT s.doc_id,
      |         ln((coalesce(c2.c2, 0) + 0.1) / (coalesce(c1.c1, 0) + 0.1 * v.v)) AS lp
      |  FROM scb s LEFT JOIN c2 ON s.w1 = c2.w1 AND s.w2 = c2.w2
      |             LEFT JOIN c1 ON s.w1 = c1.w1, v),
      |agg AS (
      |  SELECT doc_id, count(*) AS n_bigrams, round(avg(lp), 6) AS avg_logprob
      |  FROM scored GROUP BY doc_id)
      |SELECT t.doc_id, coalesce(a.n_bigrams, 0) AS n_bigrams, a.avg_logprob
      |FROM tk t LEFT JOIN agg a USING (doc_id)
      |WHERE t.doc_id % 3 = 0""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    Relevance.bigramLmScore(
      train = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0),
      score = docs.filter(pmod(col("doc_id"), lit(3)) === 0),
      idCol = "doc_id", textCol = "text", alpha = 0.1)
  }

  // ----------------------------------------------------- HTML stripping
  // No HTML in the synthetic corpus, so even-id docs are wrapped in a
  // realistic page shell in-query (script + style + tags + entities);
  // odd ids pass through bare. Both engines run the identical
  // RE2-safe regex/replace chain — clean_text must match char-for-char.
  val q113HtmlStrip = q("q113_html_strip",
    "HTML/markup stripping + entity decode + whitespace collapse (north star: web curation)",
    """WITH src AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 2 = 0
      |              THEN '<html><head><title>T</title><style type="text/css">p { color: #fff; }</style><script>if (a < b) { alert("x&y"); }</script></head><body><h1>Heading</h1><p>'
      |                   || coalesce(text, '') ||
      |                   '</p><div class="foo">&quot;quoted&quot; &amp; &lt;escaped&gt; &#39;s&#39;&nbsp;tail</div></body></html>'
      |              ELSE coalesce(text, '') END AS raw
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, raw,
      |         trim(regexp_replace(
      |           replace(replace(replace(replace(replace(replace(
      |             regexp_replace(
      |               regexp_replace(raw, '(?s)<script[^>]*>.*?</script>|<style[^>]*>.*?</style>', ' ', 'g'),
      |               '<[^>]*>', ' ', 'g'),
      |             '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
      |           '[ \t\n\r]+', ' ', 'g')) AS clean_text
      |  FROM src)
      |SELECT doc_id, clean_text,
      |       CAST(length(raw) - length(clean_text) AS BIGINT) AS removed_len
      |FROM c""".stripMargin) { (s, d) =>
    val shellHead = "<html><head><title>T</title><style type=\"text/css\">p { color: #fff; }</style><script>if (a < b) { alert(\"x&y\"); }</script></head><body><h1>Heading</h1><p>"
    val shellTail = "</p><div class=\"foo\">&quot;quoted&quot; &amp; &lt;escaped&gt; &#39;s&#39;&nbsp;tail</div></body></html>"
    val planted = Tables.documents(s, d).select(col("doc_id"),
      when(pmod(col("doc_id"), lit(2)) === 0,
        concat(lit(shellHead), coalesce(col("text"), lit("")), lit(shellTail)))
        .otherwise(coalesce(col("text"), lit(""))).as("raw"))
    planted
      .withColumn("clean_text", TextFunctions.stripHtml(col("raw")))
      .select(col("doc_id"), col("clean_text"),
        (length(col("raw")) - length(col("clean_text"))).cast("long")
          .as("removed_len"))
  }

  // --------------------------------------- repeated-span removal (excision)
  // q110's apply step: same planted whole-doc copies; every repeated
  // 8-gram window is cut except its globally-first occurrence, tokens
  // reassemble in order. The oracle recomputes the keep-first rule
  // with a per-gram window over string grams — the fp-keyed
  // min-struct aggregate must land on identical text.
  val q114SpanRemoval = q("q114_span_removal",
    "Exact-substring repeated-span removal, keep first occurrence (north star: dedup, Lee et al. 2022)",
    """WITH base AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0),
      |toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS l FROM base),
      |w AS (
      |  SELECT doc_id, i - 1 AS pos, array_to_string(l[i:i+7], ' ') AS gram
      |  FROM toks, UNNEST(generate_series(1, len(l) - 7)) AS t(i)),
      |o AS (
      |  SELECT doc_id, pos,
      |         count(*) OVER (PARTITION BY gram) AS cnt,
      |         row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rk
      |  FROM w),
      |cov AS (
      |  SELECT DISTINCT doc_id, pos + j AS tp
      |  FROM o, UNNEST(generate_series(0, 7)) AS t(j)
      |  WHERE cnt >= 2 AND rk >= 2),
      |tok AS (
      |  SELECT doc_id, i - 1 AS tp, l[i] AS tok
      |  FROM toks, UNNEST(generate_series(1, len(l))) AS t(i)),
      |agg AS (
      |  SELECT t.doc_id,
      |         coalesce(string_agg(CASE WHEN c.tp IS NULL THEN t.tok END,
      |                             ' ' ORDER BY t.tp), '') AS clean_text,
      |         count(c.tp) AS n_removed
      |  FROM tok t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.tp = c.tp
      |  GROUP BY t.doc_id)
      |SELECT b.doc_id, coalesce(a.clean_text, '') AS clean_text,
      |       coalesce(a.n_removed, 0) AS n_removed
      |FROM base b LEFT JOIN agg a USING (doc_id)""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val base = docs.unionByName(
      docs.filter(pmod(col("doc_id"), lit(10)) === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    Dedup.removeRepeatedSpans(base, "doc_id", "text", k = 8)
  }

  // ------------------------------------------------ product quantization
  // m=4 subspaces × 16 dims, k=4 codes, deterministic md5-ordered
  // seeds + ONE Lloyd iteration with means and distances rounded to
  // 6dp — both engines learn bit-identical codebooks and land every
  // (vector, subspace) on the same code. err is the rounded
  // squared-L2 reconstruction distance the argmin ranked on.
  val q115ProductQuantization = q("q115_product_quantization",
    "Product quantization: deterministic codebooks + per-subspace codes and reconstruction error (north star: similarity storage)",
    """WITH corpus AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
      |  FROM embeddings),
      |sr AS (
      |  SELECT vec, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS code
      |  FROM corpus ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 4),
      |subs AS (SELECT s AS sub FROM (VALUES (0),(1),(2),(3)) t(s)),
      |sv AS (
      |  SELECT c.vec_id, s.sub, c.vec[s.sub*16+1 : s.sub*16+16] AS sv
      |  FROM corpus c, subs s),
      |seed AS (
      |  SELECT s.sub, r.code, r.vec[s.sub*16+1 : s.sub*16+16] AS cv
      |  FROM sr r, subs s),
      |d1 AS (
      |  SELECT v.vec_id, v.sub, se.code,
      |         round(list_sum(list_transform(range(1, 17),
      |           j -> (v.sv[j] - se.cv[j]) * (v.sv[j] - se.cv[j]))), 6) AS rd
      |  FROM sv v JOIN seed se USING (sub)),
      |a1 AS (
      |  SELECT vec_id, sub, code FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY rd, code) AS rk
      |    FROM d1) WHERE rk = 1),
      |cent AS (
      |  SELECT sub, code, list(mv ORDER BY pos) AS cv FROM (
      |    SELECT a.sub, a.code, j AS pos, round(avg(v.sv[j]), 6) AS mv
      |    FROM a1 a JOIN sv v ON a.vec_id = v.vec_id AND a.sub = v.sub,
      |         UNNEST(generate_series(1, 16)) AS t(j)
      |    GROUP BY a.sub, a.code, j)
      |  GROUP BY sub, code),
      |d2 AS (
      |  SELECT v.vec_id, v.sub, c.code,
      |         round(list_sum(list_transform(range(1, 17),
      |           j -> (v.sv[j] - c.cv[j]) * (v.sv[j] - c.cv[j]))), 6) AS rd
      |  FROM sv v JOIN cent c USING (sub))
      |SELECT vec_id, CAST(sub AS BIGINT) AS sub, code, rd AS err FROM (
      |  SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY rd, code) AS rk
      |  FROM d2) WHERE rk = 1""".stripMargin) { (s, d) =>
    val e = Tables.embeddings(s, d)
    val books = Similarity.pqCodebooks(e, "vec_id", "embedding",
      m = 4, k = 4, iters = 1)
    Similarity.pqEncode(e, books, "vec_id", "embedding", m = 4)
  }

  // ------------------------------------------------ PQ ADC neighbor search
  // The query side of q115: full-vector queries against the CODES-only
  // corpus — every distance is m LUT lookups, no corpus floats. The
  // oracle re-derives the identical deterministic codebooks and codes
  // (q115's CTE chain) and recomputes every ADC distance directly.
  val q116PqAdcSearch = q("q116_pq_adc_search",
    "PQ asymmetric-distance top-k: LUT scan over codes, corpus floats untouched (north star: similarity at scale)",
    """WITH corpus AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
      |  FROM embeddings),
      |sr AS (
      |  SELECT vec, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS code
      |  FROM corpus ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 4),
      |subs AS (SELECT s AS sub FROM (VALUES (0),(1),(2),(3)) t(s)),
      |sv AS (
      |  SELECT c.vec_id, s.sub, c.vec[s.sub*16+1 : s.sub*16+16] AS sv
      |  FROM corpus c, subs s),
      |seed AS (
      |  SELECT s.sub, r.code, r.vec[s.sub*16+1 : s.sub*16+16] AS cv
      |  FROM sr r, subs s),
      |d1 AS (
      |  SELECT v.vec_id, v.sub, se.code,
      |         round(list_sum(list_transform(range(1, 17),
      |           j -> (v.sv[j] - se.cv[j]) * (v.sv[j] - se.cv[j]))), 6) AS rd
      |  FROM sv v JOIN seed se USING (sub)),
      |a1 AS (
      |  SELECT vec_id, sub, code FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY rd, code) AS rk
      |    FROM d1) WHERE rk = 1),
      |cent AS (
      |  SELECT sub, code, list(mv ORDER BY pos) AS cv FROM (
      |    SELECT a.sub, a.code, j AS pos, round(avg(v.sv[j]), 6) AS mv
      |    FROM a1 a JOIN sv v ON a.vec_id = v.vec_id AND a.sub = v.sub,
      |         UNNEST(generate_series(1, 16)) AS t(j)
      |    GROUP BY a.sub, a.code, j)
      |  GROUP BY sub, code),
      |d2 AS (
      |  SELECT v.vec_id, v.sub, c.code,
      |         round(list_sum(list_transform(range(1, 17),
      |           j -> (v.sv[j] - c.cv[j]) * (v.sv[j] - c.cv[j]))), 6) AS rd
      |  FROM sv v JOIN cent c USING (sub)),
      |a2 AS (
      |  SELECT vec_id, sub, code FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY rd, code) AS rk
      |    FROM d2) WHERE rk = 1),
      |lut AS (
      |  SELECT v.vec_id AS query_id, c.sub, c.code,
      |         round(list_sum(list_transform(range(1, 17),
      |           j -> (v.sv[j] - c.cv[j]) * (v.sv[j] - c.cv[j]))), 6) AS l
      |  FROM sv v JOIN cent c USING (sub)
      |  WHERE v.vec_id < 5),
      |scored AS (
      |  SELECT l.query_id, a.vec_id AS neighbor_id, round(sum(l.l), 6) AS adist
      |  FROM a2 a JOIN lut l ON a.sub = l.sub AND a.code = l.code
      |  WHERE l.query_id <> a.vec_id
      |  GROUP BY l.query_id, a.vec_id)
      |SELECT query_id, neighbor_id, adist FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rk
      |  FROM scored) WHERE rk <= 5""".stripMargin) { (s, d) =>
    val e = Tables.embeddings(s, d)
    val books = Similarity.pqCodebooks(e, "vec_id", "embedding",
      m = 4, k = 4, iters = 1)
    val codes = Similarity.pqEncode(e, books, "vec_id", "embedding", m = 4)
      .select("vec_id", "sub", "code")
    Similarity.pqAdcTopK(e.filter(col("vec_id") < 5), books, codes,
      "vec_id", "embedding", m = 4, k = 5)
  }

  // ---------------------------------------------------------- IVF + PQ
  // The two-level ANN capstone: q24's cosine cell assignment bounds
  // WHERE to look (nProbe=3 of 10 cells), q115's PQ codes bound WHAT
  // is read there. The oracle re-derives cells, codebooks, codes,
  // probes and every ADC distance from scratch.
  val q117IvfPq = q("q117_ivf_pq",
    "IVF+PQ two-level ANN: probed cells scanned via ADC lookup tables (north star: similarity at scale)",
    """WITH corpus AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
      |  FROM embeddings),
      |cents AS (
      |  SELECT vec_id AS cell, vec AS cvec FROM corpus WHERE vec_id % 50 = 0),
      |assign AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT c.vec_id, ct.cell,
      |           row_number() OVER (PARTITION BY c.vec_id
      |                              ORDER BY list_cosine_similarity(c.vec, ct.cvec) DESC, ct.cell) AS rk
      |    FROM corpus c CROSS JOIN cents ct) WHERE rk = 1),
      |sr AS (
      |  SELECT vec, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS code
      |  FROM corpus ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 4),
      |subs AS (SELECT s AS sub FROM (VALUES (0),(1),(2),(3)) t(s)),
      |sv AS (
      |  SELECT c.vec_id, s.sub, c.vec[s.sub*16+1 : s.sub*16+16] AS sv
      |  FROM corpus c, subs s),
      |seed AS (
      |  SELECT s.sub, r.code, r.vec[s.sub*16+1 : s.sub*16+16] AS cv
      |  FROM sr r, subs s),
      |d1 AS (
      |  SELECT v.vec_id, v.sub, se.code,
      |         round(list_sum(list_transform(range(1, 17),
      |           j -> (v.sv[j] - se.cv[j]) * (v.sv[j] - se.cv[j]))), 6) AS rd
      |  FROM sv v JOIN seed se USING (sub)),
      |a1 AS (
      |  SELECT vec_id, sub, code FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY rd, code) AS rk
      |    FROM d1) WHERE rk = 1),
      |cent AS (
      |  SELECT sub, code, list(mv ORDER BY pos) AS cv FROM (
      |    SELECT a.sub, a.code, j AS pos, round(avg(v.sv[j]), 6) AS mv
      |    FROM a1 a JOIN sv v ON a.vec_id = v.vec_id AND a.sub = v.sub,
      |         UNNEST(generate_series(1, 16)) AS t(j)
      |    GROUP BY a.sub, a.code, j)
      |  GROUP BY sub, code),
      |d2 AS (
      |  SELECT v.vec_id, v.sub, c.code,
      |         round(list_sum(list_transform(range(1, 17),
      |           j -> (v.sv[j] - c.cv[j]) * (v.sv[j] - c.cv[j]))), 6) AS rd
      |  FROM sv v JOIN cent c USING (sub)),
      |a2 AS (
      |  SELECT vec_id, sub, code FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY rd, code) AS rk
      |    FROM d2) WHERE rk = 1),
      |q AS (SELECT vec_id AS query_id, vec AS qvec FROM corpus WHERE vec_id < 5),
      |probes AS (
      |  SELECT query_id, cell FROM (
      |    SELECT q.query_id, ct.cell,
      |           row_number() OVER (PARTITION BY q.query_id
      |                              ORDER BY list_cosine_similarity(q.qvec, ct.cvec) DESC, ct.cell) AS rk
      |    FROM q CROSS JOIN cents ct) WHERE rk <= 3),
      |lut AS (
      |  SELECT v.vec_id AS query_id, c.sub, c.code,
      |         round(list_sum(list_transform(range(1, 17),
      |           j -> (v.sv[j] - c.cv[j]) * (v.sv[j] - c.cv[j]))), 6) AS l
      |  FROM sv v JOIN cent c USING (sub)
      |  WHERE v.vec_id < 5),
      |scored AS (
      |  SELECT l.query_id, a.vec_id AS neighbor_id, round(sum(l.l), 6) AS adist
      |  FROM a2 a
      |  JOIN assign asg ON a.vec_id = asg.vec_id
      |  JOIN probes p ON asg.cell = p.cell
      |  JOIN lut l ON a.sub = l.sub AND a.code = l.code AND l.query_id = p.query_id
      |  WHERE l.query_id <> a.vec_id
      |  GROUP BY l.query_id, a.vec_id)
      |SELECT query_id, neighbor_id, adist FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rk
      |  FROM scored) WHERE rk <= 5""".stripMargin) { (s, d) =>
    val e = Tables.embeddings(s, d)
    val centroids = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("cell"), col("embedding"))
    val cells = Similarity.assignCells(e,
      centroids.select(col("cell").as("vec_id"), col("embedding")),
      "vec_id", "embedding")
      .select("vec_id", "cell")
    val books = Similarity.pqCodebooks(e, "vec_id", "embedding",
      m = 4, k = 4, iters = 1)
    val codesWithCells = Similarity.pqEncode(e, books, "vec_id", "embedding", m = 4)
      .select("vec_id", "sub", "code")
      .join(cells, Seq("vec_id"))
    Similarity.ivfPqTopK(e.filter(col("vec_id") < 5), centroids, books,
      codesWithCells, "vec_id", "embedding", m = 4, k = 5, nProbe = 3)
  }

  // ------------------------------------------------ BPE-ish pretokenization
  // The token-budget estimator at the unit a byte-level BPE actually
  // merges from: contraction splits + letter/digit/punct runs.
  // chars_per_pretoken is the classic compression-ratio quality signal
  // (low = punctuation soup, high = long prose words).
  val q118Pretokenize = q("q118_pretokenize",
    "GPT-2-style pretokenizer counts + chars-per-token ratio (north star: token counting)",
    s"""SELECT doc_id,
      |       CAST(len(regexp_extract_all(lower(coalesce(text, '')), '${TextFunctions.PretokenPattern.replace("'", "''")}', 0)) AS BIGINT) AS n_pretokens,
      |       CAST(len(regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+', 0)) AS BIGINT) AS n_alnum_tokens,
      |       round(CASE WHEN len(regexp_extract_all(lower(coalesce(text, '')), '${TextFunctions.PretokenPattern.replace("'", "''")}', 0)) = 0 THEN 0.0
      |                  ELSE CAST(length(coalesce(text, '')) AS DOUBLE)
      |                       / len(regexp_extract_all(lower(coalesce(text, '')), '${TextFunctions.PretokenPattern.replace("'", "''")}', 0)) END, 4) AS chars_per_pretoken
      |FROM documents""".stripMargin) { (s, d) =>
    val txt = coalesce(col("text"), lit(""))
    Tables.documents(s, d)
      .select(col("doc_id"), txt.as("_t"))
      .withColumn("_n", TextFunctions.pretokenCount(col("_t")))
      .select(col("doc_id"),
        col("_n").cast("long").as("n_pretokens"),
        TextFunctions.tokenCount(col("_t")).cast("long").as("n_alnum_tokens"),
        round(when(col("_n") === 0, lit(0.0))
          .otherwise(length(col("_t")).cast("double") / col("_n")), 4)
          .as("chars_per_pretoken"))
  }

  // --------------------------------------------- composite quality filter
  // The filter users actually run: five screening signals, a keep
  // verdict, and NAMED failure reasons per doc. LM trained on
  // doc_id % 3 != 0 (q112's model), every doc scored.
  val q119QualityFilter = q("q119_quality_filter",
    "Composite CCNet/Gopher-style quality filter: five signals, keep verdict, named reasons (north star: quality filtering)",
    s"""WITH tk AS (
      |  SELECT doc_id, lower(coalesce(text, '')) AS lt,
      |         regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+') AS toks
      |  FROM documents),
      |trb AS (
      |  SELECT toks[i] AS w1, toks[i+1] AS w2
      |  FROM tk, UNNEST(generate_series(1, len(toks) - 1)) AS t(i)
      |  WHERE doc_id % 3 <> 0),
      |c2 AS (SELECT w1, w2, count(*) AS c2 FROM trb GROUP BY w1, w2),
      |c1 AS (SELECT w1, count(*) AS c1 FROM trb GROUP BY w1),
      |v AS (
      |  SELECT count(DISTINCT tok) AS v FROM (
      |    SELECT unnest(toks) AS tok FROM tk WHERE doc_id % 3 <> 0)),
      |scb AS (
      |  SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
      |  FROM tk, UNNEST(generate_series(1, len(toks) - 1)) AS t(i)),
      |lmx AS (
      |  SELECT s.doc_id, round(avg(
      |           ln((coalesce(c2.c2, 0) + 0.1) / (coalesce(c1.c1, 0) + 0.1 * v.v))), 6) AS avg_logprob
      |  FROM scb s LEFT JOIN c2 ON s.w1 = c2.w1 AND s.w2 = c2.w2
      |             LEFT JOIN c1 ON s.w1 = c1.w1, v
      |  GROUP BY s.doc_id),
      |bge AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
      |           i -> toks[i] || ' ' || toks[i+1])) AS g
      |  FROM tk),
      |bgc AS (SELECT doc_id, g, count(*) AS c FROM bge GROUP BY 1, 2),
      |bgt AS (SELECT doc_id, max(c) AS mx, sum(c) AS tot FROM bgc GROUP BY 1),
      |sig AS (
      |  SELECT tk.doc_id,
      |         CAST(len(toks) AS BIGINT) AS n_tokens,
      |         round(CASE WHEN length(lt) = 0 THEN 0.0
      |                    ELSE CAST(length(regexp_replace(lt, '[^a-z ]', '', 'g')) AS DOUBLE) / length(lt) END, 4) AS alpha_ratio,
      |         round(coalesce(CAST(bgt.mx AS DOUBLE) / bgt.tot, 0.0), 4) AS top_bigram_frac,
      |         round(CASE WHEN len(toks) = 0 THEN 0.0
      |                    ELSE CAST(len(list_filter(toks, t -> t IN (${TextFunctions.EnglishMarkers.map(w => s"'$w'").mkString(", ")}))) AS DOUBLE) / len(toks) END, 4) AS en_score
      |  FROM tk LEFT JOIN bgt ON tk.doc_id = bgt.doc_id),
      |j AS (SELECT s.*, l.avg_logprob FROM sig s LEFT JOIN lmx l USING (doc_id)),
      |r AS (
      |  SELECT *, coalesce(array_to_string(list_filter([
      |           CASE WHEN NOT (n_tokens >= 25 AND n_tokens <= 100000) THEN 'length' END,
      |           CASE WHEN NOT (alpha_ratio >= 0.6) THEN 'alpha' END,
      |           CASE WHEN NOT (n_tokens < 25 OR top_bigram_frac <= 0.2) THEN 'repetition' END,
      |           CASE WHEN NOT (en_score >= 0.05) THEN 'lang' END,
      |           CASE WHEN avg_logprob IS NULL OR avg_logprob < -7.0 THEN 'lm' END
      |         ], x -> x IS NOT NULL), ','), '') AS reasons
      |  FROM j)
      |SELECT doc_id, n_tokens, alpha_ratio, top_bigram_frac, en_score, avg_logprob,
      |       reasons = '' AS keep, reasons
      |FROM r""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    Relevance.qualityFilter(docs,
      train = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0),
      idCol = "doc_id", textCol = "text")
  }

  // ------------------------------------------------------ real BPE encoding
  /** One merge application under the positional BPE contract: replace
    * the FIRST occurrence of the lowest-rank pair present (rank order
    * = CASE branch order; regexp_replace without 'g' is
    * first-occurrence in DuckDB). Symbols ride space-separated with
    * sentinel spaces at both ends, so ' l r ' matches exactly one
    * adjacent symbol pair. */
  private def bpeStepSql(v: String): String =
    Bpe.DemoMerges.map { case (l, r) =>
      s"WHEN contains($v, ' $l $r ') THEN regexp_replace($v, ' $l $r ', ' $l$r ')"
    }.mkString("CASE ", " ", s" ELSE $v END")

  /** Real byte-pair encoding — not a regex approximation. The Spark
    * side runs the codegen'd [[graft.functions.BpeEncode]] greedy
    * loop; the oracle replays the SAME positional contract (merge the
    * leftmost occurrence of the lowest-rank pair, repeat to fixpoint)
    * as a recursive CTE over the DISTINCT words of the corpus — two
    * independent implementations sharing only the merge table.
    * The trained-table path (Bpe.train) is pinned by BpeSpec's
    * hand-computed merge sequence; this query pins the corpus-scale
    * apply path. */
  val q120Bpe = q("q120_bpe_encode",
    "Real BPE apply: greedy lowest-rank merges vs recursive-CTE oracle (north star: token counting)",
    s"""WITH RECURSIVE tk AS (
      |  SELECT doc_id, regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+') AS toks
      |  FROM documents),
      |words AS (SELECT DISTINCT unnest(toks) AS w FROM tk),
      |enc AS (
      |  SELECT w, ' ' || trim(regexp_replace(w, '(.)', '\\1 ', 'g')) || ' ' AS s FROM words
      |  UNION ALL
      |  SELECT w, s2 FROM (SELECT w, ${bpeStepSql("s")} AS s2, s FROM enc) st WHERE s2 <> s
      |),
      |fin AS (SELECT w, s FROM (SELECT w, s, ${bpeStepSql("s")} AS s2 FROM enc) f WHERE s2 = s),
      |wn AS (SELECT w, CAST(len(string_split(trim(s), ' ')) AS BIGINT) AS n_sym,
      |              CAST(length(w) AS BIGINT) AS n_chars FROM fin),
      |ex AS (SELECT doc_id, unnest(toks) AS w FROM tk),
      |agg AS (SELECT ex.doc_id, sum(wn.n_sym) AS n_bpe, sum(wn.n_chars) AS n_chars
      |        FROM ex JOIN wn ON ex.w = wn.w GROUP BY ex.doc_id)
      |SELECT tk.doc_id,
      |       CAST(len(toks) AS BIGINT) AS n_tokens,
      |       CAST(coalesce(agg.n_bpe, 0) AS BIGINT) AS n_bpe_tokens,
      |       round(CASE WHEN coalesce(agg.n_bpe, 0) = 0 THEN 0.0
      |                  ELSE CAST(agg.n_chars AS DOUBLE) / agg.n_bpe END, 4) AS chars_per_bpe_token
      |FROM tk LEFT JOIN agg ON tk.doc_id = agg.doc_id""".stripMargin) { (s, d) =>
    val txt = coalesce(col("text"), lit(""))
    Tables.documents(s, d)
      .select(col("doc_id"), TextFunctions.tokens(txt).as("_toks"))
      .select(col("doc_id"),
        size(col("_toks")).cast("long").as("n_tokens"),
        Bpe.encode(col("_toks"), Bpe.DemoMerges).as("_bpe"),
        length(array_join(col("_toks"), "")).cast("long").as("_chars"))
      .select(col("doc_id"), col("n_tokens"),
        size(col("_bpe")).cast("long").as("n_bpe_tokens"),
        round(when(size(col("_bpe")) === 0, lit(0.0))
          .otherwise(col("_chars").cast("double") / size(col("_bpe"))), 4)
          .as("chars_per_bpe_token"))
  }

  // ---------------------------------------------- multimodal: tone detection
  /** Frequency-domain audio: every non-text doc becomes a mono 16-bit
    * PCM WAV carrying a planted pure tone at
    * f = 400 + 200·(doc_id % 8) Hz (sr 8000, N = 160 — every probe an
    * exact 50 Hz bin, so bank bins are orthogonal and the planted bin
    * dominates by ~11 orders of magnitude over int-rounding noise),
    * and `Multimodal.PcmCodec.dominantTone` must recover exactly that
    * frequency through the real WAV bytes with a Goertzel filter
    * bank. The oracle knows the answer closed-form from doc_id — the
    * engine only matches if mux, chunk walk, sample decode and the
    * Goertzel recurrence are ALL right. power_ratio stays out of the
    * hashed output (cross-engine float replay isn't possible without
    * replaying the DSP); MultimodalSpec pins it near 1 on pure tones. */
  val q121Tone = q("q121_dominant_tone",
    "Goertzel filter-bank dominant-frequency detection over planted tones (north star: multimodal audio)",
    """SELECT doc_id AS asset_id,
      |       CASE WHEN doc_id % 7 = 0 THEN 'text' ELSE 'audio' END AS modality,
      |       CASE WHEN doc_id % 7 = 0 THEN NULL ELSE CAST(160 AS BIGINT) END AS n_samples,
      |       CASE WHEN doc_id % 7 = 0 THEN NULL ELSE 8000 END AS sample_rate,
      |       CASE WHEN doc_id % 7 = 0 THEN NULL
      |            ELSE CAST(400 + 200 * (doc_id % 8) AS DOUBLE) END AS dominant_freq
      |FROM documents""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val did = col("doc_id")
    val freq = (lit(400L) + lit(200L) * pmod(did, lit(8))).cast("double")
    // planted tone, int16 LE: v_i = round(10000·sin(2π·f·i/8000)) —
    // compiled mux (byte-identical to the original column transform,
    // MultimodalSpec-pinned; the interpreted version cost ~1.9 s here)
    val wav = graft.functions.PlantedPng.planted_tone_wav(
      array(freq), lit(10000.0), perSeg = 160)
    val sevMod = pmod(did, lit(7))
    val assets = Par.widen(docs, "doc_id").select(
      did.as("asset_id"),
      when(sevMod === 0, lit("text")).otherwise(lit("audio")).as("modality"),
      when(sevMod === 0, col("text").cast("binary")).otherwise(wav).as("payload"))
    Multimodal.extractDominantTone(s, assets,
      probeFreqs = (0 to 7).map(k => 400.0 + 200.0 * k)).toDF()
      .select(col("asset_id"), col("modality"), col("n_samples"),
        col("sample_rate"), col("dominant_freq"))
  }

  // ------------------------------------- multimodal: perceptual image hashing
  /** Planted 18×16 grayscale PNG for the dHash queries: pixel (x,y) of
    * doc_id is md5-derived from the GROUP seed (doc_id − doc_id%4) so
    * four consecutive ids share a base image, and variant v = doc_id%4
    * adds +64 to one pixel in each of cells (cx=0, cy<v). Cell (0,cy)
    * joins exactly ONE neighbor comparison, so any two variants differ
    * by ≤ 3 dHash bits — inside the 4×16-band pigeonhole guarantee.
    * Muxed by the compiled PlantedGrayPng expression (byte-identical
    * to the original column mux, MultimodalSpec-pinned): the
    * interpreted transform/zip_with construction evaluated ~288
    * expression-tree md5s per row and put each image query at ~12 s
    * of the sf0.1 bench — 10× the arithmetic-formula q91 mux. */
  private def plantedDhashPng(did: Column): Column =
    graft.functions.PlantedPng.planted_gray_png(
      did - pmod(did, lit(4L)), pmod(did, lit(4L)))

  private def plantedDhashAssets(s: SparkSession, d: String): DataFrame = {
    val did = col("doc_id")
    val sevMod = pmod(did, lit(7))
    Tables.documents(s, d).select(
      did.as("asset_id"),
      when(sevMod === 0, lit("text")).otherwise(lit("image")).as("modality"),
      when(sevMod === 0, col("text").cast("binary"))
        .otherwise(plantedDhashPng(did)).as("payload"))
  }

  /** The dHash oracle CTEs: replay pixel formula → 2×2 cell sums →
    * neighbor-comparison bits → signed-64 wrap (DuckDB's BIGINT shift
    * overflows at bit 63; HUGEINT + wrap reproduces Java's long). */
  private val dhashOracleCtes =
    """t AS (SELECT doc_id, doc_id - doc_id % 4 AS seed, doc_id % 4 AS v
      |      FROM documents WHERE doc_id % 7 <> 0),
      |px AS (
      |  SELECT t.doc_id, x.range AS x, y.range AS y,
      |         ((('0x' || substr(md5(t.seed || '_' || x.range || '_' || y.range), 1, 2))::BIGINT
      |           + CASE WHEN x.range = 0 AND y.range % 2 = 0 AND y.range // 2 < t.v
      |                  THEN 64 ELSE 0 END) % 256) AS g
      |  FROM t, range(18) x, range(16) y),
      |cells AS (
      |  SELECT doc_id, x // 2 AS cx, y // 2 AS cy, sum(g) AS m
      |  FROM px GROUP BY 1, 2, 3),
      |bits AS (
      |  SELECT l.doc_id,
      |         CASE WHEN l.m < r.m THEN (1::HUGEINT << CAST(l.cy * 8 + l.cx AS INTEGER))
      |              ELSE 0::HUGEINT END AS bit
      |  FROM cells l JOIN cells r
      |    ON l.doc_id = r.doc_id AND l.cy = r.cy AND l.cx + 1 = r.cx),
      |hv AS (
      |  SELECT doc_id, CAST(CASE WHEN sum(bit) >= (1::HUGEINT << 63)
      |                           THEN sum(bit) - (1::HUGEINT << 64)
      |                           ELSE sum(bit) END AS BIGINT) AS dhash
      |  FROM bits GROUP BY doc_id)""".stripMargin

  /** Perceptual hashing end-to-end: the engine muxes real PNG bytes,
    * inflates them back, box-resizes, and hashes — and must land on
    * the EXACT 64-bit value the oracle derives from the planted pixel
    * formula without ever seeing a PNG. Integer-exact by construction
    * (2×2 cells ⇒ the ×1000 luma scaling divides out). */
  val q122ImageDhash = q("q122_image_dhash",
    "dHash perceptual image hashes over planted PNGs, bit-exact vs closed-form oracle (north star: multimodal dedup)",
    s"""WITH $dhashOracleCtes
      |SELECT d.doc_id AS asset_id,
      |       CASE WHEN d.doc_id % 7 = 0 THEN 'text' ELSE 'image' END AS modality,
      |       CASE WHEN d.doc_id % 7 = 0 THEN NULL ELSE 18 END AS width,
      |       CASE WHEN d.doc_id % 7 = 0 THEN NULL ELSE 16 END AS height,
      |       hv.dhash
      |FROM documents d LEFT JOIN hv ON d.doc_id = hv.doc_id""".stripMargin) { (s, d) =>
    Multimodal.extractImageHash(s, plantedDhashAssets(s, d)).toDF()
      .select(col("asset_id"), col("modality"), col("width"), col("height"),
        col("dhash"))
  }

  /** Image near-dup pairs: Hamming64 [[Dedup.lshPairs]] over the q122
    * hashes. At maxHamming = 3 the banded output is EXACTLY the
    * Hamming-≤3 pair set (pigeonhole over 4×16-bit bands), so the
    * oracle pins it with a brute-force all-pairs scan over the
    * closed-form hashes — planted variants guarantee the set is
    * non-trivial (each id group of 4 differs by ≤ 3 bits). */
  val q123ImageNearDup = q("q123_image_neardup",
    "Image near-duplicate pairs via banded Hamming join over dHash (north star: multimodal dedup)",
    s"""WITH $dhashOracleCtes
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |       CAST(bit_count(xor(a.dhash, b.dhash)) AS INTEGER) AS hamming
      |FROM hv a JOIN hv b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.dhash, b.dhash)) <= 3""".stripMargin) { (s, d) =>
    val sigs = Multimodal.extractImageHash(s, plantedDhashAssets(s, d)).toDF()
      .filter(col("is_image"))
      .select(col("asset_id").as("id"), col("dhash").as("sig"))
    Dedup.lshPairs(sigs, "id", "sig", Dedup.Hamming64("image_dhash"))
      .select(col("id_a"), col("id_b"), col("hamming").cast("int").as("hamming"))
  }

  /** Incremental image near-dup — the q93/q97/q98 daily-batch shape
    * for the IMAGE family, through the PERSISTED bucketed band store
    * (round 17: the image family joins the text families' store
    * discipline — corpus dHash band rows land once in a
    * `bb`-bucketed [[Dedup.bandIndexWrite]] store, and the
    * batch's probe reads ONLY its own band-key buckets as a parquet
    * partition filter via [[Dedup.lshProbeStore]]);
    * the corpus is never re-decoded or re-hashed, and at 100 TB the
    * probe's scan cost is ∝ the batch's bucket set, not the corpus
    * index. Proof in-engine, pinned by the oracle: probe output ≡
    * full-corpus [[Dedup.lshPairs]] restricted to pairs
    * touching the batch. Groups of 4 planted variants span the
    * batch/corpus split (doc_id % 3), so cross pairs genuinely
    * exercise the store join. */
  val q124IncrementalImage = q("q124_incremental_image_neardup",
    "Incremental image near-dup: batch vs persisted bucketed dHash band store equals full run restricted to batch (north star: multimodal dedup)",
    """SELECT count(*) AS n_batch_images, TRUE AS sets_match
      |FROM documents WHERE doc_id % 3 = 0 AND doc_id % 7 <> 0""".stripMargin) { (s, d) =>
    val sigs = Multimodal.extractImageHash(s, plantedDhashAssets(s, d)).toDF()
      .filter(col("is_image"))
      .select(col("asset_id").as("id"), col("dhash").as("sig"))
      .localCheckpoint() // hash once; index build, probe and full run reuse it
    val batch = sigs.filter(pmod(col("id"), lit(3)) === 0)
    val corpus = sigs.filter(pmod(col("id"), lit(3)) =!= 0)
    val root = freshScratch(s, "q124_dhash_store")
    val lsh = Dedup.Hamming64("image_dhash", maxHamming = 3)
    Dedup.bandIndexWrite(corpus, "id", "sig", root, lsh)
    val incremental = Dedup.lshProbeStore(s, root, batch, "id", "sig", lsh)
    val full = Dedup.lshPairs(sigs, "id", "sig", lsh).select("id_a", "id_b")
    restrictedEquivalence(batch, batch.select(col("id").as("id_a")),
      full, incremental.select("id_a", "id_b"), "n_batch_images")
  }

  // ------------------------------------------------- count-min heavy hitters
  /** Mergeable-sketch heavy hitters: exact top-30 corpus tokens next
    * to their count-min estimates from a 4×2048 sketch of the same
    * stream. Bucket hashes are md5-derived so the oracle REBUILDS the
    * identical sketch in DuckDB and the estimates hash-match
    * bit-for-bit — an implementation check, strictly stronger than
    * asserting the distribution-level ε-bound (q58's style). The
    * CMS one-sided-error law (never under-counts) rides along as
    * est_ge_exact, pinned TRUE for every row by construction. */
  val q125CountMin = q("q125_countmin_heavy_hitters",
    "Count-min heavy hitters: exact top-k vs md5-replayed sketch estimates (north star: corpus profiling)",
    """WITH tok AS (
      |  SELECT unnest(regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+')) AS token
      |  FROM documents),
      |exact AS (
      |  SELECT token, count(*) AS exact_c FROM tok GROUP BY token
      |  ORDER BY exact_c DESC, token ASC LIMIT 30),
      |keys AS (
      |  SELECT token, r.range AS r,
      |         ('0x' || substr(md5(r.range || '_' || token), 1, 8))::BIGINT % 2048 AS b
      |  FROM tok, range(4) r),
      |sketch AS (SELECT r, b, count(*) AS c FROM keys GROUP BY r, b),
      |probe AS (
      |  SELECT e.token, e.exact_c, min(coalesce(s.c, 0)) AS cms_est
      |  FROM (exact e CROSS JOIN range(4) r)
      |  LEFT JOIN sketch s
      |    ON s.r = r.range
      |   AND s.b = ('0x' || substr(md5(r.range || '_' || e.token), 1, 8))::BIGINT % 2048
      |  GROUP BY e.token, e.exact_c)
      |SELECT token, exact_c, cms_est, cms_est >= exact_c AS est_ge_exact
      |FROM probe""".stripMargin) { (s, d) =>
    val toks = Tables.documents(s, d)
      .select(explode(TextFunctions.tokens(coalesce(col("text"), lit(""))))
        .as("token"))
    HeavyHitters.topKWithEstimates(toks, "token", k = 30,
      depth = 4, width = 2048)
  }

  // ------------------------------------------------------------ BM25 retrieval
  /** BM25 top-docs for a literal query. Literal terms ⇒ per-row map
    * lookups on TokenCounts, per-term scores summed in LIST ORDER as
    * column addition — no explode, no aggregation-order float drift,
    * so the oracle reproduces the double bit-for-bit (k1+1 is written
    * as arithmetic in BOTH engines: a decimal literal 2.2 and the
    * IEEE sum 1.2+1.0 are different doubles). */
  val q126Bm25 = q("q126_bm25",
    "BM25 top-50 retrieval for a fixed query over the corpus (north star: relevance/retrieval)",
    """WITH base AS (
      |  SELECT doc_id, regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+') AS toks
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
      |         len(list_filter(toks, t -> t = 'join')) AS tf1,
      |         len(list_filter(toks, t -> t = 'merge')) AS tf2,
      |         len(list_filter(toks, t -> t = 'window')) AS tf3
      |  FROM base),
      |st AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(dl) AS DOUBLE) AS sumdl,
      |         CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
      |         CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2,
      |         CAST(sum(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df3
      |  FROM tf),
      |sc AS (
      |  SELECT tf.doc_id,
      |         (CASE WHEN tf1 > 0 THEN 1 ELSE 0 END + CASE WHEN tf2 > 0 THEN 1 ELSE 0 END
      |          + CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS n_matched,
      |         round(
      |           ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * (tf1 * (1.2 + 1.0))
      |             / (tf1 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (sumdl / n)))
      |           + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5)) * (tf2 * (1.2 + 1.0))
      |             / (tf2 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (sumdl / n)))
      |           + ln(1.0 + (n - df3 + 0.5) / (df3 + 0.5)) * (tf3 * (1.2 + 1.0))
      |             / (tf3 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (sumdl / n))), 6) AS score
      |  FROM tf, st)
      |SELECT doc_id, n_matched, score FROM sc
      |WHERE n_matched > 0
      |ORDER BY score DESC, doc_id ASC LIMIT 50""".stripMargin) { (s, d) =>
    Relevance.bm25TopDocs(Tables.documents(s, d), "doc_id", "text",
      queryTerms = Seq("join", "merge", "window"), k = 50)
  }

  // ------------------------------------------------------------ domain caps
  /** Per-domain document caps (RefinedWeb-style "no site dominates").
    * URLs are planted deterministically (md5-bucketed host choice —
    * the same planted-payload pattern as the multimodal codecs), then
    * host extraction, registered-domain grouping and the md5-ranked
    * cap all replay verbatim in the oracle. The kept set is a
    * bounded-heap aggregation, never a per-domain window sort —
    * Curation.capPerKey's scaladoc carries the skew story. */
  val q127DomainCaps = q("q127_domain_caps",
    "URL host/registered-domain extraction + deterministic per-domain cap (north star: web curation)",
    s"""WITH u AS (
      |  SELECT doc_id,
      |         (list_value(${Curation.DemoHosts.map(h => s"'$h'").mkString(", ")}))[
      |           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
      |                % ${Curation.DemoHosts.size} AS INT) + 1] AS url
      |  FROM documents),
      |h AS (
      |  SELECT doc_id,
      |         lower(CASE WHEN regexp_extract(url,
      |                 '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?\\[([^\\]]*)\\]', 1) <> ''
      |               THEN regexp_extract(url,
      |                 '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?\\[([^\\]]*)\\]', 1)
      |               ELSE regexp_extract(url,
      |                 '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]*)', 1) END) AS host
      |  FROM u),
      |d AS (
      |  SELECT doc_id, CASE
      |      WHEN len(string_split(host, '.')) >= 3
      |           AND string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1]
      |               IN (${Curation.MultiPartSuffixes.map(x => s"'$x'").mkString(", ")})
      |      THEN string_split(host, '.')[-3] || '.' || string_split(host, '.')[-2]
      |           || '.' || string_split(host, '.')[-1]
      |      WHEN len(string_split(host, '.')) >= 2
      |      THEN string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1]
      |      ELSE host END AS domain
      |  FROM h),
      |r AS (
      |  SELECT domain, doc_id,
      |         row_number() OVER (PARTITION BY domain
      |           ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT,
      |                    doc_id) AS rk
      |  FROM d)
      |SELECT domain, doc_id, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= 10""".stripMargin) { (s, d) =>
    val hostArr = array(Curation.DemoHosts.map(lit): _*)
    val url = element_at(hostArr,
      (Splits.splitBucket(col("doc_id"), Curation.DemoHosts.size) + 1).cast("int"))
    val dom = Curation.registeredDomain(Curation.urlHost(url))
    Curation.capPerKey(
      Tables.documents(s, d).select(col("doc_id"), dom.as("domain")),
      col("domain"), col("doc_id"), maxPerKey = 10)
      .select(col("key").as("domain"), col("id").as("doc_id"), col("rk"))
  }

  // --------------------------------------- cross-corpus paragraph dedup
  /** MassiveText-style exact paragraph dedup: one copy of every
    * repeated line survives corpus-wide (globally-first occurrence),
    * unlike q102's threshold removal which drops ALL copies of
    * boilerplate. Same synthetic-corpus segmentation note as q102
    * (sep = ' the '). */
  val q128ParagraphDedup = q("q128_paragraph_dedup",
    "Cross-corpus keep-first line dedup, order-preserving reassembly (north star: dedup)",
    """WITH seg AS (
      |  SELECT doc_id, l[i] AS seg, i AS pos
      |  FROM (SELECT doc_id, string_split(coalesce(text, ''), ' the ') AS l FROM documents),
      |       UNNEST(generate_series(1, len(l))) AS t(i)),
      |first_occ AS (
      |  SELECT seg, doc_id AS wid, pos AS wpos FROM (
      |    SELECT seg, doc_id, pos,
      |           row_number() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rn
      |    FROM seg WHERE len(seg) >= 1) WHERE rn = 1)
      |SELECT s.doc_id,
      |       coalesce(string_agg(CASE WHEN f.seg IS NULL
      |                    OR (s.doc_id = f.wid AND s.pos = f.wpos)
      |                  THEN s.seg END, ' the ' ORDER BY s.pos), '') AS clean_text,
      |       count(CASE WHEN f.seg IS NOT NULL
      |                    AND NOT (s.doc_id = f.wid AND s.pos = f.wpos)
      |                  THEN 1 END) AS n_removed
      |FROM seg s LEFT JOIN first_occ f ON s.seg = f.seg
      |GROUP BY s.doc_id""".stripMargin) { (s, d) =>
    Dedup.dedupLinesAcrossCorpus(Tables.documents(s, d)
      .select("doc_id", "text"), "doc_id", "text", sep = " the ")
  }

  // ------------------------------------------------------------ blocklist
  /** One-pass multi-phrase screening. The oracle counts each phrase
    * with regexp_extract_all (non-overlapping, left-to-right) — equal
    * to the automaton's every-end-position count because none of the
    * demo phrases has a proper border (prefix = suffix), so
    * occurrences of the same phrase can never overlap. */
  val q129Blocklist = q("q129_blocklist",
    "Aho-Corasick blocklist screening: per-phrase counts in one text pass (north star: safety filtering)",
    """WITH c AS (
      |  SELECT doc_id,
      |         CAST(len(regexp_extract_all(lower(coalesce(text, '')), 'spark')) AS BIGINT) AS n_spark,
      |         CAST(len(regexp_extract_all(lower(coalesce(text, '')), 'merge')) AS BIGINT) AS n_merge,
      |         CAST(len(regexp_extract_all(lower(coalesce(text, '')), 'scan')) AS BIGINT) AS n_scan,
      |         CAST(len(regexp_extract_all(lower(coalesce(text, '')), 'big query')) AS BIGINT) AS n_bigquery,
      |         CAST(len(regexp_extract_all(lower(coalesce(text, '')), 'the row')) AS BIGINT) AS n_therow
      |  FROM documents)
      |SELECT doc_id, n_spark, n_merge, n_scan, n_bigquery, n_therow,
      |       n_spark + n_merge + n_scan + n_bigquery + n_therow AS n_total,
      |       n_spark + n_merge + n_scan + n_bigquery + n_therow >= 8 AS blocked
      |FROM c""".stripMargin) { (s, d) =>
    val pats = Seq("spark", "merge", "scan", "big query", "the row")
    val names = Seq("n_spark", "n_merge", "n_scan", "n_bigquery", "n_therow")
    val withCounts = Tables.documents(s, d).select(col("doc_id"),
      graft.functions.Blocklist.matchCounts(
        lower(coalesce(col("text"), lit(""))), pats).as("c"))
      .select(col("doc_id") +:
        names.zipWithIndex.map { case (n, i) =>
          element_at(col("c"), i + 1).as(n) }: _*)
    withCounts
      .withColumn("n_total", names.map(col).reduce(_ + _))
      .withColumn("blocked", col("n_total") >= 8)
  }

  // ------------------------------------------------------------- zone map
  /** The file-pruned read path must return exactly the full-scan
    * filter rows whatever the file layout — so the oracle is the
    * plain filter; LayoutSpec separately pins that the manifest
    * prunes files on a range-laid-out table. The query writes a
    * range-partitioned copy, builds the manifest, and reads through
    * it. */
  val q130ZoneMap = q("q130_zone_map",
    "Zone-map manifest: per-file min/max stats + file-pruned range read (layout/data skipping)",
    """SELECT doc_id, n_chars FROM documents
      |WHERE n_chars >= 400 AND n_chars <= 600""".stripMargin) { (s, d) =>
    val dir = freshScratch(s, "q130_zonemap/docs")
    Tables.documents(s, d).select("doc_id", "n_chars")
      .repartitionByRange(8, col("n_chars"))
      .write.mode("overwrite").parquet(dir)
    val manifest = Layout.zoneMap(s.read.parquet(dir), Seq("n_chars"))
    Layout.zoneMapRead(s, dir, manifest, "n_chars", lit(400L), lit(600L))
      .select("doc_id", "n_chars")
  }

  // ----------------------------------------------------------- KMV sketch
  /** Exact distinct vs the engine-portable bottom-k estimate — the
    * q125 contract applied to cardinality. k = 32; at sf0.01+ every
    * event type holds ≥ 32 distinct hashes, so the driver's verify SF
    * pins the ESTIMATOR branch (at sf0.001 each type has ~15 distinct
    * users and only the exact-under-k fallback runs — both branches
    * are additionally spec-pinned in CardinalitySpec, which is the
    * gate a smoke-SF-only run would need). */
  val q131Kmv = q("q131_kmv_distinct",
    "KMV bottom-k distinct sketch vs exact per-group cardinality (north star: corpus profiling)",
    """WITH h AS (
      |  SELECT DISTINCT event_type,
      |         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))::BIGINT AS h52
      |  FROM events WHERE user_id IS NOT NULL),
      |r AS (
      |  SELECT event_type, h52,
      |         row_number() OVER (PARTITION BY event_type ORDER BY h52) AS rn
      |  FROM h),
      |s AS (
      |  SELECT event_type, count(*) AS n_kept,
      |         max(CASE WHEN rn = 32 THEN h52 END) AS h_k
      |  FROM r WHERE rn <= 32 GROUP BY event_type),
      |x AS (SELECT event_type, count(DISTINCT user_id) AS n_exact
      |      FROM events GROUP BY event_type)
      |SELECT x.event_type, x.n_exact,
      |       round(CASE WHEN s.n_kept < 32 THEN CAST(s.n_kept AS DOUBLE)
      |             ELSE 31.0 / (CAST(s.h_k AS DOUBLE) / 4503599627370496.0)
      |             END, 4) AS kmv_est
      |FROM x JOIN s ON x.event_type = s.event_type""".stripMargin) { (s, d) =>
    Cardinality.distinctWithEstimates(Tables.events(s, d),
      col("event_type"), col("user_id"), k = 32)
      .select(col("group").as("event_type"), col("n_exact"), col("kmv_est"))
  }

  // ------------------------------------------------------ PMI collocations
  /** Top adjacent-bigram collocations by pointwise mutual
    * information. Bigrams come from a zero-shuffle array zip at scan
    * time (no window); unigram/total scalars attach as aggregates.
    * Ranking is on the ROUNDED pmi with a (w1, w2) tiebreak, per the
    * catalog determinism rules. */
  val q132Pmi = q("q132_pmi_collocations",
    "Top-20 adjacent-bigram collocations by PMI, min-count floored (north star: corpus analysis)",
    """WITH base AS (
      |  SELECT doc_id, regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+') AS l
      |  FROM documents),
      |tok AS (
      |  SELECT doc_id, l[i] AS w, i
      |  FROM base, UNNEST(generate_series(1, len(l))) AS t(i)),
      |uni AS (SELECT w, count(*) AS c1 FROM tok GROUP BY w),
      |n1 AS (SELECT count(*) AS n1 FROM tok),
      |pairs AS (
      |  SELECT w AS w1, lead(w) OVER (PARTITION BY doc_id ORDER BY i) AS w2
      |  FROM tok),
      |big AS (SELECT w1, w2, count(*) AS c12 FROM pairs
      |        WHERE w2 IS NOT NULL GROUP BY w1, w2),
      |n2 AS (SELECT sum(c12) AS n2 FROM big),
      |sc AS (
      |  SELECT w1, w2, c12,
      |         round(ln((CAST(c12 AS DOUBLE) / CAST(n2.n2 AS DOUBLE))
      |           / ((CAST(u1.c1 AS DOUBLE) / CAST(n1.n1 AS DOUBLE))
      |              * (CAST(u2.c1 AS DOUBLE) / CAST(n1.n1 AS DOUBLE)))), 4) AS pmi
      |  FROM big JOIN uni u1 ON big.w1 = u1.w
      |           JOIN uni u2 ON big.w2 = u2.w, n1, n2)
      |SELECT w1, w2, c12, pmi FROM sc WHERE c12 >= 5
      |ORDER BY pmi DESC, w1, w2 LIMIT 20""".stripMargin) { (s, d) =>
    val toks = Tables.documents(s, d)
      .select(TextFunctions.tokens(coalesce(col("text"), lit(""))).as("t"))
    val len = greatest(size(col("t")) - 1, lit(0))
    val pairs = toks
      .select(explode(zip_with(
        slice(col("t"), lit(1), len), slice(col("t"), lit(2), len),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    val uni = toks.select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1"))
    val n1 = uni.agg(sum("c1").as("n1"))
    val big = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val n2 = big.agg(sum("c12").as("n2"))
    big
      .join(uni.select(col("w").as("w1"), col("c1").cast("double").as("c1a")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c1").cast("double").as("c1b")), Seq("w2"))
      .crossJoin(broadcast(n1.select(col("n1").cast("double").as("n1Tot"))))
      .crossJoin(broadcast(n2.select(col("n2").cast("double").as("n2Tot"))))
      .filter(col("c12") >= 5)
      .select(col("w1"), col("w2"), col("c12"),
        round(log((col("c12").cast("double") / col("n2Tot")) /
          ((col("c1a") / col("n1Tot")) * (col("c1b") / col("n1Tot")))), 4)
          .as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(20)
  }

  // ------------------------------------------------------------ funnel
  /** Strictly-ordered three-step funnel with a 7-day step window:
    * first view, first click after it, first purchase after that.
    * Min-timestamp aggregations + equi joins on the user key — no
    * window over the event stream, so the shape is two partial-agg
    * shuffles however many events a user has. */
  val q133Funnel = q("q133_funnel",
    "Three-step ordered funnel (view -> click -> purchase, 7-day windows) with conversion rates (analytics)",
    """WITH v AS (SELECT user_id, min(ts) AS t0 FROM events
      |           WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, min(e.ts) AS t1
      |      FROM events e JOIN v ON e.user_id = v.user_id
      |      WHERE e.event_type = 'click' AND e.ts > v.t0
      |        AND e.ts <= v.t0 + INTERVAL 7 DAY
      |      GROUP BY e.user_id),
      |p AS (SELECT e.user_id, min(e.ts) AS t2
      |      FROM events e JOIN c ON e.user_id = c.user_id
      |      WHERE e.event_type = 'purchase' AND e.ts > c.t1
      |        AND e.ts <= c.t1 + INTERVAL 7 DAY
      |      GROUP BY e.user_id)
      |SELECT (SELECT count(*) FROM v) AS n_view,
      |       (SELECT count(*) FROM c) AS n_click,
      |       (SELECT count(*) FROM p) AS n_purchase,
      |       round(CAST((SELECT count(*) FROM c) AS DOUBLE)
      |             / CAST((SELECT count(*) FROM v) AS DOUBLE), 4) AS r_click,
      |       round(CAST((SELECT count(*) FROM p) AS DOUBLE)
      |             / CAST((SELECT count(*) FROM c) AS DOUBLE), 4) AS r_purchase""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    def firstAfter(step: String, prev: DataFrame, prevT: String,
                   outT: String): DataFrame =
      ev.filter(col("event_type") === step).join(prev, Seq("user_id"))
        .filter(col("ts") > col(prevT) &&
          col("ts") <= col(prevT) + expr("INTERVAL 7 DAYS"))
        .groupBy("user_id").agg(min("ts").as(outT))
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t0"))
    val c = firstAfter("click", v, "t0", "t1")
    val p = firstAfter("purchase", c, "t1", "t2")
    v.agg(count(lit(1)).as("n_view"))
      .crossJoin(broadcast(c.agg(count(lit(1)).as("n_click"))))
      .crossJoin(broadcast(p.agg(count(lit(1)).as("n_purchase"))))
      .select(col("n_view"), col("n_click"), col("n_purchase"),
        round(col("n_click").cast("double") / col("n_view").cast("double"), 4)
          .as("r_click"),
        round(col("n_purchase").cast("double") / col("n_click").cast("double"), 4)
          .as("r_purchase"))
  }

  // ------------------------------------------------------ cohort retention
  /** Weekly first-touch cohort retention matrix: cohort = ISO week of
    * the user's first event, offset = whole weeks later the user was
    * active. Two aggregations and one equi join on the user key. */
  val q134Cohort = q("q134_cohort_retention",
    "Weekly first-touch cohort retention matrix over the event stream (analytics)",
    """WITH f AS (SELECT user_id, date_trunc('week', min(ts)) AS cw
      |           FROM events GROUP BY user_id),
      |a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events),
      |r AS (SELECT f.user_id, CAST(f.cw AS DATE) AS cohort_week,
      |             CAST(CAST(a.w AS DATE) - CAST(f.cw AS DATE) AS BIGINT) // 7
      |               AS offset_weeks
      |      FROM a JOIN f ON a.user_id = f.user_id)
      |SELECT cohort_week, offset_weeks, count(*) AS n_users
      |FROM r GROUP BY cohort_week, offset_weeks""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val f = ev.groupBy("user_id").agg(date_trunc("week", min("ts")).as("cw"))
    val a = ev.select(col("user_id"), date_trunc("week", col("ts")).as("w"))
      .distinct()
    a.join(f, Seq("user_id"))
      .select(to_date(col("cw")).as("cohort_week"),
        expr("CAST(datediff(CAST(w AS DATE), CAST(cw AS DATE)) AS BIGINT) DIV 7")
          .as("offset_weeks"))
      .groupBy("cohort_week", "offset_weeks")
      .agg(count(lit(1)).as("n_users"))
  }

  // ------------------------------------------------- unicode normalization
  /** NFC + control strip, pinned against DuckDB's nfc_normalize on
    * planted decomposed/composed/jamo/control suffixes (md5-bucketed,
    * q127-style) — two independent UAX #15 implementations must
    * produce byte-identical text over the whole corpus. */
  val q135UnicodeNorm = q("q135_unicode_normalize",
    "NFC normalization + control strip vs DuckDB nfc_normalize on planted payloads (north star: web curation)",
    s"""WITH v AS (
      |  SELECT doc_id, coalesce(text, '') || ' ' ||
      |         (list_value(${graft.functions.Unicode.DemoVariants.map(x => s"'$x'").mkString(", ")}))[
      |           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
      |                % ${graft.functions.Unicode.DemoVariants.size} AS INT) + 1] AS t2
      |  FROM documents),
      |n AS (
      |  SELECT doc_id, t2,
      |         nfc_normalize(regexp_replace(t2,
      |           '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g')) AS norm
      |  FROM v)
      |SELECT doc_id, norm AS norm_text,
      |       length(t2) AS n_orig, length(norm) AS n_norm,
      |       norm <> t2 AS changed
      |FROM n""".stripMargin) { (s, d) =>
    import graft.functions.Unicode
    val variants = array(Unicode.DemoVariants.map(lit): _*)
    val t2 = concat(coalesce(col("text"), lit("")), lit(" "),
      element_at(variants,
        (Splits.splitBucket(col("doc_id"), Unicode.DemoVariants.size) + 1)
          .cast("int")))
    Tables.documents(s, d)
      .select(col("doc_id"), t2.as("t2"))
      .select(col("doc_id"), col("t2"),
        Unicode.normalize(col("t2")).as("norm"))
      .select(col("doc_id"), col("norm").as("norm_text"),
        length(col("t2")).cast("long").as("n_orig"),
        length(col("norm")).cast("long").as("n_norm"),
        (col("norm") =!= col("t2")).as("changed"))
  }

  // ------------------------------------------------- audio fingerprinting
  /** Content-based audio near-dup: planted 4-segment tone sequences
    * (sequence chosen by doc_id % 8, AMPLITUDE varied per doc) must
    * group by their windowed dominant-bin fingerprint regardless of
    * gain — the oracle recomputes each group in closed form from the
    * plant parameters. Every probe has an integer number of cycles
    * per 80-sample window, so the per-window argmax is exact. */
  val q136AudioFp = q("q136_audio_fingerprint",
    "Gain-invariant windowed-Goertzel audio fingerprint groups over planted tone sequences (north star: multimodal dedup)",
    """WITH audio AS (
      |  SELECT doc_id, doc_id % 8 AS k FROM documents WHERE doc_id % 7 <> 0),
      |g AS (
      |  SELECT CAST(k AS VARCHAR) || '-' || CAST((k + 1) % 8 AS VARCHAR)
      |           || '-' || CAST((k + 2) % 8 AS VARCHAR)
      |           || '-' || CAST((k + 3) % 8 AS VARCHAR) AS fp,
      |         count(*) AS n_assets, min(doc_id) AS min_asset,
      |         max(doc_id) AS max_asset
      |  FROM audio GROUP BY k)
      |SELECT fp, n_assets, min_asset, max_asset,
      |       CAST(n_assets * (n_assets - 1) // 2 AS BIGINT) AS n_pairs
      |FROM g""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val did = col("doc_id")
    val k = pmod(did, lit(8))
    val amp = (lit(6000L) + lit(400L) * pmod(did, lit(5))).cast("double")
    // 4 segments × 80 samples, tone j = 400+200·((k+j) mod 8) —
    // compiled mux (byte-identical to the column transform it
    // replaced, MultimodalSpec-pinned)
    val freqs = array((0 until 4).map(j =>
      (lit(400L) + lit(200L) * pmod(k + lit(j.toLong), lit(8)))
        .cast("double")): _*)
    val wav = graft.functions.PlantedPng.planted_tone_wav(
      freqs, amp, perSeg = 80)
    val sevMod = pmod(did, lit(7))
    val assets = Par.widen(docs, "doc_id").select(
      did.as("asset_id"),
      when(sevMod === 0, lit("text")).otherwise(lit("audio")).as("modality"),
      when(sevMod === 0, col("text").cast("binary")).otherwise(wav).as("payload"))
    Multimodal.extractAudioFingerprint(s, assets,
      probeFreqs = (0 to 7).map(j => 400.0 + 200.0 * j),
      windowSamples = 80).toDF()
      .filter(col("is_wav"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n_assets"),
        min(col("asset_id")).as("min_asset"),
        max(col("asset_id")).as("max_asset"))
      .withColumn("n_pairs",
        expr("CAST(n_assets * (n_assets - 1) DIV 2 AS BIGINT)"))
  }

  // --------------------------------------------- cluster canonicalization
  /** q42's cluster pipeline plus the keep policy: the highest-token
    * member represents each near-dup cluster (ties to the smaller
    * id), computed as a MAX aggregate over (score, −id) — never a
    * per-cluster window (a viral duplicate cluster is millions of
    * rows at corpus scale).
    *
    * Determinism note (same exposure as q42): the engine side's LSH
    * candidates (32 bands × r = 2) are compared against an exhaustive
    * O(n²) oracle join, so a probabilistically missed pair AT the 0.5
    * threshold would change the clustering. Per-pair recall at J=0.5
    * is 1−(1−0.5²)³² ≈ 0.9999, and the generator's planted near-dups
    * sit well above the threshold while unrelated docs sit far below
    * — the band-boundary region the bound worries about is unpopulated
    * by construction. If the data generator ever changes, raise
    * bands/numHashes on the verify path rather than loosening the
    * oracle. */
  val q137ClusterReps = q("q137_cluster_representatives",
    "Near-dup cluster canonicalization: keep the highest-token member per cluster (north star: dedup)",
    """WITH RECURSIVE
      |t AS (SELECT source, doc_id,
      |             list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')) AS sh,
      |             len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS ntok
      |      FROM documents),
      |edges AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
      |  WHERE CASE WHEN len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) = 0 THEN 1.0
      |             ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |                  / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) END >= 0.5),
      |verts AS (SELECT DISTINCT id FROM (SELECT id_a AS id FROM edges UNION SELECT id_b FROM edges)),
      |undirected AS (SELECT id_a AS s, id_b AS d FROM edges UNION SELECT id_b, id_a FROM edges),
      |reach(id, r) AS (
      |  SELECT id, id FROM verts
      |  UNION
      |  SELECT reach.id, u.d FROM reach JOIN undirected u ON reach.r = u.s),
      |cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
      |sel AS (
      |  SELECT cl.cluster_id, cl.doc_id, t.ntok,
      |         row_number() OVER (PARTITION BY cl.cluster_id
      |           ORDER BY t.ntok DESC, cl.doc_id) AS rk,
      |         count(*) OVER (PARTITION BY cl.cluster_id) AS n_members
      |  FROM cl JOIN t ON cl.doc_id = t.doc_id)
      |SELECT cluster_id, doc_id AS keep_id, CAST(ntok AS BIGINT) AS keep_score,
      |       CAST(n_members AS BIGINT) AS n_members,
      |       CAST(n_members - 1 AS BIGINT) AS n_dropped
      |FROM sel WHERE rk = 1""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val cands = Dedup.lshPairs(docs, "doc_id", "text", sourceMinHash)
    val pairs = Dedup.ngramJaccardVerify(docs, cands, "doc_id", "text",
      k = 1, threshold = 0.5)
    val scored = docs.select(col("doc_id"),
      TextFunctions.tokenCount(col("text")).cast("long").as("ntok"))
    Dedup.selectRepresentatives(Dedup.connectedComponents(pairs),
      scored, "doc_id", "ntok")
  }

  // -------------------------------------------------- KMV sketch algebra
  /** Audience-overlap / join-cardinality estimation from sketches
    * alone: per-event-type bottom-64 user sketches compose into
    * union/Jaccard/intersection estimates for every type pair without
    * rescanning the stream — next to the exact overlap ground truth.
    * The 5-row sketch self-join broadcasts; the exact side is one
    * distinct + one user-keyed equi join.
    *
    * Scale caveat: the EXACT companion is the part you drop at
    * 100 TB — its (user, type) self-join on user_id is quadratic in
    * types-per-user (bounded here: 5 event types ⇒ ≤ 10 pairs per
    * user) and its count_distinct holds the full key set. It exists
    * as the ground-truth side of the demo; the sketch path — k longs
    * per group, composable without rescanning — is the product. */
  val q138KmvOverlap = q("q138_kmv_overlap",
    "Pairwise distinct-user overlap: exact vs KMV sketch-algebra estimates; the exact companion is the side you drop at corpus scale (north star: corpus profiling)",
    """WITH h AS (
      |  SELECT DISTINCT event_type,
      |         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))::BIGINT AS h52
      |  FROM events WHERE user_id IS NOT NULL),
      |sk AS (SELECT event_type, (list_sort(list(h52)))[1:64] AS sk
      |       FROM h GROUP BY event_type),
      |tu AS (SELECT DISTINCT event_type, user_id FROM events),
      |nd AS (SELECT event_type, count(*) AS nd FROM tu GROUP BY event_type),
      |inter AS (
      |  SELECT x.event_type AS ta, y.event_type AS tb, count(*) AS n_exact_inter
      |  FROM tu x JOIN tu y ON x.user_id = y.user_id
      |                     AND x.event_type < y.event_type
      |  GROUP BY 1, 2),
      |c AS (
      |  SELECT a.event_type AS ta, b.event_type AS tb, a.sk AS ska, b.sk AS skb,
      |         (list_sort(list_distinct(a.sk || b.sk)))[1:64] AS u
      |  FROM sk a JOIN sk b ON a.event_type < b.event_type)
      |SELECT c.ta, c.tb, coalesce(i.n_exact_inter, 0) AS n_exact_inter,
      |       round(CAST(coalesce(i.n_exact_inter, 0) AS DOUBLE)
      |             / CAST(na.nd + nb.nd - coalesce(i.n_exact_inter, 0) AS DOUBLE), 4)
      |         AS jac_exact,
      |       round(CASE WHEN len(u) = 0 THEN 0.0
      |             ELSE CAST(len(list_intersect(list_intersect(u, ska), skb)) AS DOUBLE)
      |                  / CAST(len(u) AS DOUBLE) END, 4) AS kmv_jaccard,
      |       round((CASE WHEN len(u) = 0 THEN 0.0
      |              ELSE CAST(len(list_intersect(list_intersect(u, ska), skb)) AS DOUBLE)
      |                   / CAST(len(u) AS DOUBLE) END)
      |             * (CASE WHEN len(u) < 64 THEN CAST(len(u) AS DOUBLE)
      |                ELSE 63.0 / (CAST(u[64] AS DOUBLE) / 4503599627370496.0) END),
      |             4) AS kmv_inter
      |FROM c LEFT JOIN inter i ON c.ta = i.ta AND c.tb = i.tb
      |JOIN nd na ON na.event_type = c.ta
      |JOIN nd nb ON nb.event_type = c.tb""".stripMargin) { (s, d) =>
    val k = 64
    val ev = Tables.events(s, d)
    val sk = Cardinality.kmvSketch(ev, col("event_type"), col("user_id"), k)
    val pairsSk = sk.select(col("group").as("ta"), col("sketch").as("ska"))
      .join(broadcast(sk.select(col("group").as("tb"), col("sketch").as("skb"))),
        col("ta") < col("tb"))
    val tu = ev.select("event_type", "user_id").distinct()
    val perType = tu.groupBy(col("event_type")).agg(count(lit(1)).as("nd"))
    val inter = tu.as("x")
      .join(tu.as("y"), col("x.user_id") === col("y.user_id") &&
        col("x.event_type") < col("y.event_type"))
      .groupBy(col("x.event_type").as("ta"), col("y.event_type").as("tb"))
      .agg(count(lit(1)).as("n_exact_inter"))
    val nInter = coalesce(col("n_exact_inter"), lit(0L))
    pairsSk
      .join(inter, Seq("ta", "tb"), "left")
      .join(broadcast(perType.select(col("event_type").as("ta"),
        col("nd").as("na"))), Seq("ta"))
      .join(broadcast(perType.select(col("event_type").as("tb"),
        col("nd").as("nb"))), Seq("tb"))
      .select(col("ta"), col("tb"), nInter.as("n_exact_inter"),
        round(nInter.cast("double") /
          (col("na") + col("nb") - nInter).cast("double"), 4).as("jac_exact"),
        round(Cardinality.kmvJaccard(col("ska"), col("skb"), k), 4)
          .as("kmv_jaccard"),
        round(Cardinality.kmvIntersection(col("ska"), col("skb"), k), 4)
          .as("kmv_inter"))
  }

  // -------------------------------------------------- DSIR importance weights
  /** Importance-resampling scores for target-domain selection (DSIR,
    * Xie et al. 2023): hashed-bigram bucket distributions of the
    * target subset (lang = 'en') vs the whole corpus, per-doc
    * Σ ln(p/q) with add-one smoothing — md5 buckets, so the oracle
    * replays every weight. Two bounded bucket aggregates broadcast
    * onto the feature stream; text never shuffles. */
  val q139Dsir = q("q139_dsir_weights",
    "DSIR-style importance log-weights vs a target domain over hashed bigrams (north star: data selection)",
    """WITH base AS (
      |  SELECT doc_id, lang = 'en' AS tgt,
      |         regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+') AS l
      |  FROM documents),
      |tok AS (SELECT doc_id, tgt, l[i] AS w, i
      |        FROM base, UNNEST(generate_series(1, len(l))) AS t(i)),
      |big AS (
      |  SELECT doc_id, tgt,
      |         w || ' ' || lead(w) OVER (PARTITION BY doc_id ORDER BY i) AS f
      |  FROM tok),
      |feats AS (
      |  SELECT doc_id, tgt,
      |         ('0x' || substr(md5(f), 1, 8))::BIGINT % 1024 AS b
      |  FROM big WHERE f IS NOT NULL),
      |counts AS (
      |  SELECT b, count(*) AS cr,
      |         sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct
      |  FROM feats GROUP BY b),
      |tot AS (SELECT sum(cr) AS nr, sum(ct) AS nt FROM counts),
      |scores AS (
      |  SELECT f.doc_id, count(*) AS n_feats,
      |         round(sum(ln(CAST((c.ct + 1) * (t.nr + 1024) AS DOUBLE)
      |                      / CAST((c.cr + 1) * (t.nt + 1024) AS DOUBLE))), 4) AS logw
      |  FROM feats f JOIN counts c ON f.b = c.b, tot t
      |  GROUP BY f.doc_id)
      |SELECT d.doc_id, coalesce(s.n_feats, 0) AS n_feats,
      |       coalesce(s.logw, 0.0) AS logw
      |FROM documents d LEFT JOIN scores s ON d.doc_id = s.doc_id""".stripMargin) { (s, d) =>
    Splits.dsirLogWeights(Tables.documents(s, d), "doc_id", "text",
      targetFilter = col("lang") === "en", buckets = 1024)
  }

  // --------------------------------------------------- hard-negative mining
  /** Contrastive-training prep: per query embedding, the top-5 most
    * similar vectors with a DIFFERENT label. The label predicate
    * rides the join, before ranking — post-filtering a generic top-k
    * under-fills exactly where negatives crowd the neighborhood. */
  val q140HardNegatives = q("q140_hard_negatives",
    "Hard-negative mining: most-similar different-label neighbors per query (north star: training data)",
    """WITH q AS (SELECT vec_id AS query_id, embedding AS qvec, label AS ql
      |           FROM embeddings WHERE vec_id % 25 = 0),
      |scored AS (
      |  SELECT q.query_id, e.vec_id AS neighbor_id,
      |         round(list_cosine_similarity(list_transform(q.qvec, x -> CAST(x AS DOUBLE)),
      |                                      list_transform(e.embedding, x -> CAST(x AS DOUBLE))), 4) AS cos
      |  FROM embeddings e CROSS JOIN q
      |  WHERE e.vec_id <> q.query_id AND e.label <> q.ql),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
      |  FROM scored)
      |SELECT query_id, neighbor_id, cos FROM ranked WHERE rk <= 5""".stripMargin) { (s, d) =>
    val e = Tables.embeddings(s, d)
    Similarity.hardNegatives(e, e.filter(col("vec_id") % 25 === 0),
      "vec_id", "embedding", "label", k = 5, roundTo = 4)
  }

  // --------------------------------------------- incremental DSIR scoring
  /** The daily-batch shape for data selection: bucket counts from the
    * corpus persist as a ≤1024-row index; a new batch scores against
    * it without the corpus ever being re-read. Unseen buckets smooth
    * as zero counts (add-one), not silent drops — the oracle's LEFT
    * JOIN replays exactly that. */
  val q141IncrementalDsir = q("q141_incremental_dsir",
    "Batch DSIR scoring against a persisted bucket-count index (north star: incremental data selection)",
    """WITH base AS (
      |  SELECT doc_id, lang = 'en' AS tgt,
      |         regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+') AS l
      |  FROM documents),
      |tok AS (SELECT doc_id, tgt, l[i] AS w, i
      |        FROM base, UNNEST(generate_series(1, len(l))) AS t(i)),
      |big AS (
      |  SELECT doc_id, tgt,
      |         w || ' ' || lead(w) OVER (PARTITION BY doc_id ORDER BY i) AS f
      |  FROM tok),
      |feats AS (
      |  SELECT doc_id, tgt,
      |         ('0x' || substr(md5(f), 1, 8))::BIGINT % 1024 AS b
      |  FROM big WHERE f IS NOT NULL),
      |counts AS (
      |  SELECT b, count(*) AS cr,
      |         sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct
      |  FROM feats WHERE doc_id % 3 <> 0 GROUP BY b),
      |tot AS (SELECT coalesce(sum(cr), 0) AS nr, coalesce(sum(ct), 0) AS nt
      |        FROM counts),
      |scores AS (
      |  SELECT f.doc_id, count(*) AS n_feats,
      |         round(sum(ln(CAST((coalesce(c.ct, 0) + 1) * (t.nr + 1024) AS DOUBLE)
      |                      / CAST((coalesce(c.cr, 0) + 1) * (t.nt + 1024) AS DOUBLE))), 4)
      |           AS logw
      |  FROM feats f LEFT JOIN counts c ON f.b = c.b, tot t
      |  WHERE f.doc_id % 3 = 0
      |  GROUP BY f.doc_id)
      |SELECT d.doc_id, coalesce(s.n_feats, 0) AS n_feats,
      |       coalesce(s.logw, 0.0) AS logw
      |FROM documents d LEFT JOIN scores s ON d.doc_id = s.doc_id
      |WHERE d.doc_id % 3 = 0""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val corpus = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
    val batch = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
    val index = Splits.dsirIndex(corpus, "doc_id", "text",
      targetFilter = col("lang") === "en", buckets = 1024)
    Splits.dsirScoreWithIndex(batch, "doc_id", "text", index, buckets = 1024)
  }

  // ------------------------------------------ incremental line dedup
  /** q128's daily-batch shape: the corpus persists a first-occurrence
    * index; the batch dedups against it without the corpus being
    * re-read. The oracle IS the equivalence contract — the FULL
    * keep-first run over everything, restricted to the batch's
    * documents (valid because the id threshold puts every corpus id
    * before every batch id — the append-only ingest-order contract
    * the operator documents). */
  val q142IncrementalLineDedup = q("q142_incremental_line_dedup",
    "Incremental keep-first line dedup against a persisted first-occurrence index (north star: incremental dedup)",
    """WITH t AS (SELECT max(doc_id) * 7 // 10 AS cut FROM documents),
      |seg AS (
      |  SELECT doc_id, l[i] AS seg, i AS pos
      |  FROM (SELECT doc_id, string_split(coalesce(text, ''), ' the ') AS l FROM documents),
      |       UNNEST(generate_series(1, len(l))) AS t(i)),
      |first_occ AS (
      |  SELECT seg, doc_id AS wid, pos AS wpos FROM (
      |    SELECT seg, doc_id, pos,
      |           row_number() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rn
      |    FROM seg WHERE len(seg) >= 1) WHERE rn = 1)
      |SELECT s.doc_id,
      |       coalesce(string_agg(CASE WHEN f.seg IS NULL
      |                    OR (s.doc_id = f.wid AND s.pos = f.wpos)
      |                  THEN s.seg END, ' the ' ORDER BY s.pos), '') AS clean_text,
      |       count(CASE WHEN f.seg IS NOT NULL
      |                    AND NOT (s.doc_id = f.wid AND s.pos = f.wpos)
      |                  THEN 1 END) AS n_removed
      |FROM seg s LEFT JOIN first_occ f ON s.seg = f.seg, t
      |WHERE s.doc_id > t.cut
      |GROUP BY s.doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d).select("doc_id", "text")
    // the id cut rides the plan as a broadcast scalar (q17's pattern):
    // the previous agg().head here ran a Spark job at query-
    // CONSTRUCTION time, so merely enumerating the catalog paid it
    val withCut = docs.crossJoin(
      broadcast(docs.agg(expr("max(doc_id) * 7 div 10").as("_cut"))))
    val corpus = withCut.filter(col("doc_id") <= col("_cut")).drop("_cut")
    val batch = withCut.filter(col("doc_id") > col("_cut")).drop("_cut")
    Dedup.incrementalDedupLines(batch, "doc_id", "text",
      Dedup.lineFirstOccIndex(corpus, "doc_id", "text", sep = " the "),
      sep = " the ")
  }

  // --------------------------------------- epoch-index compaction
  /** The operational closure of the persisted-index story (q142's
    * family, one step further): the corpus index is built as THREE
    * epoch partials, compacted into a versioned base behind the
    * atomic `_CURRENT` pointer flip, and only then probed. The probe
    * against the compacted store must equal the probe against the
    * raw epochs (EpochIndexSpec pins that equivalence directly, plus
    * the mid-compaction-append and GC contracts); the DuckDB oracle
    * pins the end result — the full keep-first run over everything,
    * restricted to the batch (valid under the same append-only
    * id-order contract as q142; epoch membership inside the corpus
    * is arbitrary because the fold is a min over ALL partials).
    * Store writes go to the app-scoped scratch root, rebuilt per
    * invocation — the build+compact cost IS this query's subject. */
  val q143EpochCompaction = q("q143_epoch_compaction",
    "Three-epoch first-occurrence index compacted behind the atomic _CURRENT flip, then probed (north star: bounded index growth)",
    """WITH t AS (SELECT max(doc_id) // 2 AS cut FROM documents),
      |seg AS (
      |  SELECT doc_id, l[i] AS seg, i AS pos
      |  FROM (SELECT doc_id, string_split(coalesce(text, ''), ' the ') AS l FROM documents),
      |       UNNEST(generate_series(1, len(l))) AS t(i)),
      |first_occ AS (
      |  SELECT seg, doc_id AS wid, pos AS wpos FROM (
      |    SELECT seg, doc_id, pos,
      |           row_number() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rn
      |    FROM seg WHERE len(seg) >= 1) WHERE rn = 1)
      |SELECT s.doc_id,
      |       coalesce(string_agg(CASE WHEN f.seg IS NULL
      |                    OR (s.doc_id = f.wid AND s.pos = f.wpos)
      |                  THEN s.seg END, ' the ' ORDER BY s.pos), '') AS clean_text,
      |       count(CASE WHEN f.seg IS NOT NULL
      |                    AND NOT (s.doc_id = f.wid AND s.pos = f.wpos)
      |                  THEN 1 END) AS n_removed
      |FROM seg s LEFT JOIN first_occ f ON s.seg = f.seg, t
      |WHERE s.doc_id > t.cut
      |GROUP BY s.doc_id""".stripMargin) { (s, d) =>
    val sep = " the "
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val withCut = docs.crossJoin(
      broadcast(docs.agg(expr("max(doc_id) div 2").as("_cut"))))
    val corpus = withCut.filter(col("doc_id") <= col("_cut")).drop("_cut")
    val batch = withCut.filter(col("doc_id") > col("_cut")).drop("_cut")
    val root = freshScratch(s, "q143_lineidx")
    def epoch(r: Int): DataFrame = Dedup.lineFirstOccIndex(
      corpus.filter(pmod(col("doc_id"), lit(3)) === r), "doc_id", "text", sep)
    Dedup.lineFirstOccIndexWrite(epoch(0), root, sep)
    Dedup.lineFirstOccIndexAppend(s, root, epoch(1), "day-2", sep)
    Dedup.lineFirstOccIndexAppend(s, root, epoch(2), "day-3", sep)
    val stats = Maintenance.compactStore(s, root)
    require(stats.folded.nonEmpty,
      s"q143: compaction folded nothing at $root — store build failed")
    Dedup.incrementalDedupLines(batch, "doc_id", "text",
      Dedup.lineFirstOccIndexRead(s, root, None, sep, 1), sep)
  }

  // --------------------------------------- KMV algebra on the SQL surface
  /** The q138 sketch algebra composed from `spark.sql` alone: per-type
    * sketches (built once, stored — here a temp view standing in for
    * the sketch table a pipeline persists) combine via the registered
    * graft_kmv_* functions. The oracle replays estimate, union-
    * estimate, Jaccard and intersection from the same md5 bottom-k
    * construction — bit-for-bit, the q131/q138 contract. */
  val q144KmvSql = q("q144_kmv_sql_surface",
    "KMV sketch algebra from spark.sql via registered graft_kmv_* functions (north star: SQL-first profiling)",
    """WITH h AS (
      |  SELECT DISTINCT event_type,
      |         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))::BIGINT AS h52
      |  FROM events WHERE user_id IS NOT NULL),
      |sk AS (SELECT event_type, (list_sort(list(h52)))[1:64] AS sk
      |       FROM h GROUP BY event_type),
      |c AS (
      |  SELECT a.event_type AS ta, b.event_type AS tb, a.sk AS ska, b.sk AS skb,
      |         (list_sort(list_distinct(a.sk || b.sk)))[1:64] AS u
      |  FROM sk a JOIN sk b ON a.event_type < b.event_type)
      |SELECT ta, tb,
      |       round(CASE WHEN len(ska) < 64 THEN CAST(len(ska) AS DOUBLE)
      |             ELSE 63.0 / (CAST(ska[64] AS DOUBLE) / 4503599627370496.0) END, 4) AS est_a,
      |       round(CASE WHEN len(skb) < 64 THEN CAST(len(skb) AS DOUBLE)
      |             ELSE 63.0 / (CAST(skb[64] AS DOUBLE) / 4503599627370496.0) END, 4) AS est_b,
      |       round(CASE WHEN len(u) < 64 THEN CAST(len(u) AS DOUBLE)
      |             ELSE 63.0 / (CAST(u[64] AS DOUBLE) / 4503599627370496.0) END, 4) AS est_union,
      |       round(CASE WHEN len(u) = 0 THEN 0.0
      |             ELSE CAST(len(list_intersect(list_intersect(u, ska), skb)) AS DOUBLE)
      |                  / CAST(len(u) AS DOUBLE) END, 4) AS kmv_jaccard,
      |       round((CASE WHEN len(u) = 0 THEN 0.0
      |              ELSE CAST(len(list_intersect(list_intersect(u, ska), skb)) AS DOUBLE)
      |                   / CAST(len(u) AS DOUBLE) END)
      |             * (CASE WHEN len(u) < 64 THEN CAST(len(u) AS DOUBLE)
      |                ELSE 63.0 / (CAST(u[64] AS DOUBLE) / 4503599627370496.0) END),
      |             4) AS kmv_inter
      |FROM c""".stripMargin) { (s, d) =>
    graft.functions.SqlFunctions.registerAll(s)
    Cardinality.kmvSketch(Tables.events(s, d),
      col("event_type"), col("user_id"), k = 64)
      .select(col("group").as("etype"), col("sketch"))
      .createOrReplaceTempView("q144_sketches")
    s.sql("""
      SELECT a.etype AS ta, b.etype AS tb,
             round(graft_kmv_estimate(a.sketch, 64), 4) AS est_a,
             round(graft_kmv_estimate(b.sketch, 64), 4) AS est_b,
             round(graft_kmv_estimate(graft_kmv_union(a.sketch, b.sketch, 64), 64), 4) AS est_union,
             round(graft_kmv_jaccard(a.sketch, b.sketch, 64), 4) AS kmv_jaccard,
             round(graft_kmv_intersection(a.sketch, b.sketch, 64), 4) AS kmv_inter
      FROM q144_sketches a JOIN q144_sketches b ON a.etype < b.etype
    """)
  }

  // --------------------------------------- PSL registered-domain caps

  /** Shared planted-host derivation for q145/q146 (site index
    * j = doc_id % modulus; family = md5 bucket of 8): every rule
    * class of [[Psl]] in one column. The SQL twin is
    * [[pslHostSql]]. */
  private def pslDemoHost(modulus: Int): Column = {
    val j = pmod(col("doc_id"), lit(modulus)).cast("string")
    val b = Splits.splitBucket(col("doc_id"), 8)
    when(b === 0, concat(lit("site"), j, lit(".github.io")))
      .when(b === 1, concat(lit("author"), j, lit(".blogspot.com")))
      .when(b === 2, concat(lit("sub.site"), j, lit(".co.uk")))
      .when(b === 3, concat(lit("vm"), j, lit(".eu-west-1.compute.amazonaws.com")))
      .when(b === 4, concat(lit("deep.a.b.site"), j, lit(".com")))
      .when(b === 5, when(pmod(col("doc_id"), lit(2)) === 0, lit("www.ck"))
        .otherwise(concat(lit("shop"), j, lit(".biz.ck"))))
      .when(b === 6, concat(lit("host"), j, lit(".example.zz")))
      .otherwise(concat(lit("school"), j, lit(".k12.ca.us")))
  }

  /** DuckDB CTEs `hosts`/`h`: the planted-host twin of
    * [[pslDemoHost]]. */
  private def pslHostSql(modulus: Int): String =
    s"""hosts AS (
      |  SELECT doc_id,
      |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 8 AS INT) AS b,
      |         CAST(doc_id % $modulus AS VARCHAR) AS j
      |  FROM documents),
      |h AS (
      |  SELECT doc_id, CASE b
      |      WHEN 0 THEN 'site' || j || '.github.io'
      |      WHEN 1 THEN 'author' || j || '.blogspot.com'
      |      WHEN 2 THEN 'sub.site' || j || '.co.uk'
      |      WHEN 3 THEN 'vm' || j || '.eu-west-1.compute.amazonaws.com'
      |      WHEN 4 THEN 'deep.a.b.site' || j || '.com'
      |      WHEN 5 THEN CASE WHEN doc_id % 2 = 0 THEN 'www.ck'
      |                       ELSE 'shop' || j || '.biz.ck' END
      |      WHEN 6 THEN 'host' || j || '.example.zz'
      |      ELSE 'school' || j || '.k12.ca.us' END AS host
      |  FROM hosts)""".stripMargin

  /** DuckDB CTEs `rules`…`d`: the REAL PSL algorithm (candidate
    * suffixes of every length, exception-prevails, longest-match,
    * implicit `*` default) over the rule subset that can match the
    * planted hosts — equivalent to the full snapshot on them because
    * no other snapshot rule matches any candidate suffix of these
    * host families. Yields `d(doc_id, domain)` from `h`. */
  private val pslDomainSql: String =
    """rules(rule, typ) AS (VALUES
      |  ('github.io', 'x'), ('blogspot.com', 'x'), ('co.uk', 'x'),
      |  ('ca.us', 'x'), ('k12.ca.us', 'x'),
      |  ('ck', 'w'), ('compute.amazonaws.com', 'w'),
      |  ('www.ck', 'e')),
      |labs AS (SELECT doc_id, host, string_split(host, '.') AS ls FROM h),
      |cand AS (
      |  SELECT doc_id, host, len(ls) AS nl, i,
      |         array_to_string(ls[len(ls)-i+1:len(ls)], '.') AS cand,
      |         CASE WHEN i >= 2
      |              THEN array_to_string(ls[len(ls)-i+2:len(ls)], '.') END AS parent
      |  FROM labs, UNNEST(generate_series(1, len(ls))) AS t(i)),
      |m AS (
      |  SELECT c.doc_id, c.host, c.nl,
      |         max(CASE WHEN r.typ = 'e' THEN c.i - 1 END) AS exc_ps,
      |         max(CASE WHEN r.typ IN ('x', 'w') THEN c.i END) AS rule_ps
      |  FROM cand c LEFT JOIN rules r
      |    ON (r.typ IN ('x', 'e') AND r.rule = c.cand)
      |    OR (r.typ = 'w' AND r.rule = c.parent)
      |  GROUP BY c.doc_id, c.host, c.nl),
      |d AS (
      |  SELECT doc_id,
      |         CASE WHEN nl <= ps THEN host
      |              ELSE array_to_string(string_split(host, '.')[nl-ps:nl], '.') END AS domain
      |  FROM (SELECT doc_id, host, nl,
      |               coalesce(exc_ps, greatest(coalesce(rule_ps, 1), 1)) AS ps
      |        FROM m))""".stripMargin
  /** Full public-suffix-list semantics under the per-site cap: planted
    * hosts exercise every rule class of [[Psl]] — private platform
    * suffixes (`*.github.io` / `*.blogspot.com` sites must each be
    * their OWN cap bucket, the collapse q127's 13-suffix subset would
    * cause), multi-label ccTLD registrations with extra subdomains,
    * a 4-label wildcard suffix (`*.compute.amazonaws.com`), the
    * `!www.ck` exception inside the `*.ck` wildcard, longest-match
    * (`k12.ca.us` over `ca.us`), the implicit `*` default on an
    * unknown TLD, and a deep subdomain under a plain `.com`.
    *
    * The oracle replays the REAL PSL algorithm (candidate suffixes of
    * every length, exception-prevails, longest-match, default 1) over
    * the rule subset that can match these hosts — equivalent to the
    * full snapshot here because no other snapshot rule matches any
    * candidate suffix of the planted host families (all families end
    * in io/com/uk/ck/zz/us with fixed label tails). Caps replay via
    * the same md5-rank window as q127. */
  val q145PslDomainCaps = q("q145_psl_domain_caps",
    "PSL registered domain (snapshot rules: wildcard/exception/longest-match) + per-site caps (north star: web curation)",
    s"""WITH ${pslHostSql(40)},
      |$pslDomainSql,
      |r2 AS (
      |  SELECT domain, doc_id,
      |         row_number() OVER (PARTITION BY domain
      |           ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT,
      |                    doc_id) AS rk
      |  FROM d)
      |SELECT domain, doc_id, CAST(rk AS BIGINT) AS rk FROM r2 WHERE rk <= 3""".stripMargin) { (s, d) =>
    val dom = Psl.registeredDomain(pslDemoHost(40))
    Curation.capPerKey(
      Tables.documents(s, d).select(col("doc_id"), dom.as("domain")),
      col("domain"), col("doc_id"), maxPerKey = 3)
      .select(col("key").as("domain"), col("id").as("doc_id"), col("rk"))
  }

  // ------------------------ incremental domain caps vs count index
  /** The caps family's daily-batch shape (every dedup family has one;
    * now curation does too): history persists per-domain TOTAL counts
    * (raw totals, so the epoch fold is an associative SUM), a new
    * batch caps against them without history being re-read. The
    * arrival-order cap is the variant that composes across batches —
    * a batch row's global quota position is (prior total) + (rank in
    * batch) under the append-only id contract — where q145's hash
    * cap would let a later arrival displace a published survivor.
    * The store is exercised for real: two epoch partials, compacted
    * behind the atomic `_CURRENT` flip, then probed through the
    * checked manifest read. Oracle = the FULL arrival cap over
    * everything, restricted to batch ids — the same restricted-
    * equivalence contract as q142/q143. */
  val q146IncrementalCaps = q("q146_incremental_domain_caps",
    "Batch domain caps against a persisted per-domain count index, compacted then probed (north star: incremental curation)",
    s"""WITH t AS (SELECT max(doc_id) * 7 // 10 AS cut FROM documents),
      |${pslHostSql(10)},
      |$pslDomainSql,
      |r2 AS (
      |  SELECT domain, doc_id,
      |         row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS rk
      |  FROM d)
      |SELECT domain, doc_id, CAST(rk AS BIGINT) AS rk
      |FROM r2, t WHERE doc_id > t.cut AND rk <= 5""".stripMargin) { (s, d) =>
    val keyName = "psl_registered_domain_mod10"
    val dom = Psl.registeredDomain(pslDemoHost(10))
    val docs = Tables.documents(s, d).select(col("doc_id"), dom.as("domain"))
    val withCut = docs.crossJoin(
      broadcast(docs.agg(expr("max(doc_id) * 7 div 10").as("_cut"))))
    val history = withCut.filter(col("doc_id") <= col("_cut")).drop("_cut")
    val batch = withCut.filter(col("doc_id") > col("_cut")).drop("_cut")
    val root = freshScratch(s, "q146_capidx")
    def partial(r: Int): DataFrame = Curation.capCountIndex(
      history.filter(pmod(col("doc_id"), lit(2)) === r),
      col("domain"), col("doc_id"))
    Curation.capCountIndexWrite(partial(0), root, keyName)
    Curation.capCountIndexAppend(s, root, partial(1), "day-2", keyName)
    val stats = Maintenance.compactStore(s, root)
    require(stats.folded.nonEmpty,
      s"q146: compaction folded nothing at $root — store build failed")
    Curation.incrementalCapPerKey(batch, col("domain"), col("doc_id"),
      maxPerKey = 5, Curation.capCountIndexRead(s, root, keyName))
      .select(col("key").as("domain"), col("id").as("doc_id"), col("rk"))
  }

  // ------------------------------- mergeable quantile sketch (profiling)
  /** The sketch algebra extended from cardinality to QUANTILES: per
    * event type, a hash-reservoir sample sketch (the k rows with
    * smallest md5 id hash, each carrying its value) yields p50/p90 as
    * actual data values plus a KMV row-count estimate — and the 'ALL'
    * row is computed from the per-type SKETCHES alone (bottom-k of
    * their concatenation; group samples are disjoint rows), never a
    * rescan: the cross-shard/cross-epoch composition story. The
    * oracle rebuilds the identical sample in DuckDB (row_number by
    * (h52, id) ≤ k) and replays the same lower-index quantile rule,
    * so quantiles match bit-for-bit — the q125/q131 auditability
    * contract, now for distributions. The exact-percentile companion
    * this replaces at scale is q88's subject (per-group sorts); the
    * collect_list here gathers ≤ n_types arrays of ≤ k structs —
    * bounded by construction. */
  val q147QuantileSketch = q("q147_quantile_sketch",
    "Mergeable hash-reservoir quantile sketch per event type + sketch-only ALL row (north star: corpus profiling)",
    """WITH h AS (
      |  SELECT event_type, event_id, value,
      |         ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 13))::BIGINT AS h52
      |  FROM events
      |  WHERE event_id IS NOT NULL AND value IS NOT NULL AND NOT isnan(value)),
      |rk AS (SELECT *, row_number() OVER (PARTITION BY event_type
      |                                    ORDER BY h52, event_id) AS rn FROM h),
      |ra AS (SELECT *, row_number() OVER (ORDER BY h52, event_id) AS rn FROM h),
      |per AS (
      |  SELECT event_type AS etype, count(*) AS n_sample,
      |         (list_sort(list(value)))[CAST(floor((count(*)-1)*0.5) AS INT)+1] AS p50,
      |         (list_sort(list(value)))[CAST(floor((count(*)-1)*0.9) AS INT)+1] AS p90,
      |         round(CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
      |               ELSE 63.0 / (CAST(max(h52) AS DOUBLE) / 4503599627370496.0) END,
      |               4) AS n_est
      |  FROM rk WHERE rn <= 64 GROUP BY event_type),
      |allq AS (
      |  SELECT 'ALL' AS etype, count(*) AS n_sample,
      |         (list_sort(list(value)))[CAST(floor((count(*)-1)*0.5) AS INT)+1] AS p50,
      |         (list_sort(list(value)))[CAST(floor((count(*)-1)*0.9) AS INT)+1] AS p90,
      |         round(CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
      |               ELSE 63.0 / (CAST(max(h52) AS DOUBLE) / 4503599627370496.0) END,
      |               4) AS n_est
      |  FROM ra WHERE rn <= 64)
      |SELECT etype, CAST(n_sample AS BIGINT) AS n_sample, p50, p90, n_est
      |FROM per UNION ALL SELECT * FROM allq""".stripMargin) { (s, d) =>
    val k = 64
    val sk = SampleSketch.sampleSketch(Tables.events(s, d),
      col("event_type"), col("event_id"), col("value"), k)
    def report(df: DataFrame, label: Column): DataFrame =
      df.select(label.as("etype"),
        size(col("sketch")).cast("long").as("n_sample"),
        SampleSketch.sketchQuantile(col("sketch"), 0.5).as("p50"),
        SampleSketch.sketchQuantile(col("sketch"), 0.9).as("p90"),
        round(SampleSketch.sketchRowEstimate(col("sketch"), k), 4).as("n_est"))
    val per = report(sk, col("group"))
    val overall = report(
      sk.agg(flatten(collect_list(col("sketch"))).as("m"))
        .select(slice(array_sort(col("m")), 1, k).as("sketch")),
      lit("ALL"))
    per.unionByName(overall)
  }

  // --------------------------- sample-sketch algebra on the SQL surface
  /** q147's sketch algebra composed from `spark.sql` alone (the q144
    * pattern, for distributions): per-type sample sketches persist as
    * a table (a temp view here), and pairwise MERGED p50 + row
    * estimates come from the registered graft_sample_* functions —
    * no rescan of events. The oracle rebuilds each pair's merged
    * sample directly from events (bottom-k of the pair's union by
    * (h52, id) — bottom-k closure makes that identical to merging
    * the per-type sketches) and replays the same lower-index
    * quantile rule; the merged p50 is an actual data value, so it
    * matches bit-for-bit. */
  val q148SampleSketchSql = q("q148_sample_sketch_sql",
    "Sample-sketch algebra from spark.sql via graft_sample_* functions: pairwise merged quantiles (north star: SQL-first profiling)",
    """WITH h AS (
      |  SELECT event_type, event_id, value,
      |         ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 13))::BIGINT AS h52
      |  FROM events
      |  WHERE event_id IS NOT NULL AND value IS NOT NULL AND NOT isnan(value)),
      |rk AS (SELECT *, row_number() OVER (PARTITION BY event_type
      |                                    ORDER BY h52, event_id) AS rn FROM h),
      |samp AS (SELECT * FROM rk WHERE rn <= 32),
      |pairs AS (
      |  SELECT a.event_type AS ta, b.event_type AS tb
      |  FROM (SELECT DISTINCT event_type FROM samp) a
      |  JOIN (SELECT DISTINCT event_type FROM samp) b ON a.event_type < b.event_type),
      |pooled AS (
      |  SELECT p.ta, p.tb, s.h52, s.event_id, s.value,
      |         row_number() OVER (PARTITION BY p.ta, p.tb
      |                            ORDER BY s.h52, s.event_id) AS prn
      |  FROM pairs p JOIN samp s ON s.event_type IN (p.ta, p.tb))
      |SELECT ta, tb,
      |       (list_sort(list(value)))[CAST(floor((count(*)-1)*0.5) AS INT)+1] AS p50_merged,
      |       round(CASE WHEN count(*) < 32 THEN CAST(count(*) AS DOUBLE)
      |             ELSE 31.0 / (CAST(max(h52) AS DOUBLE) / 4503599627370496.0) END,
      |             4) AS n_est_merged
      |FROM pooled WHERE prn <= 32
      |GROUP BY ta, tb""".stripMargin) { (s, d) =>
    graft.functions.SqlFunctions.registerAll(s)
    SampleSketch.sampleSketch(Tables.events(s, d),
      col("event_type"), col("event_id"), col("value"), k = 32)
      .select(col("group").as("etype"), col("sketch"))
      .createOrReplaceTempView("q148_sketches")
    s.sql("""
      SELECT a.etype AS ta, b.etype AS tb,
             graft_sample_quantile(graft_sample_merge(a.sketch, b.sketch, 32), 0.5) AS p50_merged,
             round(graft_sample_estimate(graft_sample_merge(a.sketch, b.sketch, 32), 32), 4) AS n_est_merged
      FROM q148_sketches a JOIN q148_sketches b ON a.etype < b.etype
    """)
  }

  // --------------------------- persisted profile store (incremental)
  /** The profiling family's daily-batch shape: the corpus profile
    * persists as one k-sample sketch row per group; each batch
    * appends its own sketch as an epoch partial, compaction folds
    * them behind the atomic `_CURRENT` flip, and quantiles come from
    * the stored sketches — events are never rescanned. Bottom-k
    * closure is the equivalence contract: the store's merged sketch
    * IS the direct sketch over every profiled row (epochs partition
    * events by id parity here), so the oracle replays the one-shot
    * construction over all events. k and the key/value derivations
    * ride the `_GRAFT_META` manifest; the spec pins the wrong-k
    * refusal and probe-after ≡ probe-before. */
  val q149SketchStore = q("q149_sketch_store",
    "Quantiles from a persisted two-epoch sample-sketch store, compacted then probed (north star: incremental profiling)",
    """WITH h AS (
      |  SELECT event_type, event_id, value,
      |         ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 13))::BIGINT AS h52
      |  FROM events
      |  WHERE event_id IS NOT NULL AND value IS NOT NULL AND NOT isnan(value)),
      |rk AS (SELECT *, row_number() OVER (PARTITION BY event_type
      |                                    ORDER BY h52, event_id) AS rn FROM h)
      |SELECT event_type AS etype, CAST(count(*) AS BIGINT) AS n_sample,
      |       (list_sort(list(value)))[CAST(floor((count(*)-1)*0.5) AS INT)+1] AS p50,
      |       (list_sort(list(value)))[CAST(floor((count(*)-1)*0.9) AS INT)+1] AS p90,
      |       round(CASE WHEN count(*) < 48 THEN CAST(count(*) AS DOUBLE)
      |             ELSE 47.0 / (CAST(max(h52) AS DOUBLE) / 4503599627370496.0) END,
      |             4) AS n_est
      |FROM rk WHERE rn <= 48 GROUP BY event_type""".stripMargin) { (s, d) =>
    val k = 48
    val ev = Tables.events(s, d)
    val root = freshScratch(s, "q149_skstore")
    def epochSketch(r: Int): DataFrame = SampleSketch.sampleSketch(
      ev.filter(pmod(col("event_id"), lit(2)) === r),
      col("event_type"), col("event_id"), col("value"), k)
    SampleSketch.sampleSketchIndexWrite(epochSketch(0), root, k,
      "event_type", "value")
    SampleSketch.sampleSketchIndexAppend(s, root, epochSketch(1), "day-2",
      k, "event_type", "value")
    val stats = Maintenance.compactStore(s, root)
    require(stats.folded.nonEmpty,
      s"q149: compaction folded nothing at $root — store build failed")
    SampleSketch.reportFromSketches(
      SampleSketch.sampleSketchIndexRead(s, root, k, "event_type", "value"),
      k, ps = Seq(0.5, 0.9))
      .select(col("group").as("etype"), col("n_sample"),
        col("p50"), col("p90"), col("n_est"))
  }

  // ---------------------- web-curation pipeline v2 (round-8 composition)
  /** q100's composition discipline over this round's components: PSL
    * registered-domain extraction → one-pass Aho-Corasick blocklist
    * screening → deterministic arrival-order per-site caps, with
    * per-stage counts emitted as data (the funnel every curation run
    * reports). Every stage's scalar count rides the plan as a
    * broadcast one-row aggregate — no construction-time actions. The
    * oracle replays all three stages (the q145 PSL replay, the q129
    * regex counts, the arrival-cap window) and pins the funnel. */
  val q150CurationV2 = q("q150_curation_v2",
    "PSL domains -> blocklist screen -> arrival caps, per-stage funnel counts (north star: web curation, composed)",
    s"""WITH ${pslHostSql(10)},
      |$pslDomainSql,
      |scr AS (
      |  SELECT doc_id,
      |         len(regexp_extract_all(lower(coalesce(text, '')), 'spark'))
      |       + len(regexp_extract_all(lower(coalesce(text, '')), 'merge'))
      |       + len(regexp_extract_all(lower(coalesce(text, '')), 'scan'))
      |       + len(regexp_extract_all(lower(coalesce(text, '')), 'big query'))
      |       + len(regexp_extract_all(lower(coalesce(text, '')), 'the row')) AS ntot
      |  FROM documents),
      |clean AS (
      |  SELECT d.doc_id, d.domain FROM d JOIN scr ON d.doc_id = scr.doc_id
      |  WHERE scr.ntot < 8),
      |r AS (
      |  SELECT domain, doc_id,
      |         row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS rk
      |  FROM clean),
      |kept AS (SELECT * FROM r WHERE rk <= 5)
      |SELECT (SELECT count(*) FROM documents) AS n_input,
      |       (SELECT count(*) FROM clean) AS n_after_blocklist,
      |       (SELECT count(*) FROM kept) AS n_kept,
      |       (SELECT count(DISTINCT domain) FROM kept) AS n_domains_kept""".stripMargin) { (s, d) =>
    val pats = Seq("spark", "merge", "scan", "big query", "the row")
    val docs = Tables.documents(s, d)
    val withDom = docs.select(col("doc_id"),
      Psl.registeredDomain(pslDemoHost(10)).as("domain"),
      graft.functions.Blocklist.matchCounts(
        lower(coalesce(col("text"), lit(""))), pats).as("c"))
    val clean = withDom
      .withColumn("ntot", (1 to pats.size).map(i =>
        element_at(col("c"), i)).reduce(_ + _))
      .filter(col("ntot") < 8)
      .select(col("doc_id"), col("domain"))
    val keptIds = Curation.capPerKeyArrival(clean, col("domain"),
      col("doc_id"), maxPerKey = 5)
    val kept = clean.join(keptIds.select(col("id").as("doc_id")),
      Seq("doc_id"), "left_semi")
    docs.agg(count(lit(1)).as("n_input"))
      .crossJoin(broadcast(clean.agg(count(lit(1)).as("n_after_blocklist"))))
      .crossJoin(broadcast(kept.agg(count(lit(1)).as("n_kept"))))
      .crossJoin(broadcast(
        kept.agg(count_distinct(col("domain")).as("n_domains_kept"))))
  }

  // ------------------------------------------- persisted retrieval index
  /** The retrieval family's incremental shape (the q99/q142/q149
    * discipline applied to BM25): tokenize the corpus ONCE into a
    * stored postings index (term-sorted for scan pruning, statistics
    * as one-row epoch partials), append a batch as its own epoch,
    * compact behind the atomic `_CURRENT` flip, then answer the query
    * from the STORE — and prove the answer bit-identical to the
    * full-corpus q126 formulation by having the oracle recompute
    * exactly that. The corpus is never rescanned at probe time: the
    * probe plan is a term-pruned postings read, one doc-keyed pivot
    * aggregation, a broadcast stats row and a bounded top-k. */
  val q151Bm25Store = q("q151_bm25_store",
    "BM25 top-40 from a persisted two-epoch postings store, compacted then probed (north star: incremental retrieval)",
    """WITH base AS (
      |  SELECT doc_id, regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+') AS toks
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
      |         len(list_filter(toks, t -> t = 'filter')) AS tf1,
      |         len(list_filter(toks, t -> t = 'scan')) AS tf2,
      |         len(list_filter(toks, t -> t = 'vector')) AS tf3
      |  FROM base),
      |st AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(dl) AS DOUBLE) AS sumdl,
      |         CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
      |         CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2,
      |         CAST(sum(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df3
      |  FROM tf),
      |sc AS (
      |  SELECT tf.doc_id,
      |         (CASE WHEN tf1 > 0 THEN 1 ELSE 0 END + CASE WHEN tf2 > 0 THEN 1 ELSE 0 END
      |          + CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS n_matched,
      |         round(
      |           ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * (tf1 * (1.2 + 1.0))
      |             / (tf1 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (sumdl / n)))
      |           + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5)) * (tf2 * (1.2 + 1.0))
      |             / (tf2 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (sumdl / n)))
      |           + ln(1.0 + (n - df3 + 0.5) / (df3 + 0.5)) * (tf3 * (1.2 + 1.0))
      |             / (tf3 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (sumdl / n))), 6) AS score
      |  FROM tf, st)
      |SELECT doc_id, n_matched, score FROM sc
      |WHERE n_matched > 0
      |ORDER BY score DESC, doc_id ASC LIMIT 40""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val root = freshScratch(s, "q151_bm25")
    Relevance.bm25IndexWrite(docs.filter(pmod(col("doc_id"), lit(2)) === 0),
      root, "doc_id", "text")
    Relevance.bm25IndexAppend(s, root,
      docs.filter(pmod(col("doc_id"), lit(2)) === 1), "doc_id", "text",
      "day-2")
    val stats = Maintenance.compactStore(s, root)
    require(stats.folded.nonEmpty,
      s"q151: compaction folded nothing at $root — store build failed")
    Relevance.bm25IndexProbe(s, root, "doc_id", "text",
      queryTerms = Seq("filter", "scan", "vector"), k = 40)
  }

  // ------------------------------------------------------ snapshot diff
  /** CDC over re-landed snapshots ([[Diff.snapshotDiff]]): two
    * deterministic snapshots derive from `orders` (17-multiples
    * missing from the old extract, 13-multiples dropped from the new,
    * 5-multiples repriced, 7-multiples re-prioritized), and the diff
    * must name every add/remove and the exact changed columns. One
    * full-outer sort-merge join; the oracle replays the same FULL
    * JOIN + IS DISTINCT FROM per column. */
  val q152SnapshotDiff = q("q152_snapshot_diff",
    "Keyed snapshot diff: adds, removes, per-column changes from one full-outer join (north star: CDC/incremental)",
    """WITH o AS (SELECT * FROM orders WHERE o_orderkey % 17 <> 0),
      |n AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus,
      |         CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0
      |              ELSE o_totalprice END AS o_totalprice,
      |         o_orderdate,
      |         CASE WHEN o_orderkey % 7 = 0 THEN 'RUSH'
      |              ELSE o_orderpriority END AS o_orderpriority
      |  FROM orders WHERE o_orderkey % 13 <> 0),
      |j AS (
      |  SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
      |         o.o_orderkey IS NOT NULL AS op, n.o_orderkey IS NOT NULL AS np,
      |         concat_ws(',',
      |           CASE WHEN o.o_custkey IS DISTINCT FROM n.o_custkey THEN 'o_custkey' END,
      |           CASE WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus THEN 'o_orderstatus' END,
      |           CASE WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice THEN 'o_totalprice' END,
      |           CASE WHEN o.o_orderdate IS DISTINCT FROM n.o_orderdate THEN 'o_orderdate' END,
      |           CASE WHEN o.o_orderpriority IS DISTINCT FROM n.o_orderpriority THEN 'o_orderpriority' END) AS chg
      |  FROM o FULL JOIN n ON o.o_orderkey = n.o_orderkey)
      |SELECT o_orderkey,
      |       CASE WHEN NOT op THEN 'added' WHEN NOT np THEN 'removed'
      |            ELSE 'changed' END AS change,
      |       CASE WHEN op AND np THEN chg ELSE '' END AS changed_cols
      |FROM j WHERE NOT (op AND np AND chg = '')""".stripMargin) { (s, d) =>
    val ord = Tables.orders(s, d)
    val oldSnap = ord.filter(pmod(col("o_orderkey"), lit(17)) =!= 0)
    val newSnap = ord.filter(pmod(col("o_orderkey"), lit(13)) =!= 0)
      .withColumn("o_totalprice",
        when(pmod(col("o_orderkey"), lit(5)) === 0,
          col("o_totalprice") + lit(1.0)).otherwise(col("o_totalprice")))
      .withColumn("o_orderpriority",
        when(pmod(col("o_orderkey"), lit(7)) === 0, lit("RUSH"))
          .otherwise(col("o_orderpriority")))
    Diff.snapshotDiff(oldSnap, newSnap, Seq("o_orderkey"))
  }

  /** The CDC contract end-to-end ([[Diff.cdcDelta]]/[[Diff.cdcApply]]):
    * applying the changefeed extracted from (old, new) onto the old
    * snapshot must reproduce the new snapshot EXACTLY — every column,
    * every row, unchanged rows riding through untouched. The oracle is
    * simply the new snapshot; the Spark side earns it through
    * delta-extraction + O(delta) apply (one full-outer diff join, one
    * anti join, one union — never a re-land). Same planted snapshots
    * as q152. */
  val q154CdcApply = q("q154_cdc_apply",
    "CDC apply: old snapshot + extracted changefeed == new snapshot, bit-exact (north star: incremental maintenance)",
    """SELECT o_orderkey, o_custkey, o_orderstatus,
      |       CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0
      |            ELSE o_totalprice END AS o_totalprice,
      |       o_orderdate,
      |       CASE WHEN o_orderkey % 7 = 0 THEN 'RUSH'
      |            ELSE o_orderpriority END AS o_orderpriority
      |FROM orders WHERE o_orderkey % 13 <> 0""".stripMargin) { (s, d) =>
    val ord = Tables.orders(s, d)
    val oldSnap = ord.filter(pmod(col("o_orderkey"), lit(17)) =!= 0)
    val newSnap = ord.filter(pmod(col("o_orderkey"), lit(13)) =!= 0)
      .withColumn("o_totalprice",
        when(pmod(col("o_orderkey"), lit(5)) === 0,
          col("o_totalprice") + lit(1.0)).otherwise(col("o_totalprice")))
      .withColumn("o_orderpriority",
        when(pmod(col("o_orderkey"), lit(7)) === 0, lit("RUSH"))
          .otherwise(col("o_orderpriority")))
    Diff.cdcApply(oldSnap,
      Diff.cdcDelta(oldSnap, newSnap, Seq("o_orderkey")),
      Seq("o_orderkey"))
  }

  // ----------------------------------------------------- hybrid retrieval
  /** Hybrid retrieval ([[Relevance.rrfFuse]]): BM25's lexical top-20
    * fused with the dense cosine top-20 for query vector 0 by
    * reciprocal-rank fusion — only RANKS cross the score-scale
    * boundary. The rankers are the already-pinned q126/q23 shapes;
    * the fuse is a broadcast-sized full-outer join of two 20-row
    * lists. The oracle replays both rankings and the exact
    * 1/(60+rank) arithmetic. */
  val q153HybridRrf = q("q153_hybrid_rrf",
    "Reciprocal-rank fusion of BM25 and dense cosine rankings (north star: hybrid retrieval)",
    """WITH base AS (
      |  SELECT doc_id, regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+') AS toks
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
      |         len(list_filter(toks, t -> t = 'hash')) AS tf1,
      |         len(list_filter(toks, t -> t = 'row')) AS tf2,
      |         len(list_filter(toks, t -> t = 'batch')) AS tf3
      |  FROM base),
      |st AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(dl) AS DOUBLE) AS sumdl,
      |         CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
      |         CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2,
      |         CAST(sum(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df3
      |  FROM tf),
      |sc AS (
      |  SELECT tf.doc_id,
      |         (CASE WHEN tf1 > 0 THEN 1 ELSE 0 END + CASE WHEN tf2 > 0 THEN 1 ELSE 0 END
      |          + CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS n_matched,
      |         round(
      |           ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * (tf1 * (1.2 + 1.0))
      |             / (tf1 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (sumdl / n)))
      |           + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5)) * (tf2 * (1.2 + 1.0))
      |             / (tf2 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (sumdl / n)))
      |           + ln(1.0 + (n - df3 + 0.5) / (df3 + 0.5)) * (tf3 * (1.2 + 1.0))
      |             / (tf3 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (sumdl / n))), 6) AS score
      |  FROM tf, st),
      |lex0 AS (SELECT doc_id, score FROM sc WHERE n_matched > 0
      |         ORDER BY score DESC, doc_id LIMIT 20),
      |lex AS (SELECT doc_id,
      |               row_number() OVER (ORDER BY score DESC, doc_id) AS lr
      |        FROM lex0),
      |qv AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |       FROM embeddings WHERE vec_id = 0),
      |den0 AS (
      |  SELECT e.vec_id AS doc_id,
      |         round(list_cosine_similarity(
      |           list_transform(e.embedding, x -> CAST(x AS DOUBLE)), qv.v), 4) AS cos
      |  FROM embeddings e CROSS JOIN qv WHERE e.vec_id <> 0
      |  ORDER BY cos DESC, doc_id LIMIT 20),
      |den AS (SELECT doc_id,
      |               row_number() OVER (ORDER BY cos DESC, doc_id) AS dr
      |        FROM den0),
      |f AS (
      |  SELECT coalesce(lex.doc_id, den.doc_id) AS doc_id,
      |         (CASE WHEN lr IS NOT NULL THEN 1 ELSE 0 END
      |          + CASE WHEN dr IS NOT NULL THEN 1 ELSE 0 END) AS n_lists,
      |         round(coalesce(1.0 / (60.0 + lr), 0.0)
      |               + coalesce(1.0 / (60.0 + dr), 0.0), 9) AS rrf_score
      |  FROM lex FULL JOIN den ON lex.doc_id = den.doc_id)
      |SELECT doc_id, n_lists, rrf_score FROM f
      |ORDER BY rrf_score DESC, doc_id LIMIT 15""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val emb = Tables.embeddings(s, d)
    val lex = Relevance.bm25TopDocs(docs, "doc_id", "text",
      queryTerms = Seq("hash", "row", "batch"), k = 20)
    val lexRanked = lex.select(col("doc_id"), row_number().over(
      Window.orderBy(col("score").desc, col("doc_id").asc)).as("rank"))
    val den = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") === 0),
      "vec_id", "embedding", k = 20, roundTo = 4)
    val denRanked = den.select(col("neighbor_id").as("doc_id"),
      row_number().over(
        Window.orderBy(col("cos").desc, col("neighbor_id").asc)).as("rank"))
    Relevance.rrfFuse(Seq(lexRanked, denRanked), "doc_id", k = 15)
  }

  /** Batch-serving retrieval ([[Relevance.bm25IndexProbeMulti]]):
    * three queries scored AT ONCE against the stored postings index.
    * Because queries are data, per-term scores must aggregate — the
    * decimal trick (round each contribution to 9dp, cast
    * DECIMAL(28,9), exact order-independent sum, convert back) is
    * what lets the DuckDB oracle replay a GROUPED float computation
    * bit-for-bit, where a double sum would drift with aggregation
    * order. Top-k per query is the bounded-heap aggregator. */
  val q155Bm25Multi = q("q155_bm25_multi",
    "Multi-query BM25 from the postings store, decimal-exact grouped scoring (north star: batch retrieval serving)",
    """WITH toks AS (
      |  SELECT doc_id, unnest(regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+')) AS term
      |  FROM documents),
      |q(query_id, term) AS (VALUES
      |  (0, 'join'), (0, 'filter'),
      |  (1, 'scan'), (1, 'merge'),
      |  (2, 'window'), (2, 'vector'), (2, 'batch')),
      |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      |       FROM toks GROUP BY doc_id, term),
      |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
      |       FROM toks GROUP BY doc_id),
      |dft AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf
      |        WHERE term IN (SELECT term FROM q) GROUP BY term),
      |st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
      |              CAST(coalesce(sum(len(regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+'))), 0) AS DOUBLE) AS sumdl
      |       FROM documents),
      |sc AS (
      |  SELECT q.query_id, tf.doc_id,
      |         CAST(round(
      |           ln(1.0 + (n - df + 0.5) / (df + 0.5))
      |             * (tf * (1.2 + 1.0))
      |             / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / (sumdl / n))), 9)
      |           AS DECIMAL(28,9)) AS c
      |  FROM q JOIN tf USING (term) JOIN dft USING (term)
      |       JOIN dl ON tf.doc_id = dl.doc_id
      |       CROSS JOIN st),
      |g AS (SELECT query_id, doc_id, CAST(count(*) AS INT) AS n_matched,
      |             round(CAST(sum(c) AS DOUBLE), 6) AS score
      |      FROM sc GROUP BY query_id, doc_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |                                   ORDER BY score DESC, doc_id) AS rk
      |      FROM g)
      |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, n_matched, score
      |FROM r WHERE rk <= 10""".stripMargin) { (s, d) =>
    import s.implicits._
    val docs = Tables.documents(s, d)
    val root = freshScratch(s, "q155_bm25mq")
    Relevance.bm25IndexWrite(docs, root, "doc_id", "text")
    val queries = Seq(
      (0L, Seq("join", "filter")),
      (1L, Seq("scan", "merge")),
      (2L, Seq("window", "vector", "batch"))).toDF("query_id", "terms")
    Relevance.bm25IndexProbeMulti(s, root, "doc_id", "text", queries, k = 10)
  }

  /** Grouped hybrid retrieval, composed end-to-end: three queries run
    * the stored-postings multi-BM25 (q155's machinery) AND the dense
    * cosine ranking (q23's), then fuse per query with
    * [[Relevance.rrfFuseGrouped]]'s bounded-heap top-k. The ranked
    * lists are ≤ 20 rows per query, so the rank windows partition over
    * bounded lists — never the corpus. The oracle replays the whole
    * composition: decimal-summed BM25, cosine ranking, 1/(60+rank)
    * fusion. */
  val q156HybridMulti = q("q156_hybrid_multi",
    "Grouped hybrid retrieval: stored-postings multi-BM25 x dense cosine, RRF-fused per query (north star: retrieval serving)",
    """WITH toks AS (
      |  SELECT doc_id, unnest(regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+')) AS term
      |  FROM documents),
      |q(query_id, term) AS (VALUES
      |  (0, 'join'), (0, 'filter'),
      |  (1, 'scan'), (1, 'merge'),
      |  (2, 'window'), (2, 'vector'), (2, 'batch')),
      |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      |       FROM toks GROUP BY doc_id, term),
      |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
      |       FROM toks GROUP BY doc_id),
      |dft AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf
      |        WHERE term IN (SELECT term FROM q) GROUP BY term),
      |st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
      |              CAST(coalesce(sum(len(regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+'))), 0) AS DOUBLE) AS sumdl
      |       FROM documents),
      |sc AS (
      |  SELECT q.query_id, tf.doc_id,
      |         CAST(round(
      |           ln(1.0 + (n - df + 0.5) / (df + 0.5))
      |             * (tf * (1.2 + 1.0))
      |             / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / (sumdl / n))), 9)
      |           AS DECIMAL(28,9)) AS c
      |  FROM q JOIN tf USING (term) JOIN dft USING (term)
      |       JOIN dl ON tf.doc_id = dl.doc_id
      |       CROSS JOIN st),
      |g AS (SELECT query_id, doc_id,
      |             round(CAST(sum(c) AS DOUBLE), 6) AS score
      |      FROM sc GROUP BY query_id, doc_id),
      |lexr AS (SELECT query_id, doc_id, lr FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |                               ORDER BY score DESC, doc_id) AS lr
      |  FROM g) WHERE lr <= 20),
      |qv AS (SELECT vec_id AS query_id,
      |              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |       FROM embeddings WHERE vec_id IN (0, 1, 2)),
      |den0 AS (
      |  SELECT qv.query_id, e.vec_id AS doc_id,
      |         round(list_cosine_similarity(
      |           list_transform(e.embedding, x -> CAST(x AS DOUBLE)), qv.v), 4) AS cos
      |  FROM embeddings e CROSS JOIN qv WHERE e.vec_id <> qv.query_id),
      |denr AS (SELECT query_id, doc_id, dr FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |                               ORDER BY cos DESC, doc_id) AS dr
      |  FROM den0) WHERE dr <= 20),
      |f AS (
      |  SELECT coalesce(l.query_id, d.query_id) AS query_id,
      |         coalesce(l.doc_id, d.doc_id) AS doc_id,
      |         (CASE WHEN lr IS NOT NULL THEN 1 ELSE 0 END
      |          + CASE WHEN dr IS NOT NULL THEN 1 ELSE 0 END) AS n_lists,
      |         round(coalesce(1.0 / (60.0 + lr), 0.0)
      |               + coalesce(1.0 / (60.0 + dr), 0.0), 9) AS rrf_score
      |  FROM lexr l FULL JOIN denr d
      |       ON l.query_id = d.query_id AND l.doc_id = d.doc_id),
      |r2 AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |                                    ORDER BY rrf_score DESC, doc_id) AS rk
      |       FROM f)
      |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, n_lists, rrf_score
      |FROM r2 WHERE rk <= 10""".stripMargin) { (s, d) =>
    import s.implicits._
    val docs = Tables.documents(s, d)
    val emb = Tables.embeddings(s, d)
    val root = freshScratch(s, "q156_hybrid")
    Relevance.bm25IndexWrite(docs, root, "doc_id", "text")
    val queries = Seq(
      (0L, Seq("join", "filter")),
      (1L, Seq("scan", "merge")),
      (2L, Seq("window", "vector", "batch"))).toDF("query_id", "terms")
    val lex = Relevance.bm25IndexProbeMulti(s, root, "doc_id", "text",
      queries, k = 20)
    val wLex = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id").asc)
    val lexRanked = lex.select(col("query_id"), col("doc_id"),
      row_number().over(wLex).as("rank"))
    val den = Similarity.bruteForceTopK(emb,
      emb.filter(col("vec_id").isin(0L, 1L, 2L)),
      "vec_id", "embedding", k = 20, roundTo = 4)
    val wDen = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    val denRanked = den.select(col("query_id"),
      col("neighbor_id").as("doc_id"), row_number().over(wDen).as("rank"))
    Relevance.rrfFuseGrouped(Seq(lexRanked, denRanked), "query_id",
      "doc_id", k = 10)
  }

  /** Link-graph authority ([[Centrality.pageRankFixedPoint]]): a
    * deterministic planted link graph over the documents (every
    * non-10-multiple links to three arithmetic targets; 10-multiples
    * dangle) ranked by three damped PageRank iterations — ENTIRELY in
    * scaled integer arithmetic, so the oracle unrolls the identical
    * three iterations in SQL and hash-matches the raw longs. This is
    * the float-free answer to "PageRank never replays across
    * engines": truncating integral division loses < 10⁻¹² of rank
    * mass per op and buys bit-exact auditability. */
  /** The 3-iteration fixed-point PageRank oracle, shared verbatim by
    * q157 (from-scratch) and q180 (2 stored + 1 warm-started) — one
    * SQL text for both is exactly the point: the warm start must
    * reproduce the from-scratch longs bit for bit. */
  private val pagerank3IterOracle =
    """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM documents),
      |v AS (SELECT doc_id FROM documents),
      |e AS (SELECT doc_id AS src, (doc_id * 31 + j * 17 + 7) % nn AS dst
      |      FROM documents CROSS JOIN n
      |           CROSS JOIN (VALUES (CAST(0 AS BIGINT)), (1), (2)) AS t(j)
      |      WHERE doc_id % 10 <> 0),
      |outd AS (SELECT src, CAST(count(*) AS BIGINT) AS od FROM e GROUP BY src),
      |pr0 AS (SELECT doc_id, 1000000000000 // nn AS pr FROM v CROSS JOIN n),
      |dang1 AS (SELECT coalesce(sum(pr), 0) AS dg FROM pr0
      |          LEFT JOIN outd ON pr0.doc_id = outd.src WHERE od IS NULL),
      |in1 AS (SELECT e.dst AS doc_id, sum(pr0.pr // outd.od) AS s
      |        FROM e JOIN pr0 ON e.src = pr0.doc_id
      |             JOIN outd ON e.src = outd.src
      |        GROUP BY e.dst),
      |pr1 AS (SELECT v.doc_id,
      |               (15 * (1000000000000 // nn)) // 100
      |               + (85 * (coalesce(s, 0) + dg // nn)) // 100 AS pr
      |        FROM v CROSS JOIN n CROSS JOIN dang1
      |        LEFT JOIN in1 ON v.doc_id = in1.doc_id),
      |dang2 AS (SELECT coalesce(sum(pr), 0) AS dg FROM pr1
      |          LEFT JOIN outd ON pr1.doc_id = outd.src WHERE od IS NULL),
      |in2 AS (SELECT e.dst AS doc_id, sum(pr1.pr // outd.od) AS s
      |        FROM e JOIN pr1 ON e.src = pr1.doc_id
      |             JOIN outd ON e.src = outd.src
      |        GROUP BY e.dst),
      |pr2 AS (SELECT v.doc_id,
      |               (15 * (1000000000000 // nn)) // 100
      |               + (85 * (coalesce(s, 0) + dg // nn)) // 100 AS pr
      |        FROM v CROSS JOIN n CROSS JOIN dang2
      |        LEFT JOIN in2 ON v.doc_id = in2.doc_id),
      |dang3 AS (SELECT coalesce(sum(pr), 0) AS dg FROM pr2
      |          LEFT JOIN outd ON pr2.doc_id = outd.src WHERE od IS NULL),
      |in3 AS (SELECT e.dst AS doc_id, sum(pr2.pr // outd.od) AS s
      |        FROM e JOIN pr2 ON e.src = pr2.doc_id
      |             JOIN outd ON e.src = outd.src
      |        GROUP BY e.dst),
      |pr3 AS (SELECT v.doc_id,
      |               (15 * (1000000000000 // nn)) // 100
      |               + (85 * (coalesce(s, 0) + dg // nn)) // 100 AS pr
      |        FROM v CROSS JOIN n CROSS JOIN dang3
      |        LEFT JOIN in3 ON v.doc_id = in3.doc_id)
      |-- CAST: DuckDB sum()/'//' promote pr to HUGEINT; the driver's
      |-- hash gate is TYPE-sensitive, so pin the engine's BIGINT
      |SELECT doc_id, CAST(pr AS BIGINT) AS pr FROM pr3""".stripMargin

  /** The q157/q173/q177/q179/q180 planted link graph. */
  private def plantedEdges(docs: DataFrame): DataFrame = {
    val nDf = docs.agg(count(lit(1)).as("nn"))
    docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
      .crossJoin(broadcast(nDf))
      .select(col("doc_id").as("src"),
        explode(array(lit(0L), lit(1L), lit(2L))).as("j"), col("nn"))
      .select(col("src"),
        pmod(col("src") * lit(31L) + col("j") * lit(17L) + lit(7L),
          col("nn")).as("dst"))
  }

  val q157PageRank = q("q157_pagerank",
    "Fixed-point integer PageRank over a planted link graph, 3 iterations, bit-exact (north star: web curation authority)",
    pagerank3IterOracle) { (s, d) =>
    val docs = Tables.documents(s, d)
    Centrality.pageRankFixedPoint(docs.select(col("doc_id").as("id")),
      plantedEdges(docs), iterations = 3)
      .select(col("id").as("doc_id"), col("pr"))
  }

  /** Engine-portable HyperLogLog ([[Cardinality.hllSketch]]): per
    * event type, exact distinct users next to the HLL estimate, plus
    * an ALL row whose registers come from MERGING the five per-type
    * sketches (element-wise max) — the fixed-size cardinality
    * algebra. The md5 register derivation, the integer-scaled
    * harmonic sum and the α·m²·2^52 constant (inlined below from the
    * same Scala value the engine folds) replay verbatim in the
    * oracle, so the estimates hash-match, not just land in-band. */
  private val HllP = 9
  private val HllC: Double = {
    val m = 1 << HllP
    Cardinality.hllAlpha(m) * m * m * Cardinality.HashSpace
  }
  val q158Hll = q("q158_hll",
    "HyperLogLog distinct-user registers, estimates and sketch-merge ALL row, replayed exactly (north star: corpus profiling)",
    s"""WITH h AS (
      |  SELECT event_type, ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))::BIGINT AS h52
      |  FROM events WHERE user_id IS NOT NULL),
      |rr AS (SELECT event_type, h52 // 8796093022208 AS idx,
      |              h52 % 8796093022208 AS rem FROM h),
      |rho AS (SELECT event_type, idx,
      |        CASE WHEN rem = 0 THEN 44
      |             ELSE 44 - length(printf('%b', rem)) END AS rho FROM rr),
      |regs AS (SELECT event_type, idx, max(rho) AS r FROM rho GROUP BY 1, 2),
      |sums AS (SELECT event_type,
      |         sum(1::BIGINT << (52 - r))
      |           + (512 - count(*)) * (1::BIGINT << 52) AS sumsc,
      |         512 - count(*) AS zeros
      |         FROM regs GROUP BY event_type),
      |merged AS (SELECT idx, max(r) AS r FROM regs GROUP BY idx),
      |msums AS (SELECT sum(1::BIGINT << (52 - r))
      |            + (512 - count(*)) * (1::BIGINT << 52) AS sumsc,
      |          512 - count(*) AS zeros FROM merged),
      |ex AS (SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
      |       FROM events WHERE user_id IS NOT NULL GROUP BY event_type),
      |eall AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
      |         FROM events WHERE user_id IS NOT NULL),
      |est AS (SELECT s.event_type AS etype, ex.n_exact,
      |        round(CASE WHEN (CAST($HllC AS DOUBLE) / CAST(sumsc AS DOUBLE))
      |                        <= CAST(1280 AS DOUBLE) AND zeros > 0
      |          THEN CAST(512 AS DOUBLE)
      |               * ln(CAST(512 AS DOUBLE) / CAST(zeros AS DOUBLE))
      |          ELSE CAST($HllC AS DOUBLE) / CAST(sumsc AS DOUBLE) END, 4) AS hll_est
      |        FROM sums s JOIN ex ON s.event_type = ex.event_type),
      |mest AS (SELECT 'ALL' AS etype, eall.n_exact,
      |         round(CASE WHEN (CAST($HllC AS DOUBLE) / CAST(sumsc AS DOUBLE))
      |                         <= CAST(1280 AS DOUBLE) AND zeros > 0
      |           THEN CAST(512 AS DOUBLE)
      |                * ln(CAST(512 AS DOUBLE) / CAST(zeros AS DOUBLE))
      |           ELSE CAST($HllC AS DOUBLE) / CAST(sumsc AS DOUBLE) END, 4) AS hll_est
      |         FROM msums CROSS JOIN eall)
      |SELECT * FROM est UNION ALL SELECT * FROM mest""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d).filter(col("user_id").isNotNull)
    val sketches = Cardinality.hllSketch(ev, col("event_type"),
      col("user_id"), HllP)
    val exact = ev.groupBy(col("event_type").as("group"))
      .agg(count_distinct(col("user_id")).as("n_exact"))
    val perType = sketches.join(exact, Seq("group"))
      .select(col("group").as("etype"), col("n_exact"),
        round(Cardinality.hllEstimate(col("regs"), HllP), 4).as("hll_est"))
    // ALL row: element-wise-max MERGE of the per-type register arrays
    val mergedRegs = sketches
      .agg(expr(
        "aggregate(collect_list(regs), array_repeat(0, 512), " +
          "(acc, x) -> zip_with(acc, x, (a, b) -> greatest(a, b)))")
        .as("regs"))
    val allRow = mergedRegs
      .crossJoin(broadcast(
        ev.agg(count_distinct(col("user_id")).as("n_exact"))))
      .select(lit("ALL").as("etype"), col("n_exact"),
        round(Cardinality.hllEstimate(col("regs"), HllP), 4).as("hll_est"))
    perType.unionByName(allRow)
  }

  /** The HLL family's incremental shape (q149's discipline for
    * registers): profile two disjoint event batches into a persisted
    * register store, compact behind the atomic `_CURRENT` flip, and
    * answer per-type distinct-user estimates from the STORE — the
    * max-merge closure makes the merged registers equal the
    * whole-corpus sketch, so the oracle replays the same q158
    * arithmetic against the raw events. */
  val q159HllStore = q("q159_hll_store",
    "Distinct-user estimates from a persisted two-epoch HLL register store, compacted then probed (north star: incremental profiling)",
    s"""WITH h AS (
      |  SELECT event_type, ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))::BIGINT AS h52
      |  FROM events WHERE user_id IS NOT NULL),
      |rr AS (SELECT event_type, h52 // 8796093022208 AS idx,
      |              h52 % 8796093022208 AS rem FROM h),
      |rho AS (SELECT event_type, idx,
      |        CASE WHEN rem = 0 THEN 44
      |             ELSE 44 - length(printf('%b', rem)) END AS rho FROM rr),
      |regs AS (SELECT event_type, idx, max(rho) AS r FROM rho GROUP BY 1, 2),
      |sums AS (SELECT event_type,
      |         sum(1::BIGINT << (52 - r))
      |           + (512 - count(*)) * (1::BIGINT << 52) AS sumsc,
      |         512 - count(*) AS zeros
      |         FROM regs GROUP BY event_type),
      |ex AS (SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
      |       FROM events WHERE user_id IS NOT NULL GROUP BY event_type)
      |SELECT s.event_type AS etype, ex.n_exact,
      |       round(CASE WHEN (CAST($HllC AS DOUBLE) / CAST(sumsc AS DOUBLE))
      |                       <= CAST(1280 AS DOUBLE) AND zeros > 0
      |         THEN CAST(512 AS DOUBLE)
      |              * ln(CAST(512 AS DOUBLE) / CAST(zeros AS DOUBLE))
      |         ELSE CAST($HllC AS DOUBLE) / CAST(sumsc AS DOUBLE) END, 4) AS hll_est
      |FROM sums s JOIN ex ON s.event_type = ex.event_type""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d).filter(col("user_id").isNotNull)
    val root = freshScratch(s, "q159_hll")
    def epochSketch(r: Int) = Cardinality.hllSketch(
      ev.filter(pmod(col("user_id"), lit(2)) === r),
      col("event_type"), col("user_id"), HllP)
    Cardinality.hllIndexWrite(epochSketch(0), root, HllP, "user_id")
    Cardinality.hllIndexAppend(s, root, epochSketch(1), "day-2", HllP,
      "user_id")
    val stats = Maintenance.compactStore(s, root)
    require(stats.folded.nonEmpty,
      s"q159: compaction folded nothing at $root — store build failed")
    val exact = ev.groupBy(col("event_type").as("group"))
      .agg(count_distinct(col("user_id")).as("n_exact"))
    Cardinality.hllIndexRead(s, root, HllP, "user_id")
      .join(exact, Seq("group"))
      .select(col("group").as("etype"), col("n_exact"),
        round(Cardinality.hllEstimate(col("regs"), HllP), 4).as("hll_est"))
  }

  /** Right-to-be-forgotten erasure ([[Merge.deleteWrite]]): events
    * materialize partitioned by type, then every event of the
    * 37-multiple users is erased — rewriting ONLY partitions that
    * held matches (the stats prove it), with fully-emptied partition
    * directories removed outright (the silent-survivor failure an
    * erasure tool cannot have). The oracle is simply the surviving
    * rows; the Spark side earns them through the targeted rewrite. */
  val q160Erasure = q("q160_erasure",
    "Targeted key deletion over a partitioned table: rewrite only matched partitions (north star: GDPR erasure)",
    """SELECT event_id, user_id, event_type FROM events
      |WHERE user_id IS NULL OR user_id % 37 <> 0""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val root = freshScratch(s, "q160_erase")
    ev.write.partitionBy("event_type").parquet(root)
    val victims = ev.filter(pmod(col("user_id"), lit(37)) === 0)
      .select(col("user_id")).distinct()
    Merge.deleteWrite(s, root, victims, Seq("user_id"), "event_type")
    s.read.parquet(root).select("event_id", "user_id", "event_type")
  }

  /** Gaps-and-islands ([[IntervalExpand.mergeIntervals]]): each order
    * opens a deterministic entitlement window (1–20 days from its
    * key), per-customer windows merge into disjoint islands, and the
    * report is island count + exact covered days — in O(intervals)
    * with ONE per-key sort, where the q8-style explode pays one row
    * per covered DAY. Integer day arithmetic end to end; the oracle
    * replays the identical two-window algorithm. */
  val q161Islands = q("q161_interval_islands",
    "Gaps-and-islands: merge per-customer entitlement windows, exact covered days (north star: coverage analytics)",
    """WITH iv AS (
      |  SELECT o_custkey AS k,
      |         CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS s,
      |         CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
      |           + o_orderkey % 20 + 1 AS e
      |  FROM orders),
      |m AS (SELECT k, s, e,
      |      max(e) OVER (PARTITION BY k ORDER BY s, e
      |                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
      |      FROM iv),
      |fl AS (SELECT k, s, e,
      |       CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END AS f FROM m),
      |isl AS (SELECT k, s, e,
      |        sum(f) OVER (PARTITION BY k ORDER BY s, e
      |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isle
      |        FROM fl),
      |g AS (SELECT k, isle, min(s) AS st, max(e) AS en FROM isl GROUP BY k, isle)
      |SELECT k AS o_custkey, CAST(count(*) AS BIGINT) AS n_islands,
      |       CAST(sum(en - st) AS BIGINT) AS covered
      |FROM g GROUP BY k""".stripMargin) { (s, d) =>
    val ord = Tables.orders(s, d)
    val ivs = ord.select(col("o_custkey"),
      datediff(col("o_orderdate"), to_date(lit("1970-01-01")))
        .cast("long").as("s"),
      (datediff(col("o_orderdate"), to_date(lit("1970-01-01"))).cast("long")
        + pmod(col("o_orderkey"), lit(20)) + lit(1L)).as("e"))
    IntervalExpand.intervalCoverage(ivs, "o_custkey", col("s"), col("e"))
      .select(col("o_custkey"), col("n_islands"),
        col("covered").cast("long").as("covered"))
  }

  /** Entity resolution, composed from the engine's pieces: a dirty
    * roster (every 7th customer gains a 1-edit variant record),
    * prefix blocking, within-block Levenshtein matching (≤ 2), and
    * connected-components clustering — the blocked-pairwise ER shape
    * (block sizes bound the quadratic step, exactly like q42's LSH
    * buckets). Names are md5-derived so matching is non-degenerate
    * AND deterministic; the oracle replays blocking, the q75-pinned
    * levenshtein, and a recursive-CTE closure (q137's pattern). */
  val q162EntityRes = q("q162_entity_resolution",
    "Blocked fuzzy-match entity resolution: block -> levenshtein edges -> connected components (north star: record dedup)",
    """WITH RECURSIVE
      |roster AS (
      |  SELECT c_custkey AS id,
      |         substr(md5(CAST(c_custkey AS VARCHAR)), 1, 10) AS nm
      |  FROM customer
      |  UNION ALL
      |  SELECT c_custkey + 1000000,
      |         substr(md5(CAST(c_custkey AS VARCHAR)), 1, 9) || 'x'
      |  FROM customer WHERE c_custkey % 7 = 0),
      |blk AS (SELECT id, nm, substr(nm, 1, 4) AS b FROM roster),
      |edges AS (SELECT a.id AS id_a, b.id AS id_b
      |  FROM blk a JOIN blk b ON a.b = b.b AND a.id < b.id
      |  WHERE levenshtein(a.nm, b.nm) <= 2),
      |verts AS (SELECT DISTINCT id FROM
      |  (SELECT id_a AS id FROM edges UNION SELECT id_b FROM edges)),
      |undirected AS (SELECT id_a AS s2, id_b AS d FROM edges
      |               UNION SELECT id_b, id_a FROM edges),
      |reach(id, r) AS (
      |  SELECT id, id FROM verts
      |  UNION
      |  SELECT reach.id, u.d FROM reach JOIN undirected u ON reach.r = u.s2),
      |cl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
      |SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
      |       CAST(sum(CASE WHEN id >= 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_variants
      |FROM cl GROUP BY cluster_id""".stripMargin) { (s, d) =>
    val c = Tables.customer(s, d)
    def nameOf(k: Column) = substring(md5(k.cast("string").cast("binary")), 1, 10)
    val base = c.select(col("c_custkey").cast("long").as("id"),
      nameOf(col("c_custkey")).as("nm"))
    val variants = c.filter(pmod(col("c_custkey"), lit(7)) === 0)
      .select((col("c_custkey") + lit(1000000L)).as("id"),
        concat(substring(nameOf(col("c_custkey")), 1, 9), lit("x")).as("nm"))
    val roster = base.unionByName(variants)
      .withColumn("blk", substring(col("nm"), 1, 4))
    val edges = roster.alias("a").join(roster.alias("b"),
      col("a.blk") === col("b.blk") && col("a.id") < col("b.id") &&
        levenshtein(col("a.nm"), col("b.nm")) <= 2)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    Dedup.connectedComponents(edges)
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        sum(when(col("id") >= 1000000L, 1L).otherwise(0L)).as("n_variants"))
  }

  /** The CMS family's incremental shape (q149/q159's discipline for
    * counts): two disjoint document batches append their d×w cell
    * partials to a persisted store, compaction folds them behind the
    * `_CURRENT` flip, and the probe answers heavy-hitter estimates
    * from ≤ d·w summed cells — additivity makes the merged store
    * equal the whole-stream sketch, so the oracle replays q125's
    * arithmetic against the raw corpus. */
  val q163CmsStore = q("q163_cms_store",
    "Heavy-hitter estimates from a persisted two-epoch count-min store, compacted then probed (north star: incremental profiling)",
    """WITH tok AS (
      |  SELECT unnest(regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+')) AS token
      |  FROM documents),
      |exact AS (
      |  SELECT token, count(*) AS exact_c FROM tok GROUP BY token
      |  ORDER BY exact_c DESC, token ASC LIMIT 20),
      |keys AS (
      |  SELECT token, r.range AS r,
      |         ('0x' || substr(md5(r.range || '_' || token), 1, 8))::BIGINT % 2048 AS b
      |  FROM tok, range(4) r),
      |sketch AS (SELECT r, b, count(*) AS c FROM keys GROUP BY r, b),
      |probe AS (
      |  SELECT e.token, e.exact_c, min(coalesce(s.c, 0)) AS cms_est
      |  FROM (exact e CROSS JOIN range(4) r)
      |  LEFT JOIN sketch s
      |    ON s.r = r.range
      |   AND s.b = ('0x' || substr(md5(r.range || '_' || e.token), 1, 8))::BIGINT % 2048
      |  GROUP BY e.token, e.exact_c)
      |SELECT token, exact_c, cms_est, cms_est >= exact_c AS est_ge_exact
      |FROM probe""".stripMargin) { (s, d) =>
    val (depth, width) = (4, 2048)
    val docs = Tables.documents(s, d)
    def toks(r: Int) = docs.filter(pmod(col("doc_id"), lit(2)) === r)
      .select(explode(TextFunctions.tokens(coalesce(col("text"), lit(""))))
        .as("token"))
    val root = freshScratch(s, "q163_cms")
    HeavyHitters.cmsIndexWrite(
      HeavyHitters.countMinSketch(toks(0), "token", depth, width),
      root, depth, width, "token")
    HeavyHitters.cmsIndexAppend(s, root,
      HeavyHitters.countMinSketch(toks(1), "token", depth, width),
      "day-2", depth, width, "token")
    val stats = Maintenance.compactStore(s, root)
    require(stats.folded.nonEmpty,
      s"q163: compaction folded nothing at $root — store build failed")
    val sketch = HeavyHitters.cmsIndexRead(s, root, depth, width, "token")
    val allToks = docs
      .select(explode(TextFunctions.tokens(coalesce(col("text"), lit(""))))
        .as("token"))
    val exact = allToks.groupBy(col("token"))
      .agg(count(lit(1)).as("exact_c"))
      .orderBy(col("exact_c").desc, col("token").asc)
      .limit(20)
    HeavyHitters.probe(exact, sketch, "token", depth, width)
      .select(col("token"), col("exact_c"), col("cms_est"),
        (col("cms_est") >= col("exact_c")).as("est_ge_exact"))
  }

  /** Cross-engine table digest ([[Audit.tableDigest]]): per-flag
    * order-independent checksums of lineitem — the "did the
    * migration preserve every row" audit, comparable across engines
    * because the row canonicalization (N / V<len>:<value>), the
    * 52-bit md5 row hash and the exact mod-2^61−1 hash sum all
    * replay verbatim (floats enter as BIGINT casts, the documented
    * canonicalization duty). The oracle recomputing the same digest
    * IS the use case. */
  val q164Digest = q("q164_table_digest",
    "Order-independent per-group table digests, recomputed exactly by the oracle (north star: migration auditing)",
    """WITH c AS (
      |  SELECT l_returnflag,
      |    ('0x' || substr(md5(
      |      CASE WHEN l_orderkey IS NULL THEN 'N'
      |           ELSE 'V' || length(CAST(l_orderkey AS VARCHAR)) || ':'
      |                || CAST(l_orderkey AS VARCHAR) END ||
      |      CASE WHEN l_linenumber IS NULL THEN 'N'
      |           ELSE 'V' || length(CAST(l_linenumber AS VARCHAR)) || ':'
      |                || CAST(l_linenumber AS VARCHAR) END ||
      |      CASE WHEN l_linestatus IS NULL THEN 'N'
      |           ELSE 'V' || length(l_linestatus) || ':' || l_linestatus END ||
      |      CASE WHEN l_quantity IS NULL THEN 'N'
      |           ELSE 'V' || length(CAST(CAST(l_quantity AS BIGINT) AS VARCHAR))
      |                || ':' || CAST(CAST(l_quantity AS BIGINT) AS VARCHAR) END ||
      |      CASE WHEN l_shipdate IS NULL THEN 'N'
      |           ELSE 'V' || length(CAST(CAST(l_shipdate AS DATE) AS VARCHAR))
      |                || ':' || CAST(CAST(l_shipdate AS DATE) AS VARCHAR) END
      |    ), 1, 13))::BIGINT AS h
      |  FROM lineitem)
      |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(CAST(sum(h) AS HUGEINT) % 2305843009213693951 AS BIGINT) AS digest
      |FROM c GROUP BY l_returnflag""".stripMargin) { (s, d) =>
    val li = Tables.lineitem(s, d)
      .withColumn("qty_b", col("l_quantity").cast("bigint"))
      .withColumn("ship_d", col("l_shipdate").cast("date"))
    Audit.tableDigest(li,
      Seq("l_orderkey", "l_linenumber", "l_linestatus", "qty_b", "ship_d"),
      groupCols = Seq("l_returnflag"))
  }

  /** Two-pass table comparison ([[Audit.diffByDigest]]): replica `b`
    * diverges from `a` in exactly one flag/status group (repriced
    * quantities) and drops another; the per-group digest compare must
    * localize both WITHOUT any row-level work — the groups that
    * disagree are the only ones a 100 TB drill-down would ever
    * re-read. The oracle recomputes both sides' digests and the
    * verdicts. */
  val q165DigestDiff = q("q165_digest_diff",
    "Digest-driven divergence localization between two table variants (north star: replication auditing)",
    """WITH canon AS (
      |  SELECT l_returnflag, l_linestatus,
      |    CASE WHEN l_orderkey IS NULL THEN 'N'
      |         ELSE 'V' || length(CAST(l_orderkey AS VARCHAR)) || ':'
      |              || CAST(l_orderkey AS VARCHAR) END ||
      |    CASE WHEN l_linenumber IS NULL THEN 'N'
      |         ELSE 'V' || length(CAST(l_linenumber AS VARCHAR)) || ':'
      |              || CAST(l_linenumber AS VARCHAR) END AS pre,
      |    CAST(l_quantity AS BIGINT) AS qb
      |  FROM lineitem),
      |ha AS (
      |  SELECT l_returnflag, l_linestatus,
      |    ('0x' || substr(md5(pre ||
      |      'V' || length(CAST(qb AS VARCHAR)) || ':' || CAST(qb AS VARCHAR)
      |    ), 1, 13))::BIGINT AS h
      |  FROM canon),
      |hb AS (
      |  SELECT l_returnflag, l_linestatus,
      |    ('0x' || substr(md5(pre ||
      |      'V' || length(CAST(qb2 AS VARCHAR)) || ':' || CAST(qb2 AS VARCHAR)
      |    ), 1, 13))::BIGINT AS h
      |  FROM (SELECT *, CASE WHEN l_returnflag = 'R' AND l_linestatus = 'F'
      |                       THEN qb + 1 ELSE qb END AS qb2 FROM canon)
      |  WHERE NOT (l_returnflag = 'N' AND l_linestatus = 'O')),
      |da AS (SELECT l_returnflag, l_linestatus,
      |              CAST(count(*) AS BIGINT) AS n_rows_a,
      |              CAST(CAST(sum(h) AS HUGEINT) % 2305843009213693951 AS BIGINT) AS dg
      |       FROM ha GROUP BY 1, 2),
      |db AS (SELECT l_returnflag, l_linestatus,
      |              CAST(count(*) AS BIGINT) AS n_rows_b,
      |              CAST(CAST(sum(h) AS HUGEINT) % 2305843009213693951 AS BIGINT) AS dg
      |       FROM hb GROUP BY 1, 2)
      |SELECT coalesce(da.l_returnflag, db.l_returnflag) AS l_returnflag,
      |       coalesce(da.l_linestatus, db.l_linestatus) AS l_linestatus,
      |       CASE WHEN da.dg IS NULL THEN 'only_b'
      |            WHEN db.dg IS NULL THEN 'only_a'
      |            WHEN da.dg = db.dg AND da.n_rows_a = db.n_rows_b THEN 'ok'
      |            ELSE 'mismatch' END AS status,
      |       coalesce(n_rows_a, 0) AS n_rows_a,
      |       coalesce(n_rows_b, 0) AS n_rows_b
      |FROM da FULL JOIN db
      |  ON da.l_returnflag = db.l_returnflag
      | AND da.l_linestatus = db.l_linestatus""".stripMargin) { (s, d) =>
    val li = Tables.lineitem(s, d)
      .withColumn("qb", col("l_quantity").cast("bigint"))
    val replica = li
      .withColumn("qb",
        when(col("l_returnflag") === "R" && col("l_linestatus") === "F",
          col("qb") + 1).otherwise(col("qb")))
      .filter(!(col("l_returnflag") === "N" && col("l_linestatus") === "O"))
    Audit.diffByDigest(li, replica,
      Seq("l_orderkey", "l_linenumber", "qb"),
      Seq("l_returnflag", "l_linestatus"))
  }

  /** Schema-evolution-tolerant ingest ([[graft.sources.Evolve]]): an
    * old batch (int keys, no amount column) and a new batch (long
    * keys, amount added) land in one directory tree; the evolved read
    * aligns both to the canonical schema — int WIDENS to long,
    * missing amount reads as typed NULL, undeclared columns drop —
    * and the aggregate over the union must equal deriving the same
    * report from the source table directly (the oracle). */
  val q166SchemaEvolution = q("q166_schema_evolution",
    "Evolved parquet read: widening casts + missing-as-NULL across batch generations (north star: long-lived ingest)",
    """SELECT o_orderpriority AS prio, CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_with_amount,
      |       CAST(sum(o_orderkey) AS BIGINT) AS sum_key
      |FROM orders GROUP BY o_orderpriority""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.types._
    val ord = Tables.orders(s, d)
    val root = freshScratch(s, "q166_evolve")
    // generation 1: int keys, no amount, plus an undeclared column
    ord.filter(pmod(col("o_orderkey"), lit(2)) === 0)
      .select(col("o_orderkey").cast("int").as("o_orderkey"),
        col("o_orderpriority").as("prio"),
        lit("legacy").as("undeclared"))
      .write.parquet(s"$root/b1")
    // generation 2: long keys, amount added
    ord.filter(pmod(col("o_orderkey"), lit(2)) === 1)
      .select(col("o_orderkey"), col("o_orderpriority").as("prio"),
        col("o_totalprice").as("amount"))
      .write.parquet(s"$root/b2")
    val canonical = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("prio", StringType),
      StructField("amount", DoubleType)))
    graft.sources.Evolve.readEvolved(s, Seq(s"$root/b1", s"$root/b2"),
      canonical)
      .groupBy(col("prio"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("amount").isNotNull, 1L).otherwise(0L)).as("n_with_amount"),
        sum(col("o_orderkey")).as("sum_key"))
  }

  /** The release-manifest capstone: one row that AUDITS a curated
    * release end-to-end, composing this round's components — PSL
    * per-site arrival caps choose the released set, the released doc
    * ids get an order-independent [[Audit.tableDigest]], the released
    * domains an HLL distinct estimate, the released text a CMS
    * top-token estimate next to its exact count. Every number
    * replays in the oracle — a release whose manifest another engine
    * can recompute is a release a consumer can trust. All scalar
    * stages ride the plan as broadcast one-row aggregates. */
  val q167ReleaseManifest = q("q167_release_manifest",
    "Curated-release manifest: caps -> id digest + HLL domains + CMS top token, all oracle-replayed (north star: release auditing)",
    s"""WITH ${pslHostSql(10)},
      |$pslDomainSql,
      |r AS (SELECT domain, doc_id,
      |             row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS rk
      |      FROM d),
      |kept AS (SELECT doc_id, domain FROM r WHERE rk <= 20),
      |rel AS (SELECT doc.doc_id, doc.text, kept.domain
      |        FROM documents doc JOIN kept ON doc.doc_id = kept.doc_id),
      |dg AS (SELECT CAST(CAST(sum(h) AS HUGEINT) % 2305843009213693951 AS BIGINT) AS release_digest
      |       FROM (SELECT ('0x' || substr(md5(
      |               'V' || length(CAST(doc_id AS VARCHAR)) || ':'
      |               || CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT AS h
      |             FROM rel)),
      |hh AS (SELECT ('0x' || substr(md5(domain), 1, 13))::BIGINT AS h52 FROM rel),
      |rr AS (SELECT h52 // 8796093022208 AS idx, h52 % 8796093022208 AS rem FROM hh),
      |rho AS (SELECT idx, CASE WHEN rem = 0 THEN 44
      |                         ELSE 44 - length(printf('%b', rem)) END AS rho FROM rr),
      |regs AS (SELECT idx, max(rho) AS rg FROM rho GROUP BY idx),
      |sums AS (SELECT sum(1::BIGINT << (52 - rg))
      |                + (512 - count(*)) * (1::BIGINT << 52) AS sumsc,
      |               512 - count(*) AS zeros FROM regs),
      |hll AS (SELECT round(CASE WHEN (CAST($HllC AS DOUBLE) / CAST(sumsc AS DOUBLE))
      |                               <= CAST(1280 AS DOUBLE) AND zeros > 0
      |          THEN CAST(512 AS DOUBLE) * ln(CAST(512 AS DOUBLE) / CAST(zeros AS DOUBLE))
      |          ELSE CAST($HllC AS DOUBLE) / CAST(sumsc AS DOUBLE) END, 4) AS hll_domains_est
      |        FROM sums),
      |tok AS (SELECT unnest(regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+')) AS token
      |        FROM rel),
      |top1 AS (SELECT token, CAST(count(*) AS BIGINT) AS c FROM tok
      |         GROUP BY token ORDER BY c DESC, token LIMIT 1),
      |keys AS (SELECT token, r2.range AS r2r,
      |                ('0x' || substr(md5(r2.range || '_' || token), 1, 8))::BIGINT % 2048 AS b
      |         FROM tok, range(4) r2),
      |cms AS (SELECT r2r, b, count(*) AS c FROM keys GROUP BY r2r, b),
      |pe AS (SELECT t.token AS top_token, t.c AS top_token_exact,
      |              min(coalesce(s.c, 0)) AS top_token_est
      |       FROM (top1 t CROSS JOIN range(4) r3)
      |       LEFT JOIN cms s ON s.r2r = r3.range
      |        AND s.b = ('0x' || substr(md5(r3.range || '_' || t.token), 1, 8))::BIGINT % 2048
      |       GROUP BY t.token, t.c)
      |SELECT (SELECT count(*) FROM documents) AS n_input,
      |       (SELECT count(*) FROM rel) AS n_released,
      |       dg.release_digest, hll.hll_domains_est,
      |       pe.top_token, pe.top_token_exact, pe.top_token_est
      |FROM dg CROSS JOIN hll CROSS JOIN pe""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val withDom = docs.select(col("doc_id"), col("text"),
      Psl.registeredDomain(pslDemoHost(10)).as("domain"))
    val keptIds = Curation.capPerKeyArrival(withDom, col("domain"),
      col("doc_id"), maxPerKey = 20)
    val rel = withDom.join(keptIds.select(col("id").as("doc_id")),
      Seq("doc_id"), "left_semi")
    val digest = Audit.tableDigest(rel, Seq("doc_id"))
      .select(col("digest").as("release_digest"))
    val hll = Cardinality.hllSketch(rel, lit("all"), col("domain"), HllP)
      .select(round(Cardinality.hllEstimate(col("regs"), HllP), 4)
        .as("hll_domains_est"))
    val toks = rel.select(
      explode(TextFunctions.tokens(coalesce(col("text"), lit(""))))
        .as("token"))
    val top1 = toks.groupBy(col("token"))
      .agg(count(lit(1)).as("top_token_exact"))
      .orderBy(col("top_token_exact").desc, col("token").asc).limit(1)
    val sketch = HeavyHitters.countMinSketch(toks, "token", 4, 2048)
    val probed = HeavyHitters.probe(top1, sketch, "token", 4, 2048)
      .select(col("token").as("top_token"), col("top_token_exact"),
        col("cms_est").as("top_token_est"))
    docs.agg(count(lit(1)).as("n_input"))
      .crossJoin(broadcast(rel.agg(count(lit(1)).as("n_released"))))
      .crossJoin(broadcast(digest))
      .crossJoin(broadcast(hll))
      .crossJoin(broadcast(probed))
  }

  /** Triangle census over q157's planted link graph
    * ([[Centrality.triangleCount]]): degree-ordered orientation makes
    * each triangle count exactly once at its lowest-degree vertex and
    * bounds wedge fan-out by arboricity (the celebrity-node guard).
    * The count is exact integer work; the oracle recomputes it with
    * the canonical three-join over undirected pairs — same number,
    * naive shape. */
  val q168Triangles = q("q168_triangles",
    "Exact triangle count over the planted link graph via degree-ordered wedges (north star: graph analytics)",
    """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM documents),
      |e0 AS (SELECT doc_id AS src, (doc_id * 31 + j * 17 + 7) % nn AS dst
      |       FROM documents CROSS JOIN n
      |            CROSS JOIN (VALUES (CAST(0 AS BIGINT)), (1), (2)) AS t(j)
      |       WHERE doc_id % 10 <> 0),
      |u AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |      FROM e0 WHERE src <> dst),
      |verts AS (SELECT count(DISTINCT v) AS n_vertices FROM
      |  (SELECT a AS v FROM u UNION ALL SELECT b FROM u)),
      |tri AS (SELECT count(*) AS n_triangles
      |        FROM u e1 JOIN u e2 ON e2.a = e1.a AND e2.b > e1.b
      |             JOIN u e3 ON e3.a = e1.b AND e3.b = e2.b)
      |SELECT CAST(verts.n_vertices AS BIGINT) AS n_vertices,
      |       (SELECT CAST(count(*) AS BIGINT) FROM u) AS n_edges,
      |       CAST(tri.n_triangles AS BIGINT) AS n_triangles
      |FROM verts CROSS JOIN tri""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val nDf = docs.agg(count(lit(1)).as("nn"))
    val e = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
      .crossJoin(broadcast(nDf))
      .select(col("doc_id").as("src"),
        explode(array(lit(0L), lit(1L), lit(2L))).as("j"), col("nn"))
      .select(col("src"),
        pmod(col("src") * lit(31L) + col("j") * lit(17L) + lit(7L),
          col("nn")).as("dst"))
    Centrality.triangleCount(e)
  }

  /** First-order Markov transition matrix over per-user event
    * sequences — the path-analysis companion to q133's funnel: which
    * event follows which, with per-source probabilities. The lag
    * window partitions by USER (bounded by a user's event count,
    * never stream-sized — q37's sessionize discipline); transition
    * counts partial-aggregate and the per-source totals join back as
    * a ≤|types|²-row broadcast. Probabilities round at 4dp over
    * exact integer ratios. */
  val q169Transitions = q("q169_markov_transitions",
    "Per-user event-sequence transition matrix with per-source probabilities (north star: behavioral analytics)",
    """WITH seq AS (
      |  SELECT user_id, event_type,
      |         lead(event_type) OVER (PARTITION BY user_id
      |                                ORDER BY ts, event_id) AS next_type
      |  FROM events WHERE user_id IS NOT NULL),
      |tr AS (SELECT event_type AS from_type, next_type AS to_type,
      |              CAST(count(*) AS BIGINT) AS n
      |       FROM seq WHERE next_type IS NOT NULL
      |       GROUP BY event_type, next_type),
      |tot AS (SELECT from_type, sum(n) AS t FROM tr GROUP BY from_type)
      |SELECT tr.from_type, tr.to_type, tr.n,
      |       round(CAST(tr.n AS DOUBLE) / CAST(tot.t AS DOUBLE), 4) AS p
      |FROM tr JOIN tot ON tr.from_type = tot.from_type""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d).filter(col("user_id").isNotNull)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val seq = ev.select(col("user_id"), col("event_type"),
      lead(col("event_type"), 1).over(w).as("next_type"))
    val tr = seq.filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"),
        col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val tot = tr.groupBy(col("from_type")).agg(sum(col("n")).as("t"))
    tr.join(broadcast(tot), Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n").cast("double") / col("t").cast("double"), 4).as("p"))
  }

  /** Exact-k weighted sampling ([[Splits.weightedSampleK]]):
    * Efraimidis–Spirakis keys u^(1/w) over md5-uniform u, top-50 by
    * rounded key — the fixed-size length-weighted sample a mixture
    * recipe needs where q73's Bernoulli filter has size variance.
    * The oracle replays the key arithmetic and the cut. */
  val q170WeightedK = q("q170_weighted_sample_k",
    "Fixed-size weighted sample without replacement (A-ES keys, deterministic) (north star: mixture sampling)",
    """WITH w AS (SELECT doc_id, n_chars FROM documents WHERE n_chars > 0),
      |k AS (SELECT doc_id,
      |  round(pow((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT + 1)
      |            / 4503599627370496.0,
      |        1.0 / n_chars), 9) AS es_key
      |  FROM w)
      |SELECT doc_id, es_key FROM k
      |ORDER BY es_key DESC, doc_id LIMIT 50""".stripMargin) { (s, d) =>
    Splits.weightedSampleK(Tables.documents(s, d), "doc_id",
      col("n_chars"), k = 50)
  }

  /** The audit family's incremental shape: two disjoint lineitem
    * batches append their per-flag digest partials to a persisted
    * ledger, compaction folds them behind the `_CURRENT` flip, and
    * the probe answers per-group checksums from ≤ groups × epochs
    * tiny rows — modular additivity makes the folded ledger equal
    * the whole-table q164 digest, which is exactly what the oracle
    * recomputes. Verification against a replica becomes a ledger
    * read, never a re-hash of the table. */
  val q171DigestLedger = q("q171_digest_ledger",
    "Per-group digests from a persisted two-epoch ledger, compacted then probed (north star: continuous auditing)",
    """WITH c AS (
      |  SELECT l_returnflag,
      |    ('0x' || substr(md5(
      |      CASE WHEN l_orderkey IS NULL THEN 'N'
      |           ELSE 'V' || length(CAST(l_orderkey AS VARCHAR)) || ':'
      |                || CAST(l_orderkey AS VARCHAR) END ||
      |      CASE WHEN l_linenumber IS NULL THEN 'N'
      |           ELSE 'V' || length(CAST(l_linenumber AS VARCHAR)) || ':'
      |                || CAST(l_linenumber AS VARCHAR) END ||
      |      CASE WHEN l_linestatus IS NULL THEN 'N'
      |           ELSE 'V' || length(l_linestatus) || ':' || l_linestatus END
      |    ), 1, 13))::BIGINT AS h
      |  FROM lineitem)
      |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(CAST(sum(h) AS HUGEINT) % 2305843009213693951 AS BIGINT) AS digest
      |FROM c GROUP BY l_returnflag""".stripMargin) { (s, d) =>
    val cols = Seq("l_orderkey", "l_linenumber", "l_linestatus")
    val li = Tables.lineitem(s, d)
    def partial(r: Int) = Audit.digestPartial(
      li.filter(pmod(col("l_orderkey"), lit(2)) === r), cols,
      col("l_returnflag"))
    val root = freshScratch(s, "q171_ledger")
    Audit.digestIndexWrite(partial(0), root, cols, "l_returnflag")
    Audit.digestIndexAppend(s, root, partial(1), "day-2", cols,
      "l_returnflag")
    val stats = Maintenance.compactStore(s, root)
    require(stats.folded.nonEmpty,
      s"q171: compaction folded nothing at $root — ledger build failed")
    Audit.digestIndexRead(s, root, cols, "l_returnflag")
      .select(col("group").as("l_returnflag"), col("n_rows"), col("digest"))
  }

  /** The coverage family's incremental shape: interval islands are a
    * MERGEABLE EXACT SUMMARY (islands(A∪B) = islands(islands(A) ∪
    * islands(B))), so q161's per-customer entitlement windows split
    * across two epochs of a persisted islands store, compact behind
    * the `_CURRENT` flip, and the probe's coverage report must equal
    * the all-at-once computation — the q161 oracle replayed against a
    * store that never kept a raw interval. */
  val q172IslandsStore = q("q172_islands_store",
    "Coverage from a persisted two-epoch islands store, compacted then probed (north star: incremental coverage)",
    """WITH iv AS (
      |  SELECT o_custkey AS k,
      |         CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS s,
      |         CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
      |           + o_orderkey % 20 + 1 AS e
      |  FROM orders),
      |m AS (SELECT k, s, e,
      |      max(e) OVER (PARTITION BY k ORDER BY s, e
      |                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
      |      FROM iv),
      |fl AS (SELECT k, s, e,
      |       CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END AS f FROM m),
      |isl AS (SELECT k, s, e,
      |        sum(f) OVER (PARTITION BY k ORDER BY s, e
      |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isle
      |        FROM fl),
      |g AS (SELECT k, isle, min(s) AS st, max(e) AS en FROM isl GROUP BY k, isle)
      |SELECT k AS o_custkey, CAST(count(*) AS BIGINT) AS n_islands,
      |       CAST(sum(en - st) AS BIGINT) AS covered
      |FROM g GROUP BY k""".stripMargin) { (s, d) =>
    val ord = Tables.orders(s, d)
    def ivs(r: Int) = ord.filter(pmod(col("o_orderkey"), lit(2)) === r)
      .select(col("o_custkey"),
        datediff(col("o_orderdate"), to_date(lit("1970-01-01")))
          .cast("long").as("s"),
        (datediff(col("o_orderdate"), to_date(lit("1970-01-01"))).cast("long")
          + pmod(col("o_orderkey"), lit(20)) + lit(1L)).as("e"))
    val root = freshScratch(s, "q172_islands")
    IntervalExpand.islandsIndexWrite(ivs(0), root, "o_custkey",
      col("s"), col("e"))
    IntervalExpand.islandsIndexAppend(s, root, ivs(1), "o_custkey",
      col("s"), col("e"), "day-2")
    val stats = Maintenance.compactStore(s, root)
    require(stats.folded.nonEmpty,
      s"q172: compaction folded nothing at $root — store build failed")
    IntervalExpand.islandsIndexRead(s, root, "o_custkey")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_islands"),
        sum(col("island_end") - col("island_start")).as("covered"))
  }

  /** Merit-ranked curation, composed: q157's fixed-point PageRank
    * scores every document, q145's PSL machinery assigns its
    * registered domain, and [[Curation.capPerKeyByScore]] keeps each
    * site's THREE most authoritative pages — "no site dominates, and
    * what survives is each site's best". Authority ranks are exact
    * longs, so the oracle replays the whole composition: three
    * PageRank iterations, the real PSL algorithm, and the per-domain
    * cut. Bounded-heap cap — never a per-domain window sort. */
  val q173AuthorityCap = q("q173_authority_cap",
    "Per-domain cap by PageRank authority: keep each site's best pages (north star: merit curation)",
    s"""WITH n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM documents),
      |v AS (SELECT doc_id FROM documents),
      |e AS (SELECT doc_id AS src, (doc_id * 31 + j * 17 + 7) % nn AS dst
      |      FROM documents CROSS JOIN n
      |           CROSS JOIN (VALUES (CAST(0 AS BIGINT)), (1), (2)) AS t(j)
      |      WHERE doc_id % 10 <> 0),
      |outd AS (SELECT src, CAST(count(*) AS BIGINT) AS od FROM e GROUP BY src),
      |pr0 AS (SELECT doc_id, 1000000000000 // nn AS pr FROM v CROSS JOIN n),
      |dang1 AS (SELECT coalesce(sum(pr), 0) AS dg FROM pr0
      |          LEFT JOIN outd ON pr0.doc_id = outd.src WHERE od IS NULL),
      |in1 AS (SELECT e.dst AS doc_id, sum(pr0.pr // outd.od) AS s
      |        FROM e JOIN pr0 ON e.src = pr0.doc_id
      |             JOIN outd ON e.src = outd.src GROUP BY e.dst),
      |pr1 AS (SELECT v.doc_id,
      |               (15 * (1000000000000 // nn)) // 100
      |               + (85 * (coalesce(s, 0) + dg // nn)) // 100 AS pr
      |        FROM v CROSS JOIN n CROSS JOIN dang1
      |        LEFT JOIN in1 ON v.doc_id = in1.doc_id),
      |dang2 AS (SELECT coalesce(sum(pr), 0) AS dg FROM pr1
      |          LEFT JOIN outd ON pr1.doc_id = outd.src WHERE od IS NULL),
      |in2 AS (SELECT e.dst AS doc_id, sum(pr1.pr // outd.od) AS s
      |        FROM e JOIN pr1 ON e.src = pr1.doc_id
      |             JOIN outd ON e.src = outd.src GROUP BY e.dst),
      |pr2 AS (SELECT v.doc_id,
      |               (15 * (1000000000000 // nn)) // 100
      |               + (85 * (coalesce(s, 0) + dg // nn)) // 100 AS pr
      |        FROM v CROSS JOIN n CROSS JOIN dang2
      |        LEFT JOIN in2 ON v.doc_id = in2.doc_id),
      |dang3 AS (SELECT coalesce(sum(pr), 0) AS dg FROM pr2
      |          LEFT JOIN outd ON pr2.doc_id = outd.src WHERE od IS NULL),
      |in3 AS (SELECT e.dst AS doc_id, sum(pr2.pr // outd.od) AS s
      |        FROM e JOIN pr2 ON e.src = pr2.doc_id
      |             JOIN outd ON e.src = outd.src GROUP BY e.dst),
      |pr3 AS (SELECT v.doc_id,
      |               (15 * (1000000000000 // nn)) // 100
      |               + (85 * (coalesce(s, 0) + dg // nn)) // 100 AS pr
      |        FROM v CROSS JOIN n CROSS JOIN dang3
      |        LEFT JOIN in3 ON v.doc_id = in3.doc_id),
      |${pslHostSql(10)},
      |$pslDomainSql,
      |scored AS (SELECT d.domain, d.doc_id, pr3.pr
      |           FROM d JOIN pr3 ON d.doc_id = pr3.doc_id),
      |rker AS (SELECT domain, doc_id, pr,
      |                row_number() OVER (PARTITION BY domain
      |                                   ORDER BY pr DESC, doc_id) AS rk
      |         FROM scored)
      |-- pr CAST: DuckDB sum()/'//' promote it to HUGEINT; the driver's
      |-- hash gate is TYPE-sensitive, so pin the engine's BIGINT
      |SELECT domain, doc_id, CAST(rk AS BIGINT) AS rk, CAST(pr AS BIGINT) AS pr
      |FROM rker WHERE rk <= 3""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val nDf = docs.agg(count(lit(1)).as("nn"))
    val e = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
      .crossJoin(broadcast(nDf))
      .select(col("doc_id").as("src"),
        explode(array(lit(0L), lit(1L), lit(2L))).as("j"), col("nn"))
      .select(col("src"),
        pmod(col("src") * lit(31L) + col("j") * lit(17L) + lit(7L),
          col("nn")).as("dst"))
    val pr = Centrality.pageRankFixedPoint(
      docs.select(col("doc_id").as("id")), e, iterations = 3)
      .select(col("id").as("doc_id"), col("pr"))
    val scored = docs.select(col("doc_id"),
      Psl.registeredDomain(pslDemoHost(10)).as("domain"))
      .join(pr, Seq("doc_id"))
    val kept = Curation.capPerKeyByScore(scored, col("domain"),
      col("doc_id"), col("pr"), maxPerKey = 3)
    kept.select(col("key").as("domain"), col("id").as("doc_id"), col("rk"))
      .join(pr.select(col("doc_id"), col("pr")), Seq("doc_id"))
      .select(col("domain"), col("doc_id"), col("rk"), col("pr"))
  }

  /** Incremental entity resolution, block-scoped (q162's incremental
    * shape): a batch of new records only RE-RESOLVES the blocks it
    * touches — and because every match edge lives within one block,
    * that is provably EXACT, not an approximation: a vertex in an
    * affected block has all its edges inside that block, so the
    * sub-ER equals the full rebuild restricted to those blocks
    * (which is precisely what the oracle computes). History blocks a
    * batch never touches pay nothing. */
  val q174IncrementalEr = q("q174_incremental_er",
    "Block-scoped incremental entity resolution == full rebuild on affected blocks (north star: record dedup, incremental)",
    """WITH RECURSIVE
      |roster AS (
      |  SELECT c_custkey AS id,
      |         substr(md5(CAST(c_custkey AS VARCHAR)), 1, 10) AS nm
      |  FROM customer
      |  UNION ALL
      |  SELECT c_custkey + 1000000,
      |         substr(md5(CAST(c_custkey AS VARCHAR)), 1, 9) || 'x'
      |  FROM customer WHERE c_custkey % 7 = 0),
      |blk AS (SELECT id, nm, substr(nm, 1, 4) AS b FROM roster),
      |edges AS (SELECT a.id AS id_a, b.id AS id_b
      |  FROM blk a JOIN blk b ON a.b = b.b AND a.id < b.id
      |  WHERE levenshtein(a.nm, b.nm) <= 2),
      |verts AS (SELECT DISTINCT id FROM
      |  (SELECT id_a AS id FROM edges UNION SELECT id_b FROM edges)),
      |undirected AS (SELECT id_a AS s2, id_b AS d FROM edges
      |               UNION SELECT id_b, id_a FROM edges),
      |reach(id, r) AS (
      |  SELECT id, id FROM verts
      |  UNION
      |  SELECT reach.id, u.d FROM reach JOIN undirected u ON reach.r = u.s2),
      |cl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
      |affected AS (SELECT DISTINCT b FROM blk WHERE id >= 1000000)
      |SELECT cl.id, cl.cluster_id
      |FROM cl JOIN blk ON cl.id = blk.id
      |JOIN affected ON blk.b = affected.b""".stripMargin) { (s, d) =>
    val c = Tables.customer(s, d)
    def nameOf(k: Column) = substring(md5(k.cast("string").cast("binary")), 1, 10)
    val history = c.select(col("c_custkey").cast("long").as("id"),
      nameOf(col("c_custkey")).as("nm"))
    val batch = c.filter(pmod(col("c_custkey"), lit(7)) === 0)
      .select((col("c_custkey") + lit(1000000L)).as("id"),
        concat(substring(nameOf(col("c_custkey")), 1, 9), lit("x")).as("nm"))
    def withBlk(df: DataFrame) = df.withColumn("blk", substring(col("nm"), 1, 4))
    val affected = withBlk(batch).select(col("blk")).distinct()
    // ONLY affected blocks re-resolve: history pays nothing elsewhere
    val sub = withBlk(history.unionByName(batch))
      .join(broadcast(affected), Seq("blk"), "left_semi")
    val edges = sub.alias("a").join(sub.alias("b"),
      col("a.blk") === col("b.blk") && col("a.id") < col("b.id") &&
        levenshtein(col("a.nm"), col("b.nm")) <= 2)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    Dedup.connectedComponents(edges)
      .select(col("id"), col("cluster_id"))
  }

  /** Erasure PROVEN, not assumed: after q160's targeted delete, the
    * surviving table is digest-compared against the straight filter
    * of the source — [[Audit.diffByDigest]] must report `ok` for
    * every partition, making "the rewrite lost nothing and leaked
    * nothing" a checked property instead of a code-review claim. The
    * oracle recomputes both sides' digests and the verdicts. */
  val q175ErasureAudit = q("q175_erasure_audit",
    "Targeted delete verified by per-partition digest compare — every group must read ok (north star: auditable erasure)",
    """WITH victims AS (SELECT DISTINCT user_id FROM events
      |                 WHERE user_id % 37 = 0),
      |expect AS (SELECT event_id, user_id, event_type FROM events
      |           WHERE user_id IS NULL OR user_id % 37 <> 0),
      |h AS (
      |  SELECT event_type,
      |    ('0x' || substr(md5(
      |      CASE WHEN event_id IS NULL THEN 'N'
      |           ELSE 'V' || length(CAST(event_id AS VARCHAR)) || ':'
      |                || CAST(event_id AS VARCHAR) END ||
      |      CASE WHEN user_id IS NULL THEN 'N'
      |           ELSE 'V' || length(CAST(user_id AS VARCHAR)) || ':'
      |                || CAST(user_id AS VARCHAR) END
      |    ), 1, 13))::BIGINT AS hh
      |  FROM expect)
      |SELECT event_type, 'ok' AS status,
      |       CAST(count(*) AS BIGINT) AS n_rows_a,
      |       CAST(count(*) AS BIGINT) AS n_rows_b
      |FROM h GROUP BY event_type""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val root = freshScratch(s, "q175_erase")
    ev.write.partitionBy("event_type").parquet(root)
    val victims = ev.filter(pmod(col("user_id"), lit(37)) === 0)
      .select(col("user_id")).distinct()
    Merge.deleteWrite(s, root, victims, Seq("user_id"), "event_type")
    val actual = s.read.parquet(root)
    val expected = ev.filter(
      col("user_id").isNull || pmod(col("user_id"), lit(37)) =!= 0)
    Audit.diffByDigest(expected, actual, Seq("event_id", "user_id"),
      Seq("event_type"))
  }

  /** The KMV family's incremental shape (q159's discipline for
    * bottom-k sketches): profile two disjoint event batches into a
    * persisted sketch store, compact behind the atomic `_CURRENT`
    * flip, and answer per-type distinct-user estimates from the
    * STORE — bottom-k closure makes the union-and-retruncate fold
    * equal the whole-corpus sketch, so the oracle replays q131's
    * full-corpus bottom-k arithmetic against the raw events. */
  val q176KmvStore = q("q176_kmv_store",
    "Distinct-user estimates from a persisted two-epoch KMV bottom-k store, compacted then probed (north star: incremental profiling)",
    """WITH h AS (
      |  SELECT DISTINCT event_type,
      |         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))::BIGINT AS h52
      |  FROM events WHERE user_id IS NOT NULL),
      |r AS (
      |  SELECT event_type, h52,
      |         row_number() OVER (PARTITION BY event_type ORDER BY h52) AS rn
      |  FROM h),
      |s AS (
      |  SELECT event_type, count(*) AS n_kept,
      |         max(CASE WHEN rn = 32 THEN h52 END) AS h_k
      |  FROM r WHERE rn <= 32 GROUP BY event_type),
      |x AS (SELECT event_type, count(DISTINCT user_id) AS n_exact
      |      FROM events GROUP BY event_type)
      |SELECT x.event_type, x.n_exact,
      |       round(CASE WHEN s.n_kept < 32 THEN CAST(s.n_kept AS DOUBLE)
      |             ELSE 31.0 / (CAST(s.h_k AS DOUBLE) / 4503599627370496.0)
      |             END, 4) AS kmv_est
      |FROM x JOIN s ON x.event_type = s.event_type""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d).filter(col("user_id").isNotNull)
    val root = freshScratch(s, "q176_kmv")
    def epochSketch(r: Int) = Cardinality.kmvSketch(
      ev.filter(pmod(col("user_id"), lit(2)) === r),
      col("event_type"), col("user_id"), k = 32)
    Cardinality.kmvIndexWrite(epochSketch(0), root, 32, "user_id")
    Cardinality.kmvIndexAppend(s, root, epochSketch(1), "day-2", 32,
      "user_id")
    val stats = Maintenance.compactStore(s, root)
    require(stats.folded.nonEmpty,
      s"q176: compaction folded nothing at $root — store build failed")
    val exact = ev.groupBy(col("event_type").as("group"))
      .agg(count_distinct(col("user_id")).as("n_exact"))
    Cardinality.kmvIndexRead(s, root, 32, "user_id")
      .join(exact, Seq("group"))
      .select(col("group").as("event_type"), col("n_exact"),
        round(Cardinality.kmvEstimate(col("sketch"), 32), 4).as("kmv_est"))
  }

  /** Personalized PageRank
    * ([[Centrality.personalizedPageRankFixedPoint]]): authority
    * relative to a hand-picked seed set (every 25th document) over
    * q157's planted link graph — "more pages like these". Teleport and
    * dangling mass go to seeds only; same fixed-point integer
    * arithmetic, so the oracle unrolls the identical three iterations
    * and hash-matches the raw longs. */
  val q177Ppr = q("q177_personalized_pagerank",
    "Personalized PageRank: seed-restricted teleport, 3 fixed-point iterations, bit-exact (north star: seed-guided curation)",
    """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM documents),
      |sd AS (SELECT doc_id, CASE WHEN doc_id % 25 = 0 THEN 1 ELSE 0 END AS is_seed
      |       FROM documents),
      |ns AS (SELECT CAST(count(*) AS BIGINT) AS ns FROM documents
      |       WHERE doc_id % 25 = 0),
      |e AS (SELECT doc_id AS src, (doc_id * 31 + j * 17 + 7) % nn AS dst
      |      FROM documents CROSS JOIN n
      |           CROSS JOIN (VALUES (CAST(0 AS BIGINT)), (1), (2)) AS t(j)
      |      WHERE doc_id % 10 <> 0),
      |outd AS (SELECT src, CAST(count(*) AS BIGINT) AS od FROM e GROUP BY src),
      |pr0 AS (SELECT doc_id, CASE WHEN is_seed = 1
      |                            THEN 1000000000000 // ns ELSE 0 END AS pr
      |        FROM sd CROSS JOIN ns),
      |dang1 AS (SELECT coalesce(sum(pr), 0) AS dg FROM pr0
      |          LEFT JOIN outd ON pr0.doc_id = outd.src WHERE od IS NULL),
      |in1 AS (SELECT e.dst AS doc_id, sum(pr0.pr // outd.od) AS s
      |        FROM e JOIN pr0 ON e.src = pr0.doc_id
      |             JOIN outd ON e.src = outd.src GROUP BY e.dst),
      |pr1 AS (SELECT sd.doc_id,
      |               (15 * (CASE WHEN is_seed = 1
      |                           THEN 1000000000000 // ns ELSE 0 END)) // 100
      |               + (85 * (coalesce(s, 0) + (dg // ns) * is_seed)) // 100 AS pr
      |        FROM sd CROSS JOIN ns CROSS JOIN dang1
      |        LEFT JOIN in1 ON sd.doc_id = in1.doc_id),
      |dang2 AS (SELECT coalesce(sum(pr), 0) AS dg FROM pr1
      |          LEFT JOIN outd ON pr1.doc_id = outd.src WHERE od IS NULL),
      |in2 AS (SELECT e.dst AS doc_id, sum(pr1.pr // outd.od) AS s
      |        FROM e JOIN pr1 ON e.src = pr1.doc_id
      |             JOIN outd ON e.src = outd.src GROUP BY e.dst),
      |pr2 AS (SELECT sd.doc_id,
      |               (15 * (CASE WHEN is_seed = 1
      |                           THEN 1000000000000 // ns ELSE 0 END)) // 100
      |               + (85 * (coalesce(s, 0) + (dg // ns) * is_seed)) // 100 AS pr
      |        FROM sd CROSS JOIN ns CROSS JOIN dang2
      |        LEFT JOIN in2 ON sd.doc_id = in2.doc_id),
      |dang3 AS (SELECT coalesce(sum(pr), 0) AS dg FROM pr2
      |          LEFT JOIN outd ON pr2.doc_id = outd.src WHERE od IS NULL),
      |in3 AS (SELECT e.dst AS doc_id, sum(pr2.pr // outd.od) AS s
      |        FROM e JOIN pr2 ON e.src = pr2.doc_id
      |             JOIN outd ON e.src = outd.src GROUP BY e.dst),
      |pr3 AS (SELECT sd.doc_id,
      |               (15 * (CASE WHEN is_seed = 1
      |                           THEN 1000000000000 // ns ELSE 0 END)) // 100
      |               + (85 * (coalesce(s, 0) + (dg // ns) * is_seed)) // 100 AS pr
      |        FROM sd CROSS JOIN ns CROSS JOIN dang3
      |        LEFT JOIN in3 ON sd.doc_id = in3.doc_id)
      |-- CAST: DuckDB sum()/'//' promote pr to HUGEINT; the driver's
      |-- hash gate is TYPE-sensitive, so pin the engine's BIGINT
      |SELECT doc_id, CAST(pr AS BIGINT) AS pr FROM pr3""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val nDf = docs.agg(count(lit(1)).as("nn"))
    val e = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
      .crossJoin(broadcast(nDf))
      .select(col("doc_id").as("src"),
        explode(array(lit(0L), lit(1L), lit(2L))).as("j"), col("nn"))
      .select(col("src"),
        pmod(col("src") * lit(31L) + col("j") * lit(17L) + lit(7L),
          col("nn")).as("dst"))
    val seeds = docs.filter(pmod(col("doc_id"), lit(25)) === 0)
      .select(col("doc_id").as("id"))
    Centrality.personalizedPageRankFixedPoint(
      docs.select(col("doc_id").as("id")), e, seeds, iterations = 3)
      .select(col("id").as("doc_id"), col("pr"))
  }

  /** Store time travel ([[EpochIndex.readAsOf]]): compact the KMV
    * store once on the first batch (version 1), again after a second
    * batch (version 2, version 1 retained), then probe BOTH — the
    * as-of-v1 estimates must equal a fresh sketch of batch 1 alone,
    * however much the live store has grown. The reproducibility story
    * behind release manifests: every compaction is a named immutable
    * snapshot inside the retention window. */
  val q178TimeTravel = q("q178_store_time_travel",
    "KMV store probed as-of an old compaction version next to the live version (north star: reproducible releases)",
    """WITH h0 AS (
      |  SELECT DISTINCT event_type,
      |         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))::BIGINT AS h52
      |  FROM events WHERE user_id IS NOT NULL AND user_id % 2 = 0),
      |r0 AS (SELECT event_type, h52,
      |       row_number() OVER (PARTITION BY event_type ORDER BY h52) AS rn
      |       FROM h0),
      |s0 AS (SELECT event_type, count(*) AS n_kept,
      |       max(CASE WHEN rn = 32 THEN h52 END) AS h_k
      |       FROM r0 WHERE rn <= 32 GROUP BY event_type),
      |e0 AS (SELECT 'v1' AS version, event_type,
      |       round(CASE WHEN n_kept < 32 THEN CAST(n_kept AS DOUBLE)
      |             ELSE 31.0 / (CAST(h_k AS DOUBLE) / 4503599627370496.0)
      |             END, 4) AS kmv_est
      |       FROM s0),
      |h1 AS (
      |  SELECT DISTINCT event_type,
      |         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))::BIGINT AS h52
      |  FROM events WHERE user_id IS NOT NULL),
      |r1 AS (SELECT event_type, h52,
      |       row_number() OVER (PARTITION BY event_type ORDER BY h52) AS rn
      |       FROM h1),
      |s1 AS (SELECT event_type, count(*) AS n_kept,
      |       max(CASE WHEN rn = 32 THEN h52 END) AS h_k
      |       FROM r1 WHERE rn <= 32 GROUP BY event_type),
      |e1 AS (SELECT 'current' AS version, event_type,
      |       round(CASE WHEN n_kept < 32 THEN CAST(n_kept AS DOUBLE)
      |             ELSE 31.0 / (CAST(h_k AS DOUBLE) / 4503599627370496.0)
      |             END, 4) AS kmv_est
      |       FROM s1)
      |SELECT * FROM e0 UNION ALL SELECT * FROM e1""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d).filter(col("user_id").isNotNull)
    val root = freshScratch(s, "q178_tt")
    def epochSketch(r: Int) = Cardinality.kmvSketch(
      ev.filter(pmod(col("user_id"), lit(2)) === r),
      col("event_type"), col("user_id"), k = 32)
    Cardinality.kmvIndexWrite(epochSketch(0), root, 32, "user_id")
    Maintenance.compactStore(s, root) // snapshot v1: batch 1 only
    Cardinality.kmvIndexAppend(s, root, epochSketch(1), "day-2", 32,
      "user_id")
    Maintenance.compactStore(s, root) // v2 live; v1 retained
    val (retained, current) = graft.operators.EpochIndex.versions(s, root)
    require(retained.size == 2 && current.contains(retained.last),
      s"q178: expected two retained versions with the newest live, " +
        s"got $retained / $current")
    def est(df: DataFrame, tag: String) = df.select(
      lit(tag).as("version"), col("group").as("event_type"),
      round(Cardinality.kmvEstimate(col("sketch"), 32), 4).as("kmv_est"))
    est(Cardinality.kmvIndexReadAsOf(s, root, retained.head, 32, "user_id"),
      "v1")
      .unionByName(est(
        Cardinality.kmvIndexRead(s, root, 32, "user_id"), "current"))
  }

  /** Incremental triangle census
    * ([[Centrality.incrementalTriangles]]): the planted link graph's
    * canonical edges split edge-wise into a base graph and a daily
    * batch; the update counts ONLY triangles touching a new edge, and
    * the oracle proves the exact identity by recounting both graphs
    * from scratch: `T(base) + delta = T(base ∪ batch)` — all
    * integers, bit-exact. */
  val q179IncTriangles = q("q179_incremental_triangles",
    "Incremental triangle count: batch update equals full recount, exactly (north star: incremental graph analytics)",
    """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM documents),
      |e0 AS (SELECT doc_id AS src, (doc_id * 31 + j * 17 + 7) % nn AS dst
      |       FROM documents CROSS JOIN n
      |            CROSS JOIN (VALUES (CAST(0 AS BIGINT)), (1), (2)) AS t(j)
      |       WHERE doc_id % 10 <> 0),
      |u AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |      FROM e0 WHERE src <> dst),
      |fresh AS (SELECT a, b FROM u WHERE (a * 7 + b) % 5 = 0),
      |basee AS (SELECT a, b FROM u WHERE (a * 7 + b) % 5 <> 0),
      |tb AS (SELECT count(*) AS t
      |       FROM basee e1 JOIN basee e2 ON e2.a = e1.a AND e2.b > e1.b
      |            JOIN basee e3 ON e3.a = e1.b AND e3.b = e2.b),
      |tt AS (SELECT count(*) AS t
      |       FROM u e1 JOIN u e2 ON e2.a = e1.a AND e2.b > e1.b
      |            JOIN u e3 ON e3.a = e1.b AND e3.b = e2.b)
      |SELECT CAST(tb.t AS BIGINT) AS n_base_triangles,
      |       (SELECT CAST(count(*) AS BIGINT) FROM fresh) AS n_new_edges,
      |       CAST(tt.t - tb.t AS BIGINT) AS new_triangles,
      |       CAST(tt.t AS BIGINT) AS n_total_triangles
      |FROM tb CROSS JOIN tt""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val nDf = docs.agg(count(lit(1)).as("nn"))
    val e = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
      .crossJoin(broadcast(nDf))
      .select(col("doc_id").as("src"),
        explode(array(lit(0L), lit(1L), lit(2L))).as("j"), col("nn"))
      .select(col("src"),
        pmod(col("src") * lit(31L) + col("j") * lit(17L) + lit(7L),
          col("nn")).as("dst"))
    val u = e.select(least(col("src"), col("dst")).as("a"),
      greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val isFresh = pmod(col("a") * lit(7L) + col("b"), lit(5L)) === 0
    val base = u.filter(!isFresh).select(col("a").as("src"), col("b").as("dst"))
    val batch = u.filter(isFresh).select(col("a").as("src"), col("b").as("dst"))
    // "yesterday's" full census once, then today's batch pays only
    // for triangles it touches — the oracle recounts both ways
    val baseTri = Centrality.triangleCount(base)
      .select(col("n_triangles").as("n_base_triangles"))
    Centrality.incrementalTriangles(base, batch)
      .crossJoin(broadcast(baseTri))
      .select(col("n_base_triangles"), col("n_new_edges"),
        col("new_triangles"),
        (col("n_base_triangles") + col("new_triangles"))
          .as("n_total_triangles"))
  }

  /** Checkpoint/restart for long graph jobs: two PageRank iterations
    * run as "yesterday's job" and PERSIST their ranks; today's job
    * warm-starts one more iteration FROM THE STORED PARQUET. Because
    * each iteration is a pure integer function of the previous ranks,
    * the result is bit-equal to three iterations from scratch — the
    * oracle is q157's 3-iteration SQL, shared verbatim. At 100 TB
    * this is how a 40-iteration job survives preemption: persist
    * ranks every k iterations, resume exactly. */
  val q180WarmStart = q("q180_pagerank_warm_start",
    "PageRank warm start from persisted ranks == from-scratch iterations, bit-exact (north star: resumable graph jobs)",
    pagerank3IterOracle) { (s, d) =>
    val docs = Tables.documents(s, d)
    val v = docs.select(col("doc_id").as("id"))
    val e = plantedEdges(docs)
    val root = freshScratch(s, "q180_ranks")
    Centrality.pageRankFixedPoint(v, e, iterations = 2)
      .write.mode("overwrite").parquet(root) // yesterday's job ends
    Centrality.pageRankFixedPoint(v, e, iterations = 1,
      initRanks = Some(s.read.parquet(root))) // today resumes
      .select(col("id").as("doc_id"), col("pr"))
  }

  /** Persisted graph census ([[Centrality.triangleCensusWrite]] +
    * appends): the planted edges split three ways land as bootstrap +
    * two epoch batches; each append counts only the triangles its
    * fresh edges create, partials compact behind the `_CURRENT` flip,
    * and the summed census must equal the oracle's from-scratch count
    * of the whole graph — the store-maintained exact census. */
  val q181CensusStore = q("q181_graph_census_store",
    "Triangle census from a persisted edge store: summed epoch partials == full recount (north star: graph store)",
    """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM documents),
      |e0 AS (SELECT doc_id AS src, (doc_id * 31 + j * 17 + 7) % nn AS dst
      |       FROM documents CROSS JOIN n
      |            CROSS JOIN (VALUES (CAST(0 AS BIGINT)), (1), (2)) AS t(j)
      |       WHERE doc_id % 10 <> 0),
      |u AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |      FROM e0 WHERE src <> dst),
      |tri AS (SELECT count(*) AS t
      |        FROM u e1 JOIN u e2 ON e2.a = e1.a AND e2.b > e1.b
      |             JOIN u e3 ON e3.a = e1.b AND e3.b = e2.b)
      |SELECT (SELECT CAST(count(*) AS BIGINT) FROM u) AS n_edges,
      |       CAST(tri.t AS BIGINT) AS n_triangles
      |FROM tri""".stripMargin) { (s, d) =>
    val (root, parts) = q181Parts(s, d, "q181_census")
    Centrality.triangleCensusWrite(parts(0), root)
    Centrality.triangleCensusAppend(s, root, parts(1), "day-2")
    Centrality.triangleCensusAppend(s, root, parts(2), "day-3")
    val stats = Maintenance.compactStore(s, root)
    require(stats.folded.nonEmpty,
      s"q181: compaction folded nothing at $root — store build failed")
    Centrality.triangleCensusRead(s, root)
  }

  /** q181's store-build ingredients — the cleared scratch root plus
    * the three undirected edge partitions (bootstrap, day-2, day-3) of
    * the planted graph — shared by the official query above and the
    * bench's staged attribution so the two can never drift. */
  private def q181Parts(s: SparkSession, d: String,
                        scratch: String): (String, IndexedSeq[DataFrame]) = {
    val docs = Tables.documents(s, d)
    val u = plantedEdges(docs)
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val bucket = pmod(col("a") * lit(7L) + col("b"), lit(5L))
    def part(p: Column => Column) = u.filter(p(bucket))
      .select(col("a").as("src"), col("b").as("dst"))
    val root = freshScratch(s, scratch)
    (root, IndexedSeq(part(_ >= 2), part(_ === 0), part(_ === 1)))
  }

  /** q181's five store-lifecycle actions timed individually for the
    * bench's stage attribution (the q42_stages mechanism): the catalog
    * line times bootstrap + two appends + compact + read as ONE number
    * — the bench's most expensive un-attributed entry — so per-stage
    * drift was invisible round-over-round. Uses a separate scratch
    * name so an interleaved official q181 run is never clobbered.
    * Returns (stage, seconds) in lifecycle order. */
  private[graft] def q181Stages(s: SparkSession, d: String): Seq[(String, Double)] = {
    val (root, parts) = q181Parts(s, d, "q181_census_staged")
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val tBoot = timed(Centrality.triangleCensusWrite(parts(0), root))
    val tApp2 = timed(Centrality.triangleCensusAppend(s, root, parts(1), "day-2"))
    val tApp3 = timed(Centrality.triangleCensusAppend(s, root, parts(2), "day-3"))
    val tCompact = timed {
      val st = Maintenance.compactStore(s, root)
      require(st.folded.nonEmpty,
        s"q181Stages: compaction folded nothing at $root — store build failed")
    }
    val tRead = timed(Centrality.triangleCensusRead(s, root)
      .write.format("noop").mode("overwrite").save())
    graft.sources.Fs.deleteRecursively(s, root)
    Seq("q181_stage_bootstrap" -> tBoot, "q181_stage_append_day2" -> tApp2,
      "q181_stage_append_day3" -> tApp3, "q181_stage_compact" -> tCompact,
      "q181_stage_read" -> tRead)
  }

  /** Incremental connected components
    * ([[Dedup.incrementalComponents]]): day 1 clusters planted
    * 7-vertex stars; day 2 delivers bridges that merge star pairs,
    * plus redundant intra-component pairs — folded into the stored
    * labeling by contracting components to super-vertices and running
    * CC on the O(batch) mini graph only. The oracle min-label-
    * propagates over the UNION of both days from scratch; the
    * incremental result must match it exactly. */
  val q182IncCc = q("q182_incremental_components",
    "Incremental connected components: fold day-2 pairs into day-1 clusters == full rebuild (north star: incremental dedup clustering)",
    """WITH RECURSIVE
      |p AS (
      |  SELECT doc_id AS id_a, doc_id - doc_id % 7 AS id_b
      |  FROM documents WHERE doc_id % 7 <> 0
      |  UNION ALL
      |  SELECT doc_id, doc_id + 7
      |  FROM documents WHERE doc_id % 7 = 0 AND (doc_id // 7) % 3 = 0),
      |verts AS (SELECT DISTINCT id FROM
      |  (SELECT id_a AS id FROM p UNION SELECT id_b FROM p)),
      |und AS (SELECT id_a AS s2, id_b AS d FROM p
      |        UNION SELECT id_b, id_a FROM p),
      |reach(id, r) AS (
      |  SELECT id, id FROM verts
      |  UNION
      |  SELECT reach.id, u.d FROM reach JOIN und u ON reach.r = u.s2)
      |SELECT id, min(r) AS cluster_id FROM reach GROUP BY id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d).select(col("doc_id"))
    val stars = docs.filter(pmod(col("doc_id"), lit(7)) =!= 0)
      .select(col("doc_id").as("id_a"),
        (col("doc_id") - pmod(col("doc_id"), lit(7))).as("id_b"))
    val bridges = docs.filter(pmod(col("doc_id"), lit(7)) === 0 &&
      pmod(expr("doc_id div 7"), lit(3)) === 0)
      .select(col("doc_id").as("id_a"), (col("doc_id") + lit(7)).as("id_b"))
    val redundant = stars.filter(pmod(col("id_a"), lit(7)) === 1)
    Dedup.incrementalComponents(
      Dedup.connectedComponents(stars),
      bridges.unionByName(redundant))
  }

  /** Multi-source BFS over the planted link graph from a sparse
    * trusted-seed set — TrustRank's propagation skeleton: exact
    * minimum hop distance from any seed, bounded at 4 hops. Hop
    * counts are exact integers, so the oracle replays them with a
    * depth-bounded recursive CTE and hash-matches. Frontier
    * expansion pays Σ frontier-out-degree per round (never a
    * matrix power), converges early on an exhausted frontier, and
    * checkpoints per round with superseded-generation unpersist —
    * see [[Traversal.bfsDistances]]. */
  val q183Bfs = q("q183_bfs_distances",
    "Multi-source BFS hop distances from trusted seeds, bounded depth, exact (north star: TrustRank-style seed proximity)",
    """WITH RECURSIVE
      |n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM documents),
      |e AS (SELECT doc_id AS src, (doc_id * 31 + j * 17 + 7) % nn AS dst
      |      FROM documents CROSS JOIN n
      |           CROSS JOIN (VALUES (CAST(0 AS BIGINT)), (1), (2)) AS t(j)
      |      WHERE doc_id % 10 <> 0),
      |seeds AS (SELECT doc_id AS id FROM documents WHERE doc_id % 97 = 0),
      |reach(id, d) AS (
      |  SELECT id, 0 FROM seeds
      |  UNION
      |  SELECT e.dst, r.d + 1 FROM reach r JOIN e ON r.id = e.src
      |  WHERE r.d < 4)
      |SELECT id AS doc_id, CAST(min(d) AS INTEGER) AS dist
      |FROM reach GROUP BY id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    Traversal.bfsDistances(plantedEdges(docs),
      docs.filter(pmod(col("doc_id"), lit(97)) === 0)
        .select(col("doc_id").as("id")),
      maxHops = 4)
      .select(col("id").as("doc_id"), col("dist"))
  }

  /** HITS hubs & authorities over the planted link graph, two
    * iterations of the fixed-point integer recurrence — the
    * bipartite-reinforcement complement to q157's PageRank. The
    * L1-normalizing multiply runs in DECIMAL(38,0)/HUGEINT on the
    * two engines and truncating integral division everywhere, so
    * the raw scaled longs hash-match. */
  val q184Hits = q("q184_hits",
    "HITS hub/authority scores, fixed-point integer, 2 iterations, bit-exact (north star: link-quality curation signal)",
    """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM documents),
      |v AS (SELECT doc_id FROM documents),
      |e AS (SELECT doc_id AS src, (doc_id * 31 + j * 17 + 7) % nn AS dst
      |      FROM documents CROSS JOIN n
      |           CROSS JOIN (VALUES (CAST(0 AS BIGINT)), (1), (2)) AS t(j)
      |      WHERE doc_id % 10 <> 0),
      |h0 AS (SELECT doc_id, 1000000000000 // nn AS h FROM v CROSS JOIN n),
      |ar1 AS (SELECT e.dst, sum(h0.h) AS araw FROM e
      |        JOIN h0 ON e.src = h0.doc_id GROUP BY e.dst),
      |at1 AS (SELECT sum(araw) AS atot FROM ar1),
      |a1 AS (SELECT v.doc_id, CASE WHEN atot > 0
      |         THEN (coalesce(araw, 0) * 1000000000000) // atot
      |         ELSE 0 END AS a
      |       FROM v CROSS JOIN at1 LEFT JOIN ar1 ON v.doc_id = ar1.dst),
      |hr1 AS (SELECT e.src, sum(a1.a) AS hraw FROM e
      |        JOIN a1 ON e.dst = a1.doc_id GROUP BY e.src),
      |ht1 AS (SELECT sum(hraw) AS htot FROM hr1),
      |h1 AS (SELECT v.doc_id, CASE WHEN htot > 0
      |         THEN (coalesce(hraw, 0) * 1000000000000) // htot
      |         ELSE 0 END AS h
      |       FROM v CROSS JOIN ht1 LEFT JOIN hr1 ON v.doc_id = hr1.src),
      |ar2 AS (SELECT e.dst, sum(h1.h) AS araw FROM e
      |        JOIN h1 ON e.src = h1.doc_id GROUP BY e.dst),
      |at2 AS (SELECT sum(araw) AS atot FROM ar2),
      |a2 AS (SELECT v.doc_id, CASE WHEN atot > 0
      |         THEN (coalesce(araw, 0) * 1000000000000) // atot
      |         ELSE 0 END AS a
      |       FROM v CROSS JOIN at2 LEFT JOIN ar2 ON v.doc_id = ar2.dst),
      |hr2 AS (SELECT e.src, sum(a2.a) AS hraw FROM e
      |        JOIN a2 ON e.dst = a2.doc_id GROUP BY e.src),
      |ht2 AS (SELECT sum(hraw) AS htot FROM hr2),
      |h2 AS (SELECT v.doc_id, CASE WHEN htot > 0
      |         THEN (coalesce(hraw, 0) * 1000000000000) // htot
      |         ELSE 0 END AS h
      |       FROM v CROSS JOIN ht2 LEFT JOIN hr2 ON v.doc_id = hr2.src)
      |SELECT h2.doc_id, CAST(h2.h AS BIGINT) AS hub,
      |       CAST(a2.a AS BIGINT) AS auth
      |FROM h2 JOIN a2 ON h2.doc_id = a2.doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    Traversal.hitsFixedPoint(docs.select(col("doc_id").as("id")),
      plantedEdges(docs), iterations = 2)
      .select(col("id").as("doc_id"), col("hub"), col("auth"))
  }

  /** k-core over a planted undirected graph whose core structure is
    * known in closed form — per 5-id group: a triangle, a 2-chain
    * tail (peels in two cascading rounds), and on every third group
    * a chord that pulls one tail vertex INTO the 2-core. The oracle
    * asserts the analytic core membership and degrees directly —
    * an INDEPENDENT check of the peel, not a replay of it. */
  val q185Kcore = q("q185_kcore",
    "2-core peel of a planted graph vs its closed-form core, exact (north star: link-farm density signal)",
    """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM documents),
      |anc AS (SELECT doc_id AS a, ((doc_id // 5) % 3 = 0) AS chord
      |        FROM documents CROSS JOIN n
      |        WHERE doc_id % 5 = 0 AND doc_id + 4 < nn)
      |SELECT a AS doc_id,
      |       CAST(CASE WHEN chord THEN 3 ELSE 2 END AS BIGINT) AS deg
      |FROM anc
      |UNION ALL SELECT a + 1, CAST(2 AS BIGINT) FROM anc
      |UNION ALL SELECT a + 2,
      |  CAST(CASE WHEN chord THEN 3 ELSE 2 END AS BIGINT) FROM anc
      |UNION ALL SELECT a + 3, CAST(2 AS BIGINT) FROM anc WHERE chord""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d).select(col("doc_id"))
    val nDf = docs.agg(count(lit(1)).as("nn"))
    val anchors = docs.crossJoin(broadcast(nDf))
      .filter(pmod(col("doc_id"), lit(5)) === 0 &&
        col("doc_id") + 4 < col("nn"))
      .select(col("doc_id").as("a"))
    val baseE = anchors.select(explode(array(
      struct(col("a").as("src"), (col("a") + 1).as("dst")),
      struct((col("a") + 1).as("src"), (col("a") + 2).as("dst")),
      struct(col("a").as("src"), (col("a") + 2).as("dst")),
      struct((col("a") + 2).as("src"), (col("a") + 3).as("dst")),
      struct((col("a") + 3).as("src"), (col("a") + 4).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    val chordE = anchors.filter(pmod(expr("a div 5"), lit(3)) === 0)
      .select(col("a").as("src"), (col("a") + 3).as("dst"))
    Traversal.kCore(baseE.unionByName(chordE), k = 2)
      .select(col("id").as("doc_id"), col("deg"))
  }

  /** Co-citation similarity over the planted link graph: pairs of
    * pages the same source links to, counted and top-k cut with a
    * total (count desc, id, id) order. The mega-hub guard
    * (`maxOutDeg`) is the LSH maxBucket discipline applied to
    * graphs — out-degree² fan-out is bounded by construction. */
  val q186CoCitation = q("q186_cocitation",
    "Co-citation pair counts, hub-bounded self-join, top-k (north star: related-pages / mirror-site signal)",
    """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM documents),
      |e AS (SELECT DISTINCT doc_id AS src,
      |             (doc_id * 31 + j * 17 + 7) % nn AS dst
      |      FROM documents CROSS JOIN n
      |           CROSS JOIN (VALUES (CAST(0 AS BIGINT)), (1), (2)) AS t(j)
      |      WHERE doc_id % 10 <> 0),
      |kept AS (SELECT src FROM e GROUP BY src HAVING count(*) <= 3),
      |eb AS (SELECT e.src, e.dst FROM e
      |       WHERE e.src IN (SELECT src FROM kept)),
      |p AS (SELECT x.dst AS id_a, y.dst AS id_b
      |      FROM eb x JOIN eb y ON x.src = y.src AND x.dst < y.dst)
      |SELECT id_a, id_b, count(*) AS n_shared FROM p GROUP BY id_a, id_b
      |ORDER BY n_shared DESC, id_a, id_b LIMIT 100""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    Traversal.coCitation(plantedEdges(docs), maxOutDeg = 3, topK = 100)
  }

  /** Crawl frontier: planted external links (targets past the corpus
    * id range) ranked by in-link count — "what to fetch next", the
    * step that closes the crawl↔curate loop. The in-corpus planted
    * edges ride along and are anti-joined away, exercising the
    * frontier's corpus-membership check. */
  val q187Frontier = q("q187_crawl_frontier",
    "Crawl frontier: uncrawled link targets by in-link count, top-k (north star: crawl scheduling)",
    """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM documents),
      |ext AS (SELECT doc_id AS src,
      |               nn + (doc_id * 13 + 5) % (nn // 2) AS dst
      |        FROM documents CROSS JOIN n WHERE doc_id % 4 = 1)
      |SELECT dst AS id, count(*) AS n_inlinks FROM ext GROUP BY dst
      |ORDER BY n_inlinks DESC, id LIMIT 50""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val nDf = docs.agg(count(lit(1)).as("nn"))
    val ext = docs.filter(pmod(col("doc_id"), lit(4)) === 1)
      .crossJoin(broadcast(nDf))
      .select(col("doc_id").as("src"),
        (col("nn") + pmod(col("doc_id") * 13 + 5, expr("nn div 2"))).as("dst"))
    Traversal.crawlFrontier(plantedEdges(docs).unionByName(ext),
      docs.select(col("doc_id").as("id")), topK = 50)
  }

  // ---------------------------------------------------------------- incremental BFS
  /** [[Traversal.bfsResume]] under the oracle — the persisted/
    * incremental story for BFS distances, closing the store-symmetry
    * question the graph family left open: edge APPENDS fold into the
    * persisted q183 fixpoint by monotone relaxation (insertion only
    * shortens distances, so the old answer is a valid upper bound and
    * the improvement frontier — sized by the append's affected
    * region, never the graph — converges to the full re-run's
    * answer). The oracle is the full recursive-CTE re-BFS over the
    * merged edge set: incremental ≡ rebuild, hash-matched. Deletions
    * rebuild (they break the upper-bound invariant) — the
    * [[Dedup.incrementalComponents]] posture. */
  val q192IncBfs = q("q192_incremental_bfs",
    "Incremental BFS: edge appends fold into persisted distances == full re-BFS (north star: graph store maintenance)",
    """WITH RECURSIVE
      |n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM documents),
      |e AS (SELECT doc_id AS src, (doc_id * 31 + j * 17 + 7) % nn AS dst
      |      FROM documents CROSS JOIN n
      |           CROSS JOIN (VALUES (CAST(0 AS BIGINT)), (1), (2)) AS t(j)
      |      WHERE doc_id % 10 <> 0
      |      UNION ALL
      |      SELECT doc_id, (doc_id * 13 + 11) % nn
      |      FROM documents CROSS JOIN n WHERE doc_id % 15 = 3),
      |seeds AS (SELECT doc_id AS id FROM documents WHERE doc_id % 97 = 0),
      |reach(id, d) AS (
      |  SELECT id, 0 FROM seeds
      |  UNION
      |  SELECT e.dst, r.d + 1 FROM reach r JOIN e ON r.id = e.src
      |  WHERE r.d < 4)
      |SELECT id AS doc_id, CAST(min(d) AS INTEGER) AS dist
      |FROM reach GROUP BY id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val seeds = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
      .select(col("doc_id").as("id"))
    val base = plantedEdges(docs)
    val nDf = docs.agg(count(lit(1)).as("nn"))
    val appended = docs.filter(pmod(col("doc_id"), lit(15)) === 3)
      .crossJoin(broadcast(nDf))
      .select(col("doc_id").as("src"),
        pmod(col("doc_id") * lit(13L) + lit(11L), col("nn")).as("dst"))
    val prior = Traversal.bfsDistances(base, seeds, maxHops = 4)
    Traversal.bfsResume(prior, base.unionByName(appended), appended, maxHops = 4)
      .select(col("id").as("doc_id"), col("dist"))
  }

  // ---------------------------------------------------------------- SCD2 CDC apply
  /** [[Scd.scd2ApplyCdc]] under the oracle: a one-version-per-key
    * history (the old snapshot, opened 1995-01-01) absorbs the
    * [[Diff.cdcDelta]] changefeed of (old → new) at 1996-01-01.
    * Planted snapshots are q154's shape: keys %17/%13 drop in/out
    * (adds + deletes), %7 flips priority to RUSH (changes). The
    * oracle restates the version algebra as set operations over the
    * two snapshots: untouched keys keep their open 1995 version;
    * touched keys (changed ∪ deleted) close at 1996; upserted keys
    * (changed ∪ added) open a current 1996 version — and deleted keys
    * end with NO current row, the capability [[Scd.scd2FromChangeLog]]
    * (which only sees observations, never disappearances) cannot
    * express. Scale shape: one semi + one anti join of CURRENT rows
    * against delta keys; the closed-history majority never joins. */
  val q188Scd2Cdc = q("q188_scd2_cdc",
    "SCD2 history absorbs a CDC changefeed: close/open/delete version algebra (north star: incremental maintenance)",
    """WITH o AS (
      |  SELECT o_orderkey AS order_key, o_orderpriority AS priority
      |  FROM orders WHERE o_orderkey % 17 <> 0),
      |n AS (
      |  SELECT o_orderkey AS order_key,
      |         CASE WHEN o_orderkey % 7 = 0 THEN 'RUSH' ELSE o_orderpriority END AS priority
      |  FROM orders WHERE o_orderkey % 13 <> 0),
      |changed AS (SELECT o.order_key FROM o JOIN n USING (order_key)
      |            WHERE o.priority IS DISTINCT FROM n.priority),
      |removed AS (SELECT order_key FROM o
      |            WHERE order_key NOT IN (SELECT order_key FROM n)),
      |added   AS (SELECT order_key FROM n
      |            WHERE order_key NOT IN (SELECT order_key FROM o)),
      |touched AS (SELECT order_key FROM changed UNION ALL SELECT order_key FROM removed)
      |SELECT order_key, priority, DATE '1995-01-01' AS valid_from,
      |       CAST(NULL AS DATE) AS valid_to, true AS is_current
      |FROM o WHERE order_key NOT IN (SELECT order_key FROM touched)
      |UNION ALL
      |SELECT order_key, priority, DATE '1995-01-01', DATE '1996-01-01', false
      |FROM o WHERE order_key IN (SELECT order_key FROM touched)
      |UNION ALL
      |SELECT order_key, priority, DATE '1996-01-01', NULL, true
      |FROM n WHERE order_key IN (SELECT order_key FROM changed
      |                           UNION ALL SELECT order_key FROM added)""".stripMargin) { (s, d) =>
    val ord = Tables.orders(s, d)
    val oldSnap = ord.filter(pmod(col("o_orderkey"), lit(17)) =!= 0)
      .select(col("o_orderkey").as("order_key"),
        col("o_orderpriority").as("priority"))
    val newSnap = ord.filter(pmod(col("o_orderkey"), lit(13)) =!= 0)
      .select(col("o_orderkey").as("order_key"),
        when(pmod(col("o_orderkey"), lit(7)) === 0, lit("RUSH"))
          .otherwise(col("o_orderpriority")).as("priority"))
    val history = oldSnap
      .withColumn("valid_from", to_date(lit("1995-01-01")))
      .withColumn("valid_to", lit(null).cast("date"))
      .withColumn("is_current", lit(true))
    Scd.scd2ApplyCdc(history,
      Diff.cdcDelta(oldSnap, newSnap, Seq("order_key")),
      Seq("order_key"), Seq("priority"), to_date(lit("1996-01-01")))
  }

  // ---------------------------------------------------------------- cluster-safe split
  /** [[Splits.clusterSafeSplit]] under the oracle — the contamination
    * story q49 leaves open: q49 hashes RAW ids, so two near-identical
    * documents (unrelated ids) straddle train/test with ~10%
    * probability — exactly the leak dedup exists to prevent. Routing
    * the q42-verified near-dup CLUSTER id through the same md5
    * arithmetic closes it structurally: same cluster ⇒ same bucket ⇒
    * same split, for any cluster size, by construction (the spec
    * property-tests the no-straddle invariant over random
    * clusterings). The oracle replays q42's recursive-CC labels and
    * q49's md5 split arithmetic over the cluster id. */
  val q189ClusterSafeSplit = q("q189_cluster_safe_split",
    "Cluster-safe train/val/test split: near-dup clusters never straddle splits (north star: decontamination)",
    """WITH RECURSIVE
      |t AS (SELECT source, doc_id,
      |             list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')) AS sh
      |      FROM documents),
      |edges AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
      |  WHERE CASE WHEN len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) = 0 THEN 1.0
      |             ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |                  / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) END >= 0.5),
      |verts AS (SELECT DISTINCT id FROM (SELECT id_a AS id FROM edges UNION SELECT id_b FROM edges)),
      |undirected AS (SELECT id_a AS s, id_b AS d FROM edges UNION SELECT id_b, id_a FROM edges),
      |reach(id, r) AS (
      |  SELECT id, id FROM verts
      |  UNION
      |  SELECT reach.id, u.d FROM reach JOIN undirected u ON reach.r = u.s),
      |labels AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
      |assigned AS (
      |  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
      |  FROM documents d LEFT JOIN labels l USING (doc_id))
      |SELECT doc_id, cluster_id,
      |       CASE WHEN ('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 80 THEN 'train'
      |            WHEN ('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 90 THEN 'val'
      |            ELSE 'test' END AS split
      |FROM assigned""".stripMargin) { (s, d) =>
    // Same scale-safe cluster derivation as q42 (banded LSH → exact
    // verify → CC); the split itself adds ONE left join (labels hold
    // only clustered docs — broadcast-small) + a scan-side md5.
    val docs = Tables.documents(s, d)
    val cands = Dedup.lshPairs(docs, "doc_id", "text", sourceMinHash)
    val pairs = Dedup.ngramJaccardVerify(docs, cands, "doc_id", "text",
      k = 1, threshold = 0.5)
    Splits.clusterSafeSplit(docs, "doc_id", Dedup.connectedComponents(pairs))
      .select(col("doc_id"), col("cluster_id"), col("split"))
  }

  // ---------------------------------------------------------------- curriculum interleave
  /** [[Packing.curriculumInterleave]] under the oracle: per-source
    * difficulty ranks (n_chars asc, doc_id tiebreak) interleaved
    * round-robin into one global curriculum position — easy documents
    * first, every batch source-diverse. The rank is
    * [[Rolling.sequenceByKey]]'s sharded row_number (no per-source
    * global sort at scale); the source index is a bounded driver read
    * broadcast as a literal map. The oracle restates both as plain
    * window arithmetic: pos = (rank−1)·n_sources + source_index. */
  val q190Curriculum = q("q190_curriculum_interleave",
    "Curriculum interleave: difficulty-ranked round-robin position across sources (north star: training-order construction)",
    """WITH ranked AS (
      |  SELECT doc_id, source,
      |         row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS "rank"
      |  FROM documents),
      |idx AS (SELECT source, row_number() OVER (ORDER BY source) - 1 AS sidx
      |        FROM (SELECT DISTINCT source FROM documents)),
      |ns AS (SELECT CAST(count(*) AS BIGINT) AS n FROM idx)
      |SELECT r.doc_id, r.source, r."rank",
      |       (r."rank" - 1) * ns.n + i.sidx AS pos
      |FROM ranked r JOIN idx i USING (source) CROSS JOIN ns""".stripMargin) { (s, d) =>
    Packing.curriculumInterleave(Tables.documents(s, d),
      sourceCol = "source", idCol = "doc_id",
      difficulty = col("n_chars"), bucket = expr("n_chars div 100"))
  }

  // ---------------------------------------------------------------- token-budget selection
  /** [[Curation.budgetedSelectByScore]] under the oracle: per source,
    * take documents best-score-first until the source's token budget
    * is spent — a prefix cut in (score desc, id) order, so the budget
    * is never exceeded and the selected set is exactly the
    * best-scoring affordable prefix. The engine side sorts only
    * per-(source, score-band) shards with driver prefix-summed band
    * offsets (the mixtureSample pattern keyed by score); the oracle
    * states the straight per-source running-sum window. Budgets:
    * sources without an entry drop; cum is CAST back to BIGINT
    * (DuckDB's window sum promotes to HUGEINT). */
  val q191BudgetedSelect = q("q191_budgeted_select",
    "Token-budget best-first selection per source: running total prefix cut (north star: mixture construction)",
    """WITH s AS (
      |  SELECT doc_id, source, n_chars AS toks, doc_id % 1000 AS score
      |  FROM documents),
      |b AS (SELECT * FROM (VALUES ('src0', 3000), ('src3', 1500),
      |                            ('src7', 5000), ('src12', 800)) v(source, budget)),
      |c AS (
      |  SELECT s.doc_id, s.source, s.toks, s.score, b.budget,
      |         sum(s.toks) OVER (PARTITION BY s.source
      |                           ORDER BY s.score DESC, s.doc_id
      |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM s JOIN b USING (source))
      |SELECT doc_id, source, toks, score, CAST(cum AS BIGINT) AS cum_tokens
      |FROM c WHERE cum <= budget""".stripMargin) { (s, d) =>
    val base = Tables.documents(s, d).select(
      col("doc_id"), col("source"),
      col("n_chars").as("toks"),
      pmod(col("doc_id"), lit(1000L)).as("score"))
    Curation.budgetedSelectByScore(base,
      sourceCol = "source", idCol = "doc_id",
      tokenCol = "toks", scoreCol = "score",
      budgets = Map("src0" -> 3000L, "src3" -> 1500L,
        "src7" -> 5000L, "src12" -> 800L))
  }

  // ---------------------------------------------------------------- semantic decontamination
  /** [[Contamination.semanticOverlap]] under the oracle — the
    * paraphrase gap in the n-gram decontamination family (q50/q111):
    * per probe embedding, the max cosine against any benchmark
    * embedding (held-out = every 29th vector, the q50 convention),
    * its argmax benchmark id, and the ≥ τ verdict. Benchmark
    * broadcasts; the per-probe max is the bounded-heap TopK
    * aggregator (map-side k=1), so probes never shuffle vectors.
    * Similarity rounds to 4dp before ranking (the q23 rule); the
    * oracle replays the same cross product, rounding, and
    * (sim desc, bench_id) tie-break. */
  val q193SemanticContamination = q("q193_semantic_contamination",
    "Embedding-level decontamination: max benchmark cosine per probe + verdict (north star: decontamination)",
    """WITH b AS (
      |  SELECT vec_id AS bench_id,
      |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS bvec
      |  FROM embeddings WHERE vec_id % 29 = 0),
      |p AS (
      |  SELECT vec_id AS probe_id,
      |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS pvec
      |  FROM embeddings WHERE vec_id % 29 <> 0),
      |s AS (
      |  SELECT probe_id, bench_id,
      |         round(list_cosine_similarity(pvec, bvec), 4) AS sim
      |  FROM p CROSS JOIN b),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY probe_id
      |                               ORDER BY sim DESC, bench_id) AS rk
      |  FROM s)
      |SELECT probe_id, bench_id AS nearest_bench_id, sim AS max_sim,
      |       sim >= 0.5 AS contaminated
      |FROM r WHERE rk = 1""".stripMargin) { (s, d) =>
    val e = Tables.embeddings(s, d)
    Contamination.semanticOverlap(
      probe = e.filter(pmod(col("vec_id"), lit(29)) =!= 0),
      benchmark = e.filter(pmod(col("vec_id"), lit(29)) === 0),
      idCol = "vec_id", vecCol = "embedding", tau = 0.5)
  }

  // ---------------------------------------------------------------- epoch shuffle
  /** [[Packing.epochShuffle]] under the oracle: the deterministic
    * per-epoch training order — rank by md5(seed:id), 0-based — that
    * rand() shuffles cannot give (retries re-draw, resumes re-order,
    * engines disagree). Engine side ranks in 256 md5-prefix shards
    * with broadcast offsets (never a one-task corpus sort); the
    * oracle states the straight global window. */
  val q194EpochShuffle = q("q194_epoch_shuffle",
    "Deterministic per-epoch corpus shuffle: md5-ranked 0-based position (north star: training-order reproducibility)",
    """SELECT doc_id,
      |       row_number() OVER (
      |         ORDER BY md5('epoch-1:' || CAST(doc_id AS VARCHAR)), doc_id)
      |       - 1 AS pos
      |FROM documents""".stripMargin) { (s, d) =>
    Packing.epochShuffle(
      Tables.documents(s, d).select("doc_id"), "doc_id", "epoch-1")
  }

  // ---------------------------------------------------------------- pipeline attrition
  /** [[Curation.attrition]] over the q100 curation chain: per
    * ingested document, the FIRST stage that dropped it — the
    * record-level provenance behind q100's aggregate funnel counts.
    * Same stage derivations as q100 (exact dedup → near dedup →
    * decontaminate → quality); the oracle replays the identical CTE
    * chain and reports first-missing membership per doc. */
  val q195Attrition = q("q195_pipeline_attrition",
    "Record-level curation attrition: first stage that dropped each document (north star: pipeline observability)",
    """WITH ingest AS (
      |  SELECT doc_id, source, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, source, text FROM documents WHERE doc_id % 10 = 0),
      |fp AS (
      |  SELECT doc_id, source, text,
      |         md5(array_to_string(regexp_extract_all(lower(text), '[a-z0-9]+'), ' ')) AS fingerprint
      |  FROM ingest),
      |exact AS (
      |  SELECT doc_id, source, text FROM fp
      |  QUALIFY row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) = 1),
      |t AS (SELECT source, doc_id,
      |             list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')) AS sh
      |      FROM exact),
      |near_drop AS (
      |  SELECT DISTINCT b.doc_id
      |  FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
      |  WHERE CASE WHEN len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) = 0 THEN 1.0
      |             ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |                  / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) END >= 0.5),
      |near AS (SELECT * FROM exact WHERE doc_id NOT IN (SELECT doc_id FROM near_drop)),
      |tk AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      |       FROM documents),
      |grams AS (
      |  SELECT doc_id,
      |         CASE WHEN len(toks) >= 8
      |              THEN list_distinct(list_transform(range(1, len(toks) - 6),
      |                     i -> array_to_string(toks[i:i+7], ' ')))
      |              ELSE [array_to_string(toks, ' ')] END AS ngs
      |  FROM tk),
      |bench AS (
      |  SELECT DISTINCT unnest(ngs) AS ng FROM grams WHERE doc_id % 29 = 0),
      |probe AS (
      |  SELECT g.doc_id, unnest(g.ngs) AS ng FROM grams g
      |  JOIN near ON near.doc_id = g.doc_id WHERE g.doc_id % 29 <> 0),
      |overlap AS (
      |  SELECT probe.doc_id,
      |         CAST(count(bench.ng) AS DOUBLE) / count(*) AS overlap_ratio
      |  FROM probe LEFT JOIN bench ON probe.ng = bench.ng
      |  GROUP BY probe.doc_id),
      |clean AS (
      |  SELECT near.* FROM near JOIN overlap ON near.doc_id = overlap.doc_id
      |  WHERE overlap.overlap_ratio <= 0.1),
      |quality AS (
      |  SELECT doc_id, text FROM clean
      |  WHERE len(regexp_extract_all(lower(text), '[a-z0-9]+')) >= 25
      |    AND CASE WHEN length(lower(text)) = 0 THEN 0.0
      |             ELSE CAST(length(regexp_replace(lower(text), '[^a-z ]', '', 'g')) AS DOUBLE)
      |                  / length(lower(text)) END >= 0.6)
      |SELECT i.doc_id,
      |       CASE WHEN e.doc_id IS NULL THEN 'exact_dedup'
      |            WHEN nr.doc_id IS NULL THEN 'near_dedup'
      |            WHEN c.doc_id IS NULL THEN 'decontaminate'
      |            WHEN qy.doc_id IS NULL THEN 'quality'
      |            ELSE NULL END AS dropped_at
      |FROM ingest i
      |LEFT JOIN (SELECT doc_id FROM exact) e USING (doc_id)
      |LEFT JOIN (SELECT doc_id FROM near) nr USING (doc_id)
      |LEFT JOIN (SELECT doc_id FROM clean) c USING (doc_id)
      |LEFT JOIN (SELECT doc_id FROM quality) qy USING (doc_id)""".stripMargin) { (s, d) =>
    // identical stage derivations to q100 (whose oracle pins the
    // aggregate counts); this query pins the per-record attribution
    val base = Tables.documents(s, d).select("doc_id", "source", "text")
    val docs = base.unionByName(
      base.filter(pmod(col("doc_id"), lit(10)) === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("source"), col("text")))
    val keepIds = Dedup.exactDedupStats(docs,
      TextFunctions.fingerprint(col("text")), col("doc_id"))
      .select(col("keep_id").as("doc_id"))
    val exact = stageBarrier(docs.join(keepIds, Seq("doc_id"), "left_semi"))
    val nearDrop = Dedup.ngramJaccardPairs(exact, "doc_id", "text",
      blockCol = "source", k = 1, threshold = 0.5)
      .select(col("id_b").as("doc_id")).distinct()
    val near = stageBarrier(exact.join(nearDrop, Seq("doc_id"), "left_anti"))
    val probe = near.filter(pmod(col("doc_id"), lit(29)) =!= 0)
    val overlap = Contamination.ngramOverlap(
      probe = probe, benchmark = base.filter(pmod(col("doc_id"), lit(29)) === 0),
      idCol = "doc_id", textCol = "text", n = 8)
    val clean = stageBarrier(near.join(
      overlap.filter(col("overlap_ratio") <= 0.1).select("doc_id"),
      Seq("doc_id"), "left_semi"))
    val quality = clean.filter(
      TextFunctions.tokenCount(col("text")) >= 25 &&
        TextFunctions.alphaRatio(col("text")) >= 0.6)
    Curation.attrition(docs, "doc_id", Seq(
      "exact_dedup" -> exact, "near_dedup" -> near,
      "decontaminate" -> clean, "quality" -> quality))
  }

  // ------------------------------------------- semantic decontamination, stored index
  /** q193's daily-batch shape: the benchmark embeddings land in a
    * persisted index once ([[Contamination.benchmarkVecIndexWrite]]),
    * and the probe batch runs against the STORE — benchmark text and
    * vectors never recompute per batch (the q111 discipline at the
    * embedding level). Same oracle as q193: probing the store must
    * equal probing the live benchmark, bit-for-bit. */
  val q196SemanticStore = q("q196_semantic_contamination_store",
    "Embedding decontamination from a persisted benchmark index == live probe (north star: incremental decontamination)",
    """WITH b AS (
      |  SELECT vec_id AS bench_id,
      |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS bvec
      |  FROM embeddings WHERE vec_id % 29 = 0),
      |p AS (
      |  SELECT vec_id AS probe_id,
      |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS pvec
      |  FROM embeddings WHERE vec_id % 29 <> 0),
      |s AS (
      |  SELECT probe_id, bench_id,
      |         round(list_cosine_similarity(pvec, bvec), 4) AS sim
      |  FROM p CROSS JOIN b),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY probe_id
      |                               ORDER BY sim DESC, bench_id) AS rk
      |  FROM s)
      |SELECT probe_id, bench_id AS nearest_bench_id, sim AS max_sim,
      |       sim >= 0.5 AS contaminated
      |FROM r WHERE rk = 1""".stripMargin) { (s, d) =>
    val e = Tables.embeddings(s, d)
    val root = freshScratch(s, "q196_bench_vecs")
    Contamination.benchmarkVecIndexWrite(
      e.filter(pmod(col("vec_id"), lit(29)) === 0), "vec_id", "embedding", root)
    Contamination.semanticOverlapStored(
      probe = e.filter(pmod(col("vec_id"), lit(29)) =!= 0),
      index = Contamination.benchmarkVecIndexRead(s, root),
      idCol = "vec_id", vecCol = "embedding", tau = 0.5)
  }

  // ---------------------------------------------------------------- rank tiers
  /** [[Curation.rankTiers]] under the oracle: per-source head/middle/
    * tail thirds of the length distribution (the CCNet perplexity-
    * bucket shape with n_chars standing in for the score) — rank
    * arithmetic, not value thresholds, so the split is exactly
    * engine-replayable. The oracle restates the sharded rank as one
    * window + integer division. */
  val q197RankTiers = q("q197_rank_tiers",
    "CCNet-style per-source rank tiers: head/middle/tail by score rank (north star: relative quality filtering)",
    """WITH r AS (
      |  SELECT doc_id, source, n_chars,
      |         row_number() OVER (PARTITION BY source
      |                            ORDER BY n_chars, doc_id) AS rk,
      |         count(*) OVER (PARTITION BY source) AS n
      |  FROM documents)
      |SELECT doc_id, source, n_chars,
      |       ((rk - 1) * 3) // n AS tier
      |FROM r""".stripMargin) { (s, d) =>
    Curation.rankTiers(
      Tables.documents(s, d).select("doc_id", "source", "n_chars"),
      groupCols = Seq("source"), score = col("n_chars"),
      tieCol = "doc_id", shardBucket = expr("n_chars div 100"),
      nBuckets = 3)
  }

  // ---------------------------------------------------------------- retrieval metrics
  /** [[Relevance.rankingMetrics]] under the oracle: nDCG@20 and MRR
    * for the dense retriever (q23's brute-force cosine top-k) with
    * label-agreement relevance — retrieved doc sharing the query
    * vector's label counts rel 1. The evaluation loop the retrieval
    * family (BM25 q126 / dense q23 / hybrid q153) was missing: an
    * index regression becomes a metric delta, not an anecdote. The
    * oracle replays the ranking, the sparse relevance join, and the
    * DCG/IDCG/MRR arithmetic (metrics rounded 6dp — the q65 rule). */
  val q198RankingMetrics = q("q198_ranking_metrics",
    "nDCG@20 + MRR of dense retrieval vs label-agreement relevance (north star: retrieval evaluation)",
    """WITH q AS (
      |  SELECT vec_id AS query_id,
      |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qvec,
      |         label AS qlab
      |  FROM embeddings WHERE vec_id < 5),
      |scored AS (
      |  SELECT q.query_id, e.vec_id AS doc_id,
      |         round(list_cosine_similarity(
      |           list_transform(e.embedding, x -> CAST(x AS DOUBLE)), q.qvec), 4) AS cos,
      |         CASE WHEN e.label = q.qlab THEN 1.0 ELSE 0.0 END AS rel
      |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |                               ORDER BY cos DESC, doc_id) AS rk
      |  FROM scored),
      |d AS (
      |  SELECT query_id,
      |         sum((pow(2.0, rel) - 1) / log2(rk + 1)) AS dcg,
      |         min(CASE WHEN rel > 0 THEN rk END) AS first_rel
      |  FROM ranked WHERE rk <= 20 GROUP BY query_id),
      |ideal AS (
      |  SELECT query_id, sum((pow(2.0, rel) - 1) / log2(irk + 1)) AS idcg
      |  FROM (SELECT query_id, rel,
      |               row_number() OVER (PARTITION BY query_id
      |                                  ORDER BY rel DESC, doc_id) AS irk
      |        FROM scored WHERE rel > 0)
      |  WHERE irk <= 20 GROUP BY query_id)
      |SELECT query_id,
      |       round(coalesce(d.dcg / i.idcg, 0), 6) AS ndcg,
      |       round(coalesce(CAST(1.0 AS DOUBLE) / d.first_rel, 0), 6) AS mrr
      |FROM d FULL OUTER JOIN ideal i USING (query_id)""".stripMargin) { (s, d) =>
    val e = Tables.embeddings(s, d)
    val queries = e.filter(col("vec_id") < 5)
    // rank from the ranker's own top-k output: 20-row per-query lists,
    // so the window is benign (the q153 RRF pattern)
    val ranked = Similarity.bruteForceTopK(e, queries, "vec_id", "embedding",
      k = 20, roundTo = 4)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("neighbor_id"))))
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    val qlab = queries.select(col("vec_id").as("query_id"), col("label").as("_qlab"))
    val labels = e.select(col("vec_id").as("doc_id"), col("label"))
      .join(broadcast(qlab),
        col("label") === col("_qlab") && col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("doc_id"), lit(1.0).as("rel"))
    Relevance.rankingMetrics(ranked, labels, k = 20)
  }

  // ---------------------------------------------------------------- corpus data card
  /** One-row corpus "data card": the release-note profile every
    * published dataset ships — sizes, source/language mix, exact-dup
    * rate, length percentiles, mean quality — as ONE oracle-pinned
    * query (and `graft.DataCard`'s main). Composes the pinned
    * primitives: q19's fingerprint for dup rate, q33's exact
    * interpolated percentiles, q26's alpha-ratio quality signal.
    * Distinct-counts shuffle 8-byte hashes/strings, never text;
    * percentiles use the distributed rank-offset sort; the top-lang
    * cut is a bounded TakeOrdered. */
  val q199CorpusCard = q("q199_corpus_card",
    "Corpus data card: sizes, mix, dup rate, percentiles, quality + certification/calibration audit citations (north star: dataset release reporting)",
    """WITH base AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |         CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
      |         CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |         CAST(count(*) - count(DISTINCT md5(array_to_string(
      |           regexp_extract_all(lower(text), '[a-z0-9]+'), ' '))) AS BIGINT)
      |           AS n_exact_dup_docs,
      |         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
      |         round(avg(CASE WHEN length(lower(text)) = 0 THEN 0.0
      |               ELSE CAST(length(regexp_replace(lower(text), '[^a-z ]', '', 'g')) AS DOUBLE)
      |                    / length(lower(text)) END), 4) AS avg_alpha_ratio
      |  FROM documents),
      |pct AS (
      |  SELECT round(quantile_cont(n_chars, 0.5), 4) AS p50_chars,
      |         round(quantile_cont(n_chars, 0.9), 4) AS p90_chars
      |  FROM documents),
      |top AS (
      |  SELECT lang AS top_lang, CAST(count(*) AS BIGINT) AS top_lang_docs
      |  FROM documents GROUP BY lang
      |  ORDER BY count(*) DESC, lang LIMIT 1),
      |tk AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |         list_distinct(CASE WHEN len(toks) >= 3
      |           THEN list_transform(range(1, len(toks) - 1),
      |                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      |           ELSE [array_to_string(toks, ' ')] END) AS s
      |  FROM tk WHERE len(toks) > 0),
      |ne AS (SELECT * FROM sh WHERE len(s) > 0),
      |certj AS (
      |  SELECT CAST(0.85 AS DOUBLE) AS cert_jaccard_tau,
      |         CAST(count(*) AS BIGINT) AS cert_jaccard_pairs
      |  FROM ne a JOIN ne b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      |        / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.85),
      |corpus AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec FROM embeddings),
      |vpairs AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
      |  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
      |  WHERE round(list_cosine_similarity(a.vec, b.vec), 4) >= 0.4),
      |certc AS (
      |  SELECT CAST(0.4 AS DOUBLE) AS cert_cosine_tau,
      |         CAST(count(*) AS BIGINT) AS cert_cosine_pairs FROM vpairs),
      |cents AS (SELECT vec_id AS cell, vec AS cvec FROM corpus WHERE vec_id % 50 = 0),
      |assign AS (
      |  SELECT vec_id, vec, cell FROM (
      |    SELECT c.vec_id, c.vec, ct.cell,
      |           row_number() OVER (PARTITION BY c.vec_id
      |                              ORDER BY list_cosine_similarity(c.vec, ct.cvec) DESC, ct.cell) AS rk
      |    FROM corpus c CROSS JOIN cents ct) WHERE rk = 1),
      |drops AS (
      |  SELECT DISTINCT b.vec_id
      |  FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
      |  WHERE round(list_cosine_similarity(a.vec, b.vec), 4) >= 0.4),
      |surv AS (SELECT s.vec_id, s.cell FROM assign s
      |         WHERE s.vec_id NOT IN (SELECT vec_id FROM drops)),
      |sem AS (
      |  SELECT coalesce(CAST(sum(CASE WHEN sa.cell = sb.cell THEN 1 ELSE 0 END) AS BIGINT), 0) AS sem_residual_within,
      |         coalesce(CAST(sum(CASE WHEN sa.cell <> sb.cell THEN 1 ELSE 0 END) AS BIGINT), 0) AS sem_residual_cross
      |  FROM vpairs p JOIN surv sa ON sa.vec_id = p.id_a
      |                JOIN surv sb ON sb.vec_id = p.id_b),
      |cal AS (SELECT 'alpha_ratio' AS calibration_score,
      |               true AS calibration_version_matches)
      |SELECT * FROM base CROSS JOIN pct CROSS JOIN top
      |CROSS JOIN certj CROSS JOIN certc CROSS JOIN sem CROSS JOIN cal""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val pct = Percentiles.interpolated(
      docs.withColumn("_g", lit(1)), Seq("_g"), "n_chars",
      Seq("p50_chars" -> 0.5, "p90_chars" -> 0.9))
      .select(round(col("p50_chars"), 4).as("p50_chars"),
        round(col("p90_chars"), 4).as("p90_chars"))
    val alpha = TextFunctions.alphaRatio(col("text"))
    val base = docs.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("source")).as("n_sources"),
      sum(col("n_chars")).as("total_chars"),
      (count(lit(1)) - countDistinct(TextFunctions.fingerprint(col("text"))))
        .as("n_exact_dup_docs"),
      countDistinct(col("lang")).as("n_langs"),
      round(avg(alpha), 4).as("avg_alpha_ratio"))
    val top = docs.groupBy(col("lang")).agg(count(lit(1)).as("top_lang_docs"))
      .orderBy(col("top_lang_docs").desc, col("lang")).limit(1)
      .select(col("lang").as("top_lang"), col("top_lang_docs"))
    // ---- audit citations: the card CITES the release's certification
    // and calibration artifacts through the stores themselves (the
    // "which certification did shard N ship under" answer, emitted as
    // card columns). Both pair counts round-trip the cert_pairs
    // ledger — the count a release auditor reads IS a ledger read.
    val root = freshScratch(s, "q199_corpus_card")
    val emb = Tables.embeddings(s, d)
    // the two certification bootstraps read different tables and
    // write different stores — independent actions, overlapped
    // (guide §2.6: one build's driver-bound stage storm back-fills
    // with the other's executor work)
    graft.operators.Par.concurrently(
      () => Dedup.certLedgerWrite(Dedup.exactJoin(docs, "doc_id", "text",
        Dedup.Jaccard(0.85, shingleK = 3)), s"$root/jac", "jaccard", 0.85),
      () => Dedup.certLedgerWrite(Dedup.exactJoin(emb, "vec_id", "embedding",
        Dedup.Cosine(0.4)), s"$root/cos", "cosine", 0.4))
    val certj = Dedup.certLedgerRead(s, s"$root/jac", "jaccard", 0.85)
      .agg(count(lit(1)).as("cert_jaccard_pairs"))
      .select(lit(0.85).as("cert_jaccard_tau"), col("cert_jaccard_pairs"))
    val cosLedger = Dedup.certLedgerRead(s, s"$root/cos", "cosine", 0.4)
    val certc = cosLedger.agg(count(lit(1)).as("cert_cosine_pairs"))
      .select(lit(0.4).as("cert_cosine_tau"), col("cert_cosine_pairs"))
    // semantic residuals REUSE the cosine ledger: the exact join ran
    // once, for the certification — restricting its pairs to SemDeDup
    // survivors and splitting by cell is pure arithmetic on it
    val cells = Dedup.semanticDedup(emb,
      emb.filter(col("vec_id") % 50 === 0), "vec_id", "embedding",
      tau = 0.4).select(col("vec_id"), col("cell"))
    val sem = cosLedger
      .join(cells.select(col("vec_id").as("id_a"), col("cell").as("_ca")),
        Seq("id_a"))
      .join(cells.select(col("vec_id").as("id_b"), col("cell").as("_cb")),
        Seq("id_b"))
      .agg(
        coalesce(sum(when(col("_ca") === col("_cb"), 1L).otherwise(0L)),
          lit(0L)).as("sem_residual_within"),
        coalesce(sum(when(col("_ca") =!= col("_cb"), 1L).otherwise(0L)),
          lit(0L)).as("sem_residual_cross"))
    // calibration citation: freeze the per-source alpha-ratio cuts,
    // then verify the pointer round-trip — the returned version IS
    // the store's current version and the re-read table equals the
    // computed one bit for bit (the reproducibility claim a card
    // makes when it names a calibration version)
    val scored = docs.select(col("source"), alpha.as("alpha_ratio"))
    val cuts = Quality.qualityCuts(scored, "alpha_ratio", Seq("source"))
    val version = Quality.qualityCutsWrite(s, s"$root/cuts", cuts,
      "alpha_ratio", Seq("source"))
    val (_, current) = graft.operators.Layout.listVersions(s, s"$root/cuts/cuts")
    val reread = Quality.qualityCutsRead(s, s"$root/cuts",
      "alpha_ratio", Seq("source"))
    val storedScore = graft.operators.IndexMeta.read(s, s"$root/cuts")
      .map(_.params("score")).getOrElse("<missing>")
    val cal = reread.exceptAll(cuts).agg(count(lit(1)).as("_d1"))
      .crossJoin(broadcast(
        cuts.exceptAll(reread).agg(count(lit(1)).as("_d2"))))
      .select(lit(storedScore).as("calibration_score"),
        (col("_d1") === 0 && col("_d2") === 0 &&
          lit(current.contains(version))).as("calibration_version_matches"))
    base.crossJoin(broadcast(pct)).crossJoin(broadcast(top))
      .crossJoin(broadcast(certj)).crossJoin(broadcast(certc))
      .crossJoin(broadcast(sem)).crossJoin(broadcast(cal))
  }

  // ---------------------------------------------------------------- ANN recall
  /** [[Similarity.annRecall]] under the oracle: recall@5 of q24's
    * IVF (nProbe=3) against q23's exact brute-force top-5 for the
    * same queries — the acceptance gate for ANN parameter choices,
    * emitted as data. The oracle replays BOTH rankings (the already-
    * pinned q23/q24 CTEs) and the set-intersection arithmetic. */
  val q200AnnRecall = q("q200_ann_recall",
    "ANN recall@5: IVF(nProbe=3) vs exact top-5 per query (north star: similarity evaluation)",
    """WITH cents AS (
      |  SELECT vec_id AS cell, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
      |  FROM embeddings WHERE vec_id % 50 = 0),
      |corpus AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec FROM embeddings),
      |assign AS (
      |  SELECT vec_id, vec, cell FROM (
      |    SELECT c.vec_id, c.vec, ct.cell,
      |           row_number() OVER (PARTITION BY c.vec_id
      |                              ORDER BY list_cosine_similarity(c.vec, ct.cvec) DESC, ct.cell) AS rk
      |    FROM corpus c CROSS JOIN cents ct) WHERE rk = 1),
      |q AS (SELECT vec_id AS query_id, vec AS qvec FROM corpus WHERE vec_id < 5),
      |probes AS (
      |  SELECT query_id, qvec, cell FROM (
      |    SELECT q.query_id, q.qvec, ct.cell,
      |           row_number() OVER (PARTITION BY q.query_id
      |                              ORDER BY list_cosine_similarity(q.qvec, ct.cvec) DESC, ct.cell) AS rk
      |    FROM q CROSS JOIN cents ct) WHERE rk <= 3),
      |ivf AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT p.query_id, a.vec_id AS neighbor_id,
      |           row_number() OVER (PARTITION BY p.query_id
      |             ORDER BY round(list_cosine_similarity(p.qvec, a.vec), 4) DESC,
      |                      a.vec_id) AS rk
      |    FROM probes p JOIN assign a ON a.cell = p.cell
      |    WHERE a.vec_id <> p.query_id) WHERE rk <= 5),
      |exact AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT q.query_id, c.vec_id AS neighbor_id,
      |           row_number() OVER (PARTITION BY q.query_id
      |             ORDER BY round(list_cosine_similarity(q.qvec, c.vec), 4) DESC,
      |                      c.vec_id) AS rk
      |    FROM corpus c CROSS JOIN q WHERE c.vec_id <> q.query_id) WHERE rk <= 5),
      |hit AS (
      |  SELECT i.query_id, CAST(count(*) AS BIGINT) AS n_hit
      |  FROM ivf i JOIN exact e USING (query_id, neighbor_id)
      |  GROUP BY i.query_id)
      |SELECT e.query_id, CAST(count(*) AS BIGINT) AS n_exact,
      |       coalesce(any_value(h.n_hit), 0) AS n_hit,
      |       round(CAST(coalesce(any_value(h.n_hit), 0) AS DOUBLE) / count(*), 4) AS recall
      |FROM exact e LEFT JOIN hit h ON e.query_id = h.query_id
      |GROUP BY e.query_id""".stripMargin) { (s, d) =>
    val e = Tables.embeddings(s, d)
    val centroids = e.filter(col("vec_id") % 50 === 0)
    val cells = Similarity.assignCells(e, centroids, "vec_id", "embedding")
    val queries = e.filter(col("vec_id") < 5)
    Similarity.annRecall(
      approx = Similarity.ivfTopK(cells, centroids, queries,
        "vec_id", "embedding", k = 5, nProbe = 3, roundTo = 4),
      exact = Similarity.bruteForceTopK(e, queries,
        "vec_id", "embedding", k = 5, roundTo = 4))
  }

  // ---------------------------------------------------------------- packed offsets
  /** [[Packing.packWithOffsets]] under the oracle: q55's greedy
    * packing emitted as the sample-loader contract — (shard, bin,
    * offset) per document, where offset is the document's start
    * inside its context window. The oracle replays q55's windowed
    * arithmetic plus the closed-form offset subtraction. */
  val q201PackedOffsets = q("q201_packed_offsets",
    "Packed-sequence offsets: (shard, bin, start offset) per document (north star: training-shard reader contract)",
    """WITH h AS (
      |  SELECT doc_id,
      |         CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens,
      |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 2147483647 AS _h
      |  FROM documents),
      |s AS (SELECT *, _h % 8 AS shard FROM h),
      |p AS (
      |  SELECT doc_id, shard, n_tokens,
      |         CAST(sum(n_tokens) OVER w AS BIGINT) AS cum
      |  FROM s WINDOW w AS (PARTITION BY shard ORDER BY _h, doc_id))
      |SELECT doc_id, shard,
      |       CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS bin,
      |       (cum - n_tokens) - CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) * 512 AS offset,
      |       n_tokens
      |FROM p""".stripMargin) { (s, d) =>
    Packing.packWithOffsets(
      Tables.documents(s, d).select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens")),
      "doc_id", "n_tokens", ctxLen = 512, shards = 8)
  }

  // ---------------------------------------------------------------- contamination burn report
  /** [[Contamination.burnReport]] under the oracle: q193's semantic
    * contamination regrouped per BENCHMARK item — how many training
    * docs each eval item burned, zeros included (the clean-item
    * proof). The oracle replays q193's argmax attribution and the
    * left-join count. */
  val q202BurnReport = q("q202_contamination_burn_report",
    "Per-benchmark-item contamination burn counts, zeros included (north star: eval-set stewardship)",
    """WITH b AS (
      |  SELECT vec_id AS bench_id,
      |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS bvec
      |  FROM embeddings WHERE vec_id % 29 = 0),
      |p AS (
      |  SELECT vec_id AS probe_id,
      |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS pvec
      |  FROM embeddings WHERE vec_id % 29 <> 0),
      |sc AS (
      |  SELECT probe_id, bench_id,
      |         round(list_cosine_similarity(pvec, bvec), 4) AS sim
      |  FROM p CROSS JOIN b),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY probe_id
      |                               ORDER BY sim DESC, bench_id) AS rk
      |  FROM sc),
      |hits AS (
      |  SELECT bench_id, CAST(count(*) AS BIGINT) AS n_burned
      |  FROM r WHERE rk = 1 AND sim >= 0.5 GROUP BY bench_id)
      |SELECT b.bench_id, coalesce(h.n_burned, 0) AS n_burned
      |FROM b LEFT JOIN hits h USING (bench_id)""".stripMargin) { (s, d) =>
    val e = Tables.embeddings(s, d)
    val bench = e.filter(pmod(col("vec_id"), lit(29)) === 0)
    Contamination.burnReport(
      Contamination.semanticOverlap(
        probe = e.filter(pmod(col("vec_id"), lit(29)) =!= 0),
        benchmark = bench, idCol = "vec_id", vecCol = "embedding",
        tau = 0.5),
      bench, "vec_id")
  }

  // ---------------------------------------------------------------- annealed order
  /** [[Packing.annealedOrder]] under the oracle: the curriculum-
    * annealing schedule at α = 30% — early-epoch difficulty order
    * blended with the epoch shuffle by integer rank arithmetic
    * (`key = 3000·rank_difficulty + 7000·rank_shuffle`). Every rank
    * is a sharded sequenceByKey on the engine side; the oracle
    * restates all three as plain windows. */
  val q203AnnealedOrder = q("q203_annealed_order",
    "Annealed training order: rank-blend of curriculum and epoch shuffle (north star: curriculum scheduling)",
    """WITH c AS (
      |  SELECT doc_id,
      |         row_number() OVER (ORDER BY n_chars, doc_id) AS rc
      |  FROM documents),
      |s AS (
      |  SELECT doc_id,
      |         row_number() OVER (
      |           ORDER BY md5('epoch-1:' || CAST(doc_id AS VARCHAR)), doc_id) AS rs
      |  FROM documents),
      |k AS (SELECT doc_id, 3000 * rc + 7000 * rs AS key
      |      FROM c JOIN s USING (doc_id))
      |SELECT doc_id, key,
      |       row_number() OVER (ORDER BY key, doc_id) - 1 AS pos
      |FROM k""".stripMargin) { (s, d) =>
    Packing.annealedOrder(
      Tables.documents(s, d).select("doc_id", "n_chars"),
      "doc_id", difficulty = col("n_chars"),
      diffBucket = expr("n_chars div 100"),
      epochSeed = "epoch-1", alphaBps = 3000)
  }

  /** [[Rolling.bucketSkew]] under the oracle: the bucket-histogram
    * diagnostic behind sequenceByKey's skew tripwire — per source,
    * how many rows, how many difficulty-band buckets, and the
    * largest band's share. The number an operator (or a pipeline
    * author) checks BEFORE trusting a caller-supplied bucket function
    * like q190's `n_chars div 100`: parallelism of every sharded rank
    * is bounded by exactly this histogram. One aggregation pass, one
    * tiny re-aggregation — nothing else moves. */
  val q204BucketSkew = q("q204_bucket_skew",
    "Bucket-skew histogram per source for caller-supplied rank shards (north star: skew diagnostics)",
    """WITH c AS (
      |  SELECT source, n_chars // 100 AS b, count(*) AS cnt
      |  FROM documents GROUP BY 1, 2)
      |SELECT source,
      |       CAST(sum(cnt) AS BIGINT) AS n_rows,
      |       CAST(count(*) AS BIGINT) AS n_buckets,
      |       CAST(max(cnt) AS BIGINT) AS max_bucket_rows,
      |       round(CAST(max(cnt) AS DOUBLE) / sum(cnt), 4) AS max_bucket_frac
      |FROM c GROUP BY source""".stripMargin) { (s, d) =>
    Rolling.bucketSkew(
      Tables.documents(s, d).select("doc_id", "source", "n_chars"),
      Seq("source"), bucket = expr("n_chars div 100"))
  }

  // --------------------------------------- cross-document gram repetition
  /** [[Dedup.dupGramFraction]] under the oracle: per doc, the share of
    * its distinct 8-grams occurring in >= 2 documents corpus-wide —
    * the cross-document twin of q51's within-doc repetition. Spark
    * counts df with a skew-proof groupBy over md5 fingerprints and
    * equi-joins it back (map-side partials absorb a corpus-wide
    * boilerplate gram a window partition cannot); the oracle
    * recomputes it the same group-by + join-back way on gram STRINGS,
    * so fingerprinting is cross-checked for free. */
  val q205DupGramFraction = q("q205_dup_gram_fraction",
    "Cross-document duplicated n-gram fraction per doc (north star: repetition filtering)",
    """WITH tk AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      |  FROM documents),
      |grams AS (
      |  SELECT doc_id,
      |         CASE WHEN len(toks) >= 8
      |              THEN list_distinct(list_transform(range(1, len(toks) - 6),
      |                     i -> array_to_string(toks[i:i+7], ' ')))
      |              ELSE [array_to_string(toks, ' ')] END AS ngs
      |  FROM tk),
      |g AS (SELECT doc_id, unnest(ngs) AS ng FROM grams),
      |df AS (SELECT ng, count(*) AS df FROM g GROUP BY ng)
      |SELECT g.doc_id,
      |       count(*) AS n_grams,
      |       count(CASE WHEN df.df >= 2 THEN 1 END) AS n_shared,
      |       round(CAST(count(CASE WHEN df.df >= 2 THEN 1 END) AS DOUBLE)
      |             / count(*), 4) AS shared_frac
      |FROM g JOIN df USING (ng)
      |GROUP BY g.doc_id""".stripMargin) { (s, d) =>
    Dedup.dupGramFraction(
      Tables.documents(s, d).select("doc_id", "text"), "doc_id", "text", n = 8)
  }

  /** [[Dedup.incrementalDupGramFraction]] under the oracle: docs with
    * id % 5 = 2 play the incoming batch, probed for gram-level novelty
    * against a (gram_fp, n_docs) index built from the REST of the
    * corpus — the daily-batch shape of q205. The index side is the
    * big one (corpus-wide gram table), so the probe is a shuffled
    * equi-join on fingerprints, never a broadcast. */
  val q206IncrementalDupGram = q("q206_incremental_dup_gram",
    "Batch gram-novelty probe against a persisted corpus gram index (north star: incremental curation)",
    """WITH tk AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      |  FROM documents),
      |grams AS (
      |  SELECT doc_id,
      |         CASE WHEN len(toks) >= 8
      |              THEN list_distinct(list_transform(range(1, len(toks) - 6),
      |                     i -> array_to_string(toks[i:i+7], ' ')))
      |              ELSE [array_to_string(toks, ' ')] END AS ngs
      |  FROM tk),
      |g AS (SELECT doc_id, unnest(ngs) AS ng FROM grams),
      |corpus AS (SELECT DISTINCT ng FROM g WHERE doc_id % 5 <> 2),
      |probe AS (SELECT doc_id, ng FROM g WHERE doc_id % 5 = 2)
      |SELECT probe.doc_id,
      |       count(*) AS n_grams,
      |       count(corpus.ng) AS n_seen,
      |       round(CAST(count(corpus.ng) AS DOUBLE) / count(*), 4) AS seen_frac
      |FROM probe LEFT JOIN corpus ON probe.ng = corpus.ng
      |GROUP BY probe.doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val index = Dedup.gramFreqIndex(
      docs.filter(pmod(col("doc_id"), lit(5)) =!= 2), "doc_id", "text", n = 8)
    Dedup.incrementalDupGramFraction(
      docs.filter(pmod(col("doc_id"), lit(5)) === 2), index,
      "doc_id", "text", n = 8)
  }

  /** The gram index's full store lifecycle under the oracle —
    * bootstrap from one corpus shard, append the other shard's
    * partial as an epoch, compact, manifest-checked read, probe:
    * counts ADD across disjoint shards, so the stored probe must
    * equal q206's inline computation exactly (same oracle SQL). The
    * probe never re-reads corpus text — only the summed
    * (gram_fp, n_docs) table. */
  val q207GramFreqStore = q("q207_gram_freq_store",
    "Batch gram-novelty probe via stored index lifecycle: bootstrap+append+compact+read (north star: index stores)",
    """WITH tk AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      |  FROM documents),
      |grams AS (
      |  SELECT doc_id,
      |         CASE WHEN len(toks) >= 8
      |              THEN list_distinct(list_transform(range(1, len(toks) - 6),
      |                     i -> array_to_string(toks[i:i+7], ' ')))
      |              ELSE [array_to_string(toks, ' ')] END AS ngs
      |  FROM tk),
      |g AS (SELECT doc_id, unnest(ngs) AS ng FROM grams),
      |corpus AS (SELECT DISTINCT ng FROM g WHERE doc_id % 5 <> 2),
      |probe AS (SELECT doc_id, ng FROM g WHERE doc_id % 5 = 2)
      |SELECT probe.doc_id,
      |       count(*) AS n_grams,
      |       count(corpus.ng) AS n_seen,
      |       round(CAST(count(corpus.ng) AS DOUBLE) / count(*), 4) AS seen_frac
      |FROM probe LEFT JOIN corpus ON probe.ng = corpus.ng
      |GROUP BY probe.doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val root = freshScratch(s, "q207_gram_index")
    Dedup.gramFreqIndexWrite(
      Dedup.gramFreqIndex(docs.filter(pmod(col("doc_id"), lit(5)).isin(0, 1)),
        "doc_id", "text", n = 8), root, n = 8)
    Dedup.gramFreqIndexAppend(s, root,
      Dedup.gramFreqIndex(docs.filter(pmod(col("doc_id"), lit(5)).isin(3, 4)),
        "doc_id", "text", n = 8), epoch = "day2", n = 8)
    Maintenance.compactStore(s, root)
    Dedup.incrementalDupGramFraction(
      docs.filter(pmod(col("doc_id"), lit(5)) === 2),
      Dedup.gramFreqIndexRead(s, root, None, n = 8),
      "doc_id", "text", n = 8)
  }

  // -------------------------------------------- hashed bigram LM filter
  /** [[LmFilter.lmPerplexity]] under the oracle — the CCNet-style
    * quality gate: a hashed bigram LM trained on the lang='en'
    * reference subset scores EVERY document by mean bigram NLL and
    * perplexity. md5 buckets (the DSIR convention) make every count
    * and score oracle-replayable; the model is ≤ 4096 + 32768 rows
    * whatever the reference size, broadcast onto the candidates'
    * bigram stream — candidate text never shuffles. */
  val q208LmPerplexity = q("q208_lm_perplexity",
    "Hashed-bigram LM perplexity vs an in-language reference model (north star: CCNet quality filter)",
    """WITH tk AS (
      |  SELECT doc_id, lang, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      |  FROM documents),
      |f AS (
      |  SELECT doc_id, lang,
      |         unnest(CASE WHEN len(toks) >= 2
      |                THEN list_transform(range(1, len(toks)),
      |                       i -> toks[i] || ' ' || toks[i+1])
      |                ELSE [] END) AS f
      |  FROM tk),
      |feats AS (
      |  SELECT doc_id, lang,
      |         ('0x' || substr(md5(split_part(f, ' ', 1)), 1, 8))::BIGINT % 4096 AS b1,
      |         ('0x' || substr(md5(f), 1, 8))::BIGINT % 32768 AS b2
      |  FROM f),
      |ctx AS (SELECT b1, count(*) AS c1 FROM feats WHERE lang = 'en' GROUP BY b1),
      |bgc AS (SELECT b2, count(*) AS c2 FROM feats WHERE lang = 'en' GROUP BY b2),
      |sc AS (
      |  SELECT f.doc_id, count(*) AS n_bigrams,
      |         avg(ln(CAST(coalesce(c.c1, 0) + 4096 AS DOUBLE)
      |                / CAST(coalesce(g.c2, 0) + 1 AS DOUBLE))) AS nll0
      |  FROM feats f LEFT JOIN ctx c ON f.b1 = c.b1
      |               LEFT JOIN bgc g ON f.b2 = g.b2
      |  GROUP BY f.doc_id)
      |SELECT d.doc_id, coalesce(s.n_bigrams, 0) AS n_bigrams,
      |       round(coalesce(s.nll0, 0.0), 4) AS nll,
      |       round(exp(coalesce(s.nll0, 0.0)), 4) AS ppl
      |FROM documents d LEFT JOIN sc s ON d.doc_id = s.doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    LmFilter.lmPerplexity(docs.select("doc_id", "text"), "doc_id", "text",
      LmFilter.lmIndex(docs.filter(col("lang") === "en"), "doc_id", "text"))
  }

  /** The LM store's full persisted lifecycle under the SAME oracle
    * shape — reference shard doc_id%5≠2 trains the model (bootstrap
    * one half, append the other as an epoch, compact, manifest-
    * checked read); the %5=2 batch scores against the summed counts
    * without the reference ever being re-read. Counts ADD across
    * disjoint shards, so the stored score must equal the inline
    * computation exactly. */
  val q209LmStore = q("q209_lm_store",
    "Batch LM-perplexity scoring via stored model lifecycle: bootstrap+append+compact+read (north star: index stores)",
    """WITH tk AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      |  FROM documents),
      |f AS (
      |  SELECT doc_id,
      |         unnest(CASE WHEN len(toks) >= 2
      |                THEN list_transform(range(1, len(toks)),
      |                       i -> toks[i] || ' ' || toks[i+1])
      |                ELSE [] END) AS f
      |  FROM tk),
      |feats AS (
      |  SELECT doc_id,
      |         ('0x' || substr(md5(split_part(f, ' ', 1)), 1, 8))::BIGINT % 4096 AS b1,
      |         ('0x' || substr(md5(f), 1, 8))::BIGINT % 32768 AS b2
      |  FROM f),
      |ctx AS (SELECT b1, count(*) AS c1 FROM feats WHERE doc_id % 5 <> 2 GROUP BY b1),
      |bgc AS (SELECT b2, count(*) AS c2 FROM feats WHERE doc_id % 5 <> 2 GROUP BY b2),
      |probe AS (SELECT * FROM feats WHERE doc_id % 5 = 2),
      |sc AS (
      |  SELECT f.doc_id, count(*) AS n_bigrams,
      |         avg(ln(CAST(coalesce(c.c1, 0) + 4096 AS DOUBLE)
      |                / CAST(coalesce(g.c2, 0) + 1 AS DOUBLE))) AS nll0
      |  FROM probe f LEFT JOIN ctx c ON f.b1 = c.b1
      |               LEFT JOIN bgc g ON f.b2 = g.b2
      |  GROUP BY f.doc_id)
      |SELECT d.doc_id, coalesce(s.n_bigrams, 0) AS n_bigrams,
      |       round(coalesce(s.nll0, 0.0), 4) AS nll,
      |       round(exp(coalesce(s.nll0, 0.0)), 4) AS ppl
      |FROM documents d LEFT JOIN sc s ON d.doc_id = s.doc_id
      |WHERE d.doc_id % 5 = 2""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val root = freshScratch(s, "q209_lm_index")
    val ref = docs.filter(pmod(col("doc_id"), lit(5)) =!= 2)
    LmFilter.lmIndexWrite(
      LmFilter.lmIndex(ref.filter(pmod(col("doc_id"), lit(5)).isin(0, 1)),
        "doc_id", "text"), root, ctxBuckets = 4096, bigramBuckets = 32768)
    LmFilter.lmIndexAppend(s, root,
      LmFilter.lmIndex(ref.filter(pmod(col("doc_id"), lit(5)).isin(3, 4)),
        "doc_id", "text"), epoch = "day2",
      ctxBuckets = 4096, bigramBuckets = 32768)
    Maintenance.compactStore(s, root)
    LmFilter.lmPerplexity(
      docs.filter(pmod(col("doc_id"), lit(5)) === 2), "doc_id", "text",
      LmFilter.lmIndexRead(s, root, ctxBuckets = 4096, bigramBuckets = 32768))
  }

  // ------------------------------------------------- k-means refinement
  /** [[Similarity.lloydStep]] under the oracle: one spherical-k-means
    * step from the q24 seed centroids (vec_id % 50), emitted per
    * (cell, dim) so the oracle checks every refined coordinate. The
    * 4dp-round + float-cast inside the step is what makes each
    * coordinate engine-portable. Empty cells (which keep their seed
    * centroid, n_members = 0 — spec-pinned) are filtered HERE because
    * the oracle's GROUP BY never sees them. */
  val q210KmeansStep = q("q210_kmeans_step",
    "One Lloyd refinement step over cosine cells, per-dim centroid means (north star: IVF centroid training)",
    """WITH cents AS (
      |  SELECT vec_id AS cell, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
      |  FROM embeddings WHERE vec_id % 50 = 0),
      |corpus AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec FROM embeddings),
      |assign AS (
      |  SELECT vec_id, vec, cell FROM (
      |    SELECT c.vec_id, c.vec, ct.cell,
      |           row_number() OVER (PARTITION BY c.vec_id
      |                              ORDER BY list_cosine_similarity(c.vec, ct.cvec) DESC, ct.cell) AS rk
      |    FROM corpus c CROSS JOIN cents ct) WHERE rk = 1)
      |SELECT a.cell, count(*) AS n_members,
      |       CAST(t.i - 1 AS INTEGER) AS dim,
      |       CAST(round(avg(a.vec[t.i]), 4) AS FLOAT) AS c
      |FROM assign a, UNNEST(generate_series(1, len(a.vec))) AS t(i)
      |GROUP BY a.cell, t.i""".stripMargin) { (s, d) =>
    val e = Tables.embeddings(s, d)
    val init = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("cell"), col("embedding"))
    Similarity.lloydStep(e, init, "vec_id", "embedding")
      .filter(col("n_members") > 0)
      .select(col("cell"), col("n_members"),
        posexplode(col("embedding")).as(Seq("dim", "c")))
  }

  /** [[Similarity.kmeansRefine]] (two Lloyd steps, exercising the
    * checkpointed iteration path) + [[Similarity.clusterProfile]]
    * under the oracle: per cell after training — member count, mean
    * member-to-centroid cosine (the k-means objective), majority
    * label and purity. The oracle unrolls both steps, replaying the
    * keep-empty-cell fallback (coalesce to the seed centroid) and the
    * 4dp float-cast centroid coordinates, so every downstream
    * assignment decision is engine-identical. */
  val q211KmeansProfile = q("q211_kmeans_profile",
    "Two-step k-means refinement + cluster profile: objective, majority label, purity (north star: SemDeDup prep)",
    """WITH corpus AS (
      |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
      |  FROM embeddings),
      |c0 AS (SELECT vec_id AS cell, vec AS cvec FROM corpus WHERE vec_id % 50 = 0),
      |a1 AS (
      |  SELECT vec_id, vec, cell FROM (
      |    SELECT c.vec_id, c.vec, t.cell,
      |           row_number() OVER (PARTITION BY c.vec_id
      |                              ORDER BY list_cosine_similarity(c.vec, t.cvec) DESC, t.cell) AS rk
      |    FROM corpus c CROSS JOIN c0 t) WHERE rk = 1),
      |m1 AS (
      |  SELECT a.cell, t.i AS i,
      |         CAST(CAST(round(avg(a.vec[t.i]), 4) AS FLOAT) AS DOUBLE) AS v
      |  FROM a1 a, UNNEST(generate_series(1, len(a.vec))) AS t(i)
      |  GROUP BY a.cell, t.i),
      |c1 AS (
      |  SELECT c0.cell, coalesce(m.cvec, c0.cvec) AS cvec
      |  FROM c0 LEFT JOIN (SELECT cell, list(v ORDER BY i) AS cvec
      |                     FROM m1 GROUP BY cell) m USING (cell)),
      |a2 AS (
      |  SELECT vec_id, vec, cell FROM (
      |    SELECT c.vec_id, c.vec, t.cell,
      |           row_number() OVER (PARTITION BY c.vec_id
      |                              ORDER BY list_cosine_similarity(c.vec, t.cvec) DESC, t.cell) AS rk
      |    FROM corpus c CROSS JOIN c1 t) WHERE rk = 1),
      |m2 AS (
      |  SELECT a.cell, t.i AS i,
      |         CAST(CAST(round(avg(a.vec[t.i]), 4) AS FLOAT) AS DOUBLE) AS v
      |  FROM a2 a, UNNEST(generate_series(1, len(a.vec))) AS t(i)
      |  GROUP BY a.cell, t.i),
      |c2 AS (
      |  SELECT c1.cell, coalesce(m.cvec, c1.cvec) AS cvec
      |  FROM c1 LEFT JOIN (SELECT cell, list(v ORDER BY i) AS cvec
      |                     FROM m2 GROUP BY cell) m USING (cell)),
      |a3 AS (
      |  SELECT vec_id, vec, cell FROM (
      |    SELECT c.vec_id, c.vec, t.cell,
      |           row_number() OVER (PARTITION BY c.vec_id
      |                              ORDER BY list_cosine_similarity(c.vec, t.cvec) DESC, t.cell) AS rk
      |    FROM corpus c CROSS JOIN c2 t) WHERE rk = 1),
      |sims AS (
      |  SELECT a.vec_id, a.cell,
      |         list_cosine_similarity(a.vec, t.cvec) AS sim, c.label
      |  FROM a3 a JOIN c2 t USING (cell) JOIN corpus c ON a.vec_id = c.vec_id),
      |prof AS (
      |  SELECT cell, count(*) AS n_members, round(avg(sim), 4) AS mean_cos
      |  FROM sims GROUP BY cell),
      |lab AS (
      |  SELECT cell, label AS top_label, lc AS top_c FROM (
      |    SELECT cell, label, count(*) AS lc,
      |           row_number() OVER (PARTITION BY cell
      |                              ORDER BY count(*) DESC, label) AS rk
      |    FROM sims GROUP BY cell, label) WHERE rk = 1)
      |SELECT p.cell, p.n_members, p.mean_cos, l.top_label,
      |       round(CAST(l.top_c AS DOUBLE) / p.n_members, 4) AS purity
      |FROM prof p JOIN lab l USING (cell)""".stripMargin) { (s, d) =>
    val e = Tables.embeddings(s, d)
    val init = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("cell"), col("embedding"))
    val trained = Similarity.kmeansRefine(e, init, "vec_id", "embedding",
      steps = 2)
    Similarity.clusterProfile(e, trained, "vec_id", "embedding", "label")
  }

  /** The acceptance test for centroid TRAINING: per query, IVF
    * recall@5 (nProbe=3) under the raw seed centroids vs under one
    * Lloyd step of [[Similarity.kmeansRefine]] — same index layout,
    * same probe budget, only the quantizer changes. This is the
    * measurement that justifies (or vetoes) retraining the IVF
    * coarse quantizer before a corpus re-index; shipping retrained
    * centroids without it is a recall regression waiting to happen.
    * Oracle: the q200 recall replay twice, with the trained-centroid
    * branch replaying q211's rounded float means (and empty-cell
    * fallback) so every assignment is engine-identical. */
  val q212TrainedRecall = q("q212_trained_recall",
    "IVF recall@5 under seed vs Lloyd-trained centroids, per query (north star: quantizer training acceptance)",
    """WITH corpus AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec FROM embeddings),
      |c0 AS (SELECT vec_id AS cell, vec AS cvec FROM corpus WHERE vec_id % 50 = 0),
      |a1 AS (
      |  SELECT vec_id, vec, cell FROM (
      |    SELECT c.vec_id, c.vec, t.cell,
      |           row_number() OVER (PARTITION BY c.vec_id
      |                              ORDER BY list_cosine_similarity(c.vec, t.cvec) DESC, t.cell) AS rk
      |    FROM corpus c CROSS JOIN c0 t) WHERE rk = 1),
      |m1 AS (
      |  SELECT a.cell, t.i AS i,
      |         CAST(CAST(round(avg(a.vec[t.i]), 4) AS FLOAT) AS DOUBLE) AS v
      |  FROM a1 a, UNNEST(generate_series(1, len(a.vec))) AS t(i)
      |  GROUP BY a.cell, t.i),
      |c1 AS (
      |  SELECT c0.cell, coalesce(m.cvec, c0.cvec) AS cvec
      |  FROM c0 LEFT JOIN (SELECT cell, list(v ORDER BY i) AS cvec
      |                     FROM m1 GROUP BY cell) m USING (cell)),
      |a2 AS (
      |  SELECT vec_id, vec, cell FROM (
      |    SELECT c.vec_id, c.vec, t.cell,
      |           row_number() OVER (PARTITION BY c.vec_id
      |                              ORDER BY list_cosine_similarity(c.vec, t.cvec) DESC, t.cell) AS rk
      |    FROM corpus c CROSS JOIN c1 t) WHERE rk = 1),
      |q AS (SELECT vec_id AS query_id, vec AS qvec FROM corpus WHERE vec_id < 5),
      |p0 AS (
      |  SELECT query_id, qvec, cell FROM (
      |    SELECT q.query_id, q.qvec, t.cell,
      |           row_number() OVER (PARTITION BY q.query_id
      |                              ORDER BY list_cosine_similarity(q.qvec, t.cvec) DESC, t.cell) AS rk
      |    FROM q CROSS JOIN c0 t) WHERE rk <= 3),
      |p1 AS (
      |  SELECT query_id, qvec, cell FROM (
      |    SELECT q.query_id, q.qvec, t.cell,
      |           row_number() OVER (PARTITION BY q.query_id
      |                              ORDER BY list_cosine_similarity(q.qvec, t.cvec) DESC, t.cell) AS rk
      |    FROM q CROSS JOIN c1 t) WHERE rk <= 3),
      |ivf0 AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT p.query_id, a.vec_id AS neighbor_id,
      |           row_number() OVER (PARTITION BY p.query_id
      |             ORDER BY round(list_cosine_similarity(p.qvec, a.vec), 4) DESC,
      |                      a.vec_id) AS rk
      |    FROM p0 p JOIN a1 a ON a.cell = p.cell
      |    WHERE a.vec_id <> p.query_id) WHERE rk <= 5),
      |ivf1 AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT p.query_id, a.vec_id AS neighbor_id,
      |           row_number() OVER (PARTITION BY p.query_id
      |             ORDER BY round(list_cosine_similarity(p.qvec, a.vec), 4) DESC,
      |                      a.vec_id) AS rk
      |    FROM p1 p JOIN a2 a ON a.cell = p.cell
      |    WHERE a.vec_id <> p.query_id) WHERE rk <= 5),
      |exact AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT q.query_id, c.vec_id AS neighbor_id,
      |           row_number() OVER (PARTITION BY q.query_id
      |             ORDER BY round(list_cosine_similarity(q.qvec, c.vec), 4) DESC,
      |                      c.vec_id) AS rk
      |    FROM corpus c CROSS JOIN q WHERE c.vec_id <> q.query_id) WHERE rk <= 5),
      |h0 AS (
      |  SELECT i.query_id, CAST(count(*) AS BIGINT) AS n_hit
      |  FROM ivf0 i JOIN exact e USING (query_id, neighbor_id)
      |  GROUP BY i.query_id),
      |h1 AS (
      |  SELECT i.query_id, CAST(count(*) AS BIGINT) AS n_hit
      |  FROM ivf1 i JOIN exact e USING (query_id, neighbor_id)
      |  GROUP BY i.query_id)
      |SELECT e.query_id, CAST(count(*) AS BIGINT) AS n_exact,
      |       round(CAST(coalesce(any_value(h0.n_hit), 0) AS DOUBLE) / count(*), 4) AS recall_seed,
      |       round(CAST(coalesce(any_value(h1.n_hit), 0) AS DOUBLE) / count(*), 4) AS recall_trained
      |FROM exact e LEFT JOIN h0 ON e.query_id = h0.query_id
      |             LEFT JOIN h1 ON e.query_id = h1.query_id
      |GROUP BY e.query_id""".stripMargin) { (s, d) =>
    val e = Tables.embeddings(s, d)
    val seedCents = e.filter(col("vec_id") % 50 === 0)
    val init = seedCents.select(col("vec_id").as("cell"), col("embedding"))
    val trained = Similarity.kmeansRefine(e, init, "vec_id", "embedding",
      steps = 1)
    val trainedCents = trained.select(col("cell").as("vec_id"), col("embedding"))
    val queries = e.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(e, queries,
      "vec_id", "embedding", k = 5, roundTo = 4)
    def recallOf(cents: DataFrame) = Similarity.annRecall(
      approx = Similarity.ivfTopK(
        Similarity.assignCells(e, cents, "vec_id", "embedding"), cents,
        queries, "vec_id", "embedding", k = 5, nProbe = 3, roundTo = 4),
      exact = exact)
    recallOf(seedCents)
      .select(col("query_id"), col("n_exact"), col("recall").as("recall_seed"))
      .join(recallOf(trainedCents)
        .select(col("query_id"), col("recall").as("recall_trained")),
        Seq("query_id"))
  }

  // ------------------------------------------------- corpus statistics: Zipf fit
  /** [[Profile.zipfFit]] under the oracle: per-source least-squares
    * fit of ln(freq) vs ln(rank) over the top-1000 vocabulary — the
    * data-card statistic that flags template floods (too flat) and
    * repetition collapse (too steep). Ranks order by (count DESC,
    * token), a total order, so both engines regress over identical
    * points; 4dp rounding absorbs the summation-order ulps in the
    * covariance sums. */
  val q213ZipfFit = q("q213_zipf_fit",
    "Zipf power-law fit of token frequencies per source: slope + R2 (north star: corpus data card)",
    """WITH tok AS (
      |  SELECT source, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
      |  FROM documents),
      |cnt AS (SELECT source, t, count(*) AS c FROM tok GROUP BY source, t),
      |rk AS (
      |  SELECT source, t, c,
      |         row_number() OVER (PARTITION BY source ORDER BY c DESC, t) AS r,
      |         count(*) OVER (PARTITION BY source) AS nd
      |  FROM cnt)
      |SELECT source, CAST(max(nd) AS BIGINT) AS n_distinct,
      |       round(regr_slope(ln(CAST(c AS DOUBLE)), ln(CAST(r AS DOUBLE))), 4) AS zipf_slope,
      |       round(regr_r2(ln(CAST(c AS DOUBLE)), ln(CAST(r AS DOUBLE))), 4) AS r2
      |FROM rk WHERE r <= 1000
      |GROUP BY source""".stripMargin) { (s, d) =>
    Profile.zipfFit(Tables.documents(s, d), "source", "text", maxRank = 1000)
  }

  /** [[Similarity.clusterBalancedSample]] under the oracle: up to 3
    * docs per k-means cell, md5-ordered — diversity sampling over
    * SEMANTIC strata (q79's deterministic reservoir applied to
    * embedding-space cells instead of metadata groups). */
  val q214ClusterSample = q("q214_cluster_sample",
    "Cluster-balanced diversity sample: md5-ordered k-per-cell over embedding cells (north star: SemDeDup-style coverage)",
    """WITH cents AS (
      |  SELECT vec_id AS cell, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
      |  FROM embeddings WHERE vec_id % 50 = 0),
      |corpus AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec FROM embeddings),
      |assign AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT c.vec_id, ct.cell,
      |           row_number() OVER (PARTITION BY c.vec_id
      |                              ORDER BY list_cosine_similarity(c.vec, ct.cvec) DESC, ct.cell) AS rk
      |    FROM corpus c CROSS JOIN cents ct) WHERE rk = 1)
      |SELECT vec_id, cell, CAST(rk AS BIGINT) AS rk FROM (
      |  SELECT vec_id, cell,
      |         row_number() OVER (PARTITION BY cell
      |           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
      |  FROM assign) WHERE rk <= 3""".stripMargin) { (s, d) =>
    val e = Tables.embeddings(s, d)
    Similarity.clusterBalancedSample(e,
      e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("cell"), col("embedding")),
      "vec_id", "embedding", perCell = 3)
  }

  /** [[Dedup.exactJoin]] under [[Dedup.Jaccard]] and the oracle:
    * EVERY pair with 3-shingle-set Jaccard ≥ 0.5 — corpus-wide, NO blocking key
    * (q21 is the blocked unigram sibling) — via prefix filtering in
    * Spark vs brute force in DuckDB, so the oracle directly
    * certifies the prefix-filter lemma's zero-false-negative claim
    * on real data: a dropped candidate shows up as a missing row.
    * The threshold compares UNROUNDED rationals in both engines;
    * only the displayed jaccard rounds. */
  val q215ExactJaccard = q("q215_exact_jaccard_join",
    "Exact corpus-wide Jaccard join over 3-shingles (prefix filtering, zero false negatives) (north star: dedup certification)",
    """WITH tk AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      |  FROM documents),
      |t AS (
      |  SELECT doc_id,
      |         list_distinct(CASE WHEN len(toks) >= 3
      |           THEN list_transform(range(1, len(toks) - 1),
      |                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      |           ELSE [array_to_string(toks, ' ')] END) AS s
      |  FROM tk WHERE len(toks) > 0),
      |ne AS (SELECT * FROM t WHERE len(s) > 0),
      |p AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |         CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      |           / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jac
      |  FROM ne a JOIN ne b ON a.doc_id < b.doc_id)
      |SELECT id_a, id_b, round(jac, 4) AS jaccard
      |FROM p WHERE jac >= 0.5""".stripMargin) { (s, d) =>
    Dedup.exactJoin(Tables.documents(s, d), "doc_id", "text",
      Dedup.Jaccard(0.5, shingleK = 3))
  }

  /** [[Profile.vocabGrowth]] under the oracle: Heaps'-law vocabulary
    * novelty per ingest epoch (doc_id % 5 plays the daily batch). */
  val q216VocabGrowth = q("q216_vocab_growth",
    "Vocabulary growth across ingest epochs: new types, cumulative vocab, novelty rate (north star: corpus data card)",
    """WITH tok AS (
      |  SELECT doc_id % 5 AS epoch,
      |         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
      |  FROM documents),
      |occ AS (SELECT epoch, count(*) AS n_occurrences FROM tok GROUP BY epoch),
      |fst AS (SELECT t, min(epoch) AS epoch FROM tok GROUP BY t),
      |nw AS (SELECT epoch, count(*) AS new_types FROM fst GROUP BY epoch)
      |SELECT o.epoch, o.n_occurrences,
      |       coalesce(n.new_types, 0) AS new_types,
      |       CAST(sum(coalesce(n.new_types, 0)) OVER (ORDER BY o.epoch) AS BIGINT) AS cum_types,
      |       round(CAST(coalesce(n.new_types, 0) AS DOUBLE) / o.n_occurrences, 4) AS novelty
      |FROM occ o LEFT JOIN nw n ON o.epoch = n.epoch""".stripMargin) { (s, d) =>
    Profile.vocabGrowth(Tables.documents(s, d), "text",
      pmod(col("doc_id"), lit(5)))
  }

  /** Matryoshka-style dimension-truncation recall: per prefix width
    * d ∈ {8, 16, 32, 64}, how much of the full-dimension exact top-5
    * a brute-force search over only the FIRST d dimensions recovers.
    * The measurement behind every "store a 16-dim prefix, re-rank
    * the shortlist at full width" ANN cost cut — shipping truncated
    * vectors without it is a recall regression on faith. Composed
    * entirely from [[Similarity.bruteForceTopK]] + [[Similarity.annRecall]]
    * over sliced arrays (slice is a zero-shuffle projection). */
  val q217TruncationRecall = q("q217_truncation_recall",
    "Embedding-prefix truncation recall@5 per width (north star: ANN storage-cost acceptance)",
    """WITH corpus AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec FROM embeddings),
      |q AS (SELECT vec_id AS query_id, vec AS qvec FROM corpus WHERE vec_id < 5),
      |exact AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT q.query_id, c.vec_id AS neighbor_id,
      |           row_number() OVER (PARTITION BY q.query_id
      |             ORDER BY round(list_cosine_similarity(q.qvec, c.vec), 4) DESC,
      |                      c.vec_id) AS rk
      |    FROM corpus c CROSS JOIN q WHERE c.vec_id <> q.query_id) WHERE rk <= 5),
      |dims AS (SELECT unnest([8, 16, 32, 64]) AS d),
      |approx AS (
      |  SELECT d, query_id, neighbor_id FROM (
      |    SELECT dm.d, q.query_id, c.vec_id AS neighbor_id,
      |           row_number() OVER (PARTITION BY dm.d, q.query_id
      |             ORDER BY round(list_cosine_similarity(q.qvec[1:dm.d], c.vec[1:dm.d]), 4) DESC,
      |                      c.vec_id) AS rk
      |    FROM corpus c CROSS JOIN q CROSS JOIN dims dm
      |    WHERE c.vec_id <> q.query_id) WHERE rk <= 5),
      |hit AS (
      |  SELECT a.d, a.query_id, CAST(count(*) AS BIGINT) AS n_hit
      |  FROM approx a JOIN exact e USING (query_id, neighbor_id)
      |  GROUP BY a.d, a.query_id)
      |SELECT CAST(dm.d AS INTEGER) AS dims, e.query_id,
      |       CAST(count(*) AS BIGINT) AS n_exact,
      |       coalesce(any_value(h.n_hit), 0) AS n_hit,
      |       round(CAST(coalesce(any_value(h.n_hit), 0) AS DOUBLE) / count(*), 4) AS recall
      |FROM exact e CROSS JOIN dims dm
      |LEFT JOIN hit h ON h.d = dm.d AND h.query_id = e.query_id
      |GROUP BY dm.d, e.query_id""".stripMargin) { (s, d) =>
    val e = Tables.embeddings(s, d)
    val queries = e.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(e, queries,
      "vec_id", "embedding", k = 5, roundTo = 4)
    Seq(8, 16, 32, 64).map { dd =>
      val sliced = e.select(col("vec_id"), slice(col("embedding"), 1, dd).as("embedding"))
      Similarity.annRecall(
        approx = Similarity.bruteForceTopK(sliced,
          sliced.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 5, roundTo = 4),
        exact = exact).withColumn("dims", lit(dd))
    }.reduce(_.unionByName(_))
      .select(col("dims"), col("query_id"), col("n_exact"), col("n_hit"),
        col("recall"))
  }

  /** Int8-quantization recall: the q68 storage path's acceptance
    * test — exact top-5 over RECONSTRUCTED (code × scale) vectors vs
    * the float originals. Reconstruction round-trips through float
    * in both engines so every cosine is bit-identical. */
  val q218QuantRecall = q("q218_quant_recall",
    "Int8 scalar-quantization recall@5 vs float exact (north star: similarity storage acceptance)",
    """WITH base AS (
      |  SELECT vec_id, embedding,
      |         list_aggregate(list_transform(embedding,
      |           x -> abs(CAST(x AS DOUBLE))), 'max') AS m
      |  FROM embeddings),
      |corpus AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec FROM base),
      |recon AS (
      |  SELECT vec_id,
      |         CASE WHEN m IS NULL OR m = 0
      |              THEN list_transform(embedding, x -> 0.0)
      |              ELSE list_transform(embedding,
      |                x -> CAST(CAST(CAST(round(CAST(x AS DOUBLE) / (m / 127.0)) AS INTEGER)
      |                               * (m / 127.0) AS FLOAT) AS DOUBLE)) END AS rvec
      |  FROM base),
      |q AS (SELECT vec_id AS query_id, vec AS qvec FROM corpus WHERE vec_id < 5),
      |rq AS (SELECT vec_id AS query_id, rvec AS qvec FROM recon WHERE vec_id < 5),
      |exact AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT q.query_id, c.vec_id AS neighbor_id,
      |           row_number() OVER (PARTITION BY q.query_id
      |             ORDER BY round(list_cosine_similarity(q.qvec, c.vec), 4) DESC,
      |                      c.vec_id) AS rk
      |    FROM corpus c CROSS JOIN q WHERE c.vec_id <> q.query_id) WHERE rk <= 5),
      |approx AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT q.query_id, r.vec_id AS neighbor_id,
      |           row_number() OVER (PARTITION BY q.query_id
      |             ORDER BY round(list_cosine_similarity(q.qvec, r.rvec), 4) DESC,
      |                      r.vec_id) AS rk
      |    FROM recon r CROSS JOIN rq q WHERE r.vec_id <> q.query_id) WHERE rk <= 5),
      |hit AS (
      |  SELECT a.query_id, CAST(count(*) AS BIGINT) AS n_hit
      |  FROM approx a JOIN exact e USING (query_id, neighbor_id)
      |  GROUP BY a.query_id)
      |SELECT e.query_id, CAST(count(*) AS BIGINT) AS n_exact,
      |       coalesce(any_value(h.n_hit), 0) AS n_hit,
      |       round(CAST(coalesce(any_value(h.n_hit), 0) AS DOUBLE) / count(*), 4) AS recall
      |FROM exact e LEFT JOIN hit h ON e.query_id = h.query_id
      |GROUP BY e.query_id""".stripMargin) { (s, d) =>
    val e = Tables.embeddings(s, d)
    val scale = coalesce(Similarity.int8Scale(col("embedding")), lit(0.0))
    val recon = e.select(col("vec_id"),
      transform(Similarity.quantizeInt8(col("embedding")),
        c => (c.cast("double") * scale).cast("float")).as("embedding"))
    Similarity.annRecall(
      approx = Similarity.bruteForceTopK(recon,
        recon.filter(col("vec_id") < 5), "vec_id", "embedding",
        k = 5, roundTo = 4),
      exact = Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 5, roundTo = 4))
  }

  /** [[Contamination.propagatedOverlap]] under the oracle:
    * contamination inherited through near-dup clusters — edges from
    * the exact Jaccard join (oracle-replayable, unlike LSH-seeded
    * edges), components via the q42 recursive-CTE replay, overlap
    * per q50, cluster max propagated to every member.
    * `flagged_by_neighbor` rows are the leak the direct check
    * misses: docs under the verbatim threshold whose near-duplicate
    * is contaminated. */
  val q219PropagatedContamination = q("q219_propagated_contamination",
    "Contamination propagated through near-dup clusters: per-member inherited overlap (north star: decontamination soundness)",
    """WITH RECURSIVE
      |tk AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |         list_distinct(CASE WHEN len(toks) >= 3
      |           THEN list_transform(range(1, len(toks) - 1),
      |                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      |           ELSE [array_to_string(toks, ' ')] END) AS s
      |  FROM tk WHERE len(toks) > 0),
      |ne AS (SELECT * FROM sh WHERE len(s) > 0),
      |edges AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM ne a JOIN ne b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      |        / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5),
      |verts AS (SELECT DISTINCT id FROM (SELECT id_a AS id FROM edges UNION SELECT id_b FROM edges)),
      |undirected AS (SELECT id_a AS s, id_b AS d FROM edges UNION SELECT id_b, id_a FROM edges),
      |reach(id, r) AS (
      |  SELECT id, id FROM verts
      |  UNION
      |  SELECT reach.id, u.d FROM reach JOIN undirected u ON reach.r = u.s),
      |cc AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
      |grams AS (
      |  SELECT doc_id,
      |         CASE WHEN len(toks) >= 8
      |              THEN list_distinct(list_transform(range(1, len(toks) - 6),
      |                     i -> array_to_string(toks[i:i+7], ' ')))
      |              ELSE [array_to_string(toks, ' ')] END AS ngs
      |  FROM tk),
      |bench AS (SELECT DISTINCT unnest(ngs) AS ng FROM grams WHERE doc_id % 29 = 0),
      |probe AS (SELECT doc_id, unnest(ngs) AS ng FROM grams WHERE doc_id % 29 <> 0),
      |ratio AS (
      |  SELECT probe.doc_id, CAST(count(bench.ng) AS DOUBLE) / count(*) AS own
      |  FROM probe LEFT JOIN bench ON probe.ng = bench.ng
      |  GROUP BY probe.doc_id),
      |lab AS (
      |  SELECT r.doc_id, coalesce(cc.cluster_id, r.doc_id) AS cluster_id, r.own
      |  FROM ratio r LEFT JOIN cc ON r.doc_id = cc.doc_id),
      |prop AS (
      |  SELECT doc_id, own,
      |         max(own) OVER (PARTITION BY cluster_id) AS cluster_ratio
      |  FROM lab)
      |SELECT doc_id, round(own, 4) AS own_ratio,
      |       round(cluster_ratio, 4) AS cluster_ratio,
      |       own <= 0.1 AS flagged_by_neighbor
      |FROM prop WHERE cluster_ratio > 0.1""".stripMargin) { (s, d) =>
    Contamination.propagatedOverlap(Tables.documents(s, d),
      benchFilter = pmod(col("doc_id"), lit(29)) === 0,
      idCol = "doc_id", textCol = "text", n = 8)
  }

  // ------------------------------------------- quality calibration
  /** [[Quality.qualityBuckets]] under the oracle — CCNet's
    * head/middle/tail: each source's q208 perplexity distribution is
    * cut at its own 1/3 and 2/3 interpolated quantiles
    * (`quantile_cont` semantics, bit-identical across engines via
    * [[Percentiles.interpolated]]), and every doc is labeled by the
    * bucket its ROUNDED emitted ppl falls in. Per-source calibration
    * is the point: an absolute ppl threshold right for one source is
    * wrong for another. Thresholds are one row per source, broadcast
    * back; the corpus never sorts. */
  val q220QualityBuckets = q("q220_quality_buckets",
    "CCNet head/middle/tail perplexity bucketing per source (north star: quality calibration)",
    """WITH tk AS (
      |  SELECT doc_id, lang, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      |  FROM documents),
      |f AS (
      |  SELECT doc_id, lang,
      |         unnest(CASE WHEN len(toks) >= 2
      |                THEN list_transform(range(1, len(toks)),
      |                       i -> toks[i] || ' ' || toks[i+1])
      |                ELSE [] END) AS f
      |  FROM tk),
      |feats AS (
      |  SELECT doc_id, lang,
      |         ('0x' || substr(md5(split_part(f, ' ', 1)), 1, 8))::BIGINT % 4096 AS b1,
      |         ('0x' || substr(md5(f), 1, 8))::BIGINT % 32768 AS b2
      |  FROM f),
      |ctx AS (SELECT b1, count(*) AS c1 FROM feats WHERE lang = 'en' GROUP BY b1),
      |bgc AS (SELECT b2, count(*) AS c2 FROM feats WHERE lang = 'en' GROUP BY b2),
      |sc AS (
      |  SELECT f.doc_id,
      |         avg(ln(CAST(coalesce(c.c1, 0) + 4096 AS DOUBLE)
      |                / CAST(coalesce(g.c2, 0) + 1 AS DOUBLE))) AS nll0
      |  FROM feats f LEFT JOIN ctx c ON f.b1 = c.b1
      |               LEFT JOIN bgc g ON f.b2 = g.b2
      |  GROUP BY f.doc_id),
      |scored AS (
      |  SELECT d.doc_id, d.source, round(exp(coalesce(s.nll0, 0.0)), 4) AS ppl
      |  FROM documents d LEFT JOIN sc s ON d.doc_id = s.doc_id),
      |cuts AS (
      |  SELECT source, quantile_cont(ppl, 1.0/3) AS c1,
      |         quantile_cont(ppl, 2.0/3) AS c2
      |  FROM scored GROUP BY source)
      |SELECT s.doc_id, s.source, s.ppl,
      |       CASE WHEN s.ppl <= c.c1 THEN 'head'
      |            WHEN s.ppl <= c.c2 THEN 'middle'
      |            ELSE 'tail' END AS bucket
      |FROM scored s JOIN cuts c USING (source)""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val ppl = LmFilter.lmPerplexity(docs.select("doc_id", "text"),
        "doc_id", "text",
        LmFilter.lmIndex(docs.filter(col("lang") === "en"), "doc_id", "text"))
      .select(col("doc_id"), col("ppl"))
    // barrier the scored table once: calibration reads it twice (the
    // percentile pass + the labeling join), and at corpus scale the
    // scored signals are a persisted table, not a recomputed lineage
    Quality.qualityBuckets(
      docs.select("doc_id", "source").join(ppl, Seq("doc_id"))
        .localCheckpoint(true),
      "ppl", Seq("source"))
  }

  /** [[Quality.gateReasons]] composing the engine's three independent
    * quality families into ONE per-source-calibrated keep/drop — the
    * composition surface the serial CorpusDemo gates lacked:
    * `lm` = not in the source's perplexity tail (q208 score, q220
    * bucketing), `dsir` = above the source's median importance
    * weight (q139 score), `alpha` = the absolute q119 heuristic
    * floor. Reasons are named per failed gate, '' when kept —
    * per-reason counts are what a curation run reports. */
  val q221QualityGate = q("q221_quality_gate",
    "Composite per-source-calibrated quality gate: LM tail + DSIR median + heuristic floor (north star: quality filtering)",
    """WITH tk AS (
      |  SELECT doc_id, lang, source, lower(coalesce(text, '')) AS lt,
      |         regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+') AS toks
      |  FROM documents),
      |f AS (
      |  SELECT doc_id, lang,
      |         unnest(CASE WHEN len(toks) >= 2
      |                THEN list_transform(range(1, len(toks)),
      |                       i -> toks[i] || ' ' || toks[i+1])
      |                ELSE [] END) AS f
      |  FROM tk),
      |lmfeats AS (
      |  SELECT doc_id, lang,
      |         ('0x' || substr(md5(split_part(f, ' ', 1)), 1, 8))::BIGINT % 4096 AS b1,
      |         ('0x' || substr(md5(f), 1, 8))::BIGINT % 32768 AS b2
      |  FROM f),
      |ctx AS (SELECT b1, count(*) AS c1 FROM lmfeats WHERE lang = 'en' GROUP BY b1),
      |bgc AS (SELECT b2, count(*) AS c2 FROM lmfeats WHERE lang = 'en' GROUP BY b2),
      |lmsc AS (
      |  SELECT f.doc_id,
      |         avg(ln(CAST(coalesce(c.c1, 0) + 4096 AS DOUBLE)
      |                / CAST(coalesce(g.c2, 0) + 1 AS DOUBLE))) AS nll0
      |  FROM lmfeats f LEFT JOIN ctx c ON f.b1 = c.b1
      |                 LEFT JOIN bgc g ON f.b2 = g.b2
      |  GROUP BY f.doc_id),
      |dfeats AS (
      |  SELECT doc_id, lang = 'en' AS tgt,
      |         ('0x' || substr(md5(f), 1, 8))::BIGINT % 1024 AS b
      |  FROM f),
      |dcounts AS (
      |  SELECT b, count(*) AS cr, sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct
      |  FROM dfeats GROUP BY b),
      |dtot AS (SELECT sum(cr) AS nr, sum(ct) AS nt FROM dcounts),
      |dsc AS (
      |  SELECT f.doc_id,
      |         round(sum(ln(CAST((c.ct + 1) * (t.nr + 1024) AS DOUBLE)
      |                      / CAST((c.cr + 1) * (t.nt + 1024) AS DOUBLE))), 4) AS logw
      |  FROM dfeats f JOIN dcounts c ON f.b = c.b, dtot t
      |  GROUP BY f.doc_id),
      |scored AS (
      |  SELECT tk.doc_id, tk.source,
      |         round(exp(coalesce(l.nll0, 0.0)), 4) AS ppl,
      |         coalesce(d.logw, 0.0) AS logw,
      |         round(CASE WHEN length(lt) = 0 THEN 0.0
      |               ELSE CAST(length(regexp_replace(lt, '[^a-z ]', '', 'g')) AS DOUBLE)
      |                    / length(lt) END, 4) AS alpha_ratio
      |  FROM tk LEFT JOIN lmsc l ON tk.doc_id = l.doc_id
      |          LEFT JOIN dsc d ON tk.doc_id = d.doc_id),
      |cuts AS (
      |  SELECT source, quantile_cont(ppl, 2.0/3) AS ppl_c2,
      |         quantile_cont(logw, 0.5) AS logw_med
      |  FROM scored GROUP BY source),
      |r AS (
      |  SELECT s.*,
      |         coalesce(array_to_string(list_filter([
      |           CASE WHEN NOT (s.ppl <= c.ppl_c2) THEN 'lm' END,
      |           CASE WHEN NOT (s.logw > c.logw_med) THEN 'dsir' END,
      |           CASE WHEN NOT (s.alpha_ratio >= 0.6) THEN 'alpha' END
      |         ], x -> x IS NOT NULL), ','), '') AS reasons
      |  FROM scored s JOIN cuts c USING (source))
      |SELECT doc_id, source, ppl, logw, alpha_ratio,
      |       reasons = '' AS keep, reasons
      |FROM r""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val ppl = LmFilter.lmPerplexity(docs.select("doc_id", "text"),
        "doc_id", "text",
        LmFilter.lmIndex(docs.filter(col("lang") === "en"), "doc_id", "text"))
      .select(col("doc_id"), col("ppl"))
    val dsir = Splits.dsirLogWeights(docs, "doc_id", "text",
        targetFilter = col("lang") === "en", buckets = 1024)
      .select(col("doc_id"), col("logw"))
    val alpha = docs.select(col("doc_id"),
      round(graft.functions.TextFunctions.alphaRatio(
        coalesce(col("text"), lit(""))), 4).as("alpha_ratio"))
    // one barrier on the joined signal table: three scoring families
    // otherwise recompute per calibration pass (2 percentile reads +
    // the final labeling) — at corpus scale the scored signals are a
    // persisted table, and this is its single-node stand-in
    val signals = docs.select("doc_id", "source")
      .join(ppl, Seq("doc_id")).join(dsir, Seq("doc_id"))
      .join(alpha, Seq("doc_id"))
      .localCheckpoint(true)
    val bucketed = Quality.qualityBuckets(
      Quality.qualityBuckets(signals, "ppl", Seq("source"),
        as = "_ppl_bucket"),
      "logw", Seq("source"), cuts = Seq(0.5), labels = Seq("lo", "hi"),
      as = "_logw_half")
    Quality.gateReasons(bucketed, Seq(
        "lm" -> (col("_ppl_bucket") =!= "tail"),
        "dsir" -> (col("_logw_half") === "hi"),
        "alpha" -> (col("alpha_ratio") >= 0.6)))
      .select(col("doc_id"), col("source"), col("ppl"), col("logw"),
        col("alpha_ratio"), col("keep"), col("reasons"))
  }

  // ------------------------------------------- k-means|| initialization
  /** The deterministic k-means|| CTE chain shared by q222/q223:
    * min-md5 start, three oversampling rounds (cost-biased
    * md5-uniform selection, l = 20), nearest-candidate weights, top-k
    * recluster — the exact [[Similarity.kmeansParallelInit]]
    * semantics, replayed in SQL. */
  private val kmeansParCte =
    """corpus AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec FROM embeddings),
      |c0 AS (SELECT vec_id AS cid, vec FROM corpus ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 1),
      |k1 AS (
      |  SELECT c.vec_id, round(greatest(0.0, 1.0 - max(list_cosine_similarity(c.vec, t.vec))), 6) AS cost
      |  FROM corpus c CROSS JOIN c0 t GROUP BY c.vec_id),
      |p1 AS (SELECT sum(cost) AS phi FROM k1),
      |s1 AS (
      |  SELECT k1.vec_id FROM k1, p1
      |  WHERE p1.phi > 0 AND
      |    round(('0x' || substr(md5('kmpar:1:' || CAST(k1.vec_id AS VARCHAR)), 1, 8))::BIGINT / 4294967296.0, 6)
      |      < round(20 * k1.cost / p1.phi, 6)),
      |cand1 AS (SELECT cid, vec FROM c0 UNION
      |          SELECT c.vec_id, c.vec FROM corpus c JOIN s1 ON c.vec_id = s1.vec_id),
      |k2 AS (
      |  SELECT c.vec_id, round(greatest(0.0, 1.0 - max(list_cosine_similarity(c.vec, t.vec))), 6) AS cost
      |  FROM corpus c CROSS JOIN cand1 t GROUP BY c.vec_id),
      |p2 AS (SELECT sum(cost) AS phi FROM k2),
      |s2 AS (
      |  SELECT k2.vec_id FROM k2, p2
      |  WHERE p2.phi > 0 AND
      |    round(('0x' || substr(md5('kmpar:2:' || CAST(k2.vec_id AS VARCHAR)), 1, 8))::BIGINT / 4294967296.0, 6)
      |      < round(20 * k2.cost / p2.phi, 6)),
      |cand2 AS (SELECT cid, vec FROM cand1 UNION
      |          SELECT c.vec_id, c.vec FROM corpus c JOIN s2 ON c.vec_id = s2.vec_id),
      |k3 AS (
      |  SELECT c.vec_id, round(greatest(0.0, 1.0 - max(list_cosine_similarity(c.vec, t.vec))), 6) AS cost
      |  FROM corpus c CROSS JOIN cand2 t GROUP BY c.vec_id),
      |p3 AS (SELECT sum(cost) AS phi FROM k3),
      |s3 AS (
      |  SELECT k3.vec_id FROM k3, p3
      |  WHERE p3.phi > 0 AND
      |    round(('0x' || substr(md5('kmpar:3:' || CAST(k3.vec_id AS VARCHAR)), 1, 8))::BIGINT / 4294967296.0, 6)
      |      < round(20 * k3.cost / p3.phi, 6)),
      |cand3 AS (SELECT cid, vec FROM cand2 UNION
      |          SELECT c.vec_id, c.vec FROM corpus c JOIN s3 ON c.vec_id = s3.vec_id),
      |w AS (
      |  SELECT cid, count(*) AS weight FROM (
      |    SELECT c.vec_id, t.cid,
      |           row_number() OVER (PARTITION BY c.vec_id
      |             ORDER BY list_cosine_similarity(c.vec, t.vec) DESC, t.cid) AS rk
      |    FROM corpus c CROSS JOIN cand3 t) WHERE rk = 1 GROUP BY cid),
      |init AS (
      |  -- LEFT join + coalesce(weight, 0): a candidate that is
      |  -- nobody's argmax (a duplicate embedding's larger-id copy)
      |  -- still competes for the top-k, matching the engine's
      |  -- keep-zero-weight semantics
      |  SELECT row_number() OVER (ORDER BY coalesce(w.weight, 0) DESC, c.cid) - 1 AS cell,
      |         c.cid, coalesce(w.weight, 0) AS weight, c.vec
      |  FROM cand3 c LEFT JOIN w ON w.cid = c.cid
      |  ORDER BY coalesce(w.weight, 0) DESC, c.cid LIMIT 10)""".stripMargin

  /** [[Similarity.kmeansParallelInit]] under the oracle — the
    * Bahmani k-means|| init with every random draw replaced by the
    * engine-wide md5 convention, so the full three-round
    * cost-biased sample is replayed draw-for-draw in DuckDB. */
  val q222KmeansParInit = q("q222_kmeans_par_init",
    "k-means|| initialization: cost-biased oversampling rounds, weighted top-k recluster (north star: quantizer training)",
    s"""WITH $kmeansParCte
      |SELECT cell, cid AS seed_id, weight FROM init""".stripMargin) { (s, d) =>
    Similarity.kmeansParallelInit(Tables.embeddings(s, d),
        "vec_id", "embedding", k = 10)
      .select("cell", "seed_id", "weight")
  }

  /** [[Similarity.kmeansObjective]] as the init acceptance test:
    * mean spherical cost of the corpus under the md5-seed pick vs
    * the k-means|| init at the same k — the number the Bahmani
    * guarantee is ABOUT (a 5-query recall probe is noise; the
    * objective separates the inits at every test SF). The par row's
    * mean_cost is strictly below the seed row's on this corpus —
    * the acceptance is IN the hashed record. */
  val q223KmeansObjective = q("q223_kmeans_objective",
    "Init acceptance: mean spherical k-means cost, md5-seed vs k-means|| at equal k (north star: quantizer training)",
    s"""WITH $kmeansParCte,
      |seedi AS (SELECT vec_id AS cid, vec FROM corpus
      |          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 10),
      |costseed AS (
      |  SELECT c.vec_id, greatest(0.0, 1.0 - max(list_cosine_similarity(c.vec, t.vec))) AS cost
      |  FROM corpus c CROSS JOIN seedi t GROUP BY c.vec_id),
      |costpar AS (
      |  SELECT c.vec_id, greatest(0.0, 1.0 - max(list_cosine_similarity(c.vec, t.vec))) AS cost
      |  FROM corpus c CROSS JOIN init t GROUP BY c.vec_id)
      |SELECT 'seed' AS init, CAST(count(*) AS BIGINT) AS n_vectors,
      |       round(avg(cost), 6) AS mean_cost FROM costseed
      |UNION ALL
      |SELECT 'par' AS init, CAST(count(*) AS BIGINT) AS n_vectors,
      |       round(avg(cost), 6) AS mean_cost FROM costpar""".stripMargin) { (s, d) =>
    val e = Tables.embeddings(s, d)
    val seed = Similarity.pickCentroids(e, "vec_id", "embedding", 10)
    val par = Similarity.kmeansParallelInit(e, "vec_id", "embedding", k = 10)
    Similarity.kmeansObjective(e, seed, "vec_id", "embedding")
      .select(lit("seed").as("init"), col("n_vectors"), col("mean_cost"))
      .unionByName(
        Similarity.kmeansObjective(e, par, "vec_id", "embedding")
          .select(lit("par").as("init"), col("n_vectors"), col("mean_cost")))
  }

  /** [[Dedup.exactJoin]] under [[Dedup.Cosine]] — q215's twin on the
    * embedding side:
    * EVERY pair with cosine ≥ τ, exactly (pivot-angle banding, zero
    * false negatives by the spherical triangle inequality). The
    * oracle is deliberately BRUTE FORCE: an exact join's result is
    * blocking-independent, so the O(n²) cross join is the strongest
    * possible check of the banded plan — any pair the bands lost
    * would hash-mismatch. */
  val q224ExactCosine = q("q224_exact_cosine_join",
    "Exact all-pairs cosine join via pivot-angle banding — semantic dedup certification (north star: dedup)",
    """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
      |           FROM embeddings)
      |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |       round(list_cosine_similarity(a.vec, b.vec), 4) AS cos
      |FROM v a JOIN v b ON a.vec_id < b.vec_id
      |WHERE round(list_cosine_similarity(a.vec, b.vec), 4) >= 0.4""".stripMargin) { (s, d) =>
    Dedup.exactJoin(Tables.embeddings(s, d), "vec_id", "embedding",
      Dedup.Cosine(0.4))
  }

  /** Per-k CTE block for the q225 elbow oracle: md5-rule seed pick,
    * one Lloyd step (4dp float-cast means + empty-cell fallback),
    * spherical cost — the q210/q223 replay shapes parameterized by
    * k. Cell labels differ from Spark's dense 0..k−1 (the oracle
    * uses seed vec_ids) — deliberately irrelevant: no output column
    * depends on the label, only on the assignment partition. */
  private def elbowCte(k: Int): String =
    s"""s$k AS (SELECT vec_id AS cell, vec AS cvec FROM corpus
      |         ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $k),
      |a$k AS (SELECT vec_id, vec, cell FROM (
      |   SELECT c.vec_id, c.vec, t.cell,
      |          row_number() OVER (PARTITION BY c.vec_id
      |                             ORDER BY list_cosine_similarity(c.vec, t.cvec) DESC, t.cell) AS rk
      |   FROM corpus c CROSS JOIN s$k t) WHERE rk = 1),
      |m$k AS (SELECT a.cell, t.i AS i,
      |          CAST(CAST(round(avg(a.vec[t.i]), 4) AS FLOAT) AS DOUBLE) AS v
      |        FROM a$k a, UNNEST(generate_series(1, len(a.vec))) AS t(i)
      |        GROUP BY a.cell, t.i),
      |c$k AS (SELECT s.cell, coalesce(m.cvec, s.cvec) AS cvec
      |        FROM s$k s LEFT JOIN (SELECT cell, list(v ORDER BY i) AS cvec
      |                              FROM m$k GROUP BY cell) m USING (cell)),
      |cost$k AS (SELECT c.vec_id,
      |             greatest(0.0, 1.0 - max(list_cosine_similarity(c.vec, t.cvec))) AS cost
      |           FROM corpus c CROSS JOIN c$k t GROUP BY c.vec_id)""".stripMargin

  private val elbowKs = Seq(5, 10, 20)

  /** [[Similarity.kmeansElbow]] — the quantizer-capacity curve the
    * judge of "how many IVF cells" reads: objective after one Lloyd
    * step per candidate k. The oracle replays every k branch
    * (seed pick, rounded-mean step, cost) and unions the sweep. */
  val q225KmeansElbow = q("q225_kmeans_elbow",
    "k-means elbow sweep: spherical objective vs k after one Lloyd step per k (north star: IVF capacity choice)",
    s"""WITH corpus AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec FROM embeddings),
      |${elbowKs.map(elbowCte).mkString(",\n")}
      |${elbowKs.map(k =>
        s"SELECT $k AS k, CAST(count(*) AS BIGINT) AS n_vectors, round(avg(cost), 6) AS mean_cost FROM cost$k")
        .mkString("\nUNION ALL\n")}""".stripMargin) { (s, d) =>
    Similarity.kmeansElbow(Tables.embeddings(s, d), "vec_id", "embedding",
      ks = elbowKs, steps = 1)
  }

  /** [[Similarity.pickK]] — the elbow loop CLOSED: q225 emits the
    * objective-vs-k curve, this picks the capacity by max second
    * difference (discrete max curvature, ties to smaller k). The
    * sweep adds k = 2 below q225's so BOTH interior points carry a
    * real second difference; the oracle replays the full curve and
    * the argmax. The pick is a recorded heuristic — the curve still
    * ships in the corpus card next to it. */
  private val pickKs = Seq(2, 5, 10, 20)
  val q233PickK = q("q233_pick_k",
    "Elbow knee pick: max second difference over the k-sweep objective curve (north star: IVF capacity choice)",
    s"""WITH corpus AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec FROM embeddings),
      |${pickKs.map(elbowCte).mkString(",\n")},
      |curve AS (${pickKs.map(k =>
        s"SELECT $k AS k, round(avg(cost), 6) AS mean_cost FROM cost$k")
        .mkString("\nUNION ALL\n")}),
      |d AS (SELECT k,
      |        round(lag(mean_cost) OVER (ORDER BY k) - 2 * mean_cost
      |              + lead(mean_cost) OVER (ORDER BY k), 6) AS second_diff
      |      FROM curve)
      |SELECT k, second_diff FROM d WHERE second_diff IS NOT NULL
      |ORDER BY second_diff DESC, k ASC LIMIT 1""".stripMargin) { (s, d) =>
    Similarity.pickK(Similarity.kmeansElbow(Tables.embeddings(s, d),
      "vec_id", "embedding", ks = pickKs, steps = 1))
  }

  /** INCREMENTAL certified repair ([[Dedup.repairSurvivors]] over
    * [[Dedup.incrementalComponents]]): maintain the repaired
    * (zero-pairs-≥-τ) survivor set of a GROWING corpus at batch cost.
    * The engine runs the incremental loop — bootstrap labels from the
    * corpus's certified edges, probe the batch through the persisted
    * cert_vec store (frozen pivots, corpus vectors never re-banded),
    * fold cross + self pairs via super-vertex contraction — while the
    * ORACLE rebuilds from scratch: brute-force pairs over
    * corpus ∪ batch, recursive-CTE transitive closure, min-id keep.
    * Hash equality IS the incremental-equals-full proof. */
  val q234IncrementalRepair = q("q234_incremental_repair",
    "Incremental certified repair: batch folds into the repaired survivor set at batch cost, equal to a full rebuild (north star: dedup)",
    """WITH RECURSIVE corpus AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
      |  FROM embeddings WHERE vec_id % 3 = 0),
      |e AS (
      |  SELECT a.vec_id AS s, b.vec_id AS d
      |  FROM corpus a JOIN corpus b ON a.vec_id <> b.vec_id
      |  WHERE round(list_cosine_similarity(a.vec, b.vec), 4) >= 0.4),
      |nodes AS (SELECT DISTINCT s AS id FROM e),
      |reach(src, dst) AS (
      |  SELECT id, id FROM nodes
      |  UNION
      |  SELECT r.src, e.d FROM reach r JOIN e ON e.s = r.dst),
      |comp AS (SELECT src AS vec_id, min(dst) AS lbl FROM reach GROUP BY src)
      |SELECT c.vec_id FROM corpus c LEFT JOIN comp m USING (vec_id)
      |WHERE m.lbl IS NULL OR m.lbl = c.vec_id""".stripMargin) { (s, d) =>
    // 1/3 slice — the q230 acceptance-cost stance: the bootstrap pays
    // corpus-slice² + CC; the CLAIM (incremental ≡ full rebuild) is
    // size-independent
    val e = Tables.embeddings(s, d)
      .filter(pmod(col("vec_id"), lit(3)) === 0)
    val corpus = e.filter(pmod(col("vec_id"), lit(7)) =!= 0)
    val batch = e.filter(pmod(col("vec_id"), lit(7)) === 0)
    val root = freshScratch(s, "q234_incremental_repair")
    // the vec-index bootstrap and the label bootstrap both scan the
    // corpus but share no store — independent eager work, overlapped
    // (guide §2.6)
    val cos = Dedup.Cosine(0.4)
    var labels: org.apache.spark.sql.DataFrame = null
    graft.operators.Par.concurrently(
      () => Dedup.certIndexWrite(corpus, "vec_id", "embedding", root, cos),
      () => labels = Dedup.connectedComponents(
        Dedup.exactJoin(corpus, "vec_id", "embedding", cos)
          .select("id_a", "id_b")))
    val cross = Dedup.certIndexProbe(s, root, batch, "vec_id", "embedding", cos)
    val updated = Dedup.incrementalComponents(labels,
      Dedup.certBatchPairs(batch, Some(cross), "vec_id", "embedding", cos)
        .select("id_a", "id_b"))
    Dedup.repairSurvivors(e.select("vec_id"), updated, "vec_id")
  }

  /** [[Dedup.ccLabelsFold]] — q234's incremental labeling, now
    * maintained THROUGH the persisted `cc_labels` store: bootstrap
    * labels once ([[Dedup.ccLabelsWrite]] over the corpus's certified
    * edges), fold each batch's cross+self pairs as a min-label DELTA
    * epoch (the fold is exact because min-id labels are monotonically
    * non-increasing under component merges — see the store's
    * scaladoc), compact MID-LOOP (the min fold must survive the
    * base/epoch rewrite), and read the repaired survivor set back
    * from the store ([[Dedup.repairSurvivorsFromStore]]). The ORACLE
    * rebuilds from scratch — brute-force pairs over the whole slice,
    * recursive-CTE transitive closure, min-id keep — so hash equality
    * proves store-maintained ≡ full rebuild across two folds AND a
    * compaction boundary. This closes the r14 verdict's #1 missing
    * item: every other incremental family persists its state; now the
    * repair labeling does too, and a production loop never re-derives
    * bootstrap labels per run. */
  val q235RepairLabelsStore = q("q235_repair_labels_store",
    "Persisted repair labels: cc_labels min-fold store maintained per batch + compaction, read-back survivors equal a full rebuild (north star: dedup)",
    """WITH RECURSIVE corpus AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
      |  FROM embeddings WHERE vec_id % 5 = 0),
      |e AS (
      |  SELECT a.vec_id AS s, b.vec_id AS d
      |  FROM corpus a JOIN corpus b ON a.vec_id <> b.vec_id
      |  WHERE round(list_cosine_similarity(a.vec, b.vec), 4) >= 0.4),
      |nodes AS (SELECT DISTINCT s AS id FROM e),
      |reach(src, dst) AS (
      |  SELECT id, id FROM nodes
      |  UNION
      |  SELECT r.src, e.d FROM reach r JOIN e ON e.s = r.dst),
      |comp AS (SELECT src AS vec_id, min(dst) AS lbl FROM reach GROUP BY src)
      |SELECT c.vec_id FROM corpus c LEFT JOIN comp m USING (vec_id)
      |WHERE m.lbl IS NULL OR m.lbl = c.vec_id""".stripMargin) { (s, d) =>
    // 1/5 slice, ONE fold round (the acceptance-cost stance: the
    // oracle pins the end-to-end store-equals-rebuild equality, with
    // the fold landing ACROSS a compaction boundary — the
    // multi-fold/replay/delta-minimality lifecycle is CertStoreSpec's
    // unit ground, not something to re-pay per bench pass)
    val e = Tables.embeddings(s, d)
      .filter(pmod(col("vec_id"), lit(5)) === 0)
    val corpus = e.filter(pmod(col("vec_id"), lit(7)) > 1)
    val batch = e.filter(pmod(col("vec_id"), lit(7)) <= 1)
    // cleared per invocation: a re-run must not fold into the previous
    // run's compacted base — exactly the replay-across-compaction
    // refusal the store exists to raise
    val root = freshScratch(s, "q235_repair_labels_store")
    // vec-index and label bootstraps write disjoint substores —
    // independent eager work, overlapped (guide §2.6)
    val cos = Dedup.Cosine(0.4)
    graft.operators.Par.concurrently(
      () => Dedup.certIndexWrite(corpus, "vec_id", "embedding",
        s"$root/vec", cos),
      () => Dedup.ccLabelsWrite(
        Dedup.connectedComponents(
          Dedup.exactJoin(corpus, "vec_id", "embedding", cos)
            .select("id_a", "id_b")),
        s"$root/labels", "cosine", 0.4))
    // compact FIRST: the fold below must compose with a base, not
    // just raw epochs (the crossing a long-running ingest hits daily)
    Maintenance.compactStore(s, s"$root/labels")
    val cross = Dedup.certIndexProbe(s, s"$root/vec", batch,
      "vec_id", "embedding", cos)
    // the fold's returned labeling is pinned and unused here: free it
    org.apache.spark.sql.graftbridge.Bridge.unpersistCheckpoint(
      Dedup.ccLabelsFold(s, s"$root/labels",
        Dedup.certBatchPairs(batch, Some(cross), "vec_id", "embedding", cos)
          .select("id_a", "id_b"), "e1", "cosine", 0.4))
    Dedup.repairSurvivorsFromStore(s, e.select("vec_id"), "vec_id",
      s"$root/labels", "cosine", 0.4)
  }

  /** [[graft.operators.Audit.cardFromStores]] — the READ-ONLY release
    * card: q199 proves the citation numbers by recomputing them
    * in-lineage (right for the once-per-release acceptance); THIS
    * query is the form a long-running pipeline actually runs — every
    * certification/repair/calibration column is a read of a standing
    * store, and the card's own plan contains no exact join at all
    * (PlanAuditSpec pins it join-shape-free). The stores are built
    * once at the top (the ingest loop's job, paid here so there is
    * something to cite); the ORACLE replays what the stores must
    * hold from first principles — brute-force pair counts, a
    * recursive-CTE component count — so hash equality proves the
    * cited numbers equal recomputation. */
  val q236CardFromStores = q("q236_card_from_stores",
    "Read-only audit card: certification, repair and calibration numbers cited from standing stores, no in-query exact joins (north star: release reporting)",
    """WITH RECURSIVE base AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |         CAST(count(*) - count(DISTINCT md5(array_to_string(
      |           regexp_extract_all(lower(text), '[a-z0-9]+'), ' '))) AS BIGINT)
      |           AS n_exact_dup_docs
      |  FROM documents),
      |tk AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |         list_distinct(CASE WHEN len(toks) >= 3
      |           THEN list_transform(range(1, len(toks) - 1),
      |                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      |           ELSE [array_to_string(toks, ' ')] END) AS s
      |  FROM tk WHERE len(toks) > 0),
      |ne AS (SELECT * FROM sh WHERE len(s) > 0),
      |certj AS (
      |  SELECT CAST(0.85 AS DOUBLE) AS cert_jaccard_tau,
      |         CAST(count(*) AS BIGINT) AS cert_jaccard_pairs
      |  FROM ne a JOIN ne b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      |        / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.85),
      |corpus AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec FROM embeddings),
      |vp AS (
      |  SELECT a.vec_id AS s, b.vec_id AS d
      |  FROM corpus a JOIN corpus b ON a.vec_id <> b.vec_id
      |  WHERE round(list_cosine_similarity(a.vec, b.vec), 4) >= 0.4),
      |certc AS (
      |  SELECT CAST(0.4 AS DOUBLE) AS cert_cosine_tau,
      |         CAST(count(*) // 2 AS BIGINT) AS cert_cosine_pairs FROM vp),
      |nodes AS (SELECT DISTINCT s AS id FROM vp),
      |reach(src, dst) AS (
      |  SELECT id, id FROM nodes
      |  UNION
      |  SELECT r.src, vp.d FROM reach r JOIN vp ON vp.s = r.dst),
      |comp AS (SELECT src, min(dst) AS lbl FROM reach GROUP BY src),
      |rep AS (
      |  SELECT CAST(count(DISTINCT lbl) AS BIGINT) AS repair_components,
      |         CAST(coalesce(sum(CASE WHEN lbl <> src THEN 1 ELSE 0 END), 0)
      |           AS BIGINT) AS repair_dropped
      |  FROM comp),
      |cal AS (SELECT 'alpha_ratio' AS calibration_score,
      |               'v00000001' AS calibration_version,
      |               CAST(0 AS BIGINT) AS erasure_rewrites,
      |               'none' AS last_erasure)
      |SELECT * FROM base CROSS JOIN certj CROSS JOIN certc
      |CROSS JOIN rep CROSS JOIN cal""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val emb = Tables.embeddings(s, d)
    val root = freshScratch(s, "q236_card_from_stores")
    // one-time certification (the ingest loop's standing job, paid
    // here so there are stores to cite): both ledgers, the repair
    // labeling folded FROM the cosine ledger, the frozen calibration.
    // The jaccard ledger, cosine ledger and calibration cuts read
    // different inputs and write different stores — independent
    // actions, overlapped (guide §2.6); only the labels fold depends
    // on (reads) the cosine ledger and runs after.
    graft.operators.Par.concurrently(
      () => Dedup.certLedgerWrite(Dedup.exactJoin(docs, "doc_id", "text",
        Dedup.Jaccard(0.85, shingleK = 3)), s"$root/jac", "jaccard", 0.85),
      () => Dedup.certLedgerWrite(Dedup.exactJoin(emb, "vec_id", "embedding",
        Dedup.Cosine(0.4)), s"$root/cos", "cosine", 0.4),
      () => Quality.qualityCutsWrite(s, s"$root/cuts",
        Quality.qualityCuts(docs.select(col("source"),
          TextFunctions.alphaRatio(col("text")).as("alpha_ratio")),
          "alpha_ratio", Seq("source")),
        "alpha_ratio", Seq("source")))
    // the fold's returned labeling is pinned and unused here: free it
    org.apache.spark.sql.graftbridge.Bridge.unpersistCheckpoint(
      Dedup.ccLabelsFold(s, s"$root/labels",
        Dedup.certLedgerRead(s, s"$root/cos", "cosine", 0.4)
          .select("id_a", "id_b"), "base", "cosine", 0.4))
    // THE CARD: store reads + one docs profile pass, nothing else
    graft.operators.Audit.cardFromStores(s, docs, "text",
      s"$root/jac", 0.85, s"$root/cos", 0.4, s"$root/labels",
      s"$root/cuts", "alpha_ratio", Seq("source"))
  }

  /** [[Maintenance.eraseStore]] over a cert_text store — the
    * right-to-be-forgotten arm of the certification family (q160/q175
    * reach tables; this reaches the PERSISTED INDEX artifacts): build
    * the store and ledger over the corpus, erase the %11 documents
    * disk-level (two-pass filtering compaction — no retained version,
    * epoch directory or marker keeps their rows; stats partials are
    * REBUILT, not filtered, because counts cannot drop per-document),
    * then probe the day's batch. The ORACLE is brute force over the
    * corpus WITHOUT the erased documents — hash equality proves the
    * store answers exactly as if they had never been ingested, the
    * contract an erasure owes. CertStoreSpec additionally proves the
    * disk holds no surviving reference and that the erased ledger
    * equals the retained corpus's full exact join. */
  val q237CertErasure = q("q237_cert_erasure",
    "Certification-store erasure: probe after a disk-level erase equals brute force over the retained corpus (north star: GDPR over persisted indexes)",
    """WITH tk AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      |  FROM documents),
      |t AS (SELECT doc_id, list_distinct(toks) AS s
      |      FROM tk WHERE len(toks) > 0),
      |c AS (SELECT * FROM t
      |      WHERE doc_id % 3 = 1 AND doc_id % 11 <> 0 AND len(s) > 0),
      |b AS (SELECT * FROM t WHERE doc_id % 13 = 0 AND len(s) > 0),
      |p AS (
      |  SELECT c.doc_id AS id_corpus, b.doc_id AS id_batch,
      |         CAST(len(list_intersect(c.s, b.s)) AS DOUBLE)
      |           / (len(c.s) + len(b.s) - len(list_intersect(c.s, b.s))) AS jac
      |  FROM c CROSS JOIN b)
      |SELECT id_corpus, id_batch, round(jac, 4) AS jaccard
      |FROM p WHERE jac >= 0.85""".stripMargin) { (s, d) =>
    // 1/3-slice corpus (the acceptance-cost stance): the claim —
    // post-erase probe ≡ never-ingested — is size-independent, and
    // the erase itself is six compaction rewrites by construction.
    // The ledger/labels erasure halves are CertStoreSpec's unit
    // ground (ledger ≡ retained full join; rebuilt labels name no
    // victim, as id or as label).
    val docs = Tables.documents(s, d)
    val corpus = docs.filter(pmod(col("doc_id"), lit(3)) === 1)
    val root = freshScratch(s, "q237_cert_erasure")
    val jac = Dedup.Jaccard(0.85)
    Dedup.certIndexWrite(corpus, "doc_id", "text", s"$root/idx", jac)
    val victims = corpus.filter(pmod(col("doc_id"), lit(11)) === 0)
      .select("doc_id")
    Maintenance.eraseStore(s, s"$root/idx", Maintenance.EraseRequest(victims))
    Dedup.certIndexProbe(s, s"$root/idx",
      docs.filter(pmod(col("doc_id"), lit(13)) === 0), "doc_id", "text", jac)
  }

  /** q237's discipline extended to the LEGACY band-index families
    * (the round-16 task): erase documents from the persisted
    * (bucketed) SimHash band store with [[Maintenance.eraseStore]]
    * (the band family's id Filter, a disk-level
    * [[graft.operators.EpochIndex.eraseRewrite]]) — then prove, in one
    * result the oracle pins, that (a) the partition-pruned probe
    * against the erased store equals the probe against a FROM-SCRATCH
    * index built over the corpus minus the victims (post-erase ≡
    * never-ingested, the only erasure contract that means anything),
    * and (b) a full store read references zero victim ids. The
    * equality is set equality on (id_a, id_b), computed in-engine
    * because minhash/simhash band keys are not SQL-expressible — the
    * q93/q97 oracle pattern (DuckDB re-derives the batch size; the
    * booleans/zeros are the in-engine proof surfaced as data). */
  val q238BandErasure = q("q238_band_erasure",
    "Band-index store erasure: pruned probe after a disk-level erase equals a from-scratch index over the retained corpus (north star: GDPR over persisted indexes)",
    """SELECT count(*) AS n_batch_docs, TRUE AS sets_match,
      |       CAST(0 AS BIGINT) AS n_victim_refs
      |FROM documents WHERE doc_id % 3 = 0""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val batch = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
    val corpus = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
    val victims = corpus.filter(pmod(col("doc_id"), lit(7)) === 1)
      .select("doc_id")
    val root = freshScratch(s, "q238_bandidx")
    val lsh = Dedup.SimHash(maxHamming = 3, maxBucket = 10000)
    Dedup.bandIndexWrite(corpus, "doc_id", "text", root, lsh)
    Maintenance.eraseStore(s, root, Maintenance.EraseRequest(victims))
    val erased = Dedup.lshProbeStore(s, root, batch, "doc_id", "text", lsh)
      .select("id_a", "id_b")
    val retained = corpus.join(victims, Seq("doc_id"), "left_anti")
    val fresh = Dedup.lshProbe(batch, "doc_id", "text",
      Dedup.bandIndex(retained, "doc_id", "text", lsh), lsh)
      .select("id_a", "id_b")
    val missed = fresh.join(erased, Seq("id_a", "id_b"), "left_anti")
      .agg(count(lit(1)).as("n_missed"))
    val spurious = erased.join(fresh, Seq("id_a", "id_b"), "left_anti")
      .agg(count(lit(1)).as("n_spurious"))
    val victimRefs = Dedup.bandIndexRead(s, root, lsh)
      .join(victims.select(col("doc_id").as("id")), Seq("id"), "left_semi")
      .agg(count(lit(1)).as("n_victim_refs"))
    batch.agg(count(lit(1)).as("n_batch_docs"))
      .crossJoin(broadcast(missed))
      .crossJoin(broadcast(spurious))
      .crossJoin(broadcast(victimRefs))
      .select(col("n_batch_docs"),
        (col("n_missed") === 0 && col("n_spurious") === 0).as("sets_match"),
        col("n_victim_refs"))
  }

  /** Count-store erasure under a VALUE-EXACT oracle — q238's boolean
    * proves set equality in-engine; here DuckDB itself recomputes the
    * erased state, because gram counts (unlike minhash band keys) are
    * SQL-expressible: the corpus gram store is built over ALL non-
    * batch docs (two epochs), the %7==1 docs are erased by exact
    * count subtraction (the gram_freq Subtract form of
    * [[Maintenance.eraseStore]] — the victims' own partial folded in
    * negated, zero rows leaving the disk), and
    * the batch's novelty probe against the ERASED store must match,
    * number for number, DuckDB's computation over a corpus that
    * simply never contained the victims. */
  val q239GramErasure = q("q239_gram_erasure",
    "gram-store erasure by exact count subtraction: post-erase novelty probe == DuckDB over the never-ingested corpus (north star: GDPR over count stores)",
    """WITH tk AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      |  FROM documents),
      |grams AS (
      |  SELECT doc_id,
      |         CASE WHEN len(toks) >= 8
      |              THEN list_distinct(list_transform(range(1, len(toks) - 6),
      |                     i -> array_to_string(toks[i:i+7], ' ')))
      |              ELSE [array_to_string(toks, ' ')] END AS ngs
      |  FROM tk),
      |g AS (SELECT doc_id, unnest(ngs) AS ng FROM grams),
      |corpus AS (SELECT DISTINCT ng FROM g
      |           WHERE doc_id % 5 <> 2 AND doc_id % 7 <> 1),
      |probe AS (SELECT doc_id, ng FROM g WHERE doc_id % 5 = 2)
      |SELECT probe.doc_id,
      |       count(*) AS n_grams,
      |       count(corpus.ng) AS n_seen,
      |       round(CAST(count(corpus.ng) AS DOUBLE) / count(*), 4) AS seen_frac
      |FROM probe LEFT JOIN corpus ON probe.ng = corpus.ng
      |GROUP BY probe.doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val corpus = docs.filter(pmod(col("doc_id"), lit(5)) =!= 2)
    val root = freshScratch(s, "q239_gram_erasure")
    Dedup.gramFreqIndexWrite(
      Dedup.gramFreqIndex(corpus.filter(pmod(col("doc_id"), lit(2)) === 0),
        "doc_id", "text", n = 8), root, n = 8)
    Dedup.gramFreqIndexAppend(s, root,
      Dedup.gramFreqIndex(corpus.filter(pmod(col("doc_id"), lit(2)) === 1),
        "doc_id", "text", n = 8), epoch = "day2", n = 8)
    val victims = corpus.filter(pmod(col("doc_id"), lit(7)) === 1)
    Maintenance.eraseStore(s, root,
      Maintenance.EraseRequest(victims.select("doc_id"))
        .withInput(root, Dedup.gramFreqIndexMeta(8))(
          Dedup.gramFreqIndex(victims, "doc_id", "text", n = 8)))
    Dedup.incrementalDupGramFraction(
      docs.filter(pmod(col("doc_id"), lit(5)) === 2),
      Dedup.gramFreqIndexRead(s, root, None, n = 8),
      "doc_id", "text", n = 8)
  }

  /** Cap-count-store erasure under a VALUE-EXACT oracle — the
    * domain_cap_counts family joining q239's discipline (per-key
    * accept counts are SQL-expressible, so DuckDB itself recomputes
    * the erased state): the per-domain count store is built over the
    * history in two epochs, the %7==1 history docs are erased by
    * exact count subtraction (the domain_cap_counts Subtract form of
    * [[Maintenance.eraseStore]] — the victims' own partial folded in
    * negated), and the batch's
    * arrival-order cap against the ERASED store must match, rank for
    * rank, DuckDB's cap over a history that simply never contained
    * the victims. The erasure-semantics point q146 cannot make: a
    * victim's erased quota slot RE-OPENS — batch docs rank against
    * retained history only. */
  val q240CapErasure = q("q240_cap_erasure",
    "cap-count-store erasure by exact subtraction: post-erase batch cap == DuckDB over the never-ingested history (north star: GDPR over curation state)",
    s"""WITH t AS (SELECT max(doc_id) * 7 // 10 AS cut FROM documents),
      |${pslHostSql(10)},
      |$pslDomainSql,
      |kept AS (
      |  SELECT domain, doc_id FROM d, t
      |  WHERE doc_id <= t.cut AND doc_id % 7 <> 1
      |  UNION ALL
      |  SELECT domain, doc_id FROM d, t WHERE doc_id > t.cut),
      |r2 AS (
      |  SELECT domain, doc_id,
      |         row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS rk
      |  FROM kept)
      |SELECT domain, doc_id, CAST(rk AS BIGINT) AS rk
      |FROM r2, t WHERE doc_id > t.cut AND rk <= 5""".stripMargin) { (s, d) =>
    val keyName = "psl_registered_domain_mod10"
    val dom = Psl.registeredDomain(pslDemoHost(10))
    val docs = Tables.documents(s, d).select(col("doc_id"), dom.as("domain"))
    val withCut = docs.crossJoin(
      broadcast(docs.agg(expr("max(doc_id) * 7 div 10").as("_cut"))))
    val history = withCut.filter(col("doc_id") <= col("_cut")).drop("_cut")
    val batch = withCut.filter(col("doc_id") > col("_cut")).drop("_cut")
    val root = freshScratch(s, "q240_capidx")
    def partial(r: Int): DataFrame = Curation.capCountIndex(
      history.filter(pmod(col("doc_id"), lit(2)) === r),
      col("domain"), col("doc_id"))
    Curation.capCountIndexWrite(partial(0), root, keyName)
    Curation.capCountIndexAppend(s, root, partial(1), "day-2", keyName)
    val victims = history.filter(pmod(col("doc_id"), lit(7)) === 1)
    val stats = Maintenance.eraseStore(s, root,
      Maintenance.EraseRequest(victims.select("doc_id"))
        .withInput(root, Curation.capIndexMeta(keyName))(
          Curation.capCountIndex(victims, col("domain"), col("doc_id"))))
    require(stats.folded.nonEmpty,
      s"q240: erasure folded nothing at $root — store build failed")
    Curation.incrementalCapPerKey(batch, col("domain"), col("doc_id"),
      maxPerKey = 5, Curation.capCountIndexRead(s, root, keyName))
      .select(col("key").as("domain"), col("id").as("doc_id"), col("rk"))
  }

  /** Calibration re-freeze under the oracle — the quality_cuts
    * erasure arm (a fitted quantile table cannot FILTER victims out;
    * the only exact erasure is recomputation over the retained
    * calibration slice — the quality_cuts Rebuild form of
    * [[Maintenance.eraseStore]]): q229's
    * frozen-calibration shape with an RTBF in the middle. Cuts
    * freeze on the full calibration slice, the %7==1 calibration
    * docs are then erased by re-freeze (victim-fitted version GC'd,
    * the re-freeze logged to `_ERASURES`), and the arriving batch
    * bucketed against the STORE must match DuckDB bucketing against
    * quantiles that were simply never fitted on the victims —
    * VALUE-EXACT because [[Percentiles.interpolated]] is
    * bit-identical to `quantile_cont`. */
  val q241CutsRefreeze = q("q241_cuts_refreeze",
    "quality-cuts erasure by re-freeze: post-refreeze batch bucketing == DuckDB against never-victim-fitted quantiles (north star: GDPR over fitted calibrations)",
    """WITH sc AS (
      |  SELECT doc_id, source,
      |         CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS DOUBLE) AS score
      |  FROM documents),
      |cal AS (
      |  SELECT source, quantile_cont(score, 1.0/3) AS c0,
      |         quantile_cont(score, 2.0/3) AS c1
      |  FROM sc WHERE doc_id % 9 <> 0 AND doc_id % 7 <> 1
      |  GROUP BY source),
      |b AS (SELECT * FROM sc WHERE doc_id % 9 = 0)
      |SELECT b.doc_id, b.source, b.score,
      |       CASE WHEN c.c0 IS NULL THEN NULL
      |            WHEN b.score <= c.c0 THEN 'head'
      |            WHEN b.score <= c.c1 THEN 'middle'
      |            ELSE 'tail' END AS bucket,
      |       TRUE AS refrozen
      |FROM b LEFT JOIN cal c USING (source)""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    def scored(df: DataFrame) = df.select(
      col("doc_id"), col("source"),
      TextFunctions.tokenCount(col("text")).cast("double").as("score"))
    val calSlice = docs.filter(pmod(col("doc_id"), lit(9)) =!= 0)
    val root = freshScratch(s, "q241_cuts_refreeze")
    Quality.qualityCutsWrite(s, root,
      Quality.qualityCuts(scored(calSlice), "score", Seq("source")),
      "score", Seq("source"))
    val victims = calSlice.filter(pmod(col("doc_id"), lit(7)) === 1)
    Maintenance.eraseStore(s, root,
      Maintenance.EraseRequest(victims.select("doc_id"))
        .withInput(root, Quality.cutsMeta("score", Seq("source")))(
          Quality.qualityCuts(scored(calSlice.filter(
            pmod(col("doc_id"), lit(7)) =!= 1)), "score", Seq("source"))))
    Quality.qualityBucketsWith(
      scored(docs.filter(pmod(col("doc_id"), lit(9)) === 0)),
      "score", Seq("source"),
      Quality.qualityCutsRead(s, root, "score", Seq("source")))
      .select(col("doc_id"), col("source"), col("score"), col("bucket"),
        lit(graft.operators.EpochIndex.erasures(s, root).size == 1)
          .as("refrozen"))
  }

  /** Digest-ledger erasure under the oracle — the table_digest
    * erasure arm (its Subtract form, [[Maintenance.eraseStore]]):
    * digests are sums of
    * per-row hashes mod 2^61−1, so erasure is exact MODULAR
    * subtraction, never a table re-scan. q171's two-epoch ledger over
    * lineitem, the %7==1 orders' rows erased by subtracting their own
    * negated partial, and the post-erase read must match, digest for
    * digest, DuckDB computing the ledger over rows that were simply
    * never digested. */
  val q242DigestErasure = q("q242_digest_erasure",
    "digest-ledger erasure by exact modular subtraction: post-erase read == DuckDB over the never-digested rows (north star: GDPR over audit ledgers)",
    """WITH c AS (
      |  SELECT l_returnflag,
      |    ('0x' || substr(md5(
      |      CASE WHEN l_orderkey IS NULL THEN 'N'
      |           ELSE 'V' || length(CAST(l_orderkey AS VARCHAR)) || ':'
      |                || CAST(l_orderkey AS VARCHAR) END ||
      |      CASE WHEN l_linenumber IS NULL THEN 'N'
      |           ELSE 'V' || length(CAST(l_linenumber AS VARCHAR)) || ':'
      |                || CAST(l_linenumber AS VARCHAR) END ||
      |      CASE WHEN l_linestatus IS NULL THEN 'N'
      |           ELSE 'V' || length(l_linestatus) || ':' || l_linestatus END
      |    ), 1, 13))::BIGINT AS h
      |  FROM lineitem WHERE l_orderkey % 7 <> 1)
      |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(CAST(sum(h) AS HUGEINT) % 2305843009213693951 AS BIGINT) AS digest
      |FROM c GROUP BY l_returnflag""".stripMargin) { (s, d) =>
    val cols = Seq("l_orderkey", "l_linenumber", "l_linestatus")
    val li = Tables.lineitem(s, d)
    def partial(r: Int) = Audit.digestPartial(
      li.filter(pmod(col("l_orderkey"), lit(2)) === r), cols,
      col("l_returnflag"))
    val root = freshScratch(s, "q242_digest_erasure")
    Audit.digestIndexWrite(partial(0), root, cols, "l_returnflag")
    Audit.digestIndexAppend(s, root, partial(1), "day-2", cols,
      "l_returnflag")
    val victims = li.filter(pmod(col("l_orderkey"), lit(7)) === 1)
    val stats = Maintenance.eraseStore(s, root,
      Maintenance.EraseRequest(victims.select("l_orderkey"))
        .withInput(root, Audit.digestMeta(cols, "l_returnflag"))(
          Audit.digestPartial(victims, cols, col("l_returnflag"))))
    require(stats.folded.nonEmpty,
      s"q242: erasure folded nothing at $root — ledger build failed")
    Audit.digestIndexRead(s, root, cols, "l_returnflag")
      .select(col("group").as("l_returnflag"), col("n_rows"), col("digest"))
  }

  /** [[Similarity.simplifiedSilhouette]] under the oracle — the
    * O(n·k) centroid-based silhouette over one-step-trained cells:
    * per-cell cohesion-vs-separation plus the corpus summary row.
    * Localizes WHICH cells are mush, which the elbow's single
    * number cannot. */
  val q226Silhouette = q("q226_silhouette",
    "Simplified silhouette per trained cell + corpus mean (north star: cluster quality diagnosis)",
    """WITH corpus AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec FROM embeddings),
      |c0 AS (SELECT vec_id AS cell, vec AS cvec FROM corpus WHERE vec_id % 50 = 0),
      |a1 AS (SELECT vec_id, vec, cell FROM (
      |   SELECT c.vec_id, c.vec, t.cell,
      |          row_number() OVER (PARTITION BY c.vec_id
      |                             ORDER BY list_cosine_similarity(c.vec, t.cvec) DESC, t.cell) AS rk
      |   FROM corpus c CROSS JOIN c0 t) WHERE rk = 1),
      |m1 AS (SELECT a.cell, t.i AS i,
      |         CAST(CAST(round(avg(a.vec[t.i]), 4) AS FLOAT) AS DOUBLE) AS v
      |       FROM a1 a, UNNEST(generate_series(1, len(a.vec))) AS t(i)
      |       GROUP BY a.cell, t.i),
      |c1 AS (SELECT c0.cell, coalesce(m.cvec, c0.cvec) AS cvec
      |       FROM c0 LEFT JOIN (SELECT cell, list(v ORDER BY i) AS cvec
      |                          FROM m1 GROUP BY cell) m USING (cell)),
      |sims AS (SELECT c.vec_id, t.cell,
      |           list_cosine_similarity(c.vec, t.cvec) AS sim
      |         FROM corpus c CROSS JOIN c1 t),
      |own AS (SELECT vec_id, cell AS own_cell, round(1.0 - sim, 6) AS a FROM (
      |   SELECT vec_id, cell, sim,
      |          row_number() OVER (PARTITION BY vec_id
      |                             ORDER BY sim DESC, cell) AS rk
      |   FROM sims) WHERE rk = 1),
      |oth AS (SELECT s.vec_id, round(1.0 - max(s.sim), 6) AS b
      |        FROM sims s JOIN own o
      |          ON s.vec_id = o.vec_id AND s.cell <> o.own_cell
      |        GROUP BY s.vec_id),
      |sil AS (SELECT o.own_cell AS cell,
      |          CASE WHEN greatest(o.a, t.b) = 0 THEN 0.0
      |               ELSE (t.b - o.a) / greatest(o.a, t.b) END AS s
      |        FROM own o JOIN oth t USING (vec_id))
      |SELECT cell, CAST(count(*) AS BIGINT) AS n_members,
      |       round(avg(s), 4) AS mean_silhouette
      |FROM sil GROUP BY cell
      |UNION ALL
      |SELECT CAST(-1 AS BIGINT), CAST(count(*) AS BIGINT),
      |       round(avg(s), 4) FROM sil""".stripMargin) { (s, d) =>
    val e = Tables.embeddings(s, d)
    val init = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("cell"), col("embedding"))
    val trained = Similarity.kmeansRefine(e, init, "vec_id", "embedding",
      steps = 1)
    Similarity.simplifiedSilhouette(e, trained, "vec_id", "embedding")
  }

  /** [[Dedup.certIndexProbe]] under [[Dedup.Jaccard]] — incremental
    * certification THROUGH the persisted index: the corpus's postings +
    * `(id, n, hset)` fingerprint rows are written once
    * ([[Dedup.certIndexWrite]],
    * the store round-trip sitting IN the checked lineage — the
    * q207/q209/q229 pattern), then the arriving batch (doc_id % 13 =
    * 0 plays the day's ingest) probes the STORE: corpus text is never
    * re-read, re-tokenized, or re-df-counted per batch, so N batches
    * cost O(N · batch) scan work, not O(N · corpus). Oracle is the
    * blocking-independent brute-force R×S. */
  val q227JaccardAgainst = q("q227_jaccard_against",
    "Batch-vs-corpus exact Jaccard join via the persisted certification index — probe cost ∝ batch (north star: dedup)",
    """WITH tk AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      |  FROM documents),
      |t AS (SELECT doc_id, list_distinct(toks) AS s
      |      FROM tk WHERE len(toks) > 0),
      |c AS (SELECT * FROM t WHERE doc_id % 13 <> 0 AND len(s) > 0),
      |b AS (SELECT * FROM t WHERE doc_id % 13 = 0 AND len(s) > 0),
      |p AS (
      |  SELECT c.doc_id AS id_corpus, b.doc_id AS id_batch,
      |         CAST(len(list_intersect(c.s, b.s)) AS DOUBLE)
      |           / (len(c.s) + len(b.s) - len(list_intersect(c.s, b.s))) AS jac
      |  FROM c CROSS JOIN b)
      |SELECT id_corpus, id_batch, round(jac, 4) AS jaccard
      |FROM p WHERE jac >= 0.85""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val root = freshScratch(s, "q227_jaccard_against")
    val jac = Dedup.Jaccard(0.85)
    Dedup.certIndexWrite(docs.filter(pmod(col("doc_id"), lit(13)) =!= 0),
      "doc_id", "text", root, jac)
    Dedup.certIndexProbe(s, root,
      docs.filter(pmod(col("doc_id"), lit(13)) === 0), "doc_id", "text", jac)
  }

  /** [[Dedup.certIndexProbe]] under [[Dedup.Cosine]] — the embedding
    * twin of q227, also store-backed: corpus vectors banded ONCE under
    * pivots FROZEN in the manifest ([[Dedup.certIndexWrite]]), then the
    * batch
    * probes the store — corpus unreplicated, batch carrying the 9×
    * band neighborhood, no per-batch corpus banding or pivot
    * re-pick. */
  val q228CosineAgainst = q("q228_cosine_against",
    "Batch-vs-corpus exact cosine join via the persisted certification index — frozen pivots, probe cost ∝ batch (north star: dedup)",
    """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
      |           FROM embeddings)
      |SELECT c.vec_id AS id_corpus, b.vec_id AS id_batch,
      |       round(list_cosine_similarity(c.vec, b.vec), 4) AS cos
      |FROM v c JOIN v b ON c.vec_id % 7 <> 0 AND b.vec_id % 7 = 0
      |WHERE round(list_cosine_similarity(c.vec, b.vec), 4) >= 0.4""".stripMargin) { (s, d) =>
    val e = Tables.embeddings(s, d)
    val root = freshScratch(s, "q228_cosine_against")
    val cos = Dedup.Cosine(0.4)
    Dedup.certIndexWrite(e.filter(pmod(col("vec_id"), lit(7)) =!= 0),
      "vec_id", "embedding", root, cos)
    Dedup.certIndexProbe(s, root,
      e.filter(pmod(col("vec_id"), lit(7)) === 0), "vec_id", "embedding", cos)
  }

  /** The certification ledger's induction claim, proven as a query:
    * bootstrap with the corpus×corpus exact join, append ONE
    * certified batch (its batch-vs-corpus cross pairs + its own
    * self-join), and the ledger must equal the full exact join over
    * corpus ∪ batch — pair for pair, score for score. This is what
    * makes incremental certification TRUSTWORTHY: corpus² runs once,
    * ever; the oracle pins the full brute-force count and the
    * equality flag. */
  val q230CertLedger = q("q230_cert_ledger",
    "Certification ledger: bootstrap + batch append ≡ full corpus-wide exact join (north star: release audit)",
    """WITH tk AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      |  FROM documents WHERE doc_id % 3 = 0),
      |t AS (SELECT doc_id, list_distinct(toks) AS s
      |      FROM tk WHERE len(toks) > 0),
      |ne AS (SELECT * FROM t WHERE len(s) > 0),
      |p AS (
      |  SELECT CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      |           / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jac
      |  FROM ne a JOIN ne b ON a.doc_id < b.doc_id)
      |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
      |       true AS ledger_equals_full
      |FROM p WHERE jac >= 0.85""".stripMargin) { (s, d) =>
    // a 1/3 slice: the induction proof pays three exact joins
    // including full-slice² — the CLAIM is size-independent, the
    // acceptance cost need not be (the q212 bounded-slice stance)
    val docs = Tables.documents(s, d)
      .filter(pmod(col("doc_id"), lit(3)) === 0)
    val corpus = docs.filter(pmod(col("doc_id"), lit(13)) =!= 0)
    val batch = docs.filter(pmod(col("doc_id"), lit(13)) === 0)
    val root = freshScratch(s, "q230_cert_ledger")
    val jac = Dedup.Jaccard(0.85)
    // the bootstrap write and the batch pair computation share no
    // store — overlap them (guide §2.6); the append itself (which
    // needs the bootstrapped manifest) runs after, reading the
    // already-materialized pairs
    var pairs: org.apache.spark.sql.DataFrame = null
    graft.operators.Par.concurrently(
      () => Dedup.certLedgerWrite(
        Dedup.exactJoin(corpus, "doc_id", "text", jac),
        root, "jaccard", 0.85),
      () => pairs = stageBarrier(Dedup.certBatchPairs(batch,
        Some(Dedup.exactJoinAgainst(corpus, batch, "doc_id", "text", jac)),
        "doc_id", "text", jac)))
    Dedup.certLedgerAppend(s, root, pairs, "batch-1",
      "jaccard", 0.85)
    val ledger = Dedup.certLedgerRead(s, root, "jaccard", 0.85)
    val full = Dedup.exactJoin(docs, "doc_id", "text", jac)
    val missed = full.join(ledger, Seq("id_a", "id_b", "jaccard"),
      "left_anti").agg(count(lit(1)).as("n_missed"))
    val spurious = ledger.join(full, Seq("id_a", "id_b", "jaccard"),
      "left_anti").agg(count(lit(1)).as("n_spurious"))
    ledger.agg(count(lit(1)).as("n_pairs"))
      .crossJoin(broadcast(missed)).crossJoin(broadcast(spurious))
      .select(col("n_pairs"),
        (col("n_missed") === 0 && col("n_spurious") === 0)
          .as("ledger_equals_full"))
  }

  /** q230's induction on the EMBEDDING side — same ledger family,
    * metric "cosine": bootstrap with the corpus exact cosine join,
    * append one batch's [[Dedup.certBatchPairs]] (cross pairs from
    * [[Dedup.exactJoinAgainst]] + self pairs), assert pair-for-pair
    * equality with the full join.
    * Together with q230 this pins that the certification ledger is
    * metric-agnostic in PRACTICE, not just by schema. */
  val q231CertLedgerCos = q("q231_cert_ledger_cos",
    "Certification ledger, cosine metric: bootstrap + batch append ≡ full exact cosine join (north star: release audit)",
    """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
      |           FROM embeddings WHERE vec_id % 3 = 0)
      |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
      |       true AS ledger_equals_full
      |FROM v a JOIN v b ON a.vec_id < b.vec_id
      |WHERE round(list_cosine_similarity(a.vec, b.vec), 4) >= 0.4""".stripMargin) { (s, d) =>
    // 1/3 slice — the q230 acceptance-cost stance: three exact joins
    // including full-slice², claim size-independent
    val e = Tables.embeddings(s, d)
      .filter(pmod(col("vec_id"), lit(3)) === 0)
    val corpus = e.filter(pmod(col("vec_id"), lit(7)) =!= 0)
    val batch = e.filter(pmod(col("vec_id"), lit(7)) === 0)
    val root = freshScratch(s, "q231_cert_ledger_cos")
    val cos = Dedup.Cosine(0.4)
    // same overlap as q230: bootstrap write ∥ batch pair computation
    var pairs: org.apache.spark.sql.DataFrame = null
    graft.operators.Par.concurrently(
      () => Dedup.certLedgerWrite(
        Dedup.exactJoin(corpus, "vec_id", "embedding", cos),
        root, "cosine", 0.4),
      () => pairs = stageBarrier(Dedup.certBatchPairs(batch,
        Some(Dedup.exactJoinAgainst(corpus, batch, "vec_id", "embedding", cos)),
        "vec_id", "embedding", cos)))
    Dedup.certLedgerAppend(s, root, pairs, "batch-1",
      "cosine", 0.4)
    val ledger = Dedup.certLedgerRead(s, root, "cosine", 0.4)
    val full = Dedup.exactJoin(e, "vec_id", "embedding", cos)
    val missed = full.join(ledger, Seq("id_a", "id_b", "cos"),
      "left_anti").agg(count(lit(1)).as("n_missed"))
    val spurious = ledger.join(full, Seq("id_a", "id_b", "cos"),
      "left_anti").agg(count(lit(1)).as("n_spurious"))
    ledger.agg(count(lit(1)).as("n_pairs"))
      .crossJoin(broadcast(missed)).crossJoin(broadcast(spurious))
      .select(col("n_pairs"),
        (col("n_missed") === 0 && col("n_spurious") === 0)
          .as("ledger_equals_full"))
  }

  /** [[Dedup.semanticRepair]] — the engine CONSUMING its own
    * certification: SemDeDup survivors (the q101 pipeline) still
    * carry cross-cell pairs ≥ τ (the blocking recall gap q224
    * measures as `sem_residual_cross`); the repair runs connected
    * components over exactly those residual edges and keeps the
    * min-id member per component, so the output provably contains NO
    * pair ≥ τ at all. Oracle replays the full chain: SemDeDup keep →
    * brute-force residual pairs → recursive-CTE transitive closure →
    * min-id keep. */
  val q232SemanticRepair = q("q232_semantic_repair",
    "Certified-repair semantic dedup: CC over the exact residual edges, canonical keep — zero pairs >= tau survive (north star: dedup)",
    """WITH RECURSIVE cents AS (
      |  SELECT vec_id AS cell, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
      |  FROM embeddings WHERE vec_id % 50 = 0),
      |corpus AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec FROM embeddings),
      |assign AS (
      |  SELECT vec_id, vec, cell FROM (
      |    SELECT c.vec_id, c.vec, ct.cell,
      |           row_number() OVER (PARTITION BY c.vec_id
      |                              ORDER BY list_cosine_similarity(c.vec, ct.cvec) DESC, ct.cell) AS rk
      |    FROM corpus c CROSS JOIN cents ct) WHERE rk = 1),
      |drops AS (
      |  SELECT DISTINCT b.vec_id
      |  FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
      |  WHERE round(list_cosine_similarity(a.vec, b.vec), 4) >= 0.4),
      |surv AS (
      |  SELECT s.vec_id, s.cell, s.vec FROM assign s
      |  WHERE s.vec_id NOT IN (SELECT vec_id FROM drops)),
      |e AS (
      |  SELECT a.vec_id AS s, b.vec_id AS d
      |  FROM surv a JOIN surv b ON a.vec_id <> b.vec_id
      |  WHERE round(list_cosine_similarity(a.vec, b.vec), 4) >= 0.4),
      |nodes AS (SELECT DISTINCT s AS id FROM e),
      |reach(src, dst) AS (
      |  SELECT id, id FROM nodes
      |  UNION
      |  SELECT r.src, e.d FROM reach r JOIN e ON e.s = r.dst),
      |comp AS (SELECT src AS vec_id, min(dst) AS lbl FROM reach GROUP BY src)
      |SELECT s.vec_id, s.cell FROM surv s LEFT JOIN comp c USING (vec_id)
      |WHERE c.lbl IS NULL OR c.lbl = s.vec_id""".stripMargin) { (s, d) =>
    val e = Tables.embeddings(s, d)
    val kept = Dedup.semanticDedup(e, e.filter(col("vec_id") % 50 === 0),
      "vec_id", "embedding", tau = 0.4)
    val keptVecs = e.join(kept.select("vec_id", "cell"), Seq("vec_id"))
    Dedup.semanticRepair(keptVecs, "vec_id", "embedding", threshold = 0.4)
      .select("vec_id", "cell")
  }

  /** Frozen quality calibration ([[Quality.qualityCutsWrite]] /
    * [[Quality.qualityBucketsWith]]): the CCNet production shape —
    * cuts computed ONCE on the standing corpus (doc_id % 9 ≠ 0),
    * persisted as an atomically-versioned snapshot, then an arriving
    * batch (% 9 = 0) bucketed against the STORED table. The batch's
    * own score mix never shifts the thresholds — the reproducibility
    * property per-batch recalibration silently lacks. The store
    * round-trip sits IN the checked lineage (the q207/q209 pattern);
    * the oracle computes the cuts from the calibration slice only
    * and buckets the batch, with uncalibrated sources going to NULL
    * (unknowable, not head). */
  val q229FrozenCalibration = q("q229_frozen_calibration",
    "Frozen per-source quality calibration: freeze cuts on the corpus, bucket the arriving batch against the store (north star: reproducible curation)",
    """WITH sc AS (
      |  SELECT doc_id, source,
      |         CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS DOUBLE) AS score
      |  FROM documents),
      |cal AS (
      |  SELECT source, quantile_cont(score, 1.0/3) AS c0,
      |         quantile_cont(score, 2.0/3) AS c1
      |  FROM sc WHERE doc_id % 9 <> 0 GROUP BY source),
      |b AS (SELECT * FROM sc WHERE doc_id % 9 = 0)
      |SELECT b.doc_id, b.source, b.score,
      |       CASE WHEN c.c0 IS NULL THEN NULL
      |            WHEN b.score <= c.c0 THEN 'head'
      |            WHEN b.score <= c.c1 THEN 'middle'
      |            ELSE 'tail' END AS bucket
      |FROM b LEFT JOIN cal c USING (source)""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    def scored(df: org.apache.spark.sql.DataFrame) = df.select(
      col("doc_id"), col("source"),
      TextFunctions.tokenCount(col("text")).cast("double").as("score"))
    val root = freshScratch(s, "q229_quality_cuts")
    Quality.qualityCutsWrite(s, root,
      Quality.qualityCuts(scored(docs.filter(pmod(col("doc_id"), lit(9)) =!= 0)),
        "score", Seq("source")),
      "score", Seq("source"))
    Quality.qualityBucketsWith(
      scored(docs.filter(pmod(col("doc_id"), lit(9)) === 0)),
      "score", Seq("source"),
      Quality.qualityCutsRead(s, root, "score", Seq("source")))
      .select("doc_id", "source", "score", "bucket")
  }

  /** [[Similarity.ivfRecluster]] under the oracle — the IVF store's
    * drift-maintenance arm: bootstrap over the %4≠1 slice, drift-
    * append the %4=1 batch (assigned to the STALE bootstrap
    * centroids — exactly the skew [[Similarity.ivfCellSkew]] is for),
    * then recluster in place. Because the re-fit is from scratch over
    * the stored vectors (md5 seed pick + one Lloyd step), the
    * rewritten store must equal a FRESH build over corpus ∪ batch,
    * centroid for centroid and member count for member count — which
    * is exactly what the oracle computes, never having seen the
    * drifted intermediate state (the q241 re-freeze pattern: erase/
    * maintain in the engine, recompute the final state in SQL). The
    * reassignment publishes behind the `_CURRENT` flip with the
    * bootstrap base retained (time travel to the pre-recluster
    * index), and every later probe partition-prunes on the NEW cells
    * (plan-gated in SimilaritySpec). */
  val q243IvfRecluster = q("q243_ivf_recluster",
    "IVF recluster-on-drift: re-fit + reassign in place == fresh build over the same vectors, centroid for centroid (north star: ANN store maintenance)",
    """WITH corpus AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec FROM embeddings),
      |c0 AS (
      |  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell,
      |         vec AS cvec
      |  FROM corpus ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
      |a1 AS (
      |  SELECT vec_id, vec, cell FROM (
      |    SELECT c.vec_id, c.vec, t.cell,
      |           row_number() OVER (PARTITION BY c.vec_id
      |                              ORDER BY list_cosine_similarity(c.vec, t.cvec) DESC, t.cell) AS rk
      |    FROM corpus c CROSS JOIN c0 t) WHERE rk = 1),
      |m1 AS (
      |  SELECT a.cell, t.i AS i,
      |         CAST(CAST(round(avg(a.vec[t.i]), 4) AS FLOAT) AS DOUBLE) AS v
      |  FROM a1 a, UNNEST(generate_series(1, len(a.vec))) AS t(i)
      |  GROUP BY a.cell, t.i),
      |c1 AS (
      |  SELECT c0.cell, coalesce(m.cvec, c0.cvec) AS cvec
      |  FROM c0 LEFT JOIN (SELECT cell, list(v ORDER BY i) AS cvec
      |                     FROM m1 GROUP BY cell) m USING (cell)),
      |a2 AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT c.vec_id, t.cell,
      |           row_number() OVER (PARTITION BY c.vec_id
      |                              ORDER BY list_cosine_similarity(c.vec, t.cvec) DESC, t.cell) AS rk
      |    FROM corpus c CROSS JOIN c1 t) WHERE rk = 1),
      |n AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_members FROM a2 GROUP BY cell)
      |SELECT c1.cell, CAST(coalesce(n.n_members, 0) AS BIGINT) AS n_members,
      |       CAST(t.i - 1 AS INTEGER) AS dim, CAST(c1.cvec[t.i] AS FLOAT) AS c
      |FROM c1 LEFT JOIN n USING (cell),
      |     UNNEST(generate_series(1, len(c1.cvec))) AS t(i)""".stripMargin) { (s, d) =>
    val e = Tables.embeddings(s, d).select("vec_id", "embedding")
    val corpus = e.filter(pmod(col("vec_id"), lit(4)) =!= 1)
    val batch = e.filter(pmod(col("vec_id"), lit(4)) === 1)
    val root = freshScratch(s, "q243_ivf_recluster")
    Similarity.ivfIndexWrite(Similarity.ivfIndex(corpus,
      Similarity.pickCentroids(corpus, "vec_id", "embedding", 16),
      "vec_id", "embedding"), root)
    Similarity.ivfAppendWrite(s, root, batch, "vec_id", "embedding")
    val stats = Similarity.ivfRecluster(s, root, steps = 1)
    require(stats.folded.nonEmpty,
      s"q243: recluster folded nothing at $root — store build failed")
    val index = Similarity.ivfIndexRead(s, root)
    val members = index.assignments.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"))
    index.centroids
      .join(members, Seq("cell"), "left")
      .select(col("cell"),
        coalesce(col("n_members"), lit(0L)).as("n_members"),
        posexplode(col("embedding")).as(Seq("dim", "c")))
  }

  /** [[Similarity.ivfPqRecluster]] under the oracle — both quantizer
    * levels re-fit and the codes table rewritten in place: bootstrap
    * under a DELIBERATELY different geometry (8 raw seed cells,
    * unrefined seed codebooks), then recluster to 4 Lloyd-trained
    * cells with 1-iteration codebooks over the SAME vectors. The
    * post-recluster store must equal a fresh build under the new
    * geometry, code for code and cell for cell — the oracle computes
    * exactly that fresh build (q115's PQ chain + the q243 cell
    * chain, sharing the md5 seed pick), never seeing the bootstrap
    * state. The corpus-ids-equal-stored-ids refusal (the RTBF guard)
    * is spec-tested in SimilaritySpec. */
  val q244IvfPqRecluster = q("q244_ivfpq_recluster",
    "IVF+PQ recluster: re-fit cells + codebooks, rewrite codes in place == fresh build over the same vectors (north star: ANN store maintenance)",
    """WITH corpus AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec FROM embeddings),
      |sr AS (
      |  SELECT vec, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS pick
      |  FROM corpus ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 4),
      |c0 AS (SELECT pick AS cell, vec AS cvec FROM sr),
      |ca1 AS (
      |  SELECT vec_id, vec, cell FROM (
      |    SELECT c.vec_id, c.vec, t.cell,
      |           row_number() OVER (PARTITION BY c.vec_id
      |                              ORDER BY list_cosine_similarity(c.vec, t.cvec) DESC, t.cell) AS rk
      |    FROM corpus c CROSS JOIN c0 t) WHERE rk = 1),
      |cm1 AS (
      |  SELECT a.cell, t.i AS i,
      |         CAST(CAST(round(avg(a.vec[t.i]), 4) AS FLOAT) AS DOUBLE) AS v
      |  FROM ca1 a, UNNEST(generate_series(1, len(a.vec))) AS t(i)
      |  GROUP BY a.cell, t.i),
      |c1 AS (
      |  SELECT c0.cell, coalesce(m.cvec, c0.cvec) AS cvec
      |  FROM c0 LEFT JOIN (SELECT cell, list(v ORDER BY i) AS cvec
      |                     FROM cm1 GROUP BY cell) m USING (cell)),
      |cells AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT c.vec_id, t.cell,
      |           row_number() OVER (PARTITION BY c.vec_id
      |                              ORDER BY list_cosine_similarity(c.vec, t.cvec) DESC, t.cell) AS rk
      |    FROM corpus c CROSS JOIN c1 t) WHERE rk = 1),
      |subs AS (SELECT s AS sub FROM (VALUES (0),(1),(2),(3)) t(s)),
      |sv AS (
      |  SELECT c.vec_id, s.sub, c.vec[s.sub*16+1 : s.sub*16+16] AS sv
      |  FROM corpus c, subs s),
      |seed AS (
      |  SELECT s.sub, r.pick AS code, r.vec[s.sub*16+1 : s.sub*16+16] AS cv
      |  FROM sr r, subs s),
      |d1 AS (
      |  SELECT v.vec_id, v.sub, se.code,
      |         round(list_sum(list_transform(range(1, 17),
      |           j -> (v.sv[j] - se.cv[j]) * (v.sv[j] - se.cv[j]))), 6) AS rd
      |  FROM sv v JOIN seed se USING (sub)),
      |pa1 AS (
      |  SELECT vec_id, sub, code FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY rd, code) AS rk
      |    FROM d1) WHERE rk = 1),
      |cent AS (
      |  SELECT sub, code, list(mv ORDER BY pos) AS cv FROM (
      |    SELECT a.sub, a.code, j AS pos, round(avg(v.sv[j]), 6) AS mv
      |    FROM pa1 a JOIN sv v ON a.vec_id = v.vec_id AND a.sub = v.sub,
      |         UNNEST(generate_series(1, 16)) AS t(j)
      |    GROUP BY a.sub, a.code, j)
      |  GROUP BY sub, code),
      |d2 AS (
      |  SELECT v.vec_id, v.sub, c.code,
      |         round(list_sum(list_transform(range(1, 17),
      |           j -> (v.sv[j] - c.cv[j]) * (v.sv[j] - c.cv[j]))), 6) AS rd
      |  FROM sv v JOIN cent c USING (sub)),
      |pa2 AS (
      |  SELECT vec_id, sub, code FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY rd, code) AS rk
      |    FROM d2) WHERE rk = 1)
      |SELECT p.vec_id, CAST(p.sub AS BIGINT) AS sub, p.code, cl.cell
      |FROM pa2 p JOIN cells cl USING (vec_id)""".stripMargin) { (s, d) =>
    val e = Tables.embeddings(s, d).select("vec_id", "embedding")
    val root = freshScratch(s, "q244_ivfpq_recluster")
    Similarity.ivfPqIndexWrite(Similarity.ivfPqIndex(e,
      Similarity.pickCentroids(e, "vec_id", "embedding", 8),
      "vec_id", "embedding", m = 4, k = 4, iters = 0), root)
    val stats = Similarity.ivfPqRecluster(s, root, e, "vec_id", "embedding",
      m = 4, k = 4, iters = 1, steps = 1, nCells = 4)
    require(stats.folded.nonEmpty,
      s"q244: recluster folded nothing at $root — store build failed")
    Similarity.ivfPqIndexRead(s, root).codes
      .select(col("vec_id"), col("sub"), col("code"), col("cell"))
  }

  /** [[Similarity.ivfCellSkew]] under the oracle — the drift
    * DIAGNOSTIC that fires [[Similarity.ivfReclusterIfSkewed]]:
    * bootstrap over the %4≠1 slice (raw md5 seed pick, q243's
    * geometry), drift-append the %4=1 batch onto the STALE
    * centroids, and read the store's cell-occupancy skew. The
    * assignment chain is fully SQL-replayable (argmax cosine against
    * the seed centroids, the q243 `a1` pattern restricted to
    * slice-picked seeds), so the one-row skew summary —
    * (n_rows, n_buckets, max_bucket_rows, max_bucket_frac) — is
    * VALUE-EXACT against DuckDB. One map-side-combined aggregate
    * over the assignments' cell column; the vectors are never read. */
  val q245IvfCellSkew = q("q245_ivf_cell_skew",
    "IVF cell-occupancy skew after a drift append: the recluster trigger's diagnostic, value-exact (north star: ANN store maintenance)",
    """WITH corpus AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec FROM embeddings),
      |c0 AS (
      |  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell,
      |         vec AS cvec
      |  FROM corpus WHERE vec_id % 4 <> 1
      |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
      |a1 AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT c.vec_id, t.cell,
      |           row_number() OVER (PARTITION BY c.vec_id
      |                              ORDER BY list_cosine_similarity(c.vec, t.cvec) DESC, t.cell) AS rk
      |    FROM corpus c CROSS JOIN c0 t) WHERE rk = 1),
      |n AS (SELECT cell, count(*) AS cnt FROM a1 GROUP BY cell)
      |SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
      |       CAST(count(*) AS BIGINT) AS n_buckets,
      |       CAST(max(cnt) AS BIGINT) AS max_bucket_rows,
      |       round(CAST(max(cnt) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE), 4) AS max_bucket_frac
      |FROM n""".stripMargin) { (s, d) =>
    val e = Tables.embeddings(s, d).select("vec_id", "embedding")
    val corpus = e.filter(pmod(col("vec_id"), lit(4)) =!= 1)
    val batch = e.filter(pmod(col("vec_id"), lit(4)) === 1)
    val root = freshScratch(s, "q245_ivf_cell_skew")
    Similarity.ivfIndexWrite(Similarity.ivfIndex(corpus,
      Similarity.pickCentroids(corpus, "vec_id", "embedding", 16),
      "vec_id", "embedding"), root)
    Similarity.ivfAppendWrite(s, root, batch, "vec_id", "embedding")
    Similarity.ivfCellSkew(s, root)
  }

  val all: Seq[CatalogQuery] = Seq(
    q1Agg, q2FilterProject, q3HwmFilter, q4StarPlus, q5NullFilter,
    q6BroadcastJoin, q7FactJoin, q8IntervalExpand, q9RangeJoin, q10Tokens,
    q11ArrayHof, q12Window, q13Calendar, q14UnionFx, q15Merge,
    q16TopK, q17Having, q18JsonCase, q19DedupExact, q20MinHash,
    q21Jaccard, q22SimHash, q23CosineTopK, q24Ivf, q25LangId,
    q26Quality, q27Multimodal, q28Rollup, q29Lag, q30AntiJoin,
    q31Asof, q32OuterJoin, q33Percentile, q34EmbDedup,
    q35Sql, q36SetOps, q37Sessionize, q38Pivot, q39Tumbling,
    q40SemiJoin, q41Features, q42DedupClusters, q43MapFns,
    q44Cube, q45RangeFrame, q46DeferredMart, q47NdjsonPushdown,
    q48PiiRedact, q49HashSplit, q50Contamination, q51Repetition,
    q52GroupingSets, q53RankFamily, q54GapFill, q55SeqPacking,
    q56Profile, q57GroupTopK, q58ApproxAggs, q59BandJoin, q60SlidingWindow,
    q61AnalystTrend, q62SaltedJoin, q63NullSafeJoin, q64IncrementalDedup,
    q65Tfidf, q66Scd2, q67StratifiedSample, q68QuantizeInt8,
    q69Unpivot, q70Chunks, q71UrlNormalize, q72DecayedAgg, q73WeightedSample,
    q74WindowDistinct, q75EditDistance, q76ZscoreOutliers, q77Histogram,
    q78Containment, q79GroupSample, q80Winsorize, q81QualityChecks,
    q82SrpNearDup, q83RecognizedMart, q84TotalDeferred,
    q85DeferredByCustomer, q86RecognizedQuarter, q87WavMeta,
    q88ManyGroupPercentile, q89Mp4Meta, q90BloomDedup,
    q91PngPixels, q92WavPcm, q93IncrementalLsh, q94AviFrames, q95Zorder,
    q96ZorderEqualDepth, q97IncrementalSimHash, q98IncrementalSrp,
    q99IncrementalIvf, q100CurationPipeline, q101SemanticDedup,
    q102Boilerplate, q103Mixture, q104Temperature, q105IntraDocDedup,
    q106VocabCoverage, q107IncrementalBoilerplate, q108LengthBatches,
    q109TokenDrift, q110RepeatedSpans, q111IncrementalContamination,
    q112BigramLm, q113HtmlStrip, q114SpanRemoval,
    q115ProductQuantization, q116PqAdcSearch, q117IvfPq, q118Pretokenize,
    q119QualityFilter, q120Bpe, q121Tone, q122ImageDhash, q123ImageNearDup,
    q124IncrementalImage, q125CountMin, q126Bm25, q127DomainCaps,
    q128ParagraphDedup, q129Blocklist, q130ZoneMap, q131Kmv, q132Pmi,
    q133Funnel, q134Cohort, q135UnicodeNorm, q136AudioFp, q137ClusterReps,
    q138KmvOverlap, q139Dsir, q140HardNegatives, q141IncrementalDsir,
    q142IncrementalLineDedup, q143EpochCompaction, q144KmvSql,
    q145PslDomainCaps, q146IncrementalCaps, q147QuantileSketch,
    q148SampleSketchSql, q149SketchStore, q150CurationV2, q151Bm25Store,
    q152SnapshotDiff, q153HybridRrf, q154CdcApply, q155Bm25Multi,
    q156HybridMulti, q157PageRank, q158Hll, q159HllStore, q160Erasure,
    q161Islands, q162EntityRes, q163CmsStore, q164Digest, q165DigestDiff,
    q166SchemaEvolution, q167ReleaseManifest, q168Triangles,
    q169Transitions, q170WeightedK, q171DigestLedger, q172IslandsStore,
    q173AuthorityCap, q174IncrementalEr, q175ErasureAudit, q176KmvStore,
    q177Ppr, q178TimeTravel, q179IncTriangles, q180WarmStart,
    q181CensusStore, q182IncCc, q183Bfs, q184Hits, q185Kcore,
    q186CoCitation, q187Frontier, q188Scd2Cdc, q189ClusterSafeSplit,
    q190Curriculum, q191BudgetedSelect, q192IncBfs,
    q193SemanticContamination, q194EpochShuffle, q195Attrition,
    q196SemanticStore, q197RankTiers, q198RankingMetrics,
    q199CorpusCard, q200AnnRecall, q201PackedOffsets, q202BurnReport,
    q203AnnealedOrder, q204BucketSkew, q205DupGramFraction,
    q206IncrementalDupGram, q207GramFreqStore, q208LmPerplexity,
    q209LmStore, q210KmeansStep, q211KmeansProfile, q212TrainedRecall,
    q213ZipfFit, q214ClusterSample, q215ExactJaccard, q216VocabGrowth,
    q217TruncationRecall, q218QuantRecall, q219PropagatedContamination,
    q220QualityBuckets, q221QualityGate, q222KmeansParInit,
    q223KmeansObjective, q224ExactCosine, q225KmeansElbow, q226Silhouette,
    q227JaccardAgainst, q228CosineAgainst, q229FrozenCalibration,
    q230CertLedger, q231CertLedgerCos, q232SemanticRepair, q233PickK,
    q234IncrementalRepair, q235RepairLabelsStore, q236CardFromStores,
    q237CertErasure, q238BandErasure, q239GramErasure, q240CapErasure,
    q241CutsRefreeze, q242DigestErasure, q243IvfRecluster,
    q244IvfPqRecluster, q245IvfCellSkew)
}
