package graft.pipeline

import java.nio.file.Files
import java.time.LocalDate

import graft.SparkSpecBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end pipeline semantics on Stripe-shaped NDJSON fixtures.
  * Fixture coverage per FIXTURES.md §A: multi-line invoices,
  * multi-currency, null period.end (1-day fallback), zero-length
  * period, inclusive/exclusive/empty taxes, invoice-level vs
  * line-level subscription fallback.
  */
class PipelineSpec extends SparkSpecBase {
  import spark.implicits._

  private val asOf = LocalDate.of(2024, 3, 1)

  // epoch seconds for 2024-01-10 / 2024-01-01 / 2024-01-31 00:00 UTC
  private val jan10 = 1704844800L
  private val jan01 = 1704067200L
  private val jan31 = 1706659200L

  private def fixtureJson: Seq[String] = Seq(
    // inv1: paid, USD, two lines — one exclusive-tax line with a
    // 30-day period, one inclusive-tax line with a null period.end
    s"""{"id":"inv1","customer":"cus1","subscription":"sub1","status":"paid","currency":"USD","created":$jan10,
        "amount_due":13000,"amount_paid":13000,"amount_remaining":0,"subtotal":12000,"total":13000,"tax":1000,
        "collection_method":"charge_automatically","period_start":$jan01,"period_end":$jan31,
        "automatic_tax":{"enabled":true,"status":"complete"},"metadata":{"k":"v"},
        "lines":{"data":[
          {"id":"li1","type":"subscription","description":"monthly","amount":12000,"currency":"USD","quantity":1,
           "subscription":null,"period":{"start":$jan01,"end":$jan31},
           "taxes":[{"amount":1000,"tax_behavior":"exclusive"}],"metadata":{}},
          {"id":"li2","type":"invoiceitem","description":"setup","amount":5000,"currency":"USD","quantity":1,
           "subscription":"sub9","period":{"start":$jan10,"end":null},
           "taxes":[{"amount":500,"tax_behavior":"inclusive"}],"metadata":{}}
        ]}}""".linesIterator.map(_.trim).mkString(""),
    // inv2: paid, EUR, single line, zero-length period, no taxes
    s"""{"id":"inv2","customer":"cus2","subscription":null,"status":"paid","currency":"EUR","created":$jan10,
        "amount_due":1000,"amount_paid":1000,"amount_remaining":0,"subtotal":1000,"total":1000,"tax":0,
        "collection_method":"send_invoice","period_start":$jan10,"period_end":$jan10,
        "automatic_tax":{"enabled":false,"status":null},"metadata":{},
        "lines":{"data":[
          {"id":"li3","type":"invoiceitem","description":"one-off","amount":1000,"currency":"EUR","quantity":2,
           "subscription":null,"period":{"start":$jan10,"end":$jan10},"taxes":[],"metadata":{}}
        ]}}""".linesIterator.map(_.trim).mkString(""),
    // inv3: NOT paid — must be filtered out of line items
    s"""{"id":"inv3","customer":"cus3","subscription":null,"status":"open","created":$jan10,"currency":"USD",
        "amount_due":99,"amount_paid":0,"amount_remaining":99,"subtotal":99,"total":99,"tax":0,
        "collection_method":"send_invoice","period_start":$jan10,"period_end":$jan31,
        "automatic_tax":{"enabled":false,"status":null},"metadata":{},
        "lines":{"data":[
          {"id":"li4","type":"invoiceitem","description":"x","amount":99,"currency":"USD","quantity":1,
           "subscription":null,"period":{"start":$jan10,"end":$jan31},"taxes":[],"metadata":{}}
        ]}}""".linesIterator.map(_.trim).mkString(""))

  private lazy val rawInvoices: DataFrame = {
    val ds = spark.createDataset(fixtureJson)
    spark.read.schema(Schemas.invoiceSchema).json(ds)
  }
  private lazy val emptySubs = spark.read.schema(Schemas.subscriptionSchema)
    .json(spark.createDataset(Seq.empty[String]))
  private lazy val emptyUpdates = spark.read.schema(Schemas.subscriptionUpdateSchema)
    .json(spark.createDataset(Seq.empty[String]))

  private def runPipeline(dir: String): Map[String, DataFrame] =
    new Pipeline(spark, dir, asOf).run(rawInvoices, emptySubs, emptyUpdates)

  private lazy val warehouse: String =
    Files.createTempDirectory("graft-wh").toString
  private lazy val tables: Map[String, DataFrame] = runPipeline(warehouse)

  test("line items: flatten, paid filter, fallbacks, tax semantics") {
    val li = tables("invoice_line_items")
    val rows = li.orderBy("line_item_id").collect()
    assert(rows.map(_.getAs[String]("line_item_id")).toSeq === Seq("li1", "li2", "li3"))

    val li1 = li.filter($"line_item_id" === "li1").head()
    assert(li1.getAs[Double]("amount") === 120.0)          // cents → units
    assert(li1.getAs[Double]("tax_amount") === 10.0)
    assert(!li1.getAs[Boolean]("is_tax_inclusive"))
    assert(li1.getAs[String]("subscription_id") === "sub1") // invoice-level fallback

    val li2 = li.filter($"line_item_id" === "li2").head()
    assert(li2.getAs[Boolean]("is_tax_inclusive"))
    assert(li2.getAs[String]("subscription_id") === "sub9") // line-level wins
    assert(li2.getAs[Boolean]("is_missing_period_end"))
    // 1-day fallback: period_end = start + 1 day
    assert(li2.getAs[java.sql.Date]("period_end_date").toString === "2024-01-11")

    val li3 = li.filter($"line_item_id" === "li3").head()
    assert(li3.getAs[Double]("tax_amount") === 0.0)        // empty taxes → 0
    assert(!li3.getAs[Boolean]("is_tax_inclusive"))

    // unpaid invoice's line never appears
    assert(li.filter($"line_item_id" === "li4").count() === 0)
  }

  test("deferred revenue: proration accrues to exactly the full amount") {
    val dr = tables("deferred_revenue").filter($"line_item_id" === "li1")
    // expansion window: invoice_created_date (jan10) .. period_end (jan31)
    assert(dr.count() === 22)
    val first = dr.orderBy("as_of_date").head()
    assert(first.getAs[java.sql.Date]("as_of_date").toString === "2024-01-10")
    // li1: exclusive tax → amount_without_tax = 120 USD, 30 service days
    val last = dr.orderBy(desc("as_of_date")).head()
    assert(math.abs(last.getAs[Double]("recognized_revenue_usd") - 120.0) < 1e-9)
    assert(math.abs(last.getAs[Double]("deferred_revenue_usd")) < 1e-9)
    // invariant: deferred + recognized == amount on every day
    val bad = dr.filter(
      abs($"deferred_revenue_usd" + $"recognized_revenue_usd" - $"amount_without_tax_usd") > 1e-9)
    assert(bad.count() === 0)
    // mid-period day: jan15 → DATE_DIFF(jan15, jan01) = 14 elapsed days
    // (zero days elapse on the start day — reference CASE :104-110)
    // at 4 USD/day
    val jan15 = dr.filter($"as_of_date" === lit(java.sql.Date.valueOf("2024-01-15"))).head()
    assert(math.abs(jan15.getAs[Double]("recognized_revenue_usd") - 56.0) < 1e-9)
  }

  test("zero-length period recognizes everything immediately") {
    val dr = tables("deferred_revenue").filter($"line_item_id" === "li3")
    assert(dr.count() === 1)  // created == period_end == same day
    val row = dr.head()
    // 10 EUR * 1.08 = 10.8 USD, all recognized on day one
    assert(math.abs(row.getAs[Double]("recognized_revenue_usd") - 10.8) < 1e-9)
    assert(math.abs(row.getAs[Double]("deferred_revenue_usd")) < 1e-9)
  }

  test("recognized revenue: half-open window, rate sums to the amount") {
    val rr = tables("recognized_revenue").filter($"line_item_id" === "li1")
    assert(rr.count() === 30)  // [jan01, jan31) = 30 days
    val total = rr.agg(sum("daily_revenue_usd")).head().getDouble(0)
    assert(math.abs(total - 120.0) < 1e-9)
    // zero-length period → no recognized rows (half-open empty)
    assert(tables("recognized_revenue").filter($"line_item_id" === "li3").count() === 0)
  }

  test("inclusive tax strips tax from the recognized base") {
    val dr = tables("deferred_revenue").filter($"line_item_id" === "li2")
    // li2: inclusive → amount_without_tax = 50 - 5 = 45 USD
    val amt = dr.head().getAs[Double]("amount_without_tax_usd")
    assert(math.abs(amt - 45.0) < 1e-9)
  }

  test("analyst queries: totals line up across the four README queries") {
    val deferred = tables("deferred_revenue")
    val q1 = AnalystQueries.totalDeferred(deferred, LocalDate.of(2024, 1, 15))
      .head().getDouble(0)
    // li1: 4/day × DATE_DIFF(jan31, jan15) = 64 deferred; li2: window
    // jan10..jan11 passed by jan15 → no row; li3: fully recognized,
    // 0 but row exists only jan10
    assert(math.abs(q1 - 64.0) < 1e-9)
    val q2 = AnalystQueries.deferredByCustomer(deferred, LocalDate.of(2024, 1, 15))
    assert(q2.head().getAs[String]("customer_id") === "cus1")
    val q3 = AnalystQueries.deferredTrend(deferred)
    assert(q3.count() === deferred.select("as_of_date").distinct().count())
    val q4 = AnalystQueries.recognizedInQuarter(
      tables("recognized_revenue"), tables("calendar"), 2024, "1")
      .head().getDouble(0)
    // everything recognized in Q1 2024: li1 120 + li2 45 + li3 10.8 — but
    // li3 has no recognized rows (zero-length), so 120 + 45
    assert(math.abs(q4 - 165.0) < 1e-9)
  }

  test("quality checks all pass on the fixture warehouse") {
    val results = Checks.standardSuite(tables)
    val failed = results.filterNot(_.passed).filterNot(
      _.name == "missing_period_end_threshold") // 1/3 missing > 3% by design
    assert(failed.isEmpty, failed.mkString("; "))
    // and the threshold check itself fires, as the fixture intends
    assert(!Checks.missingPeriodEnd(tables("invoice_line_items")).passed)
  }

  test("calendar quirks: day_of_year is day-of-month; partial year reads as leap") {
    val cal = tables("calendar")
    val row = cal.filter($"date_day" === lit(java.sql.Date.valueOf("2024-02-15"))).head()
    assert(row.getAs[Int]("day_of_year") === 15)        // the mislabel, replicated
    assert(row.getAs[String]("quarter_of_year") === "1") // string, not int
    assert(row.getAs[Long]("days_in_month") === 29L)
    // 2024 spine is partial (ends asOf 2024-03-01) → "leap" by the quirk
    assert(row.getAs[Boolean]("is_leap_year"))
    val row2023 = cal.filter($"date_day" === lit(java.sql.Date.valueOf("2023-06-01"))).head()
    assert(!row2023.getAs[Boolean]("is_leap_year"))      // full 365-day year
  }

  test("week_sunday_start matches BigQuery EXTRACT(WEEK) on known dates") {
    val cal = tables("calendar")
    def wk(d: String): Int =
      cal.filter($"date_day" === lit(java.sql.Date.valueOf(d)))
        .head().getAs[Int]("week_sunday_start")
    // BigQuery: weeks begin Sunday; days before the first Sunday = week 0
    assert(wk("2023-01-01") === 1) // Jan 1 IS a Sunday → week 1 immediately
    assert(wk("2024-01-01") === 0) // Monday, before first Sunday (Jan 7)
    assert(wk("2024-01-06") === 0) // Saturday, still week 0
    assert(wk("2024-01-07") === 1) // the first Sunday starts week 1
    assert(wk("2022-01-01") === 0) // Saturday
    assert(wk("2022-01-02") === 1) // Sunday
    assert(wk("2020-02-29") === 8) // 8 Sundays elapsed (Jan 5 … Feb 23)
    assert(wk("2023-12-31") === 53) // a Sunday → opens week 53
    // and the ISO column disagrees exactly where it should
    val isoNewYear = cal.filter($"date_day" === lit(java.sql.Date.valueOf("2023-01-01")))
      .head().getAs[Int]("week_of_year")
    assert(isoNewYear === 52) // ISO assigns 2023-01-01 to 2022-W52
  }

  test("marts are queryable by name through spark.sql; failures alert") {
    // views were registered by the pipeline run
    val n = spark.sql(
      "SELECT count(*) FROM deferred_revenue WHERE deferred_revenue_usd > 0").head().getLong(0)
    assert(n > 0)
    // failure callback fires and the error propagates; the callback
    // runs on the models' own threads, several at once
    val alerted = new java.util.concurrent.ConcurrentLinkedQueue[String]
    // a path UNDER a regular file cannot be created — guaranteed write failure
    val blocker = Files.createTempFile("graft-blocker", ".dat")
    val bad = new Pipeline(spark, blocker.toString + "/wh", asOf,
      onFailure = (t, _) => alerted.add(t))
    // the first day's inputs, so every first-layer model has rows to write
    val Seq(invoices, subscriptions, updates) = raw(1)
    intercept[Throwable] { bad.run(invoices, subscriptions, updates) }
    // every model of the first layer fails and alerts once; no later
    // layer starts, so no curated or mart model alerts
    val alerts = alerted.toArray.toSeq.map(_.toString)
    assert(alerts.sorted === Seq("calendar", "exchange_rates", "stg_invoices",
      "stg_subscription_updates", "stg_subscriptions"))
  }

  test("typed Dataset surface binds the mart schemas") {
    val dr = Rows.deferred(tables("deferred_revenue"))
    // typed transformations: compile-time field access
    val perItem = dr.filter(_.deferred_revenue_usd > 0)
      .groupByKey(_.line_item_id).count().collect().toMap
    // li1 defers across its 30-day period; li2's 1-day fallback period
    // defers in full on its start day (nothing recognized until a day
    // elapses); li3's zero-length period recognizes in full on day one
    assert(perItem.keySet === Set("li1", "li2"))
    val li = Rows.lineItems(tables("invoice_line_items")).collect()
    assert(li.map(_.line_item_id).sorted === Array("li1", "li2", "li3"))
    assert(li.count(_.is_tax_inclusive) === 1)
    val rr = Rows.recognized(tables("recognized_revenue"))
    assert(rr.map(_.daily_revenue_usd).collect().forall(_ >= 0.0))
  }

  test("rerunning the pipeline is idempotent (merge contract)") {
    // snapshot current state to the driver BEFORE rerunning — the rerun
    // overwrites the parquet files under the open DataFrames
    val before = Seq("invoices", "invoice_line_items", "deferred_revenue", "recognized_revenue")
      .map(t => t -> tables(t).drop("_loaded_at").collect().map(_.toString).sorted.toSeq).toMap
    runPipeline(warehouse)
    for ((t, snap) <- before) {
      val after = spark.read.parquet(s"$warehouse/$t").drop("_loaded_at")
        .collect().map(_.toString).sorted.toSeq
      assert(after === snap, s"table $t changed across rerun")
    }
  }

  // ---- day over day: two incremental days against one full refresh

  private val day1 = LocalDate.of(2024, 1, 10)
  private val day2 = LocalDate.of(2024, 1, 12)
  // epoch seconds for 2024-01-12 / 2024-02-11 00:00 UTC
  private val jan12 = 1705017600L
  private val feb11 = 1707609600L

  // day 2's new invoices: a GBP line over a 30-day period and a second
  // line item of a USD invoice with a null period end
  private def day2Json: Seq[String] = Seq(
    s"""{"id":"inv4","customer":"cus4","subscription":"sub4","status":"paid","currency":"GBP","created":$jan12,
        "amount_due":3000,"amount_paid":3000,"amount_remaining":0,"subtotal":3000,"total":3000,"tax":0,
        "collection_method":"charge_automatically","period_start":$jan12,"period_end":$feb11,
        "automatic_tax":{"enabled":false,"status":null},"metadata":{},
        "lines":{"data":[
          {"id":"li5","type":"subscription","description":"monthly","amount":3000,"currency":"GBP","quantity":1,
           "subscription":null,"period":{"start":$jan12,"end":$feb11},"taxes":[],"metadata":{}}
        ]}}""".linesIterator.map(_.trim).mkString(""),
    s"""{"id":"inv5","customer":"cus1","subscription":"sub1","status":"paid","currency":"USD","created":$jan12,
        "amount_due":700,"amount_paid":700,"amount_remaining":0,"subtotal":700,"total":700,"tax":0,
        "collection_method":"send_invoice","period_start":$jan12,"period_end":null,
        "automatic_tax":{"enabled":false,"status":null},"metadata":{},
        "lines":{"data":[
          {"id":"li6","type":"invoiceitem","description":"extra","amount":700,"currency":"USD","quantity":1,
           "subscription":null,"period":{"start":$jan12,"end":null},
           "taxes":[{"amount":70,"tax_behavior":"inclusive"}],"metadata":{}}
        ]}}""".linesIterator.map(_.trim).mkString(""))

  private def json(schema: org.apache.spark.sql.types.StructType, rows: Seq[String]) =
    spark.read.schema(schema).json(spark.createDataset(rows))
  private def raw(day: Int) = day match {
    case 1 => Seq(rawInvoices,
      json(Schemas.subscriptionSchema, Seq(
        s"""{"id":"sub1","customer":"cus1","status":"active","created":$jan10,""" +
          s""""current_period_start":$jan01,"current_period_end":$jan31}""")),
      json(Schemas.subscriptionUpdateSchema, Seq(
        s"""{"id":"evt1","type":"customer.subscription.updated","created":$jan10}""")))
    case 2 => Seq(json(Schemas.invoiceSchema, day2Json),
      json(Schemas.subscriptionSchema, Seq(
        s"""{"id":"sub4","customer":"cus4","status":"active","created":$jan12,""" +
          s""""current_period_start":$jan12,"current_period_end":$feb11}""")),
      json(Schemas.subscriptionUpdateSchema, Seq(
        s"""{"id":"evt2","type":"customer.subscription.updated","created":$jan12}""")))
  }
  private def runDay(dir: String, asOf: LocalDate, fullRefresh: Boolean,
                     inputs: Seq[DataFrame]): Map[String, DataFrame] =
    new Pipeline(spark, dir, asOf, fullRefresh).run(inputs(0), inputs(1), inputs(2))

  /** A day-2 Spark job: its description and its start and end times. */
  private case class DayJob(description: Option[String], start: Long, end: Long)
  /** Every job of the day-2 run in [[incremental]], by job id. */
  private val day2Jobs = new java.util.concurrent.ConcurrentHashMap[Int, DayJob]

  /** Day 1 then day 2 incrementally into one warehouse, and the Spark
    * jobs the day-2 run started (listener bus drained on both sides). */
  private lazy val incremental: (String, Map[String, DataFrame], Int) = {
    val dir = Files.createTempDirectory("graft-wh-days").toString
    runDay(dir, day1, fullRefresh = false, raw(1))
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        day2Jobs.put(j.jobId, DayJob(
          Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.description"))),
          j.time, Long.MaxValue))
      }
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        day2Jobs.computeIfPresent(j.jobId, (_, r) => r.copy(end = j.time))
    }
    org.apache.spark.graftspark.TestListenerBus.waitUntilEmpty(sc)
    sc.addSparkListener(listener)
    val out =
      try {
        val t = runDay(dir, day2, fullRefresh = false, raw(2))
        org.apache.spark.graftspark.TestListenerBus.waitUntilEmpty(sc)
        t
      } finally sc.removeSparkListener(listener)
    (dir, out, jobs.get)
  }

  private val tableNames = Seq("stg_invoices", "stg_subscriptions", "stg_subscription_updates",
    "exchange_rates", "calendar", "invoices", "invoice_line_items",
    "deferred_revenue", "recognized_revenue")

  test("day over day: two incremental days equal one full refresh of both days") {
    val (dir, days, _) = incremental
    val fullDir = Files.createTempDirectory("graft-wh-full").toString
    val full = runDay(fullDir, day2, fullRefresh = true,
      raw(1).zip(raw(2)).map { case (a, b) => a.unionByName(b) })
    assert(days.keySet === tableNames.toSet)
    def rows(df: DataFrame) = df.drop("_loaded_at").collect().map(_.toString).sorted.toSeq
    for (t <- tableNames) {
      assert(rows(days(t)) === rows(full(t)), s"table $t")
      // the returned frame carries the schema inference would give
      assert(days(t).schema === spark.read.parquet(s"$dir/$t").schema, s"table $t")
    }
    assert(days("deferred_revenue").select("line_item_id").distinct()
      .as[String].collect().toSet === Set("li1", "li2", "li3", "li5", "li6"))
    // the partition-column high-water marks come from the listing
    for ((t, c) <- Seq("stg_invoices" -> "created_at_date",
        "invoice_line_items" -> "invoice_created_date"))
      assert(graft.operators.Incremental.partitionHighWaterMark(
        spark, s"$dir/$t", c, org.apache.spark.sql.types.DateType) ===
        graft.operators.Incremental.highWaterMark(spark.read.parquet(s"$dir/$t"), c))
  }

  private def ts(day: String) =
    java.sql.Timestamp.from(java.time.Instant.parse(s"${day}T00:00:00Z"))

  test("marts read only the line-item partitions their high-water mark can keep") {
    val (dir, _, _) = incremental
    val li = spark.read.parquet(s"$dir/invoice_line_items")
    val fx = spark.read.parquet(s"$dir/exchange_rates")
    // day 1's mark, as the day-2 run saw it
    val hwm = Some(ts("2024-01-10"))
    val pruned = Pipeline.martInput(li, hwm)
    val scans = pruned.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
    assert(scans.size === 1)
    assert(scans.head.partitionFilters.exists(
      _.references.exists(_.name == "invoice_created_date")),
      scans.head.partitionFilters.mkString(","))
    // one day of slack below the mark's date: 2024-01-09 on, so both days
    assert(pruned.select("invoice_created_date").distinct().count() === 2)
    assert(Pipeline.martInput(li, Some(ts("2024-01-12")))
      .select("line_item_id").as[String].collect().toSet === Set("li5", "li6"))
    // and the mart rows past the mark are those of the unpruned input
    val later = Some(ts("2024-01-11"))
    def mart(input: DataFrame) = Models.deferredRevenue(input, fx, lit(0L))
      .filter($"invoice_created_at" > lit(later.get))
      .collect().map(_.toString).sorted.toSeq
    assert(mart(Pipeline.martInput(li, later)) === mart(li))
  }

  test("job budget: the fixture's second-day incremental run") {
    // a count, not a timing, so host speed cannot hide growth; set
    // from the 43 jobs this run takes with this suite's session
    // (local[4], 4 shuffle partitions)
    val budget = 43
    val (_, _, jobs) = incremental
    assert(jobs <= budget, s"day-2 Pipeline.run started $jobs Spark jobs (budget $budget)")
  }

  test("models run concurrently inside each layer, the layers one after another") {
    val layers = Seq(
      Seq("stg_invoices", "stg_subscriptions", "stg_subscription_updates",
        "exchange_rates", "calendar"),
      Seq("invoices", "invoice_line_items"),
      Seq("deferred_revenue", "recognized_revenue"))
    assert(layers.flatten.toSet === tableNames.toSet)
    incremental
    val jobs = day2Jobs.values.toArray(Array.empty[DayJob]).toSeq
    assert(jobs.nonEmpty)
    // every job says which model started it, and every job ended
    val tags = tableNames.map(t => s"graft.pipeline $t").toSet
    assert(jobs.forall(_.description.exists(tags)), jobs.map(_.description).distinct)
    assert(jobs.forall(_.end != Long.MaxValue))
    def ofTable(t: String) = jobs.filter(_.description.contains(s"graft.pipeline $t"))
    val spans = layers.map(_.filter(t => ofTable(t).nonEmpty).map { t =>
      t -> (ofTable(t).map(_.start).min, ofTable(t).map(_.end).max) }.toMap)
    // no job of a layer starts before the last job of the layer before ends
    for (Seq(before, after) <- spans.sliding(2)) {
      val lastEnd = before.values.map(_._2).max
      val firstStart = after.values.map(_._1).min
      assert(firstStart >= lastEnd, s"$after started before $before ended")
    }
    // inside the first layer, at least two models' job spans overlap
    val first = spans.head.toSeq
    val overlapping = for {
      (a, (s1, e1)) <- first; (b, (s2, e2)) <- first
      if a < b && s1 < e2 && s2 < e1
    } yield (a, b)
    assert(overlapping.nonEmpty, s"no two first-layer models overlapped: $first")
  }
}
