package graft.pipeline

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.{Incremental, Merge, Par}
import graft.sources.Fs

/** End-to-end pipeline runner: the Airflow DAG + dbt layer ordering
  * (reference: stripe_update_dag.py:17-42, strict staging → curated →
  * marts) re-expressed as three layers run one after another, the
  * models inside each layer run concurrently (dbt's `threads` pool
  * inside each Airflow layer task), with merge materialization and
  * high-water-mark incrementality. The layers: staging + dimensions,
  * curated, marts. A layer starts only after every model of the one
  * before it has finished; each model's Spark jobs carry the job
  * description `graft.pipeline <table>` (PipelineSpec checks both).
  *
  * Failures: a failed model invokes `onFailure(table, error)` once,
  * on the thread that ran it, so several models of one layer may
  * alert, concurrently. The rest of that layer still runs to the end;
  * no later layer starts, and the first failure in the layer's
  * declaration order is rethrown (the DAG stops at the failed layer
  * like Airflow would; graft.operators.Par.all).
  *
  * Rerun safety (the README.md:93-129 idempotency contract): every
  * table is materialized with `Merge.mergeInto` on its unique key, so
  * running the same day twice converges to the same state. The HWM
  * predicates replicate the reference's `WHERE x > (SELECT MAX(x)
  * FROM {{this}})` incremental filters (invoices.sql:11-13 et al) —
  * including the documented quirk that late-arriving *updates* to
  * already-loaded invoices are dropped (SURVEY §7.4 risk 6);
  * `fullRefresh = true` bypasses them (dbt --full-refresh analog).
  */
class Pipeline(
    spark: SparkSession,
    warehouseDir: String,
    asOf: LocalDate,
    fullRefresh: Boolean = false,
    onFailure: (String, Throwable) => Unit = (_, _) => ()) {

  // midnight UTC, not JVM-default-zone midnight: _loaded_at is the merge
  // versionCol, so a rerun from a host in a different zone would stamp a
  // LOWER version and silently lose to the rows it should replace
  private val loadedAt = lit(java.sql.Timestamp.from(
    asOf.atStartOfDay(java.time.ZoneOffset.UTC).toInstant))

  private def path(name: String) = s"$warehouseDir/$name"

  /** Merge-materialize the named table by `keys`, date-partitioned on
    * `partitionCol` (the reference's partition_by on every incremental
    * model, §1.4), and return it read back with the schema the merge
    * wrote (no inference or listing job).
    *
    * `updates` builds the table's input from its high-water mark on
    * `hwmCol` (None on a full refresh or an empty table); rows at or
    * below the mark are then dropped. A mark on the partition column
    * itself comes from the directory listing, any other from a
    * `MAX(hwmCol)` scan of that one column.
    *
    * Merge.mergeWrite prunes the target read to the touched partitions
    * and dynamic-overwrites only those directories — daily cost is
    * O(updated partitions), not O(table). */
  private def materialize(name: String, keys: Seq[String], partitionCol: String,
                          hwmCol: String, clusterCols: Seq[String] = Nil)(
                          updates: Option[Any] => DataFrame): DataFrame = {
    val all = updates(None)
    val hwmField = all.schema(hwmCol)
    def dirs = Fs.partitionDirs(spark, path(name), partitionCol)
    val hwm =
      if (fullRefresh) None
      else if (hwmCol == partitionCol)
        Incremental.partitionHighWaterMark(spark, path(name), partitionCol, hwmField.dataType)
      else {
        // a missing table has no mark; IO errors on an existing table
        // propagate (graft.sources.Fs scaladoc)
        val existing = dirs
        if (existing.isEmpty) None
        else Incremental.highWaterMark(
          Fs.readParquet(spark, path(name), existing, StructType(Seq(hwmField))), hwmCol)
      }
    val fresh = hwm.fold(all)(h => updates(hwm).filter(col(hwmCol) > lit(h)))
    Merge.mergeWrite(spark, path(name), fresh, keys, partitionCol,
      clusterCols, versionCol = Some("_loaded_at")) match {
      case Some(written) => Fs.readParquet(spark, path(name), dirs, written)
      // empty updates against a missing table write nothing — hand the
      // (empty, schema-correct) frame downstream instead of a dead path
      case None => fresh.limit(0)
    }
  }

  /** Full rebuild of a dimension table, read back with its known schema. */
  private def rebuild(name: String, df: DataFrame): DataFrame = {
    df.write.mode("overwrite").parquet(path(name))
    spark.read.schema(df.schema).parquet(path(name))
  }

  /** One model: `build(table)` under the job description
    * `graft.pipeline <table>`, restored on the way out; a failure
    * invokes the alerting callback (the reference's
    * on_failure_callback, stripe_update_dag.py:25-37), then
    * propagates. */
  private def model(table: String, build: String => DataFrame): DataFrame = {
    val sc = spark.sparkContext
    val prior = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"graft.pipeline $table")
    try build(table)
    catch { case e: Throwable => onFailure(table, e); throw e }
    finally sc.setJobDescription(prior)
  }

  /** One layer: its models run concurrently, each on its own thread;
    * returns once all have finished (see the class doc for failures). */
  private def layer(models: (String, String => DataFrame)*): Map[String, DataFrame] =
    models.map(_._1).zip(Par.all(models.map { case (t, build) =>
      () => model(t, build) }: _*)).toMap

  /** Run the full DAG from raw source frames. Returns every table's
    * frame. Dimension tables are full rebuilds (reference:
    * exchange_rates.sql:1-3, calendar.sql:1-3 `materialized="table"`);
    * everything else is an incremental merge. */
  def run(rawInvoices: DataFrame,
          rawSubscriptions: DataFrame,
          rawSubscriptionUpdates: DataFrame): Map[String, DataFrame] = {
    def staged(raw: DataFrame) = Models.staged(raw).withColumn("_loaded_at", loadedAt)
    // stg_* : unique key id, HWM on created_at_date
    def stg(raw: DataFrame): String => DataFrame =
      materialize(_, Seq("id"), "created_at_date", "created_at_date")(_ => staged(raw))

    // ---- staging + dims (full rebuild)
    val staging = layer(
      "stg_invoices" -> stg(rawInvoices),
      "stg_subscriptions" -> stg(rawSubscriptions),
      "stg_subscription_updates" -> stg(rawSubscriptionUpdates),
      "exchange_rates" -> (rebuild(_, Models.exchangeRates(spark, asOf))),
      "calendar" -> (rebuild(_, Models.calendar(spark, asOf))))
    val stgInvoices = staging("stg_invoices")
    val fx = staging("exchange_rates")

    // ---- curated (HWM on created_at_date / invoice_created_date)
    val curated = layer(
      "invoices" -> (materialize(_, Seq("invoice_id"),
        "created_at_date", "created_at_date", Seq("customer_id"))(
        _ => Models.invoices(stgInvoices, loadedAt))),
      "invoice_line_items" -> (materialize(_, Seq("line_item_id"),
        "invoice_created_date", "invoice_created_date", Seq("invoice_id", "subscription_id"))(
        _ => Models.invoiceLineItems(stgInvoices, loadedAt))))
    val lineItems = curated("invoice_line_items")

    // ---- marts (composite keys; HWM on invoice_created_at)
    val marts = layer(
      "deferred_revenue" -> (materialize(_, Seq("line_item_id", "as_of_date"),
        "as_of_date", "invoice_created_at", Seq("customer_id", "subscription_id"))(
        hwm => Models.deferredRevenue(Pipeline.martInput(lineItems, hwm), fx, loadedAt))),
      "recognized_revenue" -> (materialize(_, Seq("line_item_id", "recognition_date"),
        "recognition_date", "invoice_created_at", Seq("customer_id", "line_item_id"))(
        hwm => Models.recognizedRevenue(Pipeline.martInput(lineItems, hwm), fx, loadedAt))))

    val out = staging ++ curated ++ marts
    // register every table as a view so analysts can spark.sql over
    // the warehouse by name (the E3 surface)
    out.foreach { case (name, df) => df.createOrReplaceTempView(name) }
    out
  }
}

object Pipeline {

  /** The line items a mart's `invoice_created_at > hwm` filter can keep,
    * selected by a filter on their partition column so the scan prunes
    * every older partition instead of re-expanding all line items ever
    * loaded. invoice_created_date is invoice_created_at's date in the
    * session zone of the run that staged it; the one day of slack
    * covers a run in a different zone. */
  private[pipeline] def martInput(lineItems: DataFrame, hwm: Option[Any]): DataFrame =
    hwm.fold(lineItems)(h =>
      lineItems.filter(col("invoice_created_date") >= date_sub(to_date(lit(h)), 1)))
}

/** The four analyst queries the reference documents against the marts
  * (reference: README.md:174-213). */
object AnalystQueries {

  /** Q1: total deferred revenue as of a given day (README.md:176-182). */
  def totalDeferred(deferred: DataFrame, asOf: LocalDate): DataFrame =
    deferred.filter(col("as_of_date") === lit(java.sql.Date.valueOf(asOf)))
      .agg(sum("deferred_revenue_usd").as("total_deferred_revenue_usd"))

  /** Q2: deferred revenue by customer, largest first (README.md:184-193). */
  def deferredByCustomer(deferred: DataFrame, asOf: LocalDate): DataFrame =
    deferred.filter(col("as_of_date") === lit(java.sql.Date.valueOf(asOf)))
      .groupBy("customer_id")
      .agg(sum("deferred_revenue_usd").as("total_deferred_revenue_usd"))
      .orderBy(desc("total_deferred_revenue_usd"))

  /** Q3: deferred revenue trend over time (README.md:195-203). */
  def deferredTrend(deferred: DataFrame): DataFrame =
    deferred.groupBy("as_of_date")
      .agg(sum("deferred_revenue_usd").as("total_deferred_revenue_usd"))
      .orderBy("as_of_date")

  /** Q4: revenue recognized in a given quarter of a year, via the
    * calendar join (README.md:206-213; quarter compared as a STRING —
    * the FORMAT_DATE('%Q') artifact, SURVEY §2.9). */
  def recognizedInQuarter(recognized: DataFrame, calendar: DataFrame,
                          year: Int, quarter: String): DataFrame =
    recognized.join(calendar,
        col("recognition_date") === col("date_day"))
      .filter(col("year") === year && col("quarter_of_year") === quarter)
      .agg(sum("daily_revenue_usd").as("recognized_revenue_usd"))
}

/** Data-quality checks: the reference's dbt tests plus its
  * aspirational list, as runnable assertions (reference:
  * dbt/stripe/models/curated/schema.yml:7-19 — with its
  * calendar_date/date_day column-name bug fixed here, SURVEY §5 ⚠ —
  * and dbt/stripe/tests/missing_period_end_threshold.sql:1-6). */
object Checks {
  case class CheckResult(name: String, passed: Boolean, detail: String)

  def unique(df: DataFrame, cols: Seq[String], name: String): CheckResult = {
    val dupes = df.groupBy(cols.map(col): _*).count().filter(col("count") > 1).count()
    CheckResult(s"unique:$name", dupes == 0, s"$dupes duplicate keys")
  }

  def notNull(df: DataFrame, c: String, name: String): CheckResult = {
    val nulls = df.filter(col(c).isNull).count()
    CheckResult(s"not_null:$name.$c", nulls == 0, s"$nulls null values")
  }

  /** Fails when more than `thresholdPct` of line items are missing a
    * period end (the 3% alert; missing_period_end_threshold.sql:6). */
  def missingPeriodEnd(lineItems: DataFrame,
                       thresholdPct: Double = 3.0): CheckResult = {
    val total = lineItems.count()
    val missing = lineItems.filter(col("is_missing_period_end")).count()
    val pct = if (total == 0) 0.0 else missing * 100.0 / total
    CheckResult("missing_period_end_threshold", pct <= thresholdPct,
      f"$pct%.2f%% missing (threshold $thresholdPct%%)")
  }

  /** The README.md:164-168 aspirational tests, in this order. Each is
    * an independent read-only count, so they run concurrently
    * (graft.operators.Par.all). */
  def standardSuite(tables: Map[String, DataFrame]): Seq[CheckResult] = Par.all(
    () => unique(tables("calendar"), Seq("date_day"), "calendar"),
    () => notNull(tables("calendar"), "date_day", "calendar"),
    () => unique(tables("invoices"), Seq("invoice_id"), "invoices"),
    () => notNull(tables("invoices"), "invoice_id", "invoices"),
    () => unique(tables("invoice_line_items"), Seq("line_item_id"), "invoice_line_items"),
    () => unique(tables("deferred_revenue"), Seq("line_item_id", "as_of_date"), "deferred_revenue"),
    () => unique(tables("recognized_revenue"), Seq("line_item_id", "recognition_date"),
      "recognized_revenue"),
    () => CheckResult("no_negative_amounts",
      tables("invoice_line_items").filter(col("amount") < 0).count() == 0,
      "negative line-item amounts"),
    () => CheckResult("no_orphaned_line_items",
      tables("invoice_line_items").join(tables("invoices"),
        Seq("invoice_id"), "left_anti").count() == 0,
      "line items without a parent invoice"),
    () => CheckResult("no_missing_fx_rates",
      tables("invoice_line_items").join(
        tables("exchange_rates").filter(col("to_currency") === "USD")
          .select(col("from_currency").as("currency")),
        Seq("currency"), "left_anti").count() == 0,
      "currencies without a USD rate"),
    () => missingPeriodEnd(tables("invoice_line_items")))
}
