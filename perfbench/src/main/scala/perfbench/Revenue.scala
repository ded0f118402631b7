package perfbench

import java.io.File
import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType

import graft.pipeline.{AnalystQueries, Checks, Models, Pipeline, Schemas}
import graft.streaming.Streaming

/** `revenue_daily`: the reference's daily DAG. Set-up bootstraps the
  * warehouse from the first `history` days of the feed. The operation
  * then lands the next day: an incremental `Pipeline.run` over that
  * day's raw NDJSON (op_s), the README Q1–Q4 analyst queries over the
  * persisted marts (read_s, the sum of their median times), and the
  * day's subscription events merged into their table by the streaming
  * merge sink.
  *
  * A traced run repeats the operation on copies of the set-up state
  * (warehouse, event table and stream checkpoint), so that each
  * repetition lands the same day on the same warehouse. */
object Revenue {
  private val Feeds = Seq(
    "invoices.ndjson" -> Schemas.invoiceSchema,
    "subscriptions.ndjson" -> Schemas.subscriptionSchema,
    "subscription_updates.ndjson" -> Schemas.subscriptionUpdateSchema)
  private val Marts = Seq("deferred_revenue", "recognized_revenue")
  private val MartReps = 5

  /** Where one copy of the pipeline's state lives. */
  private final case class State(root: String) {
    val wh = s"$root/warehouse"
    val events = s"$root/subscription_events"
    val checkpoint = s"$root/stream_checkpoint"
  }

  def run(r: Run, data: String, work: String, history: Int): Unit = {
    val spark = r.spark
    val days = new File(s"$data/stripe").list().sorted.toSeq
    val landing = new File(s"$work/landing")
    val loaded = scala.collection.mutable.LinkedHashSet.empty[String]
    landing.mkdirs()

    def raw(ds: Seq[String], file: String, schema: StructType): DataFrame =
      spark.read.schema(schema).json(ds.map(d => s"$data/stripe/$d/$file"): _*)
    def pipeline(st: State, ds: Seq[String]): Map[String, DataFrame] = {
      val Seq(invoices, subscriptions, updates) = Feeds.map { case (f, s) => raw(ds, f, s) }
      loaded ++= ds
      new Pipeline(spark, st.wh, LocalDate.parse(ds.last)).run(invoices, subscriptions, updates)
    }
    def land(ds: Seq[String]): Unit = ds.foreach { d =>
      val to = new File(landing, s"$d.ndjson").toPath
      if (!Files.exists(to))
        Files.copy(new File(s"$data/stripe/$d/subscription_updates.ndjson").toPath, to)
    }
    def stream(st: State): Unit = Streaming.mergeSink(
      Models.staged(Streaming.fileStream(spark, Schemas.subscriptionUpdateSchema,
        landing.getPath, format = "json")),
      spark, st.events, Seq("id"), st.checkpoint, "created_at_date")
      .awaitTermination()
    def martRows(st: State): Long = Marts.map(m => spark.read.parquet(s"${st.wh}/$m").count()).sum

    // ---- set-up: bootstrap the warehouse and the event table
    val boot = days.take(history)
    val first = State(s"$work/state0")
    var tables = r.op("bootstrap")(pipeline(first, boot)).getOrElse(Map.empty[String, DataFrame])
    land(boot)
    r.op("bootstrap stream")(stream(first))
    r.sweep()
    r.setupDone()

    // the measured operation, then (traced runs) its three repetitions
    val states = first +: (if (r.traced) (1 to 3).map(i => State(s"$work/state$i")) else Nil)
    states.tail.foreach(st => copyTree(new File(first.root).toPath, new File(st.root).toPath))
    val pending = states.iterator.buffered
    var st = first
    val d = days(history)
    val asOf = LocalDate.parse(d)
    var before = (Map.empty[String, Long], 0L)
    r.measure({ traced =>
      st = pending.next()
      val (day, dayS) = r.timed(r.span(s"Pipeline.run $d", "pipeline")(
        r.op(s"Pipeline.run $d")(pipeline(st, Seq(d)))))
      day.map { t =>
        tables = t
        val deferred = t("deferred_revenue")
        val recognized = t("recognized_revenue")
        // each query runs MartReps times; its time is the median
        def query(key: String, name: String)(f: => DataFrame): (Array[Row], Double) = {
          val runs = Seq.fill(MartReps)(r.timed(r.span(s"AnalystQueries.$name", "pipeline")(
            r.op(s"$name $d")(f.collect()))))
          val s = runs.map(_._2).sorted.apply(MartReps / 2)
          if (traced) r.perLayer(s"mart.${key}_s") = s
          (runs.head._1.getOrElse(Array.empty), s)
        }
        val (q1, s1) = query("q1_total_deferred", "totalDeferred")(
          AnalystQueries.totalDeferred(deferred, asOf))
        val (q2, s2) = query("q2_deferred_by_customer", "deferredByCustomer")(
          AnalystQueries.deferredByCustomer(deferred, asOf))
        val (q3, s3) = query("q3_deferred_trend", "deferredTrend")(
          AnalystQueries.deferredTrend(deferred))
        val (q4, s4) = query("q4_recognized_quarter", "recognizedInQuarter")(
          AnalystQueries.recognizedInQuarter(recognized, t("calendar"),
            asOf.getYear, ((asOf.getMonthValue - 1) / 3 + 1).toString))
        land(Seq(d))
        val (_, streamS) = r.timed(r.span("Streaming.mergeSink", "streaming")(
          r.op(s"stream $d")(stream(st))))
        if (traced) r.perLayer("streaming.merge_batch_s") = streamS

        // outputs, checked here and by run.py outside the measured time
        def sum(rows: Array[Row]): Double =
          rows.map(row => if (row.isNullAt(row.size - 1)) 0.0 else row.getDouble(row.size - 1)).sum
        val total = sum(q1)
        r.expectations(s"q1 $d") = total
        r.expectations(s"q4 $d") = sum(q4)
        r.check(s"q2 sums to q1 $d", close(sum(q2), total), s"${sum(q2)} vs $total")
        val trendAtDay = q3.filter(_.get(0).toString == d).map(_.getDouble(1))
        r.check(s"q3 at $d equals q1", trendAtDay.length == 1 && close(trendAtDay(0), total),
          s"${trendAtDay.mkString(",")} vs $total")
        r.checksums(s"q1 $d") = f"$total%.6f"
        r.sweep()
        Map("op_s" -> dayS, "read_s" -> (s1 + s2 + s3 + s4))
      }
    },
    beforeTraced = () => before = (Store.walk(pending.head.wh), martRows(pending.head)),
    afterTraced = () => {
      val written = Store.walk(st.wh).keySet -- before._1.keySet
      r.perLayer ++= Store.delta(written)
      // rows the day wrote into the marts' files, per net new mart row
      val martFiles = written.filter(f => Marts.exists(m => f.startsWith(s"${st.wh}/$m/"))).toSeq
      val martWritten = if (martFiles.isEmpty) 0L else spark.read.parquet(martFiles: _*).count()
      r.perLayer("store.write_amplification") =
        martWritten.toDouble / math.max(1L, martRows(st) - before._2)
    })

    // ---- checks outside the measured window
    if (tables.nonEmpty) {
      val (results, checksS) = r.timed(Checks.standardSuite(tables))
      if (r.traced) r.perLayer("pipeline.checks_s") = checksS
      results.foreach(c => r.check(c.name, c.passed, c.detail))
      tables.toSeq.sortBy(_._1).foreach { case (name, df) =>
        r.checksums(s"rows $name") = df.count()
      }
    }
    val landed = landing.listFiles().map(f => Files.readAllLines(f.toPath).size.toLong).sum
    val streamed =
      if (graft.sources.Fs.exists(spark, st.events)) spark.read.parquet(st.events).count() else 0L
    r.check("streamed events", streamed == landed, s"$streamed rows for $landed landed events")
    val files = Store.walk(st.wh)
    val rawBytes = for (d <- loaded.toSeq; (f, _) <- Feeds)
      yield new File(s"$data/stripe/$d/$f").length()
    r.expectations("bytes_stored_per_input_byte") = files.values.sum.toDouble / rawBytes.sum
    if (r.traced) {
      r.perLayer("store.files_total") = files.size
      r.perLayer("store.bytes_total") = files.values.sum
      r.perLayer("store.bytes_per_input_byte") = files.values.sum.toDouble / rawBytes.sum
      r.checksums("store.files_written") = r.perLayer("store.files_written")
    }
    r.sweep()
  }

  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b))

  private def copyTree(from: Path, to: Path): Unit = {
    val paths = Files.walk(from)
    try paths.forEach { p =>
      val q = to.resolve(from.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, StandardCopyOption.COPY_ATTRIBUTES)
    } finally paths.close()
  }
}

/** The on-disk warehouse as data files (name → bytes); Spark's hidden
  * checksum and marker files are left out. */
object Store {
  def walk(root: String): Map[String, Long] = {
    def files(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(files) else Seq(f)
    files(new File(root))
      .filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
      .map(f => f.getPath -> f.length()).toMap
  }

  /** Files a day wrote and the partition directories they landed in. */
  def delta(written: Set[String]): Map[String, Double] = Map(
    "store.files_written" -> written.size.toDouble,
    "store.partitions_rewritten" -> written.map(p => new File(p).getParent).size.toDouble)
}
