package graft.streaming

import java.nio.file.Files
import java.time.Duration

import graft.SparkSpecBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

class StreamingSpec extends SparkSpecBase {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("windowed counts with watermark aggregate by event-time window") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")
    val query = Streaming.windowedEventCounts(events, "ts", "1 hour", "30 minutes")
      .writeStream.format("memory").queryName("win_counts")
      .outputMode("complete").start()
    try {
      input.addData(
        (ts("2024-01-01 10:05:00"), "click", 1.0),
        (ts("2024-01-01 10:45:00"), "click", 2.0),
        (ts("2024-01-01 11:05:00"), "click", 4.0),
        (ts("2024-01-01 10:15:00"), "buy", 8.0))
      query.processAllAvailable()
      val out = spark.table("win_counts")
        .select("window_start", "event_type", "n_events", "total_value")
        .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
      assert(out === Set(
        (ts("2024-01-01 10:00:00"), "click", 2L, 3.0),
        (ts("2024-01-01 11:00:00"), "click", 1L, 4.0),
        (ts("2024-01-01 10:00:00"), "buy", 1L, 8.0)))
    } finally query.stop()
  }

  test("sessionize splits on gaps; open sessions survive across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streaming.SessionEvent]
    // without this, ProcessingTimeTimeout schedules no-data micro-batches
    // back to back and processAllAvailable never quiesces (the test never
    // relies on the wall-clock timeout firing — gaps close sessions here)
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val query = Streaming.sessionize(input.toDS(), Duration.ofMinutes(30))
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      input.addData(
        Streaming.SessionEvent(1L, 1L, ts("2024-01-01 10:00:00")),
        Streaming.SessionEvent(1L, 2L, ts("2024-01-01 10:10:00")),
        Streaming.SessionEvent(1L, 3L, ts("2024-01-01 12:00:00")), // 110-min gap closes session 1
        Streaming.SessionEvent(2L, 4L, ts("2024-01-01 09:00:00")))
      query.processAllAvailable()
      def emitted = spark.table("sessions")
        .as[Streaming.UserSession].collect()
        .map(s => (s.user_id, s.session_start.toString, s.n_events)).toSet
      // only the OBSERVED close is emitted — the 12:00 session and user
      // 2's session are still open in state, not split at batch end
      assert(emitted === Set((1L, "2024-01-01 10:00:00.0", 2)))

      // batch 2: an event within the gap EXTENDS user 1's open session
      // (no double-count across batches), then one past the gap closes
      // it as a single 12:00-12:20 session with events from both batches
      input.addData(
        Streaming.SessionEvent(1L, 5L, ts("2024-01-01 12:20:00")),
        Streaming.SessionEvent(1L, 6L, ts("2024-01-01 15:00:00")))
      query.processAllAvailable()
      assert(emitted === Set(
        (1L, "2024-01-01 10:00:00.0", 2),
        (1L, "2024-01-01 12:00:00.0", 2)))
    } finally {
      query.stop()
      spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    }
  }

  test("streamingDedup drops duplicate keys within the watermark horizon") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val events = input.toDF().toDF("k", "ts", "v")
    val query = Streaming.streamingDedup(events, Seq("k"), "ts", "1 hour")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, ts("2024-01-01 10:00:00"), "first"),
        (1L, ts("2024-01-01 10:00:00"), "dup"),
        (2L, ts("2024-01-01 10:05:00"), "other"))
      query.processAllAvailable()
      input.addData((1L, ts("2024-01-01 10:00:00"), "late-dup"))
      query.processAllAvailable()
      val out = spark.table("dedup_out").select("k").as[Long].collect().sorted
      assert(out === Array(1L, 2L))
    } finally query.stop()
  }

  test("mergeSink drains a file stream into a keyed parquet target (AvailableNow)") {
    val src = Files.createTempDirectory("graft-stream-src").toString
    val tgt = Files.createTempDirectory("graft-stream-tgt").toString + "/t"
    val ckp = Files.createTempDirectory("graft-stream-ckp").toString
    def d(s: String) = java.sql.Date.valueOf(s)

    Seq((1L, "a", 1.0, d("2024-01-01")), (2L, "b", 2.0, d("2024-01-02")))
      .toDF("id", "name", "v", "day")
      .write.mode("append").parquet(src)
    val stream = Streaming.fileStream(spark,
      spark.read.parquet(src).schema, src)
    val q1 = Streaming.mergeSink(stream, spark, tgt, Seq("id"), ckp, "day")
    q1.awaitTermination()
    assert(spark.read.parquet(tgt).count() === 2)

    // snapshot the untouched partition's bytes before the second batch
    def partFiles(day: String): Map[String, Array[Byte]] = {
      val dir = new java.io.File(s"$tgt/day=$day")
      dir.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> Files.readAllBytes(f.toPath)).toMap
    }
    val before = partFiles("2024-01-01")

    // second activation: an update + an insert, both on 2024-01-02
    Seq((2L, "b2", 20.0, d("2024-01-02")), (3L, "c", 3.0, d("2024-01-02")))
      .toDF("id", "name", "v", "day")
      .write.mode("append").parquet(src)
    val q2 = Streaming.mergeSink(Streaming.fileStream(spark,
      spark.read.parquet(src).schema, src), spark, tgt, Seq("id"), ckp, "day")
    q2.awaitTermination()
    val out = spark.read.parquet(tgt).orderBy("id")
      .select("id", "name", "v")
      .as[(Long, String, Double)].collect()
    assert(out === Array((1L, "a", 1.0), (2L, "b2", 20.0), (3L, "c", 3.0)))

    // O(updated partitions) contract: the 2024-01-01 directory was
    // neither rewritten nor touched — byte-identical files
    val after = partFiles("2024-01-01")
    assert(after.keySet === before.keySet)
    for ((name, bytes) <- before)
      assert(java.util.Arrays.equals(after(name), bytes),
        s"untouched partition file $name changed across a micro-batch")
  }

  test("mergeSink propagates a read failure on an existing corrupt target") {
    val src = Files.createTempDirectory("graft-stream-src2").toString
    val tgt = Files.createTempDirectory("graft-stream-tgt2").toString + "/t"
    val ckp = Files.createTempDirectory("graft-stream-ckp2").toString
    def d(s: String) = java.sql.Date.valueOf(s)

    // existing-but-corrupt target: the path exists yet is not parquet.
    // Pre-fix behavior silently treated this as "empty table" and
    // dynamic-overwrote with updates-only — now it must fail loudly.
    Files.createDirectories(java.nio.file.Paths.get(s"$tgt/day=2024-01-01"))
    Files.write(java.nio.file.Paths.get(s"$tgt/day=2024-01-01/part-0.parquet"),
      "not a parquet file".getBytes)

    Seq((1L, "a", 1.0, d("2024-01-01"))).toDF("id", "name", "v", "day")
      .write.mode("append").parquet(src)
    val q = Streaming.mergeSink(Streaming.fileStream(spark,
      spark.read.parquet(src).schema, src), spark, tgt, Seq("id"), ckp, "day")
    intercept[Throwable] { q.awaitTermination() }
    // the corrupt bytes were NOT replaced behind our back
    assert(new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$tgt/day=2024-01-01/part-0.parquet")))
      === "not a parquet file")
  }

  test("stream-stream interval join matches clicks to impressions in-window") {
    implicit val sqlCtx = spark.sqlContext
    val imps = MemoryStream[(Long, java.sql.Timestamp)]
    val clicks = MemoryStream[(Long, java.sql.Timestamp)]
    val joined = Streaming.intervalJoin(
      imps.toDF().toDF("imp_user", "imp_ts"),
      clicks.toDF().toDF("clk_user", "clk_ts"),
      "imp_user", "clk_user", "imp_ts", "clk_ts",
      before = "0 minutes", after = "10 minutes")
    val q = joined.writeStream.format("memory").queryName("ss_join")
      .outputMode("append").start()
    try {
      imps.addData((1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 10:00:00")))
      clicks.addData(
        (1L, ts("2024-01-01 10:05:00")),   // in window -> match
        (1L, ts("2024-01-01 10:20:00")),   // past the 10-min window -> no match
        (2L, ts("2024-01-01 09:55:00")),   // before the impression -> no match
        (3L, ts("2024-01-01 10:01:00")))   // no impression for user 3
      q.processAllAvailable()
      // advance both watermarks so in-window results finalize
      imps.addData((9L, ts("2024-01-01 12:00:00")))
      clicks.addData((9L, ts("2024-01-01 12:30:00")))
      q.processAllAvailable()
      val out = spark.table("ss_join")
        .filter($"imp_user" < 9)
        .select("imp_user", "clk_ts")
        .as[(Long, java.sql.Timestamp)].collect().toSet
      assert(out === Set((1L, ts("2024-01-01 10:05:00"))))
    } finally q.stop()
  }

  /** SURVEY §2.10's central claim — the daily batch mart and a
    * streaming-incremental run of the SAME transform converge to the
    * same table — asserted on the real revenue chain, not a toy: raw
    * invoice NDJSON → staged → line-item flatten → FX → proration →
    * deferred mart, streamed in two activations whose batches OVERLAP
    * (at-least-once redelivery: 50 invoices arrive twice), merged by
    * the mart's (line_item_id, as_of_date) grain. */
  test("streaming foreachBatch merge of the deferred mart ≡ the batch mart") {
    import graft.pipeline.{Models, Schemas}
    import scala.jdk.CollectionConverters._
    val fixture = java.nio.file.Paths.get("fixtures/stripe_invoices.ndjson")
    val src = Files.createTempDirectory("graft-mart-src").toString
    val tgt = Files.createTempDirectory("graft-mart-tgt").toString + "/mart"
    val ckp = Files.createTempDirectory("graft-mart-ckp").toString

    val loadedAt = lit(null).cast("timestamp")
    val fx = Models.exchangeRates(spark, java.time.LocalDate.of(2024, 8, 12))
    // the one transform, applied identically to the stream and the batch;
    // every op is per-row or stream-static (broadcast FX join, interval
    // explode), so the chain streams as-is — no stateful operator needed
    def mart(raw: org.apache.spark.sql.DataFrame) =
      Models.deferredRevenue(
        Models.invoiceLineItems(Models.staged(raw), loadedAt), fx, loadedAt)

    val lines = Files.readAllLines(fixture).asScala.toVector
    def deliver(name: String, ls: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(src, name), ls.asJava)
    def drainOnce(): Unit = {
      val stream = mart(Streaming.fileStream(spark, Schemas.invoiceSchema,
          src, format = "json"))
        .withColumn("as_of_month", trunc(col("as_of_date"), "month"))
      Streaming.mergeSink(stream, spark, tgt,
        Seq("line_item_id", "as_of_date"), ckp, "as_of_month")
        .awaitTermination()
    }
    deliver("batch1.ndjson", lines.take(250)); drainOnce()
    deliver("batch2.ndjson", lines.drop(200)); drainOnce()

    val expected = mart(spark.read.schema(Schemas.invoiceSchema)
      .json(fixture.toString))
    val cols = expected.columns.toSeq
    val got = spark.read.parquet(tgt).select(cols.map(col): _*)
      .collect().map(_.toSeq).toSet
    val exp = expected.collect().map(_.toSeq).toSet
    // doubles are bit-equal: stream and batch run the identical plan,
    // so set equality is exact — the q46 frame, no tolerance
    assert(got.size === exp.size)
    assert(got === exp)
  }

  /** dedupIngestSink ≡ batch incremental dedup: state lives in the
    * fingerprint table, so a duplicate arriving a whole ACTIVATION
    * later (far past any watermark horizon) is still rejected, and
    * the final corpus equals Dedup.exactDedup over everything ever
    * delivered. */
  test("streaming dedup ingest ≡ batch dedup; cross-activation dups rejected") {
    import graft.operators.Dedup
    val src = Files.createTempDirectory("graft-ingest-src").toString
    val corpus = Files.createTempDirectory("graft-ingest-corpus").toString + "/c"
    val index = Files.createTempDirectory("graft-ingest-idx").toString + "/i"
    val ckp = Files.createTempDirectory("graft-ingest-ckp").toString

    val batch1 = Seq((1L, "alpha beta"), (2L, "gamma delta"),
      (3L, "alpha beta"), (4L, "epsilon"))           // 3 within-batch survivors
    val batch2 = Seq((5L, "Alpha  BETA!"), (6L, "zeta"),  // 5 = canonical dup of 1
      (7L, "gamma delta"))                           // 7 = dup of 2
    def deliver(name: String, rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").write.parquet(s"$src/$name")
    def drainOnce(): Unit = {
      val schema = spark.read.parquet(s"$src/b1").schema
      Streaming.dedupIngestSink(
        Streaming.fileStream(spark, schema, s"$src/*"),
        spark, corpus, index, "text", "doc_id", ckp)
        .awaitTermination()
    }
    deliver("b1", batch1); drainOnce()
    assert(spark.read.parquet(corpus).count() === 3)
    deliver("b2", batch2); drainOnce()

    val got = spark.read.parquet(corpus).select("doc_id").as[Long]
      .collect().sorted
    // batch ground truth over everything delivered, min doc_id wins
    val want = Dedup.exactDedup(
        (batch1 ++ batch2).toDF("doc_id", "text"),
        graft.functions.TextFunctions.fingerprint(col("text")), col("doc_id"))
      .select("doc_id").as[Long].collect().sorted
    assert(got === want)
    assert(got === Array(1L, 2L, 4L, 6L))
    // the index holds exactly the accepted fingerprints, no dups
    val idx = spark.read.parquet(index).select("fingerprint")
      .as[String].collect()
    assert(idx.length === idx.distinct.length && idx.length === 4)

    // checkpoint reset with tables kept — the ops-recovery scenario
    // the epoch run-token exists for: a FRESH checkpoint re-delivers
    // every source file as epoch 0 again; the index must reject all
    // of it, and epoch partitions from the old run must survive (an
    // unscoped epoch key would dynamic-overwrite old epoch 0 and
    // silently delete documents)
    val ckpReset = Files.createTempDirectory("graft-ingest-ckp-reset").toString
    val schema = spark.read.parquet(s"$src/b1").schema
    Streaming.dedupIngestSink(
      Streaming.fileStream(spark, schema, s"$src/*"),
      spark, corpus, index, "text", "doc_id", ckpReset)
      .awaitTermination()
    val afterReset = spark.read.parquet(corpus).select("doc_id").as[Long]
      .collect().sorted
    assert(afterReset === want, "checkpoint reset must not lose or duplicate docs")

    // bloom-prefiltered variant on a fresh state: same corpus
    val corpus2 = Files.createTempDirectory("graft-ingest-c2").toString + "/c"
    val index2 = Files.createTempDirectory("graft-ingest-i2").toString + "/i"
    val ckp2 = Files.createTempDirectory("graft-ingest-k2").toString
    val src2 = Files.createTempDirectory("graft-ingest-s2").toString
    def drain2(): Unit = {
      val schema = spark.read.parquet(s"$src2/b1").schema
      Streaming.dedupIngestSink(
        Streaming.fileStream(spark, schema, s"$src2/*"),
        spark, corpus2, index2, "text", "doc_id", ckp2,
        bloomExpectedItems = Some(1000L))
        .awaitTermination()
    }
    batch1.toDF("doc_id", "text").write.parquet(s"$src2/b1"); drain2()
    batch2.toDF("doc_id", "text").write.parquet(s"$src2/b2"); drain2()
    val got2 = spark.read.parquet(corpus2).select("doc_id").as[Long]
      .collect().sorted
    assert(got2 === want)
  }

  /** The maintenance loop the ingest needs at scale: tiny per-epoch
    * files accrete, `Layout.compact` rewrites them per `_epoch=`
    * partition (the underscore-named partition column must read as
    * DATA, Spark's own hidden-name rule), and ingest continues into
    * the compacted table unchanged. */
  test("streaming dedup ingest output compacts per epoch partition, then keeps ingesting") {
    import graft.operators.{Dedup, Layout}
    val src = Files.createTempDirectory("graft-cmp-src").toString
    val corpus = Files.createTempDirectory("graft-cmp-corpus").toString + "/c"
    val index = Files.createTempDirectory("graft-cmp-idx").toString + "/i"
    val ckp = Files.createTempDirectory("graft-cmp-ckp").toString
    def drain(): Unit = {
      val schema = spark.read.parquet(s"$src/b1").schema
      Streaming.dedupIngestSink(
        Streaming.fileStream(spark, schema, s"$src/*"),
        spark, corpus, index, "text", "doc_id", ckp)
        .awaitTermination()
    }
    Seq((1L, "alpha beta"), (2L, "gamma delta"))
      .toDF("doc_id", "text").write.parquet(s"$src/b1"); drain()
    Seq((3L, "epsilon zeta"), (4L, "alpha beta"))
      .toDF("doc_id", "text").write.parquet(s"$src/b2"); drain()
    val before = spark.read.parquet(corpus)
      .select("doc_id", "_epoch").as[(Long, String)].collect().sorted
    assert(before.map(_._1).toSeq === Seq(1L, 2L, 3L))

    val stats = Layout.compact(spark, corpus, targetFileBytes = Long.MaxValue)
    assert(stats.rows === 3)
    // partition values, epoch scoping, and row content all survive
    val after = spark.read.parquet(corpus)
      .select("doc_id", "_epoch").as[(Long, String)].collect().sorted
    assert(after === before)

    // ingest keeps working into the compacted table: a new batch with
    // one cross-activation dup still dedupes against the index
    Seq((5L, "eta theta"), (6L, "gamma delta"))
      .toDF("doc_id", "text").write.parquet(s"$src/b3"); drain()
    val finalIds = spark.read.parquet(corpus).select("doc_id").as[Long]
      .collect().sorted
    assert(finalIds === Array(1L, 2L, 3L, 5L))
  }

  /** ivfIngestSink ≡ batch index build: vectors arriving over two
    * activations assign to the stored centroids exactly as a
    * from-scratch build over everything delivered, probes see every
    * epoch, and re-draining with no new data changes nothing. */
  test("streaming IVF ingest ≡ batch index build; probe sees all epochs") {
    import graft.operators.Similarity
    val rnd = new scala.util.Random(67)
    def vec() = Array.fill(8)(rnd.nextGaussian().toFloat)
    val corpusRows = (0L until 40L).map(i => (i, vec()))
    val b1 = (100L until 110L).map(i => (i, vec()))
    val b2 = (200L until 210L).map(i => (i, vec()))

    val src = Files.createTempDirectory("graft-ivf-src").toString
    val path = Files.createTempDirectory("graft-ivf-idx").toString + "/ivf"
    val ckp = Files.createTempDirectory("graft-ivf-ckp").toString
    val corpus = corpusRows.toDF("vec_id", "embedding")
    val cents = Similarity.pickCentroids(corpus, "vec_id", "embedding", 5)
    Similarity.ivfIndexWrite(
      Similarity.ivfIndex(corpus, cents, "vec_id", "embedding"), path)

    def drain(): Unit = {
      val schema = spark.read.parquet(s"$src/b1").schema
      Streaming.ivfIngestSink(
        Streaming.fileStream(spark, schema, s"$src/*"),
        spark, path, "vec_id", "embedding", ckp)
        .awaitTermination()
    }
    b1.toDF("vec_id", "embedding").write.parquet(s"$src/b1"); drain()
    b2.toDF("vec_id", "embedding").write.parquet(s"$src/b2"); drain()
    drain() // no new files — must be a no-op, not a double-append

    val stored = Similarity.ivfIndexRead(spark, path).assignments
      .select("vec_id", "cell").as[(Long, Long)].collect().sorted
    val rebuilt = Similarity.ivfIndex(
      (corpusRows ++ b1 ++ b2).toDF("vec_id", "embedding"), cents,
      "vec_id", "embedding").assignments
      .select("vec_id", "cell").as[(Long, Long)].collect().sorted
    assert(stored === rebuilt)

    // a probe against the stored index finds a streamed-in exact copy
    val q = b2.take(1).map { case (id, v) => (id + 9000L, v) }
      .toDF("vec_id", "embedding")
    val hit = Similarity.ivfProbeStored(spark, path, q,
      "vec_id", "embedding", k = 1, nProbe = 1)
      .as[(Long, Long, Double)].collect()
    assert(hit.length === 1 && hit.head._2 === b2.head._1)
    assert(math.abs(hit.head._3 - 1.0) < 1e-9)
  }

  test("streaming boilerplate ingest ≡ sequential batch incremental cleaning") {
    import graft.operators.Dedup
    val src = Files.createTempDirectory("graft-bp-src").toString
    val corpus = Files.createTempDirectory("graft-bp-corpus").toString + "/c"
    val index = Files.createTempDirectory("graft-bp-idx").toString + "/i"
    val ckp = Files.createTempDirectory("graft-bp-ckp").toString
    val footer = "all rights reserved"
    val b1 = Seq((1L, s"alpha\n$footer"), (2L, s"beta\n$footer"))
    val b2 = Seq( // footer already has corpus count 2: removed at once
      (3L, s"gamma\n$footer"),
      // "beta" has corpus count 1 → with 4's own it reaches 2? no:
      // line counts are per DISTINCT doc; beta appears in docs 2 and 4
      // → merged count 2 ≥ 2 → removed from doc 4 (cross-epoch bind)
      (4L, "beta\ndelta"))
    def drain(): Unit = {
      val schema = spark.read.parquet(s"$src/b1").schema
      Streaming.boilerplateIngestSink(
        Streaming.fileStream(spark, schema, s"$src/*"),
        spark, corpus, index, "text", "doc_id", ckp,
        sep = "\n", minDocs = 2)
        .awaitTermination()
    }
    b1.toDF("doc_id", "text").write.parquet(s"$src/b1"); drain()
    // epoch 1 cleans against nothing stored: footer count 2 within
    // the batch itself → removed from both docs immediately
    val after1 = spark.read.parquet(corpus)
      .select("doc_id", "clean_text").as[(Long, String)].collect().sortBy(_._1)
    assert(after1 === Array((1L, "alpha"), (2L, "beta")))

    b2.toDF("doc_id", "text").write.parquet(s"$src/b2"); drain()
    drain() // no new files — must be a no-op

    val got = spark.read.parquet(corpus)
      .select("doc_id", "clean_text", "n_removed")
      .as[(Long, String, Long)].collect().sortBy(_._1)
    // ground truth: the batch path run sequentially over the same
    // epochs with boilerplateIndex/Merge — the stream must equal it
    val idx1 = Dedup.boilerplateIndex(b1.toDF("doc_id", "text"),
      "doc_id", "text", "\n")
    val inc2 = Dedup.incrementalRemoveBoilerplate(b2.toDF("doc_id", "text"),
      "doc_id", "text", idx1, "\n", minDocs = 2)
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(got.take(2).map(r => (r._1, r._2)) === Array((1L, "alpha"), (2L, "beta")))
    assert(got.drop(2) === inc2)
    // the cross-epoch bind actually happened: doc 4 lost "beta"
    assert(got.find(_._1 == 4L).get === ((4L, "delta", 1L)))
    // and the stored index aggregates to the batch-side merge
    val storedIdx = Dedup.boilerplateIndexRead(spark, index)
      .as[(String, Long)].collect().sortBy(_._1)
    val mergedIdx = Dedup.boilerplateIndexMerge(idx1,
      Dedup.boilerplateIndex(b2.toDF("doc_id", "text"), "doc_id", "text", "\n"))
      .as[(String, Long)].collect().sortBy(_._1)
    assert(storedIdx === mergedIdx)

    // the replay-idempotency hook: a retry of an epoch must see the
    // index WITHOUT that epoch's own (failed-commit) partial — else
    // its batch lines double-count and the rewrite diverges from the
    // original (sink scaladoc). Excluding the LAST epoch here must
    // reproduce exactly what epoch 2 read when it ran.
    val epochs = spark.read.parquet(index).select("_epoch").distinct()
      .as[String].collect().sorted
    assert(epochs.length === 2)
    val replayView = Dedup.boilerplateIndexRead(spark, index,
      excludeEpoch = Some(epochs.last))
      .as[(String, Long)].collect().sortBy(_._1)
    assert(replayView === idx1.as[(String, Long)].collect().sortBy(_._1))
    // and excluding an unknown epoch is the full view, not an error
    val fullView = Dedup.boilerplateIndexRead(spark, index,
      excludeEpoch = Some("no-such-epoch"))
      .as[(String, Long)].collect().sortBy(_._1)
    assert(fullView === storedIdx)

    // checkpoint reset with kept tables must REFUSE loudly (counts
    // would double on a re-delivered source), unless overridden
    val ckpReset = Files.createTempDirectory("graft-bp-ckp-reset").toString
    val schema = spark.read.parquet(s"$src/b1").schema
    val e = intercept[IllegalArgumentException] {
      Streaming.boilerplateIngestSink(
        Streaming.fileStream(spark, schema, s"$src/*"),
        spark, corpus, index, "text", "doc_id", ckpReset,
        sep = "\n", minDocs = 2)
    }
    assert(e.getMessage.contains("count partials"))
  }

  test("boilerplate ingest: all-short-lines first batch does not brick the index; flat bootstrap works") {
    import graft.operators.Dedup
    val src = Files.createTempDirectory("graft-bp2-src").toString
    val corpus = Files.createTempDirectory("graft-bp2-corpus").toString + "/c"
    val index = Files.createTempDirectory("graft-bp2-idx").toString + "/i"
    val ckp = Files.createTempDirectory("graft-bp2-ckp").toString
    // bootstrap the index from a batch-built one (_epoch=base layout)
    val seed = Seq((100L, "seeded\nfooter"), (101L, "other\nfooter"))
    Dedup.boilerplateIndexWrite(
      Dedup.boilerplateIndex(seed.toDF("doc_id", "text"), "doc_id", "text", "\n"),
      index, sep = "\n")
    def drain(): Unit = {
      val schema = spark.read.parquet(s"$src/b1").schema
      Streaming.boilerplateIngestSink(
        Streaming.fileStream(spark, schema, s"$src/*"),
        spark, corpus, index, "text", "doc_id", ckp,
        sep = "\n", minDocs = 2, allowForeignEpochs = true)
        .awaitTermination()
    }
    // first batch: every line under the default minLineLen floor →
    // the count partial is EMPTY; the write must be skipped, not
    // create an unreadable fileless epoch under the index
    Seq((1L, ""), (2L, "\n\n")).toDF("doc_id", "text")
      .write.parquet(s"$src/b1")
    drain()
    // docs still reach the corpus (cleaning never drops docs)
    assert(spark.read.parquet(corpus).count() === 2)
    // second batch: reads the seeded counts fine and binds against
    // them — "footer" has base count 2, so it is removed immediately
    Seq((3L, "fresh\nfooter")).toDF("doc_id", "text")
      .write.parquet(s"$src/b2")
    drain()
    val doc3 = spark.read.parquet(corpus)
      .filter($"doc_id" === 3L)
      .select("clean_text", "n_removed").as[(String, Long)].collect()
    assert(doc3 === Array(("fresh", 1L)))
    // the stored index = base seed + epoch partials, readable
    val idx = Dedup.boilerplateIndexRead(spark, index)
      .as[(String, Long)].collect()
    assert(idx.nonEmpty)
  }

  test("streaming line-dedup ingest ≡ full keep-first run over everything delivered") {
    import graft.operators.Dedup
    val src = Files.createTempDirectory("graft-ld-src").toString
    val corpus = Files.createTempDirectory("graft-ld-corpus").toString + "/c"
    val index = Files.createTempDirectory("graft-ld-idx").toString + "/i"
    val ckp = Files.createTempDirectory("graft-ld-ckp").toString
    val batch1 = Seq((1L, "alpha\nshared para\nbeta"), (2L, "shared para\nown two"))
    val batch2 = Seq((10L, "shared para\nnew line"), (11L, "new line\nfresh"))
    def deliver(name: String, rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").write.parquet(s"$src/$name")
    def drain(): Unit = {
      val schema = spark.read.parquet(s"$src/b1").schema
      Streaming.lineDedupIngestSink(
        Streaming.fileStream(spark, schema, s"$src/*"),
        spark, corpus, index, "text", "doc_id", ckp, sep = "\n")
        .awaitTermination()
    }
    deliver("b1", batch1); drain()
    deliver("b2", batch2); drain()
    val got = spark.read.parquet(corpus)
      .select("doc_id", "clean_text", "n_removed")
      .as[(Long, String, Long)].collect().sortBy(_._1)
    val want = Dedup.dedupLinesAcrossCorpus(
      (batch1 ++ batch2).toDF("doc_id", "text"), "doc_id", "text", "\n")
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(got === want, s"stream ${got.mkString(";")} vs batch ${want.mkString(";")}")
    assert(got.map(r => r._1 -> r._2).toMap === Map(
      1L -> "alpha\nshared para\nbeta", 2L -> "own two",
      10L -> "new line", 11L -> "fresh"))
    // a reset checkpoint against the kept index is refused loudly
    val freshCkp = Files.createTempDirectory("graft-ld-ckp2").toString
    val e = intercept[IllegalArgumentException] {
      Streaming.lineDedupIngestSink(
        Streaming.fileStream(spark,
          spark.read.parquet(s"$src/b1").schema, s"$src/*"),
        spark, corpus, index, "text", "doc_id", freshCkp, sep = "\n")
    }
    assert(e.getMessage.contains("fresh checkpoint"), e.getMessage)
  }

  test("line-dedup ingest: flat bootstrap works; all-short-lines first batch does not brick the index") {
    import graft.operators.Dedup
    val src = Files.createTempDirectory("graft-ld2-src").toString
    val corpus = Files.createTempDirectory("graft-ld2-corpus").toString + "/c"
    val index = Files.createTempDirectory("graft-ld2-idx").toString + "/i"
    val ckp = Files.createTempDirectory("graft-ld2-ckp").toString
    // bootstrap from a batch-built index (_epoch=base layout)
    val seed = Seq((100L, "seeded line\nfooter line"))
    Dedup.lineFirstOccIndexWrite(
      Dedup.lineFirstOccIndex(seed.toDF("doc_id", "text"), "doc_id", "text",
        "\n", minLineLen = 2), index, sep = "\n", minLineLen = 2)
    def drain(): Unit = {
      val schema = spark.read.parquet(s"$src/b1").schema
      Streaming.lineDedupIngestSink(
        Streaming.fileStream(spark, schema, s"$src/*"),
        spark, corpus, index, "text", "doc_id", ckp,
        sep = "\n", minLineLen = 2, allowForeignEpochs = true)
        .awaitTermination()
    }
    // first batch: every line under the minLineLen floor → the index
    // partial is EMPTY; the write must be skipped, not create an
    // unreadable fileless epoch under the index
    Seq((201L, "a\nb"), (202L, "")).toDF("doc_id", "text")
      .write.parquet(s"$src/b1")
    drain()
    assert(spark.read.parquet(corpus).count() === 2) // docs still land
    // second batch: dedups against the SEEDED index immediately
    Seq((301L, "fresh line\nfooter line")).toDF("doc_id", "text")
      .write.parquet(s"$src/b2")
    drain()
    val doc301 = spark.read.parquet(corpus)
      .filter($"doc_id" === 301L)
      .select("clean_text", "n_removed").as[(String, Long)].collect()
    assert(doc301 === Array(("fresh line", 1L)))
    // the stored index reads fine: base seed + epoch partials
    assert(Dedup.lineFirstOccIndexRead(spark, index).count() >= 2)
  }

  test("streaming domain-cap ingest ≡ full arrival cap over everything delivered") {
    import graft.operators.Curation
    val src = Files.createTempDirectory("graft-cap-src").toString
    val corpus = Files.createTempDirectory("graft-cap-corpus").toString + "/c"
    val index = Files.createTempDirectory("graft-cap-idx").toString + "/i"
    val ckp = Files.createTempDirectory("graft-cap-ckp").toString
    // domain a: 4 rows in batch1 + 2 in batch2 (cap 5 → one b2 drop);
    // domain b: under cap throughout; domain c: appears only in batch2
    val batch1 = Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "a"), (5L, "a"))
    val batch2 = Seq((10L, "a"), (11L, "a"), (12L, "b"), (13L, "c"))
    def deliver(name: String, rows: Seq[(Long, String)]): Unit =
      rows.toDF("id", "dom").write.parquet(s"$src/$name")
    def drain(): Unit = {
      val schema = spark.read.parquet(s"$src/b1").schema
      Streaming.domainCapIngestSink(
        Streaming.fileStream(spark, schema, s"$src/*"),
        spark, corpus, index, "dom", "id", ckp,
        maxPerKey = 5, keyName = "dom")
        .awaitTermination()
    }
    deliver("b1", batch1); drain()
    deliver("b2", batch2); drain()
    val got = spark.read.parquet(corpus).select("id")
      .as[Long].collect().toSet
    val want = Curation.capPerKeyArrival(
      (batch1 ++ batch2).toDF("id", "dom"), $"dom", $"id", maxPerKey = 5)
      .select("id").as[Long].collect().toSet
    assert(got === want, s"stream $got vs batch $want")
    assert(got === Set(1L, 2L, 3L, 4L, 5L, 10L, 12L, 13L)) // 11 starved: a is full
    // the persisted counts saw EVERY row, kept or dropped
    assert(Curation.capCountIndexRead(spark, index, "dom")
      .as[(String, Long)].collect().toMap ===
      Map("a" -> 6L, "b" -> 2L, "c" -> 1L))
    // a reset checkpoint against the kept index is refused loudly
    val freshCkp = Files.createTempDirectory("graft-cap-ckp2").toString
    val e = intercept[IllegalArgumentException] {
      Streaming.domainCapIngestSink(
        Streaming.fileStream(spark,
          spark.read.parquet(s"$src/b1").schema, s"$src/*"),
        spark, corpus, index, "dom", "id", freshCkp,
        maxPerKey = 5, keyName = "dom")
    }
    assert(e.getMessage.contains("fresh checkpoint"), e.getMessage)
    // probing under a different key derivation refuses too
    val e2 = intercept[IllegalArgumentException] {
      Curation.capCountIndexRead(spark, index, "registered_domain")
    }
    assert(e2.getMessage.contains("keyName"), e2.getMessage)
  }

  test("streaming sample-sketch ingest: stored profile ≡ direct sketch over everything delivered") {
    import graft.operators.SampleSketch
    val src = Files.createTempDirectory("graft-sk-src").toString
    val corpus = Files.createTempDirectory("graft-sk-corpus").toString + "/c"
    val index = Files.createTempDirectory("graft-sk-idx").toString + "/i"
    val ckp = Files.createTempDirectory("graft-sk-ckp").toString
    val k = 8
    val batch1 = (1L to 30L).map(i => (s"g${i % 2}", i, i * 1.5))
    val batch2 = (31L to 60L).map(i => (s"g${i % 2}", i, i * 1.5))
    def deliver(name: String, rows: Seq[(String, Long, Double)]): Unit =
      rows.toDF("grp", "id", "v").write.parquet(s"$src/$name")
    def drain(): Unit = {
      val schema = spark.read.parquet(s"$src/b1").schema
      Streaming.sampleSketchIngestSink(
        Streaming.fileStream(spark, schema, s"$src/*"),
        spark, corpus, index, "grp", "id", "v", k, ckp)
        .awaitTermination()
    }
    deliver("b1", batch1); drain()
    deliver("b2", batch2); drain()
    val stored = SampleSketch.sampleSketchIndexRead(spark, index, k, "grp", "v")
      .select(col("group"), col("sketch"))
      .as[(String, Seq[(Long, Long, Double)])].collect().toMap
    val direct = SampleSketch.sampleSketch(
      (batch1 ++ batch2).toDF("grp", "id", "v"),
      col("grp"), col("id"), col("v"), k)
      .select(col("group"), col("sketch"))
      .as[(String, Seq[(Long, Long, Double)])].collect().toMap
    assert(stored === direct, s"stream $stored vs direct $direct")
    // the corpus landed every row
    assert(spark.read.parquet(corpus).count() === 60L)
    // wrong-k probe refuses via the manifest
    val e = intercept[IllegalArgumentException] {
      SampleSketch.sampleSketchIndexRead(spark, index, k + 1, "grp", "v")
    }
    assert(e.getMessage.contains("k:"), e.getMessage)
  }

  test("streaming hll ingest: stored registers ≡ direct sketch over everything delivered") {
    import graft.operators.Cardinality
    val src = Files.createTempDirectory("graft-hll-src").toString
    val corpus = Files.createTempDirectory("graft-hll-corpus").toString + "/c"
    val index = Files.createTempDirectory("graft-hll-idx").toString + "/i"
    val ckp = Files.createTempDirectory("graft-hll-ckp").toString
    val p = 9
    val batch1 = (1L to 200L).map(i => (s"g${i % 2}", i))
    val batch2 = (150L to 400L).map(i => (s"g${i % 2}", i))
    def deliver(name: String, rows: Seq[(String, Long)]): Unit =
      rows.toDF("grp", "v").write.parquet(s"$src/$name")
    def drain(): Unit = {
      val schema = spark.read.parquet(s"$src/b1").schema
      Streaming.hllIngestSink(
        Streaming.fileStream(spark, schema, s"$src/*"),
        spark, corpus, index, "grp", "v", p, ckp)
        .awaitTermination()
    }
    deliver("b1", batch1); drain()
    deliver("b2", batch2); drain()
    val stored = Cardinality.hllIndexRead(spark, index, p, "v")
      .as[(String, Seq[Int])].collect().toMap
    val direct = Cardinality.hllSketch(
      (batch1 ++ batch2).toDF("grp", "v"), col("grp"), col("v"), p)
      .as[(String, Seq[Int])].collect().toMap
    assert(stored === direct)
    assert(spark.read.parquet(corpus).count() === (batch1.size + batch2.size))
    // wrong-p probe refuses via the manifest
    val e = intercept[IllegalArgumentException] {
      Cardinality.hllIndexRead(spark, index, p + 1, "v")
    }
    assert(e.getMessage.contains("p:"), e.getMessage)
  }

  test("streaming kmv ingest: stored sketch ≡ direct sketch over everything delivered") {
    import graft.operators.Cardinality
    val src = Files.createTempDirectory("graft-kmv-src").toString
    val corpus = Files.createTempDirectory("graft-kmv-corpus").toString + "/c"
    val index = Files.createTempDirectory("graft-kmv-idx").toString + "/i"
    val ckp = Files.createTempDirectory("graft-kmv-ckp").toString
    val k = 16
    val batch1 = (1L to 200L).map(i => (s"g${i % 2}", i))
    val batch2 = (150L to 400L).map(i => (s"g${i % 2}", i))
    def deliver(name: String, rows: Seq[(String, Long)]): Unit =
      rows.toDF("grp", "v").write.parquet(s"$src/$name")
    def drain(): Unit = {
      val schema = spark.read.parquet(s"$src/b1").schema
      Streaming.kmvIngestSink(
        Streaming.fileStream(spark, schema, s"$src/*"),
        spark, corpus, index, "grp", "v", k, ckp)
        .awaitTermination()
    }
    deliver("b1", batch1); drain()
    deliver("b2", batch2); drain()
    val stored = Cardinality.kmvIndexRead(spark, index, k, "v")
      .as[(String, Seq[Long])].collect().toMap
    val direct = Cardinality.kmvSketch(
      (batch1 ++ batch2).toDF("grp", "v"), col("grp"), col("v"), k)
      .as[(String, Seq[Long])].collect().toMap
    assert(stored === direct)
    assert(spark.read.parquet(corpus).count() === (batch1.size + batch2.size))
    // wrong-k probe refuses via the manifest
    val e = intercept[IllegalArgumentException] {
      Cardinality.kmvIndexRead(spark, index, k + 1, "v")
    }
    assert(e.getMessage.contains("k:"), e.getMessage)
  }

  test("continuous pipeline: live ingest interleaved with scheduled compactAll keeps probes exact") {
    // The end-to-end operational story the pieces support: two store
    // families ingesting under ONE tree root while a maintenance
    // schedule compacts every discovered store between batches — the
    // probe must stay bit-equal to the direct computation after EVERY
    // (ingest, compact) cycle, across repeated compactions (base
    // folds, epoch GC one generation late, atomic _CURRENT flips).
    import graft.operators.{Cardinality, IntervalExpand, Maintenance}
    val tree = Files.createTempDirectory("graft-cont").toString
    val src1 = Files.createTempDirectory("graft-cont-src1").toString
    val src2 = Files.createTempDirectory("graft-cont-src2").toString
    val ckp1 = Files.createTempDirectory("graft-cont-ckp1").toString
    val ckp2 = Files.createTempDirectory("graft-cont-ckp2").toString
    val k = 16
    var hllRows = Seq.empty[(String, Long)]
    var islRows = Seq.empty[(String, Long, Long)]
    def drainHll(): Unit = {
      val schema = spark.read.parquet(s"$src1/b1").schema
      Streaming.kmvIngestSink(
        Streaming.fileStream(spark, schema, s"$src1/*"),
        spark, s"$tree/corpus_kmv", s"$tree/stores/kmv", "grp", "v", k, ckp1)
        .awaitTermination()
    }
    def drainIslands(): Unit = {
      val schema = spark.read.parquet(s"$src2/b1").schema
      Streaming.islandsIngestSink(
        Streaming.fileStream(spark, schema, s"$src2/*"),
        spark, s"$tree/corpus_isl", s"$tree/stores/islands", "k", "s", "e", ckp2)
        .awaitTermination()
    }
    def probesExact(): Unit = {
      val storedKmv = Cardinality.kmvIndexRead(spark, s"$tree/stores/kmv", k, "v")
        .as[(String, Seq[Long])].collect().toMap
      val directKmv = Cardinality.kmvSketch(
        hllRows.toDF("grp", "v"), col("grp"), col("v"), k)
        .as[(String, Seq[Long])].collect().toMap
      assert(storedKmv === directKmv, "kmv probe diverged from direct")
      val storedIsl = IntervalExpand
        .islandsIndexRead(spark, s"$tree/stores/islands", "k")
        .as[(String, Long, Long)].collect().toSet
      val directIsl = IntervalExpand.mergeIntervals(
        islRows.toDF("k", "s", "e"), "k", col("s"), col("e"))
        .as[(String, Long, Long)].collect().toSet
      assert(storedIsl === directIsl, "islands probe diverged from direct")
    }
    (1 to 3).foreach { cycle =>
      val h = (1L to 100L).map(i => (s"g${i % 2}", i * cycle))
      val iv = (0L until 4L).map(i =>
        (s"k${i % 2}", i * 3 + cycle, i * 3 + cycle + 2))
      h.toDF("grp", "v").write.parquet(s"$src1/b$cycle")
      iv.toDF("k", "s", "e").write.parquet(s"$src2/b$cycle")
      hllRows ++= h; islRows ++= iv
      drainHll(); drainIslands()
      probesExact() // probe BEFORE maintenance: live epochs visible
      val results = Maintenance.compactAll(spark, s"$tree/stores")
      assert(results.size === 2 && results.forall(!_.failed),
        s"cycle $cycle sweep: $results")
      assert(results.flatMap(_.stats).forall(_.uncommitted.isEmpty))
      probesExact() // and AFTER: compaction changed nothing observable
    }
  }

  test("streaming islands ingest: stored summary ≡ direct islands over everything delivered") {
    import graft.operators.IntervalExpand
    val src = Files.createTempDirectory("graft-isl-src").toString
    val corpus = Files.createTempDirectory("graft-isl-corpus").toString + "/c"
    val index = Files.createTempDirectory("graft-isl-idx").toString + "/i"
    val ckp = Files.createTempDirectory("graft-isl-ckp").toString
    val batch1 = Seq(("k1", 1L, 5L), ("k2", 0L, 3L))
    val batch2 = Seq(("k1", 4L, 9L), ("k2", 10L, 12L))
    def deliver(name: String, rows: Seq[(String, Long, Long)]): Unit =
      rows.toDF("k", "s", "e").write.parquet(s"$src/$name")
    def drain(): Unit = {
      val schema = spark.read.parquet(s"$src/b1").schema
      Streaming.islandsIngestSink(
        Streaming.fileStream(spark, schema, s"$src/*"),
        spark, corpus, index, "k", "s", "e", ckp)
        .awaitTermination()
    }
    deliver("b1", batch1); drain()
    deliver("b2", batch2); drain()
    val stored = IntervalExpand.islandsIndexRead(spark, index, "k")
      .as[(String, Long, Long)].collect().toSet
    val direct = IntervalExpand.mergeIntervals(
      (batch1 ++ batch2).toDF("k", "s", "e"), "k", col("s"), col("e"))
      .as[(String, Long, Long)].collect().toSet
    assert(stored === direct)
    // cross-epoch fusion happened: [1,5) ∪ [4,9) = [1,9)
    assert(stored.contains(("k1", 1L, 9L)))
    assert(spark.read.parquet(corpus).count() === 4L)
  }

  test("streaming digest ingest: ledger ≡ direct digest of everything delivered") {
    import graft.operators.Audit
    val src = Files.createTempDirectory("graft-dg-src").toString
    val corpus = Files.createTempDirectory("graft-dg-corpus").toString + "/c"
    val index = Files.createTempDirectory("graft-dg-idx").toString + "/i"
    val ckp = Files.createTempDirectory("graft-dg-ckp").toString
    val batch1 = Seq(("d1", 1L, "x"), ("d2", 2L, "y"))
    val batch2 = Seq(("d1", 3L, "z"), ("d3", 4L, "w"))
    def deliver(name: String, rows: Seq[(String, Long, String)]): Unit =
      rows.toDF("day", "k", "v").write.parquet(s"$src/$name")
    def drain(): Unit = {
      val schema = spark.read.parquet(s"$src/b1").schema
      Streaming.digestIngestSink(
        Streaming.fileStream(spark, schema, s"$src/*"),
        spark, corpus, index, Seq("k", "v"), "day", ckp)
        .awaitTermination()
    }
    deliver("b1", batch1); drain()
    deliver("b2", batch2); drain()
    val stored = Audit.digestIndexRead(spark, index, Seq("k", "v"), "day")
      .as[(String, Long, Long)].collect().toSet
    val direct = Audit.digestPartial(
      (batch1 ++ batch2).toDF("day", "k", "v"), Seq("k", "v"), col("day"))
      .as[(String, Long, Long)].collect().toSet
    assert(stored === direct)
    assert(spark.read.parquet(corpus).count() === 4L)
  }

  test("streaming cms ingest: stored cells ≡ whole-stream sketch; fresh checkpoint refuses") {
    import graft.operators.HeavyHitters
    val src = Files.createTempDirectory("graft-cms-src").toString
    val corpus = Files.createTempDirectory("graft-cms-corpus").toString + "/c"
    val index = Files.createTempDirectory("graft-cms-idx").toString + "/i"
    val ckp = Files.createTempDirectory("graft-cms-ckp").toString
    val (d, w) = (4, 1024)
    val batch1 = Seq("x", "x", "y", "z")
    val batch2 = Seq("x", "y", "y", "t")
    def deliver(name: String, rows: Seq[String]): Unit =
      rows.toDF("item").write.parquet(s"$src/$name")
    def drain(): Unit = {
      val schema = spark.read.parquet(s"$src/b1").schema
      Streaming.cmsIngestSink(
        Streaming.fileStream(spark, schema, s"$src/*"),
        spark, corpus, index, "item", d, w, ckp)
        .awaitTermination()
    }
    deliver("b1", batch1); drain()
    deliver("b2", batch2); drain()
    val stored = HeavyHitters.cmsIndexRead(spark, index, d, w, "item")
      .as[(Int, Long, Long)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    val direct = HeavyHitters.countMinSketch(
      (batch1 ++ batch2).toDF("item"), "item", d, w)
      .as[(Int, Long, Long)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(stored === direct)
    assert(spark.read.parquet(corpus).count() === 8L)
    val freshCkp = Files.createTempDirectory("graft-cms-ckp2").toString
    val e = intercept[IllegalArgumentException] {
      Streaming.cmsIngestSink(
        Streaming.fileStream(spark,
          spark.read.parquet(s"$src/b1").schema, s"$src/*"),
        spark, corpus, index, "item", d, w, freshCkp)
    }
    assert(e.getMessage.contains("fresh checkpoint"), e.getMessage)
  }

  test("streaming gram-freq ingest: stored probe ≡ inline index over everything delivered; fresh checkpoint refuses") {
    import graft.operators.Dedup
    val src = Files.createTempDirectory("graft-gf-src").toString
    val corpus = Files.createTempDirectory("graft-gf-corpus").toString + "/c"
    val index = Files.createTempDirectory("graft-gf-idx").toString + "/i"
    val ckp = Files.createTempDirectory("graft-gf-ckp").toString
    val batch1 = Seq((1L, "a b c"), (2L, "a b d"))
    val batch2 = Seq((3L, "a b e"), (4L, "x y z"))
    def deliver(name: String, rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").write.parquet(s"$src/$name")
    def drain(): Unit = {
      val schema = spark.read.parquet(s"$src/b1").schema
      Streaming.gramFreqIngestSink(
        Streaming.fileStream(spark, schema, s"$src/*"),
        spark, corpus, index, "doc_id", "text", ckp, n = 2)
        .awaitTermination()
    }
    deliver("b1", batch1); drain()
    deliver("b2", batch2); drain()
    val stored = Dedup.gramFreqIndexRead(spark, index, None, n = 2)
      .as[(String, Long)].collect().toMap
    val direct = Dedup.gramFreqIndex(
      (batch1 ++ batch2).toDF("doc_id", "text"), "doc_id", "text", n = 2)
      .as[(String, Long)].collect().toMap
    assert(stored === direct)
    assert(spark.read.parquet(corpus).count() === 4L)
    // the stored index answers the novelty probe over everything ingested
    val probe = Dedup.incrementalDupGramFraction(
      Seq((10L, "a b c q")).toDF("doc_id", "text"),
      Dedup.gramFreqIndexRead(spark, index, None, n = 2),
      "doc_id", "text", n = 2)
      .select("doc_id", "n_grams", "n_seen", "seen_frac")
      .as[(Long, Long, Long, Double)].collect()
    assert(probe === Array((10L, 3L, 2L, 0.6667)))
    val freshCkp = Files.createTempDirectory("graft-gf-ckp2").toString
    val e = intercept[IllegalArgumentException] {
      Streaming.gramFreqIngestSink(
        Streaming.fileStream(spark,
          spark.read.parquet(s"$src/b1").schema, s"$src/*"),
        spark, corpus, index, "doc_id", "text", freshCkp, n = 2)
    }
    assert(e.getMessage.contains("fresh checkpoint"), e.getMessage)
  }

  test("gram-freq sink vs concurrent compaction: replayed epoch never doubles, post-compact epoch never drops") {
    import graft.operators.{Dedup, EpochIndex, Maintenance}
    val src = Files.createTempDirectory("graft-gfc-src").toString
    val corpus = Files.createTempDirectory("graft-gfc-corpus").toString + "/c"
    val index = Files.createTempDirectory("graft-gfc-idx").toString + "/i"
    val ckp = Files.createTempDirectory("graft-gfc-ckp").toString
    val batch1 = Seq((1L, "a b c"), (2L, "a b d"))
    val batch2 = Seq((3L, "a b e"), (4L, "x y z"))
    val batch3 = Seq((5L, "a b q"), (6L, "x y w"))
    def deliver(name: String, rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").write.parquet(s"$src/$name")
    def drain(): Unit = {
      val schema = spark.read.parquet(s"$src/b1").schema
      Streaming.gramFreqIngestSink(
        Streaming.fileStream(spark, schema, s"$src/*"),
        spark, corpus, index, "doc_id", "text", ckp, n = 2)
        .awaitTermination()
    }
    def counts() = Dedup.gramFreqIndexRead(spark, index, None, n = 2)
      .as[(String, Long)].collect().toMap
    def truth(rows: Seq[(Long, String)]) = Dedup.gramFreqIndex(
      rows.toDF("doc_id", "text"), "doc_id", "text", n = 2)
      .as[(String, Long)].collect().toMap
    deliver("b1", batch1); drain()
    deliver("b2", batch2); drain()
    // compact mid-stream: every committed epoch folds into base v1
    val stats = Maintenance.compactStore(spark, index)
    assert(stats.folded.nonEmpty && stats.uncommitted.isEmpty)
    // at-least-once REPLAY across the compaction boundary: a restarted
    // foreachBatch re-runs an already-folded micro-batch, and its write
    // unit — EpochIndex.append under the same <runToken>-<epochId>
    // name — recreates the folded epoch directory on disk
    val replayed = stats.folded.head
    EpochIndex.append(Dedup.gramFreqIndex(
      batch1.toDF("doc_id", "text"), "doc_id", "text", n = 2),
      index, replayed)
    assert(EpochIndex.committedEpochNames(spark, index).contains(replayed))
    // the replayed directory is live on disk but listed in the base's
    // _FOLDED manifest: reads skip it — counts identical, NOT doubled
    assert(counts() === truth(batch1 ++ batch2),
      "replay across compaction double-counted")
    // the replay-idempotency hook refuses the folded epoch loudly: its
    // partial is merged into the base and can no longer be subtracted
    val e = intercept[IllegalArgumentException] {
      Dedup.gramFreqIndexRead(spark, index, Some(replayed), n = 2).collect()
    }
    assert(e.getMessage.contains("already compacted"), e.getMessage)
    // an epoch landing AFTER the compaction snapshot is neither folded
    // nor in _FOLDED: reads union it on top — never dropped
    deliver("b3", batch3); drain()
    assert(counts() === truth(batch1 ++ batch2 ++ batch3),
      "post-compaction epoch dropped")
    // the NEXT compaction folds the straggler and GCs the replayed
    // directory one generation late — still no double, no drop
    val stats2 = Maintenance.compactStore(spark, index)
    assert(stats2.gcd.contains(replayed),
      s"replayed epoch not GC'd: ${stats2.gcd}")
    assert(counts() === truth(batch1 ++ batch2 ++ batch3))
  }

  test("streaming LM ingest: stored model ≡ inline train over everything delivered; fresh checkpoint refuses") {
    import graft.operators.LmFilter
    val src = Files.createTempDirectory("graft-lm-src").toString
    val corpus = Files.createTempDirectory("graft-lm-corpus").toString + "/c"
    val index = Files.createTempDirectory("graft-lm-idx").toString + "/i"
    val ckp = Files.createTempDirectory("graft-lm-ckp").toString
    val batch1 = Seq((1L, "a b c"), (2L, "a b d"))
    val batch2 = Seq((3L, "a b e"), (4L, "x y z"))
    def deliver(name: String, rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").write.parquet(s"$src/$name")
    def drain(): Unit = {
      val schema = spark.read.parquet(s"$src/b1").schema
      Streaming.lmIngestSink(
        Streaming.fileStream(spark, schema, s"$src/*"),
        spark, corpus, index, "doc_id", "text", ckp)
        .awaitTermination()
    }
    deliver("b1", batch1); drain()
    deliver("b2", batch2); drain()
    val stored = LmFilter.lmIndexRead(spark, index, 4096, 32768)
      .as[(Int, Long, Long)].collect().toSet
    val direct = LmFilter.lmIndex(
      (batch1 ++ batch2).toDF("doc_id", "text"), "doc_id", "text")
      .as[(Int, Long, Long)].collect().toSet
    assert(stored === direct)
    assert(spark.read.parquet(corpus).count() === 4L)
    // the stored model scores a candidate identically to inline train
    val cand = Seq((10L, "a b c q")).toDF("doc_id", "text")
    val viaStore = LmFilter.lmPerplexity(cand, "doc_id", "text",
      LmFilter.lmIndexRead(spark, index, 4096, 32768))
      .as[(Long, Long, Double, Double)].collect()
    val inline = LmFilter.lmPerplexity(cand, "doc_id", "text",
      LmFilter.lmIndex((batch1 ++ batch2).toDF("doc_id", "text"),
        "doc_id", "text"))
      .as[(Long, Long, Double, Double)].collect()
    assert(viaStore === inline)
    val freshCkp = Files.createTempDirectory("graft-lm-ckp2").toString
    val e = intercept[IllegalArgumentException] {
      Streaming.lmIngestSink(
        Streaming.fileStream(spark,
          spark.read.parquet(s"$src/b1").schema, s"$src/*"),
        spark, corpus, index, "doc_id", "text", freshCkp)
    }
    assert(e.getMessage.contains("fresh checkpoint"), e.getMessage)
  }

  test("streaming certification: ledger equals the full exact join after every activation, through a mid-stream compaction of ledger AND index") {
    import graft.operators.{Dedup, IndexMeta, Maintenance}
    val src = Files.createTempDirectory("graft-cert-src").toString
    val corpus = Files.createTempDirectory("graft-cert-corpus").toString + "/c"
    val ledger = Files.createTempDirectory("graft-cert-led").toString + "/l"
    val index = Files.createTempDirectory("graft-cert-idx").toString + "/i"
    val labels = Files.createTempDirectory("graft-cert-lb").toString + "/lb"
    val ckp = Files.createTempDirectory("graft-cert-ckp").toString
    val b1 = Seq((1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma epsilon"), (3L, "iota kappa lambda mu"))
    val b2 = Seq((11L, "alpha beta gamma delta"),
      (12L, "nu xi omicron pi"), (13L, "iota kappa lambda mu"))
    val b3 = Seq((21L, "alpha beta gamma epsilon"),
      (22L, "nu xi omicron pi rho"))
    def deliver(name: String, rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").write.parquet(s"$src/$name")
    def drain(): Unit = {
      val schema = spark.read.parquet(s"$src/b1").schema
      Streaming.certIngestSink(
        Streaming.fileStream(spark, schema, s"$src/*"),
        spark, corpus, ledger, index, "doc_id", "text", ckp,
        threshold = 0.5, labelsPath = Some(labels)).awaitTermination()
    }
    // the live TEXT-metric repaired set, read FROM THE STORE — the
    // jaccard twin of the cosine sink's cc_labels view
    def storeKeptIds() = Dedup.repairSurvivorsFromStore(
      spark, spark.read.parquet(corpus).select("doc_id"),
      "doc_id", labels, "jaccard", 0.5)
      .select("doc_id").as[Long].collect().toSet
    def rebuiltKeptIds() = Dedup.repairSurvivors(
      spark.read.parquet(corpus).select("doc_id"),
      Dedup.connectedComponents(
        Dedup.certLedgerRead(spark, ledger, "jaccard", 0.5)
          .select(col("id_a"), col("id_b"))), "doc_id")
      .as[Long].collect().toSet
    def ledgerPairs() = Dedup.certLedgerRead(spark, ledger, "jaccard", 0.5)
      .as[(Long, Long, Double)].collect().toSet
    def fullPairs(rows: Seq[(Long, String)]) =
      Dedup.exactJoin(rows.toDF("doc_id", "text"), "doc_id", "text",
        Dedup.Jaccard(0.5, shingleK = 1))
        .as[(Long, Long, Double)].collect().toSet
    deliver("b1", b1); drain()
    // the live induction: after every activation the ledger IS the
    // full exact join over everything ever ingested — corpus² never ran
    assert(ledgerPairs() === fullPairs(b1))
    assert(ledgerPairs().contains((1L, 2L, 0.6)))
    assert(storeKeptIds() === rebuiltKeptIds(),
      "store-read repaired set diverged after b1")
    // compact ALL THREE stores mid-stream (ledger/index identity
    // folds, labels MIN fold) — nothing doubles or drops, and the
    // NEXT batch probes the compacted index exactly
    assert(Maintenance.compactStore(spark, ledger).folded.nonEmpty)
    assert(Maintenance.compactStore(spark, index).folded.nonEmpty)
    assert(Maintenance.compactStore(spark, labels).folded.nonEmpty)
    assert(ledgerPairs() === fullPairs(b1))
    deliver("b2", b2); drain()
    val expect = fullPairs(b1 ++ b2)
    assert(ledgerPairs() === expect,
      s"miss=${expect -- ledgerPairs()} extra=${ledgerPairs() -- expect}")
    // the cross-batch re-ingestions surfaced at 1.0 (the signal a
    // certification exists to raise)
    assert(ledgerPairs().contains((1L, 11L, 1.0)) &&
      ledgerPairs().contains((3L, 13L, 1.0)))
    assert(spark.read.parquet(corpus).count() === 6L)
    // the live repaired set survives the mid-stream labels compaction
    // (the fold lands ACROSS the compaction boundary) and equals the
    // from-scratch CC rebuild — the round-16 jaccard-labels contract
    assert(storeKeptIds() === rebuiltKeptIds(),
      "store-read repaired set diverged across the labels compaction")
    // third batch rides a mixed base+epoch index; induction holds
    deliver("b3", b3); drain()
    assert(ledgerPairs() === fullPairs(b1 ++ b2 ++ b3))
    // the index mirrors everything certified (one row per nonempty doc)
    assert(graft.operators.EpochIndex.read(spark, s"$index/fps",
      innerPartCols = Seq("ib"),
      bootstrapName = "certIndexWrite").count() === 8L)
    // a sink pointed at this ledger with ANOTHER tau refuses before
    // writing anything — the checked-manifest contract (a pre-existing
    // mismatched ledger must never silently absorb appends)
    val ckp2 = Files.createTempDirectory("graft-cert-ckp2").toString
    val schema = spark.read.parquet(s"$src/b1").schema
    val e = intercept[Throwable] {
      Streaming.certIngestSink(
        Streaming.fileStream(spark, schema, s"$src/*"),
        spark, corpus, ledger, index, "doc_id", "text", ckp2,
        threshold = 0.85).awaitTermination()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("do not match")),
      chain(e).mkString(" | "))
    // nothing landed under the refused run
    assert(ledgerPairs() === fullPairs(b1 ++ b2 ++ b3))
  }

  test("streaming NEAR-dup ingest: canonical keep per component, store-probe rejection, accepted-only stores") {
    import graft.operators.Dedup
    val src = Files.createTempDirectory("graft-ndup-src").toString
    val corpus = Files.createTempDirectory("graft-ndup-c").toString + "/c"
    val index = Files.createTempDirectory("graft-ndup-i").toString + "/i"
    val ckp = Files.createTempDirectory("graft-ndup-ckp").toString
    // b1: 2 is an exact copy of 1 (within-batch component, non-min);
    // b2: 11 copies 1 (corpus-touching component), 12 is novel;
    // b3: 21 copies 12 (corpus-touching), 22 is novel
    val b1 = Seq((1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "completely different tokens appear here now"))
    val b2 = Seq((11L, "alpha beta gamma delta epsilon"),
      (12L, "novel twelve document payload words"))
    val b3 = Seq((21L, "novel twelve document payload words"),
      (22L, "another fresh unique document entirely"))
    def deliver(name: String, rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").write.parquet(s"$src/$name")
    def drain(): Unit = {
      val schema = spark.read.parquet(s"$src/b1").schema
      Streaming.nearDupIngestSink(
        Streaming.fileStream(spark, schema, s"$src/*"),
        spark, corpus, index, "doc_id", "text", ckp)
        .awaitTermination()
    }
    deliver("b1", b1); drain()
    def corpusIds() = spark.read.parquet(corpus)
      .select("doc_id").as[Long].collect().toSet
    assert(corpusIds() === Set(1L, 3L),
      s"within-batch canonical keep broke: ${corpusIds()}")
    deliver("b2", b2); drain()
    assert(corpusIds() === Set(1L, 3L, 12L),
      s"corpus-touching rejection broke: ${corpusIds()}")
    deliver("b3", b3); drain()
    assert(corpusIds() === Set(1L, 3L, 12L, 22L), s"got ${corpusIds()}")
    // accepted-only stores: the index holds exactly the survivors'
    // band rows — dropped docs polluted nothing
    assert(Dedup.bandIndexRead(spark, index, Dedup.SimHash())
      .select("id").as[Long].collect().toSet === Set(1L, 3L, 12L, 22L))
    // survivors are pairwise non-near-dup — the sink's whole claim
    assert(Dedup.lshPairs(
      spark.read.parquet(corpus).select("doc_id", "text"),
      "doc_id", "text", Dedup.SimHash()).count() === 0L)
    // a standing corpus with a FRESH index path refuses at activation
    val e = intercept[IllegalArgumentException] {
      Streaming.nearDupIngestSink(
        Streaming.fileStream(spark,
          spark.read.parquet(s"$src/b1").schema, s"$src/*"),
        spark, corpus,
        Files.createTempDirectory("graft-ndup-i2").toString + "/i",
        "doc_id", "text",
        Files.createTempDirectory("graft-ndup-ckp2").toString)
    }
    assert(e.getMessage.contains("bandIndexWrite"), e.getMessage)
  }

  test("streaming near-dup TEXT ingest (MinHash twin): canonical keep, store-probe rejection, accepted-only, compaction-safe, zero leaked pins") {
    import graft.operators.{Dedup, Maintenance}
    val textLsh = Dedup.MinHash(threshold = 0.0)
    graft.GraftSession.sweepPersistedRdds(spark)
    val src = Files.createTempDirectory("graft-ndt-src").toString
    val corpus = Files.createTempDirectory("graft-ndt-c").toString + "/c"
    val index = Files.createTempDirectory("graft-ndt-i").toString + "/i"
    val ckp = Files.createTempDirectory("graft-ndt-ckp").toString
    // b1: 2 is an exact copy of 1 (within-batch, non-min id);
    // b2: 11 copies 1 (corpus-touching), 12 is novel;
    // b3 (after a mid-stream index compaction): 21 copies 12, 22 novel
    val b1 = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "completely different tokens appear here now truly"))
    val b2 = Seq((11L, "alpha beta gamma delta epsilon zeta eta theta"),
      (12L, "novel twelve document payload words arrive here"))
    val b3 = Seq((21L, "novel twelve document payload words arrive here"),
      (22L, "another fresh unique document entirely again"))
    def deliver(name: String, rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").write.parquet(s"$src/$name")
    def drain(): Unit = {
      val schema = spark.read.parquet(s"$src/b1").schema
      Streaming.nearDupIngestSink(
        Streaming.fileStream(spark, schema, s"$src/*"),
        spark, corpus, index, "doc_id", "text", ckp, textLsh)
        .awaitTermination()
    }
    deliver("b1", b1); drain()
    def corpusIds() = spark.read.parquet(corpus)
      .select("doc_id").as[Long].collect().toSet
    assert(corpusIds() === Set(1L, 3L),
      s"within-batch canonical keep broke: ${corpusIds()}")
    deliver("b2", b2); drain()
    assert(corpusIds() === Set(1L, 3L, 12L),
      s"corpus-touching rejection broke: ${corpusIds()}")
    // replay idempotency across activations: nothing new delivered,
    // a re-drain changes neither store
    drain()
    assert(corpusIds() === Set(1L, 3L, 12L))
    // RE-DELIVERY idempotency (round 18): the same content arrives
    // again as a NEW file — every row is either a known id (the
    // keepSelf self-match: drop outright) or a near-dup of the
    // standing corpus; nothing lands twice, not even a second row
    // under the same id
    deliver("b2redeliver", b2); drain()
    assert(corpusIds() === Set(1L, 3L, 12L))
    assert(spark.read.parquet(corpus).count() === 3L,
      "re-delivered known ids landed duplicate corpus rows")
    // mid-stream compaction folds the accumulated epochs; the next
    // batch's probe reads the compacted base + its own exclusions
    val stats = Maintenance.compactStore(spark, index)
    assert(stats.folded.nonEmpty, "compaction folded nothing")
    deliver("b3", b3); drain()
    assert(corpusIds() === Set(1L, 3L, 12L, 22L), s"got ${corpusIds()}")
    // accepted-only stores: the index holds exactly the survivors'
    // band rows — dropped docs polluted nothing
    assert(Dedup.bandIndexRead(spark, index, textLsh)
      .select("id").as[Long].collect().toSet === Set(1L, 3L, 12L, 22L))
    // survivors are pairwise non-near-dup at the sink's banding
    assert(Dedup.lshPairs(
      spark.read.parquet(corpus).select("doc_id", "text"),
      "doc_id", "text", textLsh).count() === 0L)
    // the foreachBatch loop released every checkpoint it pinned —
    // probe pin, CC mapping, accepted set (a long-lived streaming
    // JVM has no harness sweep; the sink must not leak per batch)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"sink leaked ${spark.sparkContext.getPersistentRDDs.size} pinned RDDs")
    // a standing corpus with a FRESH index path refuses at activation
    val e = intercept[IllegalArgumentException] {
      Streaming.nearDupIngestSink(
        Streaming.fileStream(spark,
          spark.read.parquet(s"$src/b1").schema, s"$src/*"),
        spark, corpus,
        Files.createTempDirectory("graft-ndt-i2").toString + "/i",
        "doc_id", "text",
        Files.createTempDirectory("graft-ndt-ckp2").toString, textLsh)
    }
    assert(e.getMessage.contains("bandIndexWrite"), e.getMessage)
  }

  test("streaming near-dup VECTOR ingest (SRP twin): canonical keep, store-probe rejection, accepted-only, zero leaked pins") {
    import graft.operators.Dedup
    graft.GraftSession.sweepPersistedRdds(spark)
    val src = Files.createTempDirectory("graft-ndv-src").toString
    val corpus = Files.createTempDirectory("graft-ndv-c").toString + "/c"
    val index = Files.createTempDirectory("graft-ndv-i").toString + "/i"
    val ckp = Files.createTempDirectory("graft-ndv-ckp").toString
    // orthogonal basis directions are never near-dups at 0.8; exact
    // copies always are (cosine 1.0, identical SRP signature)
    def v(x: Float, y: Float, z: Float) = Array(x, y, z)
    val b1 = Seq((1L, v(1f, 0f, 0f)), (2L, v(1f, 0f, 0f)),
      (3L, v(0f, 1f, 0f)))
    val b2 = Seq((11L, v(1f, 0f, 0f)), (12L, v(0f, 0f, 1f)))
    def deliver(name: String, rows: Seq[(Long, Array[Float])]): Unit =
      rows.toDF("vec_id", "embedding").write.parquet(s"$src/$name")
    def drain(): Unit = {
      val schema = spark.read.parquet(s"$src/b1").schema
      Streaming.nearDupIngestSink(
        Streaming.fileStream(spark, schema, s"$src/*"),
        spark, corpus, index, "vec_id", "embedding", ckp,
        Dedup.Srp(threshold = 0.8)).awaitTermination()
    }
    deliver("b1", b1); drain()
    def corpusIds() = spark.read.parquet(corpus)
      .select("vec_id").as[Long].collect().toSet
    assert(corpusIds() === Set(1L, 3L),
      s"within-batch canonical keep broke: ${corpusIds()}")
    deliver("b2", b2); drain()
    assert(corpusIds() === Set(1L, 3L, 12L),
      s"corpus-touching rejection broke: ${corpusIds()}")
    // accepted-only: the SRP index holds exactly the survivors
    assert(Dedup.bandIndexRead(spark, index, Dedup.Srp(threshold = 0.8))
      .select("id").as[Long].collect().toSet === Set(1L, 3L, 12L))
    // survivors are pairwise below threshold
    assert(Dedup.lshPairs(
      spark.read.parquet(corpus).select("vec_id", "embedding"),
      "vec_id", "embedding", Dedup.Srp(threshold = 0.8)).count() === 0L)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"sink leaked ${spark.sparkContext.getPersistentRDDs.size} pinned RDDs")
    // standing corpus + fresh index path refuses at activation
    val e = intercept[IllegalArgumentException] {
      Streaming.nearDupIngestSink(
        Streaming.fileStream(spark,
          spark.read.parquet(s"$src/b1").schema, s"$src/*"),
        spark, corpus,
        Files.createTempDirectory("graft-ndv-i2").toString + "/i",
        "vec_id", "embedding",
        Files.createTempDirectory("graft-ndv-ckp2").toString,
        Dedup.Srp(threshold = 0.8))
    }
    assert(e.getMessage.contains("bandIndexWrite"), e.getMessage)
  }

  test("near-dup sinks refuse non-integral id columns and flat (non-epoch) corpus layouts at activation") {
    val src = Files.createTempDirectory("graft-ndrf-src").toString
    // non-integral id: the keep policy's cast("long") would NULL every
    // membership row and silently ADMIT near-duplicates
    Seq(("a", "alpha beta")).toDF("doc_id", "text")
      .write.parquet(s"$src/s1")
    val sschema = spark.read.parquet(s"$src/s1").schema
    val e1 = intercept[IllegalArgumentException] {
      Streaming.nearDupIngestSink(
        Streaming.fileStream(spark, sschema, s"$src/s*"), spark,
        Files.createTempDirectory("graft-ndrf-c1").toString + "/c",
        Files.createTempDirectory("graft-ndrf-i1").toString + "/i",
        "doc_id", "text",
        Files.createTempDirectory("graft-ndrf-ckp1").toString)
    }
    assert(e1.getMessage.contains("integral"), e1.getMessage)
    val e1t = intercept[IllegalArgumentException] {
      Streaming.nearDupIngestSink(
        Streaming.fileStream(spark, sschema, s"$src/s*"), spark,
        Files.createTempDirectory("graft-ndrf-c2").toString + "/c",
        Files.createTempDirectory("graft-ndrf-i2").toString + "/i",
        "doc_id", "text",
        Files.createTempDirectory("graft-ndrf-ckp2").toString,
        graft.operators.Dedup.MinHash(threshold = 0.0))
    }
    assert(e1t.getMessage.contains("integral"), e1t.getMessage)
    // flat corpus layout: EpochIndex.nonEmpty reads it as empty, so
    // the corpus-ahead-of-index guard would silently pass over
    // standing data — the layout check refuses first
    Seq((1L, "alpha beta")).toDF("doc_id", "text")
      .write.parquet(s"$src/l1")
    val flat = Files.createTempDirectory("graft-ndrf-flat").toString + "/c"
    Seq((9L, "standing flat corpus")).toDF("doc_id", "text")
      .write.parquet(flat)
    val lschema = spark.read.parquet(s"$src/l1").schema
    val e2 = intercept[IllegalArgumentException] {
      Streaming.nearDupIngestSink(
        Streaming.fileStream(spark, lschema, s"$src/l*"), spark, flat,
        Files.createTempDirectory("graft-ndrf-i3").toString + "/i",
        "doc_id", "text",
        Files.createTempDirectory("graft-ndrf-ckp3").toString)
    }
    assert(e2.getMessage.contains("epoch layout"), e2.getMessage)
    // the cert sinks share the layout guard
    val e3 = intercept[IllegalArgumentException] {
      Streaming.certIngestSink(
        Streaming.fileStream(spark, lschema, s"$src/l*"), spark, flat,
        Files.createTempDirectory("graft-ndrf-l4").toString + "/l",
        Files.createTempDirectory("graft-ndrf-i4").toString + "/i",
        "doc_id", "text",
        Files.createTempDirectory("graft-ndrf-ckp4").toString,
        threshold = 0.5)
    }
    assert(e3.getMessage.contains("epoch layout"), e3.getMessage)
  }

  test("unified activation preamble: count/cleaning/cap sinks refuse flat corpus layouts, cap sink refuses non-integral ids") {
    val src = Files.createTempDirectory("graft-uact-src").toString
    Seq((1L, "alpha beta")).toDF("doc_id", "text")
      .write.parquet(s"$src/s1")
    val schema = spark.read.parquet(s"$src/s1").schema
    // a standing FLAT corpus: before round 18 every partialIngestSink
    // family would silently interleave _epoch= partitions into it —
    // now the shared preamble refuses at activation, same as the
    // cert/near-dup sinks always did
    val flat = Files.createTempDirectory("graft-uact-flat").toString + "/c"
    Seq((9L, "standing flat corpus")).toDF("doc_id", "text")
      .write.parquet(flat)
    val eGram = intercept[IllegalArgumentException] {
      Streaming.gramFreqIngestSink(
        Streaming.fileStream(spark, schema, s"$src/s*"), spark, flat,
        Files.createTempDirectory("graft-uact-i1").toString + "/i",
        "doc_id", "text",
        Files.createTempDirectory("graft-uact-ckp1").toString)
    }
    assert(eGram.getMessage.contains("epoch layout"), eGram.getMessage)
    val eBp = intercept[IllegalArgumentException] {
      Streaming.boilerplateIngestSink(
        Streaming.fileStream(spark, schema, s"$src/s*"), spark, flat,
        Files.createTempDirectory("graft-uact-i2").toString + "/i",
        "text", "doc_id",
        Files.createTempDirectory("graft-uact-ckp2").toString,
        sep = "\n", minDocs = 2)
    }
    assert(eBp.getMessage.contains("epoch layout"), eBp.getMessage)
    val eZm = intercept[IllegalArgumentException] {
      Streaming.zoneMapIngestSink(
        Streaming.fileStream(spark, schema, s"$src/s*"), spark, flat,
        Files.createTempDirectory("graft-uact-m3").toString + "/m",
        Seq("doc_id"),
        Files.createTempDirectory("graft-uact-ckp3").toString)
    }
    assert(eZm.getMessage.contains("epoch layout"), eZm.getMessage)
    // the cap sink's quota keep rejoins kept ids through cast("long")
    // — a string id would NULL the join and silently drop every row;
    // the shared integral-id refusal now covers it
    Seq(("a", "d1")).toDF("doc_id", "domain").write.parquet(s"$src/t1")
    val tschema = spark.read.parquet(s"$src/t1").schema
    val eCap = intercept[IllegalArgumentException] {
      Streaming.domainCapIngestSink(
        Streaming.fileStream(spark, tschema, s"$src/t*"), spark,
        Files.createTempDirectory("graft-uact-c4").toString + "/c",
        Files.createTempDirectory("graft-uact-i4").toString + "/i",
        "domain", "doc_id",
        Files.createTempDirectory("graft-uact-ckp4").toString,
        maxPerKey = 2, keyName = "domain")
    }
    assert(eCap.getMessage.contains("integral"), eCap.getMessage)
  }

  test("cert sinks: a standing corpus with an EMPTY certification index refuses at activation") {
    import graft.operators.Dedup
    // the silent-divergence shape: a corpus bootstrapped elsewhere
    // (or under a previous sink signature) pointed at a FRESH index
    // path would probe nothing and certify only self-pairs — the
    // ledger stops equaling the full exact join with no error. The
    // sink must refuse before any write lands.
    val src = Files.createTempDirectory("graft-certref-src").toString
    val corpus = Files.createTempDirectory("graft-certref-c").toString + "/c"
    val ledger = Files.createTempDirectory("graft-certref-l").toString + "/l"
    val index = Files.createTempDirectory("graft-certref-i").toString + "/i"
    val rows = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"))
    rows.toDF("doc_id", "text").write.parquet(s"$src/b1")
    // a pre-existing corpus at corpusPath, no index anywhere
    graft.operators.EpochIndex.bootstrap(rows.toDF("doc_id", "text"), corpus)
    val schema = spark.read.parquet(s"$src/b1").schema
    val e = intercept[IllegalArgumentException] {
      Streaming.certIngestSink(
        Streaming.fileStream(spark, schema, s"$src/*"),
        spark, corpus, ledger, index, "doc_id", "text",
        Files.createTempDirectory("graft-certref-ckp").toString,
        threshold = 0.5)
    }
    assert(e.getMessage.contains("certIndexWrite"), e.getMessage)
    // nothing landed under the refused activation
    assert(!graft.sources.Fs.exists(spark, ledger) &&
      !graft.sources.Fs.exists(spark, index))
    // the cosine twin refuses identically
    val vrows = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)))
    val vcorpus = Files.createTempDirectory("graft-certref-vc").toString + "/c"
    vrows.toDF("vec_id", "embedding").write.parquet(s"$src/v1")
    graft.operators.EpochIndex.bootstrap(
      vrows.toDF("vec_id", "embedding"), vcorpus)
    val vschema = spark.read.parquet(s"$src/v1").schema
    val e2 = intercept[IllegalArgumentException] {
      Streaming.certVecIngestSink(
        Streaming.fileStream(spark, vschema, s"$src/v*"),
        spark, vcorpus, ledger, index, "vec_id", "embedding",
        Files.createTempDirectory("graft-certref-vckp").toString,
        threshold = 0.4)
    }
    assert(e2.getMessage.contains("certIndexWrite"), e2.getMessage)
    // bootstrapping the index over the standing corpus clears the
    // refusal — the sink then runs and the induction holds
    Dedup.certIndexWrite(rows.toDF("doc_id", "text"), "doc_id", "text", index,
      Dedup.Jaccard(0.5, shingleK = 1))
    Dedup.certLedgerWrite(Dedup.exactJoin(rows.toDF("doc_id", "text"), "doc_id",
      "text", Dedup.Jaccard(0.5, shingleK = 1)), ledger,
      "jaccard", 0.5)
    Streaming.certIngestSink(
      Streaming.fileStream(spark, schema, s"$src/b*"),
      spark, corpus, ledger, index, "doc_id", "text",
      Files.createTempDirectory("graft-certref-ckp2").toString,
      threshold = 0.5).awaitTermination()
    val pairs = Dedup.certLedgerRead(spark, ledger, "jaccard", 0.5)
      .as[(Long, Long, Double)].collect().toSet
    // bootstrap pair (1,2)@1.0 + stream re-ingestions vs the standing
    // corpus: the ledger equals the full exact join over corpus ∪ batch
    val expect = Dedup.exactJoin((rows ++ rows).distinct.toDF("doc_id", "text"),
      "doc_id", "text", Dedup.Jaccard(0.5, shingleK = 1))
      .as[(Long, Long, Double)].collect().toSet ++
      Set((1L, 1L, 1.0), (2L, 2L, 1.0), (1L, 2L, 1.0))
    assert(pairs === expect, s"got $pairs")
  }

  test("cert sinks: a standing corpus with NO indexable rows tolerates an empty index (legitimate, not torn)") {
    import graft.operators.Dedup
    // the refusal's false positive: a corpus whose every text is
    // empty (or every vector zero-norm) legitimately produces an
    // EMPTY index — certIndexWrite could not make index rows from
    // it either, so refusing would brick the pipeline forever with a
    // repair instruction that cannot work
    val src = Files.createTempDirectory("graft-certtol-src").toString
    val corpus = Files.createTempDirectory("graft-certtol-c").toString + "/c"
    val ledger = Files.createTempDirectory("graft-certtol-l").toString + "/l"
    val index = Files.createTempDirectory("graft-certtol-i").toString + "/i"
    graft.operators.EpochIndex.bootstrap(
      Seq((900L, "   "), (901L, "")).toDF("doc_id", "text"), corpus)
    val rows = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"))
    rows.toDF("doc_id", "text").write.parquet(s"$src/b1")
    val schema = spark.read.parquet(s"$src/b1").schema
    Streaming.certIngestSink(
      Streaming.fileStream(spark, schema, s"$src/b*"),
      spark, corpus, ledger, index, "doc_id", "text",
      Files.createTempDirectory("graft-certtol-ckp").toString,
      threshold = 0.5).awaitTermination()
    // the unindexable standing docs contribute nothing; the ledger is
    // exactly the batch's own exact join
    assert(Dedup.certLedgerRead(spark, ledger, "jaccard", 0.5)
      .as[(Long, Long, Double)].collect().toSet ===
      Dedup.exactJoin(rows.toDF("doc_id", "text"), "doc_id", "text",
        Dedup.Jaccard(0.5, shingleK = 1))
        .as[(Long, Long, Double)].collect().toSet)
    // cosine twin: zero-norm standing corpus cannot band — tolerated
    val vcorpus = Files.createTempDirectory("graft-certtol-vc").toString + "/c"
    val vledger = Files.createTempDirectory("graft-certtol-vl").toString + "/l"
    val vindex = Files.createTempDirectory("graft-certtol-vi").toString + "/i"
    graft.operators.EpochIndex.bootstrap(
      Seq((900L, Array(0f, 0f)), (901L, Array(0f, 0f)))
        .toDF("vec_id", "embedding"), vcorpus)
    val vrows = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.99f, 0.05f)),
      (3L, Array(0.0f, 1.0f)))
    vrows.toDF("vec_id", "embedding").write.parquet(s"$src/v1")
    val vschema = spark.read.parquet(s"$src/v1").schema
    Streaming.certVecIngestSink(
      Streaming.fileStream(spark, vschema, s"$src/v*"),
      spark, vcorpus, vledger, vindex, "vec_id", "embedding",
      Files.createTempDirectory("graft-certtol-vckp").toString,
      threshold = 0.9).awaitTermination()
    assert(Dedup.certLedgerRead(spark, vledger, "cosine", 0.9)
      .as[(Long, Long, Double)].collect().toSet ===
      Dedup.exactJoin(vrows.toDF("vec_id", "embedding"), "vec_id", "embedding",
        Dedup.Cosine(0.9))
        .as[(Long, Long, Double)].collect().toSet)
  }

  test("certVecIngestSink + labelsPath: a first batch certifying ZERO pairs does not crash-loop the labels bootstrap") {
    import graft.operators.Dedup
    // pre-fix: the labels bootstrap read the ledger unconditionally
    // when the labels store was empty — but a zero-pair epoch append
    // is a no-op, so on a fresh pipeline the ledger held no data and
    // EpochIndex.read threw BEFORE the index/corpus writes, failing
    // the micro-batch and every at-least-once replay of it identically
    val src = Files.createTempDirectory("graft-lbz-src").toString
    val corpus = Files.createTempDirectory("graft-lbz-c").toString + "/c"
    val ledger = Files.createTempDirectory("graft-lbz-l").toString + "/l"
    val index = Files.createTempDirectory("graft-lbz-i").toString + "/i"
    val labels = Files.createTempDirectory("graft-lbz-lb").toString + "/lb"
    val ckp = Files.createTempDirectory("graft-lbz-ckp").toString
    // far-apart vectors: nothing certifies at 0.99
    val b1 = Seq((1L, Array(1.0f, 0.0f, 0.0f)), (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f)))
    b1.toDF("vec_id", "embedding").write.parquet(s"$src/b1")
    val schema = spark.read.parquet(s"$src/b1").schema
    def drain(): Unit = Streaming.certVecIngestSink(
      Streaming.fileStream(spark, schema, s"$src/*"),
      spark, corpus, ledger, index, "vec_id", "embedding", ckp,
      threshold = 0.99, labelsPath = Some(labels)).awaitTermination()
    drain()
    // the batch landed (index + corpus) even though no pair certified
    assert(Dedup.certIndexNonEmpty(spark, index, Dedup.Cosine(0.99)))
    assert(spark.read.parquet(corpus).count() === 3L)
    // a later batch WITH pairs folds normally and the store-read
    // repair view equals the from-scratch rebuild. The pair sits
    // BETWEEN b1's axes (cos ≈ 0.71 to each — below τ), so only the
    // batch-internal pair certifies and exactly one of (10, 11) is
    // repaired away.
    val b2 = Seq((10L, Array(0.7f, 0.701f, 0.0f)),
      (11L, Array(0.7f, 0.702f, 0.0f)))
    b2.toDF("vec_id", "embedding").write.parquet(s"$src/b2")
    drain()
    val keptIds = Dedup.repairSurvivorsFromStore(
      spark, spark.read.parquet(corpus).select("vec_id", "embedding"),
      "vec_id", labels, "cosine", 0.99)
      .select("vec_id").as[Long].collect().toSet
    val rebuilt = Dedup.repairSurvivors(
      spark.read.parquet(corpus).select("vec_id"),
      Dedup.connectedComponents(
        Dedup.certLedgerRead(spark, ledger, "cosine", 0.99)
          .select(col("id_a"), col("id_b"))), "vec_id")
      .as[Long].collect().toSet
    assert(keptIds === rebuilt, s"store $keptIds vs rebuilt $rebuilt")
    assert(keptIds.size === 4, s"expected one of (10,11) repaired: $keptIds")
  }

  test("certVecIngestSink: a later batch with fewer than two bandable vectors certifies its cross pairs and keeps the stream running") {
    import graft.operators.Dedup
    // one nonzero-norm and one zero-norm vector: the batch's self-join
    // has < 2 pivots to block on and no pair to find — it must come
    // back empty, not fail the micro-batch (and every replay of it)
    val src = Files.createTempDirectory("graft-v1-src").toString
    val corpus = Files.createTempDirectory("graft-v1-c").toString + "/c"
    val ledger = Files.createTempDirectory("graft-v1-l").toString + "/l"
    val index = Files.createTempDirectory("graft-v1-i").toString + "/i"
    val ckp = Files.createTempDirectory("graft-v1-ckp").toString
    val b1 = Seq((1L, Array(1.0f, 0.0f, 0.0f)), (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f)))
    val b2 = Seq((10L, Array(0.99f, 0.05f, 0.0f)), (11L, Array(0.0f, 0.0f, 0.0f)))
    def drain(): Unit = Streaming.certVecIngestSink(
      Streaming.fileStream(spark, spark.read.parquet(s"$src/b1").schema,
        s"$src/*"),
      spark, corpus, ledger, index, "vec_id", "embedding", ckp,
      threshold = 0.9).awaitTermination()
    b1.toDF("vec_id", "embedding").write.parquet(s"$src/b1")
    drain()
    b2.toDF("vec_id", "embedding").write.parquet(s"$src/b2")
    drain()
    assert(spark.read.parquet(corpus).count() === 5L)
    // the one bandable newcomer still certifies against the corpus
    assert(Dedup.certLedgerRead(spark, ledger, "cosine", 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet ===
      Set((1L, 10L)))
  }

  test("streaming SEMANTIC certification: cosine ledger ≡ full exact join after every activation, frozen first-batch pivots, compaction-safe") {
    import graft.operators.{Dedup, Maintenance}
    val src = Files.createTempDirectory("graft-vcert-src").toString
    val corpus = Files.createTempDirectory("graft-vcert-c").toString + "/c"
    val ledger = Files.createTempDirectory("graft-vcert-l").toString + "/l"
    val index = Files.createTempDirectory("graft-vcert-i").toString + "/i"
    val labels = Files.createTempDirectory("graft-vcert-lb").toString + "/lb"
    val ckp = Files.createTempDirectory("graft-vcert-ckp").toString
    val rnd = new scala.util.Random(61)
    def noise() = Array.fill(8)(rnd.nextGaussian().toFloat)
    def near(b: Array[Float]) =
      b.map(x => x + 0.05f * rnd.nextGaussian().toFloat)
    val c1 = noise()
    val b1 = (0 until 10).map(i => (i.toLong, near(c1))) ++
      (10 until 25).map(i => (i.toLong, noise()))
    val b2 = (100 until 105).map(i => (i.toLong, near(c1))) ++
      (105 until 115).map(i => (i.toLong, noise()))
    val b3 = (200 until 203).map(i => (i.toLong, near(c1)))
    def deliver(name: String, rows: Seq[(Long, Array[Float])]): Unit =
      rows.toDF("vec_id", "embedding").write.parquet(s"$src/$name")
    def drain(lp: String = labels): Unit = {
      val schema = spark.read.parquet(s"$src/b1").schema
      Streaming.certVecIngestSink(
        Streaming.fileStream(spark, schema, s"$src/*"),
        spark, corpus, ledger, index, "vec_id", "embedding", ckp,
        threshold = 0.9, labelsPath = Some(lp)).awaitTermination()
    }
    // the live repaired set, read FROM THE STORE (never a CC recompute)
    def storeKept(lp: String = labels) = Dedup.repairSurvivorsFromStore(
      spark, spark.read.parquet(corpus).select("vec_id", "embedding"),
      "vec_id", lp, "cosine", 0.9)
    // the from-scratch arbiter: CC over the full ledger, canonical keep
    def rebuiltKeptIds() = Dedup.repairSurvivors(
      spark.read.parquet(corpus).select("vec_id"),
      Dedup.connectedComponents(
        Dedup.certLedgerRead(spark, ledger, "cosine", 0.9)
          .select(col("id_a"), col("id_b"))), "vec_id")
      .as[Long].collect().toSet
    def ledgerPairs() = Dedup.certLedgerRead(spark, ledger, "cosine", 0.9)
      .as[(Long, Long, Double)].collect().toSet
    def fullPairs(rows: Seq[(Long, Array[Float])]) =
      Dedup.exactJoin(rows.toDF("vec_id", "embedding"), "vec_id", "embedding",
        Dedup.Cosine(0.9))
        .as[(Long, Long, Double)].collect().toSet
    deliver("b1", b1); drain()
    assert(ledgerPairs() === fullPairs(b1))
    assert(ledgerPairs().nonEmpty, "degenerate test corpus")
    assert(storeKept().select("vec_id").as[Long].collect().toSet ===
      rebuiltKeptIds(), "store-read repaired set diverged after b1")
    // compact ALL THREE stores mid-stream (ledger/index identity
    // folds, labels MIN fold); the next batch probes the compacted
    // index under the same frozen pivots and folds into the
    // compacted labeling
    assert(Maintenance.compactStore(spark, ledger).folded.nonEmpty)
    assert(Maintenance.compactStore(spark, index).folded.nonEmpty)
    assert(Maintenance.compactStore(spark, labels).folded.nonEmpty)
    deliver("b2", b2); drain()
    val expect = fullPairs(b1 ++ b2)
    assert(ledgerPairs() === expect,
      s"miss=${expect -- ledgerPairs()} extra=${ledgerPairs() -- expect}")
    assert(ledgerPairs().exists(p => p._1 < 100L && p._2 >= 100L),
      "no cross-batch pair — the probe path never ran")
    // the live repaired set survives the mid-stream labels compaction
    assert(storeKept().select("vec_id").as[Long].collect().toSet ===
      rebuiltKeptIds(),
      "store-read repaired set diverged across the labels compaction")
    deliver("b3", b3); drain()
    assert(ledgerPairs() === fullPairs(b1 ++ b2 ++ b3))
    // the live repair view FROM THE STORE: zero pairs >= tau among the
    // store-kept survivors, cross-cell included (q232's contract, live)
    val kept = storeKept()
    assert(kept.select("vec_id").as[Long].collect().toSet ===
      rebuiltKeptIds(), "store-read repaired set diverged after b3")
    assert(Dedup.exactJoin(kept, "vec_id", "embedding",
      Dedup.Cosine(0.9)).count() === 0L, "repair left residual pairs")
    // MID-LIFE ADOPTION self-heal: a labels store introduced only now,
    // over a ledger three activations deep, bootstraps from the FULL
    // ledger at its first fold — no manual CC bootstrap step
    val late = Files.createTempDirectory("graft-vcert-lb2").toString + "/lb2"
    deliver("b4", Seq((300L, near(c1)), (301L, noise()))); drain(late)
    assert(storeKept(late).select("vec_id").as[Long].collect().toSet ===
      rebuiltKeptIds(),
      "late-adopted labels store failed to bootstrap from the ledger")
    // another tau refuses before writing anything
    val ckp2 = Files.createTempDirectory("graft-vcert-ckp2").toString
    val schema = spark.read.parquet(s"$src/b1").schema
    val e = intercept[Throwable] {
      Streaming.certVecIngestSink(
        Streaming.fileStream(spark, schema, s"$src/*"),
        spark, corpus, ledger, index, "vec_id", "embedding", ckp2,
        threshold = 0.4).awaitTermination()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("do not match")),
      chain(e).mkString(" | "))
  }

  test("streaming quality gate: kept corpus ≡ inline gate against the frozen stores, rejects carry named reasons") {
    import graft.operators.{LmFilter, Quality}
    val src = Files.createTempDirectory("graft-qg-src").toString
    val corpus = Files.createTempDirectory("graft-qg-corpus").toString + "/c"
    val rejects = Files.createTempDirectory("graft-qg-rej").toString + "/r"
    val lmStore = Files.createTempDirectory("graft-qg-lm").toString + "/lm"
    val cutsStore = Files.createTempDirectory("graft-qg-cuts").toString + "/q"
    val ckp = Files.createTempDirectory("graft-qg-ckp").toString
    // frozen artifact 1: reference LM trained on fluent bigrams
    val ref = (0 until 20).map(i =>
      (i.toLong, "alpha beta gamma delta alpha beta gamma delta"))
      .toDF("doc_id", "text")
    LmFilter.lmIndexWrite(
      LmFilter.lmIndex(ref, "doc_id", "text"), lmStore, 4096, 32768)
    // frozen artifact 2: per-source ppl cuts from a calibration slice
    // (6 fluent + 3 gibberish per source → the tail third is gibberish)
    val calib = (for {
      s <- Seq("web", "ref"); i <- 0 until 9
    } yield {
      val base = if (s == "web") 1000L else 2000L
      val text =
        if (i < 6) "alpha beta gamma delta alpha beta"
        else s"zeta$i eta$i theta$i iota$i kappa$i"
      (base + i, s, text)
    }).toDF("doc_id", "source", "text")
    val calibScored = calib.join(
      LmFilter.lmPerplexity(calib, "doc_id", "text",
        LmFilter.lmIndexRead(spark, lmStore, 4096, 32768))
        .select("doc_id", "ppl"), Seq("doc_id"))
    Quality.qualityCutsWrite(spark,
      cutsStore, Quality.qualityCuts(calibScored, "ppl", Seq("source")),
      "ppl", Seq("source"))
    // the stream: fluent docs, gibberish, a short doc, an
    // uncalibrated source (must fail the lm gate: unknowable ≠ head)
    val batch = Seq(
      (1L, "web", "alpha beta gamma delta alpha beta gamma"),
      (2L, "web", "omega psi chi phi upsilon tau sigma rho"),
      (3L, "ref", "alpha beta gamma delta"),
      (4L, "ref", "alpha beta"),
      (5L, "mystery", "alpha beta gamma delta alpha beta gamma"))
    def deliver(name: String, rows: Seq[(Long, String, String)]): Unit =
      rows.toDF("doc_id", "source", "text").write.parquet(s"$src/$name")
    deliver("b1", batch)
    def lengthFloor = "length" ->
      (graft.functions.TextFunctions.tokenCount(col("text")) >= 3)
    Streaming.qualityGateIngestSink(
      Streaming.fileStream(spark,
        spark.read.parquet(s"$src/b1").schema, s"$src/*"),
      spark, corpus, rejects, lmStore, cutsStore,
      "doc_id", "text", "source", ckp,
      extraChecks = Seq(lengthFloor))
      .awaitTermination()
    // the judge: the same gate run inline against the same frozen stores
    val inline = Quality.gateReasons(
      Quality.qualityBucketsWith(
        batch.toDF("doc_id", "source", "text").join(
          LmFilter.lmPerplexity(batch.toDF("doc_id", "source", "text"),
            "doc_id", "text",
            LmFilter.lmIndexRead(spark, lmStore, 4096, 32768))
            .select("doc_id", "ppl"), Seq("doc_id")),
        "ppl", Seq("source"),
        Quality.qualityCutsRead(spark, cutsStore, "ppl", Seq("source")),
        as = "_qg_bucket"),
      Seq("lm" -> (col("_qg_bucket").isNotNull &&
        col("_qg_bucket") =!= "tail"), lengthFloor))
    val keptExpected = inline.filter(col("keep"))
      .select("doc_id").as[Long].collect().toSet
    val kept = spark.read.parquet(corpus).select("doc_id")
      .as[Long].collect().toSet
    assert(kept === keptExpected, s"stream gate diverged from inline")
    assert(kept.nonEmpty && kept.size < batch.size,
      s"degenerate gate (kept $kept of ${batch.map(_._1)})")
    // fluent calibrated docs pass; the uncalibrated source must not
    assert(kept.contains(1L) && !kept.contains(5L))
    val rej = spark.read.parquet(rejects)
      .select("doc_id", "reasons").as[(Long, String)].collect().toMap
    assert(rej.keySet === batch.map(_._1).toSet -- kept)
    assert(rej.values.forall(r => r.nonEmpty &&
      r.split(",").forall(Set("lm", "length").contains)),
      s"unnamed or unknown reject reasons: $rej")
    // gibberish fails the lm gate by name; the short doc names length
    assert(rej(2L).contains("lm") && rej(4L).contains("length"))
    assert(rej(5L).contains("lm"), "uncalibrated source must fail lm")
  }

  test("streaming bm25 ingest: stored probe ≡ full-corpus scoring over everything delivered") {
    import graft.operators.Relevance
    val src = Files.createTempDirectory("graft-bm-src").toString
    val corpus = Files.createTempDirectory("graft-bm-corpus").toString + "/c"
    val index = Files.createTempDirectory("graft-bm-idx").toString + "/i"
    val ckp = Files.createTempDirectory("graft-bm-ckp").toString
    val batch1 = Seq((1L, "spark join join merge"), (2L, "join duck pond"),
      (3L, "window window spark"))
    val batch2 = Seq((4L, "pond goose duck duck"), (5L, "join window merge"),
      (6L, ""))
    def deliver(name: String, rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").write.parquet(s"$src/$name")
    def drain(): Unit = {
      val schema = spark.read.parquet(s"$src/b1").schema
      Streaming.bm25IngestSink(
        Streaming.fileStream(spark, schema, s"$src/*"),
        spark, corpus, index, "doc_id", "text", ckp)
        .awaitTermination()
    }
    deliver("b1", batch1); drain()
    deliver("b2", batch2); drain()
    val terms = Seq("join", "window")
    val stored = Relevance.bm25IndexProbe(spark, index, "doc_id", "text",
      terms, k = 10).as[(Long, Int, Double)].collect().toSeq
    val direct = Relevance.bm25TopDocs(
      (batch1 ++ batch2).toDF("doc_id", "text"), "doc_id", "text",
      terms, k = 10).as[(Long, Int, Double)].collect().toSeq
    assert(stored === direct, s"stream $stored vs direct $direct")
    assert(spark.read.parquet(corpus).count() === 6L)
    // a fresh checkpoint against the kept store refuses loudly
    val freshCkp = Files.createTempDirectory("graft-bm-ckp2").toString
    val e = intercept[IllegalArgumentException] {
      Streaming.bm25IngestSink(
        Streaming.fileStream(spark,
          spark.read.parquet(s"$src/b1").schema, s"$src/*"),
        spark, corpus, index, "doc_id", "text", freshCkp)
    }
    assert(e.getMessage.contains("fresh checkpoint"), e.getMessage)
  }

  test("streaming zone-map ingest: manifest tracks each epoch's files, pruned read equals full filter") {
    import graft.operators.Layout
    val src = Files.createTempDirectory("graft-zm-src").toString
    val corpus = Files.createTempDirectory("graft-zm-corpus").toString + "/c"
    val manifest = Files.createTempDirectory("graft-zm-man").toString + "/m"
    val ckp = Files.createTempDirectory("graft-zm-ckp").toString
    def drain(): Unit = {
      val schema = spark.read.parquet(s"$src/b1").schema
      Streaming.zoneMapIngestSink(
        Streaming.fileStream(spark, schema, s"$src/*"),
        spark, corpus, manifest, Seq("v"), ckp)
        .awaitTermination()
    }
    (0L until 100L).map(i => (i, i * 10)).toDF("id", "v")
      .repartition(2).write.parquet(s"$src/b1")
    drain()
    (100L until 200L).map(i => (i, i * 10)).toDF("id", "v")
      .repartition(2).write.parquet(s"$src/b2")
    drain()

    val man = Streaming.zoneMapManifestRead(spark, manifest)
    val table = spark.read.parquet(corpus)
    // every corpus data file is tracked exactly once
    val tracked = man.select("file").as[String].collect().sorted
    assert(tracked.distinct.length === tracked.length)
    assert(tracked.toSet === table.inputFiles.toSet,
      s"manifest files diverge from table files")
    assert(man.agg(sum("n_rows")).as[Long].head() === 200L)
    // pruning: a second-epoch range must read only second-epoch files
    val hit = Layout.pruneFiles(man, "v", lit(1500L), lit(1600L))
    assert(hit.nonEmpty && hit.forall(_.contains("_epoch=")),
      s"unexpected pruned set: $hit")
    val pruned = spark.read.parquet(hit: _*)
      .filter(col("v") >= 1500L && col("v") <= 1600L).select("id", "v")
    val full = table.filter(col("v") >= 1500L && col("v") <= 1600L)
      .select("id", "v")
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)
    assert(pruned.count() === 11L)
    assert(hit.size < tracked.length, "no files were pruned")
  }

  /** Every file under `root`, relative to it (empty when absent). */
  private def fileSet(root: String): Set[String] = {
    val base = java.nio.file.Paths.get(root)
    if (!Files.exists(base)) Set.empty
    else {
      val walk = Files.walk(base)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.filter(Files.isRegularFile(_))
          .map(base.relativize(_).toString).toSet
      } finally walk.close()
    }
  }

  test("manifest rule: a restart under other build parameters refuses at activation, store untouched (hll p, cms width, ivf id column)") {
    import graft.operators.Similarity
    def refusesUntouched(store: String)(start: => Unit): Unit = {
      val before = fileSet(store)
      assert(before.contains("_GRAFT_META"), before)
      val e = intercept[IllegalArgumentException](start)
      assert(e.getMessage.contains("do not match"), e.getMessage)
      assert(fileSet(store) === before)
    }
    // hll: same checkpoint, p + 1 (no refusal class: the manifest rule alone)
    val hll = SinkFixtures.all(spark).toMap.apply("hllIngestSink")()
    val hllCkp = Files.createTempDirectory("graft-mr-hll").toString
    hll.deliver(0); hll.start(hllCkp).awaitTermination()
    // activation refuses before the stream is ever read
    def idle(corpus: String) = Streaming.fileStream(spark,
      spark.read.parquet(corpus).drop("_epoch").schema,
      Files.createTempDirectory("graft-mr-idle").toString)
    val Seq(hllCorpus, hllIdx) = hll.roots
    refusesUntouched(hllIdx) {
      Streaming.hllIngestSink(idle(hllCorpus), spark, hllCorpus, hllIdx,
        "grp", "v", 7, hllCkp)
    }
    // cms: same checkpoint (so the fresh-checkpoint refusal cannot fire),
    // another width
    val cms = SinkFixtures.all(spark).toMap.apply("cmsIngestSink")()
    val cmsCkp = Files.createTempDirectory("graft-mr-cms").toString
    cms.deliver(0); cms.start(cmsCkp).awaitTermination()
    val Seq(cmsCorpus, cmsIdx) = cms.roots
    refusesUntouched(cmsIdx) {
      Streaming.cmsIngestSink(idle(cmsCorpus), spark, cmsCorpus, cmsIdx,
        "item", 3, 128, cmsCkp)
    }
    // ivf: a stream keyed by another id column — the ivf erase reads the
    // id column from the manifest and could not see its assignments
    val ivf = SinkFixtures.all(spark).toMap.apply("ivfIngestSink")()
    val Seq(ivfIdx) = ivf.roots
    val ivfSrc = Files.createTempDirectory("graft-mr-ivf-src").toString
    Seq((500L, Array.fill(8)(0.5f))).toDF("id", "embedding")
      .write.parquet(s"$ivfSrc/b0")
    refusesUntouched(ivfIdx) {
      Streaming.ivfIngestSink(Streaming.fileStream(spark,
        spark.read.parquet(s"$ivfSrc/b0").schema, s"$ivfSrc/*"), spark,
        ivfIdx, "id", "embedding",
        Files.createTempDirectory("graft-mr-ivf-ckp").toString)
    }
    // the ivf manifest names the id column the store was built with
    assert(graft.operators.IndexMeta.read(spark, ivfIdx).get.params("cols")
      .startsWith("vec_id"))
    assert(Similarity.ivfIndexRead(spark, ivfIdx).assignments.count() === 20L)
  }

  test("at-least-once replay matrix: every ingest sink re-runs its newest epoch to the same rows, leaving nothing pinned") {
    val sc = spark.sparkContext
    val fixtures = SinkFixtures.all(spark)
    assert(fixtures.size === 19)
    fixtures.foreach { case (name, mk) =>
      val fx = mk()
      val ckp = Files.createTempDirectory("graft-replay-ckp").toString
      val pinned = sc.getPersistentRDDs.keySet
      fx.deliver(0); fx.start(ckp).awaitTermination()
      fx.deliver(1); fx.start(ckp).awaitTermination()
      def snapshot() = fx.roots.flatMap(SinkFixtures.tables(spark, _))
        .map(t => t -> SinkFixtures.rows(spark, t, fx.volatileCols.getOrElse(t, Nil)))
      val before = snapshot()
      assert(before.forall(_._2.nonEmpty), s"$name: an empty table ${before.filter(_._2.isEmpty).map(_._1)}")
      // forget epoch 1's commit: the restart re-runs it under the same id
      val commits = new java.io.File(ckp, "commits")
      assert(commits.list().toSet.contains("1") && !commits.list().contains("2"),
        s"$name: expected exactly two epochs, got ${commits.list().toSeq}")
      assert(new java.io.File(commits, "1").delete())
      new java.io.File(commits, ".1.crc").delete()
      fx.start(ckp).awaitTermination()
      assert(new java.io.File(commits, "1").exists(), s"$name: epoch 1 was not re-run")
      before.zip(snapshot()).foreach { case ((table, b), (_, a)) =>
        assert(a === b, s"$name: $table changed under the replay")
      }
      // no growth: the context cleaner may drop older RDDs meanwhile
      val leaked = sc.getPersistentRDDs.keySet -- pinned
      assert(leaked.isEmpty, s"$name left ${leaked.size} RDDs pinned")
    }
  }

  test("one ingest path: writeStream, runToken and IndexMeta.writeIfAbsent each have exactly one call site in Streaming.scala") {
    val code = new String(Files.readAllBytes(java.nio.file.Paths.get(
      "src/main/scala/graft/streaming/Streaming.scala")), "UTF-8")
      .split("\n").map(_.trim).filterNot(l =>
        l.startsWith("*") || l.startsWith("/*") || l.startsWith("//"))
    def sites(call: String) = code.count(l => l.contains(call) && !l.startsWith("def "))
    assert(sites(".writeStream") === 1)
    assert(code.count(l => l.contains("runToken(") &&
      !l.startsWith("private def runToken(")) === 1)
    assert(sites("IndexMeta.writeIfAbsent(") === 1)
  }
}
