package graft.streaming

import java.time.Duration

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StringType, StructField, StructType}

import graft.operators.{Dedup, EpochIndex, IndexMeta, Maintenance, Merge}
import graft.sources.Fs

/** Structured Streaming surface of the engine.
  *
  * The reference has no streaming engine — its real-time posture is a
  * daily cron snapshot + incremental merge (reference:
  * extract_stripe_data.py:143, README.md:102-129). That loop is
  * exactly `readStream → foreachBatch(mergeInto)` with
  * `Trigger.AvailableNow`: each activation drains whatever arrived,
  * upserts it by key, and stops — rerun-safe via checkpointing, and
  * identical semantics to the batch pipeline (SURVEY §2.10).
  *
  * On top of that, the two canonical streaming operators a pipeline
  * at scale needs: watermarked event-time windowed aggregation, and
  * custom session state via mapGroupsWithState. State stores shard by
  * grouping key across executors — the same partitioning story as the
  * batch operators.
  *
  * Every ingest sink (all but [[mergeSink]]) runs through ONE scaffold,
  * [[ingestSink]]: it declares the stores it writes, and the scaffold
  * owns the activation guards, the run token, the manifest rule, the
  * `AvailableNow` wiring and the per-epoch write/pin/release unit
  * ([[Epoch]]) — so a fix lands in every sink at once.
  */
object Streaming {

  // ------------------------------------------------------ ingest scaffold

  /** One store an ingest sink writes or reads: its role (named in
    * refusals), its root, and — for a persisted store family — the
    * manifest it is built under. A family store's epoch subroots come
    * from its [[graft.operators.Maintenance.Families]] entry; a plain
    * table (corpus, rejects, zone-map manifest) is its own root. */
  private final case class Store(role: String, root: String,
                                 meta: Option[IndexMeta] = None) {
    /** (path, inner partition columns) of every epoch subroot. */
    def subroots: Seq[(String, Seq[String])] = meta match {
      case None => Seq(root -> Nil)
      case Some(m) => Maintenance.familyOf(m).getOrElse(sys.error(
          s"no Maintenance.Families entry for family '${m.family}' at $root"))
        .substores.map(s => s.path(root) -> s.innerPartCols)
    }
    def nonEmpty(spark: SparkSession): Boolean =
      subroots.exists { case (p, inner) => EpochIndex.nonEmpty(spark, p, inner) }
  }

  private def store(role: String, root: String, meta: IndexMeta): Store =
    Store(role, root, Some(meta))

  /** A fresh-checkpoint refusal: the "… partials" noun the standing
    * store holds, and what a re-delivered source would break there.
    * None (`allowForeignEpochs = true`, or a family whose fold is
    * idempotent under replay) activates a fresh checkpoint freely. */
  private final case class Refusal(noun: String, hazard: String)

  private def refusal(allowForeignEpochs: Boolean, noun: String,
                      hazard: String): Option[Refusal] =
    Option.unless(allowForeignEpochs)(Refusal(noun, hazard))

  /** One micro-batch's write unit, named `<runToken>-<epochId>`: epoch
    * ids are only unique per checkpoint, so the run token (persisted
    * in the checkpoint dir) scopes them — a restart of the same
    * checkpoint reuses it and a replayed epoch rewrites its own
    * partitions; a reset checkpoint mints a fresh one, so its epoch 0
    * cannot dynamic-overwrite a kept table's old epoch-0 partition. */
  private final class Epoch(val id: String) {
    private var releases = List.empty[() => Unit]

    /** Epoch-scoped dynamic partition overwrite — THE replay-
      * idempotency contract every sink shares: foreachBatch is
      * at-least-once, and a retry of epoch N rewrites its own
      * `_epoch=<id>` partitions instead of double-appending.
      * `EpochIndex.append` carries the zero-row no-op guard (an empty
      * first write would create a file-less directory whose schema
      * inference bricks every later read). */
    def write(df: DataFrame, path: String, partCols: Seq[String] = Nil): Unit =
      EpochIndex.append(df, path, id, partCols)

    /** Materialize `df` once (eager `localCheckpoint`), released when
      * the epoch ends. A checkpoint, not `persist`: a frame that READS
      * a store this epoch then OVERWRITES must not recompute from the
      * mutating directory after a cache eviction — the severed lineage
      * fails loudly instead. */
    def pin(df: DataFrame): DataFrame = {
      val p = df.localCheckpoint(true)
      onRelease(() => release(p))
      p
    }

    def pin(partial: Dedup.LinePartial): Dedup.LinePartial = {
      val p = partial.localCheckpoint(true)
      onRelease(() => p.unpersist())
      p
    }

    /** Run `free` when the epoch ends (after its writes, or its failure). */
    def onRelease(free: () => Unit): Unit = releases ::= free

    private[Streaming] def releaseAll(): Unit = {
      val rs = releases
      releases = Nil
      rs.foreach(_())
    }
  }

  /** Release a `localCheckpoint`'s pinned block-manager blocks.
    * `Dataset.unpersist` is NOT this: it only consults the
    * CacheManager, which never sees checkpoint RDDs (blocks stay
    * pinned through `unpersist()`), so a sink relying on it leaks one
    * pinned RDD per micro-batch for the session lifetime — in the one
    * JVM (a long-lived streaming app) that has no harness sweep. */
  private def release(df: DataFrame): Unit =
    org.apache.spark.sql.graftbridge.Bridge.unpersistCheckpoint(df)

  /** Drain `stream` once (`AvailableNow`: the backlog, then stop),
    * checkpointed so a rerun resumes instead of reprocessing. */
  private def drain(stream: DataFrame, checkpoint: String)(
      perBatch: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch(perBatch)
      .start()

  /** THE ingest-sink scaffold. Activation refuses BEFORE any write
    * lands, in this order:
    *
    *  1. **Epoch layout** on every subroot of every store: data files
    *     outside the `_epoch=` layout mean a flat parquet table the
    *     sink's epoch-scoped reads and standing-state guards half-see
    *     (`EpochIndex.nonEmpty` reads it as empty) — interleaving
    *     `_epoch=` partitions into it would fork the table into two
    *     half-visible halves.
    *  2. **Integral ids** (`integralIdCols`): min-id canonical keeps,
    *     cap-quota joins and every RTBF path (`Maintenance.eraseAll`'s
    *     victim filters, `Maintenance.erasureAudit`'s id sweep) cast
    *     ids to long; a string id casts to NULL and silently corrupts
    *     the policy instead of failing (docs/DEPLOYMENT.md
    *     "Streaming ingest: the id contract").
    *  3. **Fresh checkpoint vs standing state** (`refusal`): a checkpoint
    *     with no run token yet, against a family store that already
    *     holds partials, means a reset source may re-deliver ingested
    *     rows — doubling additive state or re-admitting deduped
    *     documents.
    *  4. The sink's own `guard` (corpus-ahead-of-index, centroids).
    *  5. **The manifest rule**: every family store's existing
    *     `_GRAFT_META` must match the manifest this run builds under
    *     (another HLL `p`, CMS width or IVF id column refuses here, not
    *     after partials landed under the wrong parameters); an absent
    *     one is written first, before any partial can land behind it.
    *
    * Then each micro-batch runs `body` with its [[Epoch]], whose pins
    * are released when the batch ends. */
  private def ingestSink(stream: DataFrame, spark: SparkSession, sink: String,
                         checkpoint: String, stores: Seq[Store],
                         integralIdCols: Seq[String] = Nil,
                         refusal: Option[Refusal] = None,
                         guard: => Unit = ())(
      body: (DataFrame, Epoch) => Unit): StreamingQuery = {
    for (s <- stores; (p, _) <- s.subroots)
      EpochIndex.foreignDataFile(spark, p).foreach { f =>
        throw new IllegalArgumentException(
          s"$sink: the ${s.role} at $p holds data files outside the " +
            s"epoch layout (e.g. $f) — a flat parquet table this sink's " +
            "epoch-scoped reads and activation guards cannot see. " +
            "Re-ingest that data through an epoch write " +
            "(EpochIndex.bootstrap, or the family's IndexWrite) or point " +
            s"the sink at a fresh ${s.role} path")
      }
    integralIdCols.foreach { c =>
      val t = stream.schema(c).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(t),
        s"$sink: id column '$c' is ${t.simpleString}, not an integral " +
          "type — the sink's keep/erase policies (canonical-keep " +
          "classification, cap quotas, victim-id erasure and the RTBF " +
          "audit sweep) cast ids to long, which on this type yields NULLs " +
          "and silently corrupts the decision; map ids to a stable " +
          "integral key upstream (e.g. xxhash64 of the natural key) before " +
          "the sink — see docs/DEPLOYMENT.md, \"Streaming ingest: the id " +
          "contract\"")
    }
    if (!Fs.exists(spark, s"$checkpoint/$RunTokenFile")) refusal.foreach { r =>
      stores.find(s => s.meta.isDefined && s.nonEmpty(spark)).foreach { s =>
        throw new IllegalArgumentException(
          s"$sink: fresh checkpoint ($checkpoint) but ${s.root} already " +
            s"holds ${r.noun} partials. ${r.hazard} Restore the original " +
            "checkpoint, rebuild the corpus and this store from raw " +
            "sources, or — only if this run ingests strictly new rows — " +
            "pass allowForeignEpochs = true")
      }
    }
    guard
    val metas = for (s <- stores; m <- s.meta) yield s.root -> m
    metas.foreach { case (root, m) =>
      if (IndexMeta.read(spark, root).isDefined) IndexMeta.check(spark, root, m) }
    metas.foreach { case (root, m) =>
      // a concurrent first activation may have won the publish
      if (!IndexMeta.writeIfAbsent(spark, root, m)) IndexMeta.check(spark, root, m) }
    val token = runToken(spark, checkpoint)
    drain(stream, checkpoint) { (batch, epochId) =>
      val epoch = new Epoch(s"$token-$epochId")
      try body(batch, epoch) finally epoch.releaseAll()
    }
  }

  private val RunTokenFile = "graft-run-id"

  /** The checkpoint's run token ([[Epoch]]): read if minted, else
    * minted by write-to-temp + rename so the marker only ever exists
    * complete; a lost race to a concurrent first activation reads the
    * winner's. */
  private def runToken(spark: SparkSession, checkpoint: String): String = {
    val marker = new Path(checkpoint, RunTokenFile)
    val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(marker)) {
      val tmp = new Path(checkpoint, s".$RunTokenFile.tmp")
      val out = fs.create(tmp, true)
      try out.write(java.util.UUID.randomUUID().toString.getBytes("UTF-8"))
      finally out.close()
      if (!fs.rename(tmp, marker)) fs.delete(tmp, false)
    }
    val in = fs.open(marker)
    val token = try scala.io.Source.fromInputStream(in).mkString.trim
      finally in.close()
    // an empty marker means a crash landed between create and write —
    // two such runs would share the SAME (empty) token and the later
    // one's epoch-0 overwrite would delete the earlier one's data
    require(token.nonEmpty,
      s"$marker exists but is empty (crashed mint?) — delete it to mint a fresh run token")
    token
  }

  /** Zero-row frame with an explicit schema — the "no stored index
    * yet" read result. */
  private def emptyFrame(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  private def schema(fields: (String, org.apache.spark.sql.types.DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })

  /** Corpus-ahead-of-index refusal: a standing corpus over an EMPTY
    * index means every probe matches nothing, and the sink would
    * silently stop maintaining what it exists to maintain. `tolerated`
    * is the legitimately-empty case (a corpus with nothing indexable,
    * which the bootstrap writer could not index either). */
  private def requireIndexedCorpus(spark: SparkSession, sink: String,
                                   corpusPath: String, indexPath: String,
                                   indexed: => Boolean, tolerated: => Boolean,
                                   hazard: String, bootstrap: String): Unit =
    require(!EpochIndex.nonEmpty(spark, corpusPath) || indexed || tolerated,
      s"$sink: corpus at $corpusPath already holds data but the index at " +
        s"$indexPath is empty — probing would $hazard. Bootstrap the index " +
        s"over the standing corpus with $bootstrap first, or point the " +
        "sink at a fresh corpusPath")

  // -------------------------------------------- stateless stream operators

  /** File-based streaming source with an explicit schema (never infer
    * on a stream). `maxFilesPerTrigger` bounds micro-batch size so a
    * backlog replay cannot OOM an executor. */
  def fileStream(spark: SparkSession, schema: StructType, path: String,
                 format: String = "parquet",
                 maxFilesPerTrigger: Int = 64): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .format(format)
      .load(path)

  /** Event-time tumbling-window aggregation with a watermark: counts
    * and value sums per (window, event_type). Late rows beyond the
    * watermark are dropped — the *explicit* version of the reference's
    * silent late-data drop (SURVEY §2.10). */
  def windowedEventCounts(events: DataFrame,
                          tsCol: String = "ts",
                          windowLen: String = "1 hour",
                          lateness: String = "30 minutes"): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("total_value"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n_events"), col("total_value"))

  /** Stream–stream interval join: attach to each left event the right
    * events with the same key whose time falls in [left.ts − before,
    * left.ts + after] — the streaming form of the enrichment the batch
    * engine does with AsOfJoin/IntervalExpand (impressions ⟕ clicks
    * within an attribution window).
    *
    * Both sides carry watermarks and the join condition bounds the
    * time skew, which is what lets Spark EVICT state: without the
    * interval bounds a stream–stream join buffers both streams
    * forever. State is sharded by the join key like every keyed
    * operator here. Inner join: unmatched rows drop; use the batch
    * as-of for point-in-time-latest semantics. */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   leftKey: String, rightKey: String,
                   leftTs: String, rightTs: String,
                   before: String = "10 minutes", after: String = "10 minutes",
                   lateness: String = "30 minutes"): DataFrame = {
    require(Set(leftKey, rightKey, leftTs, rightTs).size == 4,
      "stream-stream join requires distinct column names per side")
    val l = left.withWatermark(leftTs, lateness)
    val r = right.withWatermark(rightTs, lateness)
    l.join(r, expr(
      s"""$leftKey = $rightKey AND
         |$rightTs >= $leftTs - INTERVAL $before AND
         |$rightTs <= $leftTs + INTERVAL $after""".stripMargin))
  }

  /** Streaming exact dedup on the KEY ALONE — the streaming twin of
    * Dedup.exactDedup: one surviving row per key, not per (key, ts).
    * dropDuplicatesWithinWatermark keeps state only for the watermark
    * horizon (bounded memory at any throughput) while deduplicating on
    * exactly the key columns, so two events with the same key at
    * different timestamps inside the horizon still collapse to one. */
  def streamingDedup(events: DataFrame, keyCols: Seq[String],
                     tsCol: String = "ts",
                     lateness: String = "1 hour"): DataFrame =
    events.withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark(keyCols)

  case class SessionEvent(user_id: Long, event_id: Long, ts: java.sql.Timestamp)
  case class SessionState(firstTs: Long, lastTs: Long, nEvents: Int)
  case class UserSession(user_id: Long, session_start: java.sql.Timestamp,
                         session_end: java.sql.Timestamp, n_events: Int)

  /** Gap-based sessionization with explicit state: flatMapGroupsWithState
    * keyed by user, emitting a session only when its close is OBSERVED —
    * a later event past the inactivity gap, or a processing-time timeout
    * with no new events. The open session survives in state across
    * micro-batches: closing it eagerly at batch end would split every
    * batch-spanning session in two and double-count sessions (the
    * KeyValueGroupedDataset custom-state path, SURVEY §2.10). */
  def sessionize(events: Dataset[SessionEvent], gap: Duration): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    val gapMs = gap.toMillis
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, UserSession](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
        (user: Long, rows: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          def close(s: SessionState) = UserSession(user,
            new java.sql.Timestamp(s.firstTs), new java.sql.Timestamp(s.lastTs),
            s.nEvents)
          if (state.hasTimedOut) {
            // no events for a full gap of wall time: the open session is over
            val out = state.getOption.map(close).iterator
            state.remove()
            out
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            val sessions = Seq.newBuilder[UserSession]
            var cur: Option[SessionState] = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.lastTs <= gapMs =>
                  cur = Some(SessionState(math.min(s.firstTs, t),
                    math.max(s.lastTs, t), s.nEvents + 1))
                case Some(s) =>
                  sessions += close(s)
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            // the trailing session stays OPEN in state until a later
            // batch closes it (or the timeout fires)
            cur match {
              case Some(s) =>
                state.update(s)
                state.setTimeoutDuration(gapMs)
              case None => state.remove()
            }
            sessions.result().iterator
          }
      }
  }

  /** The incremental-merge sink: every micro-batch upserts into the
    * parquet target by key — the reference's universal MERGE
    * materialization driven by a stream. AvailableNow = "drain the
    * backlog, then stop": the streaming analog of the daily batch
    * run, checkpointed so reruns resume instead of reprocessing.
    *
    * Each micro-batch delegates to Merge.mergeWrite, so per-batch cost
    * is O(updated partitions): only the `partitionCol` directories the
    * batch touches are read, merged, and dynamic-overwritten —
    * untouched partitions are never opened, the property that keeps a
    * 100 TB target's micro-batch constant-time (a full-table
    * read+rewrite per batch would be quadratic over the stream's
    * life). A keyed upsert is replay-idempotent by itself, so this
    * sink needs no run token and no activation guards. */
  def mergeSink(stream: DataFrame, spark: SparkSession, targetPath: String,
                keys: Seq[String], checkpoint: String, partitionCol: String,
                clusterCols: Seq[String] = Nil,
                versionCol: Option[String] = None): StreamingQuery =
    drain(stream, checkpoint) { (batch, _) =>
      Merge.mergeWrite(spark, targetPath, batch, keys, partitionCol,
        clusterCols, versionCol)
      ()
    }

  // --------------------------------------------------------- cleaning sinks

  /** THE cleaning sinks' epoch (exact dedup, line dedup, boilerplate,
    * domain cap): the batch is cleaned against the stored index (or an
    * empty one of `emptyIndex`'s schema while none is stored), then the
    * cleaned rows land in the corpus and the batch's index partial in
    * the index. `clean` returns (corpus rows, index partial), pinning
    * what it materializes through the epoch.
    *
    * `readIndex` receives this epoch's id to EXCLUDE: an at-least-once
    * replay must not clean the batch against its own earlier partial
    * (every batch doc reaches the corpus, so a replay that re-read its
    * own failed-commit partial would count each line twice, clean
    * differently, and overwrite epoch N with DIFFERENT rows). Corpus
    * before index: a crash between them re-runs the epoch with the
    * index still excluding it. */
  private def cleaningSink(stream: DataFrame, spark: SparkSession, sink: String,
                           corpusPath: String, indexPath: String,
                           checkpoint: String, meta: Option[IndexMeta],
                           emptyIndex: StructType,
                           integralIdCols: Seq[String] = Nil,
                           refusal: Option[Refusal] = None)(
      readIndex: String => DataFrame,
      clean: (DataFrame, DataFrame, Epoch) => (DataFrame, DataFrame)): StreamingQuery = {
    val index = Store("index", indexPath, meta)
    ingestSink(stream, spark, sink, checkpoint,
      Seq(Store("corpus", corpusPath), index), integralIdCols, refusal) {
      (batch, epoch) =>
        val (kept, partial) = clean(batch,
          if (index.nonEmpty(spark)) readIndex(epoch.id)
          else emptyFrame(spark, emptyIndex), epoch)
        epoch.write(kept, corpusPath)
        epoch.write(partial, indexPath)
    }
  }

  /** Streaming corpus ingest with cross-batch exact dedup — the
    * continuous form of the daily `Dedup.incrementalExactDedup` run:
    * each micro-batch keeps only documents whose canonical
    * fingerprint is new, appends the survivors to the corpus, and
    * appends their fingerprints to the stored index the NEXT batch
    * dedups against.
    *
    * The dedup state lives in the fingerprint TABLE, not in the
    * streaming state store — the scale-correct design:
    * `dropDuplicatesWithinWatermark` keeps per-key state in executor
    * memory and must evict by watermark, so a document seen again
    * after the horizon is re-admitted; a 100 TB corpus' identity is
    * permanent, unbounded, and shared with the batch path, which is
    * exactly what a parquet index gives (and why the batch and
    * streaming paths here provably produce the same corpus —
    * StreamingSpec). With `bloomExpectedItems` set, each batch folds
    * the index into a broadcast bloom prefilter
    * ([[graft.operators.Dedup.bloomIncrementalExactDedup]]) so
    * definitely-new rows skip the anti-join shuffle entirely.
    *
    * Unlike its cleaning siblings the index read includes the batch's
    * own epoch: the content-keyed index is self-healing — a replay
    * after the index write accepts nothing, and a zero-row overwrite
    * touches nothing — so a reset checkpoint needs no refusal either.
    * Hadoop-FS reads throughout (the index lives wherever the
    * cluster's storage is, where a local-file check would always be
    * false and re-admit the whole corpus every batch). */
  def dedupIngestSink(stream: DataFrame, spark: SparkSession,
                      corpusPath: String, indexPath: String,
                      textCol: String, idCol: String, checkpoint: String,
                      bloomExpectedItems: Option[Long] = None): StreamingQuery =
    cleaningSink(stream, spark, "dedupIngestSink", corpusPath, indexPath,
      checkpoint, meta = None, schema("fingerprint" -> StringType))(
      readIndex = _ => spark.read.parquet(indexPath).select("fingerprint"),
      clean = { (batch, index, epoch) =>
        val accepted = epoch.pin(bloomExpectedItems match {
          case Some(n) if index.limit(1).count() > 0 =>
            Dedup.bloomIncrementalExactDedup(batch, textCol, idCol, index, n)
          case _ => Dedup.incrementalExactDedup(batch, textCol, idCol, index)
        })
        (accepted.drop("fingerprint"), accepted.select("fingerprint"))
      })

  /** Streaming keep-first line-dedup ingest — the streaming shape of
    * `Dedup.incrementalDedupLines` (q142's family): each micro-batch
    * is cleaned against the stored first-occurrence index + its own
    * first occurrences, lands in the corpus, and appends its index
    * partial. The append-only id-order contract (corpus ids precede
    * batch ids) is the caller's: ingest order IS the id order in this
    * family. Fresh-checkpoint refusal: a reset checkpoint re-delivering
    * ingested documents would find their own lines in the index and
    * blank every re-delivered doc. */
  def lineDedupIngestSink(stream: DataFrame, spark: SparkSession,
                          corpusPath: String, indexPath: String,
                          textCol: String, idCol: String,
                          checkpoint: String, sep: String,
                          minLineLen: Int = 1,
                          allowForeignEpochs: Boolean = false): StreamingQuery =
    cleaningSink(stream, spark, "lineDedupIngestSink", corpusPath, indexPath,
      checkpoint, Some(Dedup.lineIndexMeta(sep, minLineLen)),
      schema("fp" -> StringType, "wid" -> LongType, "wpos" -> IntegerType),
      refusal = refusal(allowForeignEpochs, "first-occurrence",
        "If the source re-delivers ingested documents, their own lines " +
          "would dedup them to empty."))(
      readIndex = ex => Dedup.lineFirstOccIndexRead(spark, indexPath,
        Some(ex), sep, minLineLen),
      clean = { (batch, index, epoch) =>
        val partial = epoch.pin(
          Dedup.lineFirstOccPartial(batch, idCol, textCol, sep, minLineLen))
        (epoch.pin(Dedup.incrementalDedupLines(batch, idCol, textCol, index,
          sep, minLineLen, batchIndex = Some(partial))), partial.frame)
      })

  /** Streaming boilerplate-cleaning ingest — the continuous form of
    * `Dedup.incrementalRemoveBoilerplate`: each micro-batch is cleaned
    * against corpus-wide line frequencies (prior epochs' stored counts
    * + the batch's own), the cleaned documents land in the corpus,
    * and the batch's line-count PARTIAL joins the index the next batch
    * reads. The index is LOG-STRUCTURED — one (fp, n_docs) partial per
    * epoch partition, readers sum per fingerprint
    * ([[graft.operators.Dedup.boilerplateIndexRead]]); counts are
    * additive over disjoint doc sets, so per-epoch partials + the
    * epoch overwrite compose into replay idempotency. Fresh-checkpoint
    * refusal: counts are keyed by doc id, so re-ingesting the same
    * documents under a fresh token silently doubles every count and
    * over-removes forever after; a caller whose new run genuinely
    * ingests only NEW documents may override. */
  def boilerplateIngestSink(stream: DataFrame, spark: SparkSession,
                            corpusPath: String, indexPath: String,
                            textCol: String, idCol: String,
                            checkpoint: String, sep: String, minDocs: Int,
                            minLineLen: Int = 1,
                            allowForeignEpochs: Boolean = false): StreamingQuery =
    cleaningSink(stream, spark, "boilerplateIngestSink", corpusPath, indexPath,
      checkpoint, Some(Dedup.boilerplateIndexMeta(sep, minLineLen)),
      schema("fp" -> StringType, "n_docs" -> LongType),
      refusal = refusal(allowForeignEpochs, "count",
        "If the source re-delivers ingested documents, their line counts " +
          "would double silently."))(
      readIndex = ex => Dedup.boilerplateIndexRead(spark, indexPath,
        Some(ex), sep, minLineLen),
      clean = { (batch, index, epoch) =>
        val partial = epoch.pin(
          Dedup.boilerplateCountsPartial(batch, idCol, textCol, sep, minLineLen))
        (epoch.pin(Dedup.incrementalRemoveBoilerplate(batch, idCol, textCol,
          index, sep, minDocs, minLineLen, batchCounts = Some(partial))),
          partial.frame)
      })

  /** Streaming per-domain cap ingest — the caps family's streaming
    * shape (q146's incremental contract applied per micro-batch):
    * each batch keeps rows while the key's global arrival quota
    * lasts, lands survivors in the corpus, and appends the batch's
    * per-key TOTAL counts (kept AND dropped — the raw-totals
    * contract that makes the index fold an associative SUM) as one
    * epoch partial. The kept set ≡ `capPerKeyArrival` over
    * everything delivered, under the family's append-only contract
    * (ingest order IS id order here). Fresh-checkpoint refusal: a
    * reset source re-delivering ingested rows would double every
    * count and starve later arrivals of quota — counts are id-blind,
    * so this shape cannot self-heal. */
  def domainCapIngestSink(stream: DataFrame, spark: SparkSession,
                          corpusPath: String, indexPath: String,
                          keyCol: String, idCol: String,
                          checkpoint: String, maxPerKey: Int,
                          keyName: String,
                          allowForeignEpochs: Boolean = false): StreamingQuery = {
    import graft.operators.Curation
    cleaningSink(stream, spark, "domainCapIngestSink", corpusPath, indexPath,
      checkpoint, Some(Curation.capIndexMeta(keyName)),
      schema("key" -> StringType, "n" -> LongType),
      // the quota keep rejoins kept ids to the batch through a long cast
      integralIdCols = Seq(idCol),
      refusal = refusal(allowForeignEpochs, "count",
        "If the source re-delivers ingested rows, every count doubles and " +
          "later arrivals are starved of quota."))(
      readIndex = ex => Curation.capCountIndexRead(spark, indexPath, keyName,
        Some(ex)),
      clean = { (batch, prior, epoch) =>
        // built ONCE: feeds the keep decision AND is the index write
        val partial = epoch.pin(
          Curation.capCountIndex(batch, col(keyCol), col(idCol)))
        val keptIds = Curation.incrementalCapPerKey(batch,
          col(keyCol), col(idCol), maxPerKey, prior)
        (epoch.pin(batch.join(keptIds.select(col("id").cast("long").as(idCol)),
          Seq(idCol), "left_semi")), partial)
      })
  }

  // ---------------------------------------------------------- partial sinks

  /** THE partial-appending profile/index sinks' epoch (sample sketch,
    * HLL, KMV, CMS, islands, digest, gram counts, LM, BM25): a
    * non-empty batch lands in the corpus, then each of its partials
    * (`buildPartials`: store-subdir → partial, "" = the store root)
    * in the store — all under the epoch overwrite, so an at-least-once
    * replay rewrites its own partitions; an empty batch writes nothing
    * anywhere. `refusal` is None for idempotent-fold families
    * (max-merge HLL, union KMV, re-merge islands), whose stores
    * self-heal under replay. */
  private def partialIngestSink(stream: DataFrame, spark: SparkSession,
                                sink: String,
                                corpusPath: String, indexPath: String,
                                checkpoint: String, meta: IndexMeta,
                                refusal: Option[Refusal])(
      buildPartials: DataFrame => Seq[(String, DataFrame)]): StreamingQuery =
    ingestSink(stream, spark, sink, checkpoint,
      Seq(Store("corpus", corpusPath), store("store", indexPath, meta)),
      refusal = refusal) { (batch, epoch) =>
      if (!batch.isEmpty) {
        val partials = buildPartials(batch).map { case (p, df) => p -> epoch.pin(df) }
        epoch.write(batch, corpusPath)
        partials.foreach { case (p, df) =>
          epoch.write(df, if (p.isEmpty) indexPath else s"$indexPath/$p")
        }
      }
    }

  /** Streaming profile-maintenance ingest — the sample-sketch
    * family's streaming shape: every micro-batch lands raw in the
    * corpus and appends its per-group k-sample sketch as one epoch
    * partial, so the profile store answers quantiles over everything
    * ever delivered (bottom-k closure across epoch folds) without a
    * rescan. Sketch triples are content-keyed by (h52, id, v) and the
    * fold dedups an identical resample, so the STORE self-heals; the
    * fresh-checkpoint refusal stays only to stop the CORPUS from
    * double-landing re-delivered rows. */
  def sampleSketchIngestSink(stream: DataFrame, spark: SparkSession,
                             corpusPath: String, indexPath: String,
                             groupCol: String, idCol: String,
                             valueCol: String, k: Int,
                             checkpoint: String,
                             allowForeignEpochs: Boolean = false): StreamingQuery = {
    import graft.operators.SampleSketch
    partialIngestSink(stream, spark, "sampleSketchIngestSink",
      corpusPath, indexPath, checkpoint,
      SampleSketch.indexMeta(k, groupCol, valueCol),
      refusal(allowForeignEpochs, "sketch",
        "A reset source would re-land its rows in the corpus (the profile " +
          "store itself self-heals — identical resampled triples dedup in " +
          "the fold).")) { batch =>
      Seq("" -> SampleSketch.sampleSketch(batch, col(groupCol),
        col(idCol), col(valueCol), k))
    }
  }

  /** Streaming HLL-profile ingest: each micro-batch lands in the
    * corpus and appends its per-group register partial; reads
    * max-merge across epochs (`Cardinality.hllIndexRead`), and because
    * max-merge is IDEMPOTENT a replayed partial can never inflate an
    * estimate — no fresh-checkpoint refusal for the STORE (the corpus
    * write still relies on the epoch overwrite). */
  def hllIngestSink(stream: DataFrame, spark: SparkSession,
                    corpusPath: String, indexPath: String,
                    groupCol: String, valueCol: String, p: Int,
                    checkpoint: String): StreamingQuery = {
    import graft.operators.Cardinality
    partialIngestSink(stream, spark, "hllIngestSink",
      corpusPath, indexPath, checkpoint,
      Cardinality.hllMeta(p, valueCol), refusal = None) { batch =>
      Seq("" -> Cardinality.hllSketch(batch, col(groupCol), col(valueCol), p))
    }
  }

  /** Streaming KMV ingest — the bottom-k twin of [[hllIngestSink]]:
    * reads union-and-retruncate across epochs
    * (`Cardinality.kmvIndexRead`); `array_union` dedupes, so a
    * replayed partial merges to itself — no fresh-checkpoint refusal
    * for the STORE. */
  def kmvIngestSink(stream: DataFrame, spark: SparkSession,
                    corpusPath: String, indexPath: String,
                    groupCol: String, valueCol: String, k: Int,
                    checkpoint: String): StreamingQuery = {
    import graft.operators.Cardinality
    partialIngestSink(stream, spark, "kmvIngestSink",
      corpusPath, indexPath, checkpoint,
      Cardinality.kmvMeta(k, valueCol), refusal = None) { batch =>
      Seq("" -> Cardinality.kmvSketch(batch, col(groupCol), col(valueCol), k))
    }
  }

  /** Streaming count-min ingest: each micro-batch appends its d×w
    * cell-count partial; reads SUM across epochs
    * (`HeavyHitters.cmsIndexRead`). Counts are additive — NOT
    * idempotent — so a reset source re-landing counted rows would
    * silently double every estimate: hence the refusal. */
  def cmsIngestSink(stream: DataFrame, spark: SparkSession,
                    corpusPath: String, indexPath: String,
                    itemCol: String, depth: Int, width: Int,
                    checkpoint: String,
                    allowForeignEpochs: Boolean = false): StreamingQuery = {
    import graft.operators.HeavyHitters
    partialIngestSink(stream, spark, "cmsIngestSink",
      corpusPath, indexPath, checkpoint,
      HeavyHitters.cmsMeta(depth, width, itemCol),
      refusal(allowForeignEpochs, "count",
        "Counts are additive: a reset source re-landing its rows would " +
          "double every estimate.")) { batch =>
      Seq("" -> HeavyHitters.countMinSketch(batch, itemCol, depth, width))
    }
  }

  /** Streaming islands maintenance: each micro-batch of raw intervals
    * lands in the corpus and appends its MERGED islands as an epoch
    * partial; reads re-merge across epochs
    * (`IntervalExpand.islandsIndexRead`). Island merging is
    * idempotent, so the store self-heals under replay — no
    * fresh-checkpoint refusal. */
  def islandsIngestSink(stream: DataFrame, spark: SparkSession,
                        corpusPath: String, indexPath: String,
                        keyCol: String, startCol: String, endCol: String,
                        checkpoint: String): StreamingQuery = {
    import graft.operators.IntervalExpand
    partialIngestSink(stream, spark, "islandsIngestSink",
      corpusPath, indexPath, checkpoint,
      IntervalExpand.islandsMeta(keyCol), refusal = None) { batch =>
      Seq("" -> IntervalExpand.mergeIntervals(batch, keyCol,
        col(startCol), col(endCol)))
    }
  }

  /** Streaming digest-ledger maintenance: each micro-batch appends
    * its per-group (n_rows, digest) partial; reads fold by modular
    * addition (`Audit.digestIndexRead`), so the ledger always equals
    * the digest of everything ingested and replica verification never
    * re-hashes the corpus. Digests are additive — a reset source
    * re-landing rows would shift every group's checksum: refusal. */
  def digestIngestSink(stream: DataFrame, spark: SparkSession,
                       corpusPath: String, indexPath: String,
                       cols: Seq[String], groupCol: String,
                       checkpoint: String,
                       allowForeignEpochs: Boolean = false): StreamingQuery = {
    import graft.operators.Audit
    partialIngestSink(stream, spark, "digestIngestSink",
      corpusPath, indexPath, checkpoint,
      Audit.digestMeta(cols, groupCol),
      refusal(allowForeignEpochs, "digest",
        "Digests are additive: a reset source re-landing its rows would " +
          "shift every group's checksum.")) { batch =>
      Seq("" -> Audit.digestPartial(batch, cols, col(groupCol)))
    }
  }

  /** Streaming corpus gram-frequency maintenance — the gram-
    * granularity sibling of [[boilerplateIngestSink]], minus the
    * cleaning step (novelty is an ANNOTATION probed on demand): each
    * micro-batch appends its `(gram_fp, n_docs)` count partial; reads
    * sum across epochs (`Dedup.gramFreqIndexRead`), so a later
    * `Dedup.incrementalDupGramFraction` probe sees every document ever
    * ingested while the corpus text is tokenized exactly once. Counts
    * are additive: a reset source would double every gram's count —
    * presence-based probes survive that, df-thresholded consumers do
    * not: refusal. */
  def gramFreqIngestSink(stream: DataFrame, spark: SparkSession,
                         corpusPath: String, indexPath: String,
                         idCol: String, textCol: String,
                         checkpoint: String, n: Int = 8,
                         allowForeignEpochs: Boolean = false): StreamingQuery =
    partialIngestSink(stream, spark, "gramFreqIngestSink",
      corpusPath, indexPath, checkpoint, Dedup.gramFreqIndexMeta(n),
      refusal(allowForeignEpochs, "gram-count",
        "Counts are additive: a reset source re-ingesting its documents " +
          "would double every gram's count.")) { batch =>
      Seq("" -> Dedup.gramFreqIndex(batch, idCol, textCol, n))
    }

  /** Streaming reference-LM maintenance: each micro-batch of REFERENCE
    * documents appends its hashed context/bigram count partial; reads
    * sum across epochs (`LmFilter.lmIndexRead`), so a later
    * `LmFilter.lmPerplexity` scores against every reference document
    * ever ingested while the model stays a bounded table. Counts are
    * additive: a reset source would double every count and shift every
    * later perplexity (and any quantile cut derived from it): refusal. */
  def lmIngestSink(stream: DataFrame, spark: SparkSession,
                   corpusPath: String, indexPath: String,
                   idCol: String, textCol: String,
                   checkpoint: String, ctxBuckets: Int = 4096,
                   bigramBuckets: Int = 32768,
                   allowForeignEpochs: Boolean = false): StreamingQuery = {
    import graft.operators.LmFilter
    partialIngestSink(stream, spark, "lmIngestSink",
      corpusPath, indexPath, checkpoint,
      LmFilter.lmMeta(ctxBuckets, bigramBuckets),
      refusal(allowForeignEpochs, "LM count",
        "Counts are additive: a reset source re-ingesting its documents " +
          "would double every count and shift every later perplexity.")) { batch =>
      Seq("" -> LmFilter.lmIndex(batch, idCol, textCol, ctxBuckets, bigramBuckets))
    }
  }

  /** Streaming retrieval-index ingest — the continuous form of
    * `Relevance.bm25IndexAppend`: each micro-batch lands in the
    * corpus, its postings partial and its one-row `(n_docs, sumdl)`
    * statistics partial land in the store's two substores, and every
    * later `bm25IndexProbe` answers over everything ingested — the
    * corpus is tokenized exactly once. Statistics are ADDITIVE over
    * disjoint doc sets, so a reset source would double N/avgdl and
    * skew every later score: refusal. */
  def bm25IngestSink(stream: DataFrame, spark: SparkSession,
                     corpusPath: String, indexPath: String,
                     idCol: String, textCol: String,
                     checkpoint: String,
                     allowForeignEpochs: Boolean = false): StreamingQuery = {
    import graft.operators.Relevance
    partialIngestSink(stream, spark, "bm25IngestSink",
      corpusPath, indexPath, checkpoint,
      Relevance.postingsMeta(idCol, textCol),
      refusal(allowForeignEpochs, "postings",
        "A reset source would re-land its documents and double-count the " +
          "corpus statistics (N, avgdl) every score depends on.")) { batch =>
      val (postings, stats) = Relevance.bm25Postings(batch, idCol, textCol)
      Seq("postings" -> postings, "stats" -> stats)
    }
  }

  // ------------------------------------------------------------ other sinks

  /** Streaming ANN-index ingest — the IVF twin of [[dedupIngestSink]]:
    * each micro-batch of new vectors is assigned to the STORED
    * centroids (the corpus pays nothing) and written into the
    * cell-partitioned assignments table under a `(cell, _epoch)`
    * overwrite. Centroids must already exist at `indexPath` (bootstrap
    * via `Similarity.ivfIndexWrite` — its `_epoch=base` layout is
    * depth-compatible with these writes), and the manifest must name
    * the same id/vector columns: the ivf erase reads the id column
    * from it. Probes (`Similarity.ivfProbeStored`) see every ingested
    * epoch immediately. */
  def ivfIngestSink(stream: DataFrame, spark: SparkSession,
                    indexPath: String, idCol: String, vecCol: String,
                    checkpoint: String): StreamingQuery = {
    import graft.operators.Similarity
    ingestSink(stream, spark, "ivfIngestSink", checkpoint,
      Seq(store("assignments", indexPath, Similarity.ivfMeta(idCol, vecCol))),
      // erasure (the ivf Filter form) and recluster key on integral ids
      integralIdCols = Seq(idCol),
      guard = require(Fs.exists(spark, s"$indexPath/centroids"),
        s"ivfIngestSink: no centroids at $indexPath — bootstrap the " +
          "index with Similarity.ivfIndexWrite before streaming appends " +
          "(assigning to centroids that do not exist yet cannot work)")) {
      (batch, epoch) =>
        val cents = spark.read.parquet(s"$indexPath/centroids")
          .select(col("cell").as(idCol), col(vecCol))
        epoch.write(Similarity.assignCells(batch, cents, idCol, vecCol),
          s"$indexPath/assignments", partCols = Seq("cell"))
    }
  }

  /** Streaming zone-map maintenance: every micro-batch lands in the
    * corpus under the epoch overwrite, then per-file min/max stats are
    * built from ONLY that epoch's partition directory (the table is
    * never re-scanned) and written into an epoch-partitioned manifest
    * under the SAME epoch — a replay rewrites both, so stats never
    * double and stale file paths disappear with the partition.
    * Readers union the manifest epochs ([[zoneMapManifestRead]]) and
    * prune with `Layout.pruneFiles`. */
  def zoneMapIngestSink(stream: DataFrame, spark: SparkSession,
                        corpusPath: String, manifestPath: String,
                        statCols: Seq[String],
                        checkpoint: String): StreamingQuery = {
    require(statCols.nonEmpty, "zoneMapIngestSink needs stat columns")
    ingestSink(stream, spark, "zoneMapIngestSink", checkpoint,
      Seq(Store("corpus", corpusPath), Store("manifest", manifestPath))) {
      (batch, epoch) =>
        epoch.write(batch, corpusPath)
        val epochDir = s"$corpusPath/_epoch=${epoch.id}"
        // an empty batch wrote nothing — and adds no manifest partition
        if (Fs.exists(spark, epochDir))
          epoch.write(graft.operators.Layout.zoneMap(
            spark.read.parquet(epochDir), statCols), manifestPath)
    }
  }

  /** Resolve the live manifest of a [[zoneMapIngestSink]] table:
    * union of every epoch's file stats (file paths are absolute —
    * they point into the corpus epoch partitions directly). A
    * manifest that does not exist yet — a sink whose batches were all
    * empty so far — reads as an EMPTY manifest carrying only the
    * stat-less (file, n_rows) columns; `Layout.pruneFiles` resolves
    * that to "no files" rather than failing. */
  def zoneMapManifestRead(spark: SparkSession, manifestPath: String): DataFrame =
    if (Fs.exists(spark, manifestPath))
      spark.read.parquet(manifestPath).drop("_epoch")
    else emptyFrame(spark, schema("file" -> StringType, "n_rows" -> LongType))

  /** Streaming quality gate — the engine's two FROZEN quality artifacts
    * applied to a live ingest: each micro-batch is scored against the
    * STORED reference LM (`LmFilter.lmIndexRead`, maintained by
    * [[lmIngestSink]]) and bucketed against the STORED per-source
    * calibration (`Quality.qualityCutsRead` — frozen once, versioned),
    * then split: kept docs land in the corpus, rejected docs land in a
    * rejects audit table carrying their NAMED gate reasons
    * ([[graft.operators.Quality.gateReasons]] — a curation stream that
    * silently drops is undebuggable). The `lm` gate is "not in the
    * source's perplexity tail"; a source ABSENT from the calibration
    * gets a NULL bucket and fails (unknowable is not head).
    * `extraChecks` rides additional named gates through the same
    * verdict.
    *
    * A replay re-scores identically PROVIDED the stores did not move
    * between delivery and replay — the discipline this sink assumes:
    * freeze before ingest, re-freeze between runs. No fresh-checkpoint
    * refusal: the writes are pure per-epoch functions of the batch and
    * the frozen stores. */
  def qualityGateIngestSink(stream: DataFrame, spark: SparkSession,
                            corpusPath: String, rejectsPath: String,
                            lmStorePath: String, cutsStorePath: String,
                            idCol: String, textCol: String,
                            sourceCol: String, checkpoint: String,
                            ctxBuckets: Int = 4096,
                            bigramBuckets: Int = 32768,
                            extraChecks: Seq[(String, org.apache.spark.sql.Column)] = Nil)
      : StreamingQuery = {
    import graft.operators.{LmFilter, Quality}
    ingestSink(stream, spark, "qualityGateIngestSink", checkpoint,
      Seq(Store("corpus", corpusPath), Store("rejects", rejectsPath))) {
      (batch, epoch) =>
        if (!batch.isEmpty) {
          val lm = LmFilter.lmIndexRead(spark, lmStorePath,
            ctxBuckets, bigramBuckets)
          val cuts = Quality.qualityCutsRead(spark, cutsStorePath,
            "ppl", Seq(sourceCol))
          val scored = batch.join(
            LmFilter.lmPerplexity(batch, idCol, textCol, lm,
              ctxBuckets = ctxBuckets, bigramBuckets = bigramBuckets)
              .select(col(idCol), col("ppl")), Seq(idCol))
          val gated = epoch.pin(Quality.gateReasons(
            Quality.qualityBucketsWith(scored, "ppl", Seq(sourceCol),
              cuts, as = "_qg_bucket"),
            Seq("lm" -> (col("_qg_bucket").isNotNull &&
              col("_qg_bucket") =!= "tail")) ++ extraChecks))
          epoch.write(gated.filter(col("keep"))
            .select(batch.columns.map(col).toIndexedSeq: _*), corpusPath)
          epoch.write(gated.filter(!col("keep"))
            .select(col(idCol), col(sourceCol), col("reasons")), rejectsPath)
        }
    }
  }

  // ------------------------------------------------ certification sinks

  /** THE certification sinks' body, for either
    * [[graft.operators.Dedup.CertMetric]]: each non-empty micro-batch's
    * certified pairs ([[graft.operators.Dedup.certBatchPairs]] — its
    * probe of the persisted certification index, None while the index
    * is empty, plus its own exact join) land in the ledger as one
    * epoch, optionally fold into the `cc_labels` store, then the
    * batch's own rows land in the index and the batch in the corpus —
    * so after every activation the ledger equals the full corpus-wide
    * exact join over everything ever ingested, by induction. A store
    * whose geometry derives from data (cosine pivots) freezes its
    * manifest from the first batch
    * ([[graft.operators.Dedup.certIndexMetaWriteIfAbsent]] —
    * deterministic, replay-idempotent).
    *
    * Ordering: ledger BEFORE labels BEFORE index BEFORE corpus, and the
    * probe EXCLUDES this epoch's own index partial — a crash (or an
    * at-least-once replay) anywhere in the sequence re-certifies
    * against exactly the standing index the first attempt saw and
    * rewrites the same rows; a replay across an index compaction
    * refuses loudly inside the store read rather than double-
    * certifying. The ledger (and labels) manifest is checked at
    * activation: appends at another metric/τ refuse, never merge. A
    * standing corpus over an EMPTY index refuses at activation —
    * unless the corpus has no indexable row (legitimate, not torn: the
    * bootstrap writer could not index it either; this rare branch pays
    * one limit(1)-bounded corpus scan).
    *
    * Labels are the ledger's derived view: an EMPTY labels store folds
    * the full ledger minus this epoch plus this epoch's pairs, so
    * mid-life adoption and a crash between the ledger and labels
    * writes both converge; a ledger with no data yet (every batch so
    * far certified zero pairs) folds this epoch alone. The fold's
    * min-label monotonicity makes every replay idempotent. */
  private def certSink(stream: DataFrame, spark: SparkSession, sink: String,
                       corpusPath: String, ledgerPath: String,
                       indexPath: String, idCol: String, valueCol: String,
                       checkpoint: String, metric: Dedup.CertMetric,
                       labelsPath: Option[String]): StreamingQuery = {
    val (name, threshold) = (metric.name, metric.threshold)
    val stores = Seq(Store("corpus", corpusPath),
      store("ledger", ledgerPath, Dedup.certLedgerMeta(name, threshold))) ++
      metric.fixedMeta.map(store("index", indexPath, _)) ++
      labelsPath.map(store("labels", _, Dedup.ccLabelsMeta(name, threshold)))
    ingestSink(stream, spark, sink, checkpoint, stores,
      // the ledger's erase filter / the RTBF audit sweep read id_a/id_b
      // as longs — string-keyed pairs would be silently un-erasable
      integralIdCols = Seq(idCol),
      guard = requireIndexedCorpus(spark, sink, corpusPath, indexPath,
        Dedup.certIndexNonEmpty(spark, indexPath, metric),
        !Dedup.certHasIndexable(EpochIndex.read(spark, corpusPath,
          observed = false, bootstrapName = sink), idCol, valueCol, metric),
        "certify only self-pairs and the ledger would silently diverge " +
          "from the full corpus-wide exact join",
        "certIndexWrite (and the ledger with certLedgerWrite)")) {
      (batch, epoch) =>
      if (!batch.isEmpty) {
        Dedup.certIndexMetaWriteIfAbsent(spark, indexPath, batch, idCol,
          valueCol, metric)
        val cross = Option.when(Dedup.certIndexNonEmpty(spark, indexPath, metric)) {
          val (pairs, free) = Dedup.certIndexProbePinned(spark, indexPath,
            batch, idCol, valueCol, metric, excludeEpoch = Some(epoch.id))
          epoch.onRelease(free)
          pairs
        }
        val pairs = epoch.pin(
          Dedup.certBatchPairs(batch, cross, idCol, valueCol, metric))
        epoch.write(pairs, ledgerPath)
        labelsPath.foreach { lp =>
          val epochPairs = pairs.select("id_a", "id_b")
          val foldPairs =
            if (EpochIndex.nonEmpty(spark, lp) ||
                !EpochIndex.nonEmpty(spark, ledgerPath)) epochPairs
            else EpochIndex.read(spark, ledgerPath, excludeEpoch = Some(epoch.id),
                bootstrapName = "certLedgerWrite")
              .select("id_a", "id_b").unionByName(epochPairs)
          // the fold returns the updated labeling pinned: free it with the epoch
          val labels = Dedup.ccLabelsFold(spark, lp, foldPairs, epoch.id,
            name, threshold)
          epoch.onRelease(() => release(labels))
        }
        Dedup.certIndexAppend(spark, indexPath, batch, idCol, valueCol,
          epoch.id, metric)
        epoch.write(batch, corpusPath)
      }
    }
  }

  /** Streaming dedup certification ([[certSink]] under
    * [[graft.operators.Dedup.Jaccard]]) — q230's induction claim run as
    * a LIVE loop over the persisted `cert_text` index: fingerprint rows,
    * so corpus text is never re-read, re-tokenized or re-df-counted per
    * micro-batch (scan cost ∝ batch). Bootstrap ledger + index from the
    * one-time [[graft.operators.Dedup.exactJoin]] /
    * [[graft.operators.Dedup.certIndexWrite]] pass, or start from empty
    * for a corpus born under this sink. `labelsPath` keeps the
    * persisted repair labeling (metric="jaccard") current, so the live
    * certified-repair view is a store read
    * ([[graft.operators.Dedup.repairSurvivorsFromStore]]). */
  def certIngestSink(stream: DataFrame, spark: SparkSession,
                     corpusPath: String, ledgerPath: String,
                     indexPath: String,
                     idCol: String, textCol: String,
                     checkpoint: String, threshold: Double,
                     shingleK: Int = 1,
                     maxBucket: Int = 100000,
                     buckets: Int = 64,
                     labelsPath: Option[String] = None): StreamingQuery =
    certSink(stream, spark, "certIngestSink", corpusPath, ledgerPath,
      indexPath, idCol, textCol, checkpoint,
      Dedup.Jaccard(threshold, shingleK, maxBucket, buckets), labelsPath)

  /** [[certIngestSink]]'s EMBEDDING twin ([[certSink]] under
    * [[graft.operators.Dedup.Cosine]]) — streaming SEMANTIC
    * certification over the `cert_vec` store: each micro-batch of
    * vectors probes the persisted banded index (frozen pivots, corpus
    * vectors never re-banded per batch), so the metric="cosine" ledger
    * equals the full corpus-wide exact cosine join over everything
    * ingested after every activation. A store born under this sink
    * freezes its pivots from the FIRST batch; bootstrap with
    * `certIndexWrite` + `certLedgerWrite` when a corpus predates the
    * stream. A standing corpus of only zero-norm vectors legitimately
    * has an empty index (they cannot band). */
  def certVecIngestSink(stream: DataFrame, spark: SparkSession,
                        corpusPath: String, ledgerPath: String,
                        indexPath: String,
                        idCol: String, vecCol: String,
                        checkpoint: String, threshold: Double,
                        nPivots: Int = 4, maxCell: Long = 100000L,
                        roundTo: Int = 4,
                        labelsPath: Option[String] = None): StreamingQuery =
    certSink(stream, spark, "certVecIngestSink", corpusPath, ledgerPath,
      indexPath, idCol, vecCol, checkpoint,
      Dedup.Cosine(threshold, nPivots, maxCell, roundTo), labelsPath)

  // ------------------------------------------------------- near-dup sink

  /** Streaming NEAR-dup ingest over a persisted (bucketed) band store,
    * for any banded-LSH family ([[graft.operators.Dedup.LshFamily]]:
    * SimHash for telescoped/typo-level text near-dups, a candidate-only
    * MinHash for shingle-overlap near-dups, SRP for embedding near-dups
    * — semantic dedup at the door) — the near-duplicate completion of
    * [[dedupIngestSink]]'s exact shape and the streaming form of the
    * q93/q97/q98/q238 family: each micro-batch probes the STORED index
    * (partition-pruned to the batch's own band-key buckets,
    * [[graft.operators.Dedup.lshProbeStore]]), keeps only docs whose
    * near-dup component touches no standing corpus doc AND whose id is
    * the component's minimum among batch members (the q42
    * canonical-keep policy, per batch), then lands the SURVIVORS' band
    * rows in the index and the survivors in the corpus. Dropped docs
    * never pollute either store. LSH recall caveat carried from the
    * batch operator: a true pair missed by every band is admitted.
    *
    * Replay idempotency is the cert-sink argument: the probe EXCLUDES
    * this epoch's own index partial, within-batch pairs are a pure
    * function of the batch, and both writes are epoch overwrites. A
    * standing corpus with an EMPTY index refuses at activation (every
    * document produces a band row, so that is always torn state — no
    * tolerance case, unlike the text-cert sink).
    *
    * Id contract: `idCol` must be integral — the canonical keep and
    * every RTBF path cast ids to long, and a string id NULLs out of the
    * membership joins, silently ADMITTING near-duplicates (docs/
    * DEPLOYMENT.md "Streaming ingest: the id contract", including why
    * the min-id keep needs ids STABLE across re-deliveries).
    *
    * @param valueCol the family's signature input (text, or vector
    *                 for SRP) */
  def nearDupIngestSink(stream: DataFrame, spark: SparkSession,
                        corpusPath: String, indexPath: String,
                        idCol: String, valueCol: String,
                        checkpoint: String,
                        family: Dedup.LshFamily = Dedup.SimHash(),
                        buckets: Int = 64): StreamingQuery = {
    family.requireProbeable()
    def indexed = EpochIndex.nonEmpty(spark, indexPath, innerPartCols = Seq("bb"))
    ingestSink(stream, spark, "nearDupIngestSink", checkpoint,
      Seq(Store("corpus", corpusPath),
        store("index", indexPath, Dedup.bandMetaWithBuckets(family.meta, buckets))),
      integralIdCols = Seq(idCol),
      guard = requireIndexedCorpus(spark, "nearDupIngestSink", corpusPath,
        indexPath, indexed, false,
        "re-admit near-duplicates of the whole standing corpus",
        s"Dedup.bandIndexWrite(corpus, idCol, valueCol, path, $family)")) {
      (batch, epoch) =>
        if (!batch.isEmpty) {
          val pairs =
            if (indexed) {
              val (p, freePin) = Dedup.lshProbeStorePinned(spark, indexPath,
                batch, idCol, valueCol, family, buckets,
                excludeEpoch = Some(epoch.id), keepSelf = true)
              epoch.onRelease(freePin)
              p
            } else Dedup.lshPairs(batch, idCol, valueCol, family)
              .select("id_a", "id_b")
          val accepted = nearDupAccepted(batch, idCol, pairs, epoch)
          if (!accepted.isEmpty) {
            Dedup.bandIndexAppend(spark, indexPath, accepted, idCol,
              valueCol, epoch.id, family, buckets)
            epoch.write(accepted, corpusPath)
          }
        }
    }
  }

  /** Keep policy of [[nearDupIngestSink]]: a batch doc survives iff
    * its near-dup component touches no standing-corpus doc AND its id
    * is the component's minimum among batch members (the q42
    * canonical-keep policy, per batch); unpaired docs survive
    * trivially. Returns the accepted set PINNED through the epoch; the
    * CC mapping's checkpoint (and the caller's probe pin) are released
    * with the epoch — after the accepted set's eager checkpoint has
    * materialized (or the attempt failed), so every plan that reads
    * them is materialized or abandoned by then. */
  private def nearDupAccepted(batch: DataFrame, idCol: String,
                              pairs: DataFrame, epoch: Epoch): DataFrame = {
    // a SELF pair (id_a == id_b: the store probe matched a batch doc to
    // a standing-corpus row under the SAME id — the probes run keepSelf
    // for exactly this) is a RE-DELIVERY: the id is already in the
    // corpus with near-identical content, so the doc drops outright.
    // Detection is banding-granularity: a same-id arrival whose content
    // no longer bands with its stored signature is an upstream
    // id-contract violation this door cannot see.
    val idType = batch.schema(idCol).dataType
    val known = pairs.filter(col("id_a") === col("id_b"))
      .select(col("id_a").cast(idType).as(idCol)).distinct()
    val live = batch.join(known, Seq(idCol), "left_anti")
    val comp = Dedup.connectedComponents(
      pairs.filter(col("id_a") =!= col("id_b")))
    epoch.onRelease(() => release(comp))
    val bIds = live.select(col(idCol).cast("long").as("id"))
    val batchComp = comp.join(bIds, Seq("id"), "left_semi")
    val corpusTouched = comp.join(bIds, Seq("id"), "left_anti")
      .select("cluster_id").distinct().withColumn("_corpus", lit(1))
    val minBatch = batchComp.groupBy(col("cluster_id"))
      .agg(min(col("id")).as("_min"))
    val dropIds = batchComp
      .join(minBatch, Seq("cluster_id"))
      .join(corpusTouched, Seq("cluster_id"), "left")
      .filter(col("_corpus").isNotNull || col("id") =!= col("_min"))
      .select(col("id").cast(idType).as(idCol))
    epoch.pin(live.join(dropIds, Seq(idCol), "left_anti"))
  }
}
