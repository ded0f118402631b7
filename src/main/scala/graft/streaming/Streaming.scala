package graft.streaming

import java.time.Duration

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

import graft.operators.{Dedup, Merge}

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
  */
object Streaming {

  /** Release a `localCheckpoint`'s pinned block-manager blocks inside
    * a sink's per-batch `finally`. `Dataset.unpersist` is NOT this:
    * it only consults the CacheManager, which never sees checkpoint
    * RDDs (probed empirically on this Spark: blocks stay pinned
    * through `unpersist()`), so a sink relying on it leaks one pinned
    * RDD per micro-batch for the session lifetime — the round-8
    * bench-inflation mechanism, in the one JVM (a long-lived
    * streaming app) that has no harness sweep to save it. */
  private def release(df: DataFrame): Unit =
    org.apache.spark.sql.graftbridge.Bridge.unpersistCheckpoint(df)

  /** Secondary activation guard behind every corpus-ahead-of-index
    * refusal: those refusals key on `EpochIndex.nonEmpty`, which a
    * standing corpus in a FLAT (non-epoch) parquet layout reads as
    * empty — the guard would silently pass, the sink would interleave
    * `_epoch=` partitions into the flat directory, and the ledger
    * would diverge from a corpus the epoch-scoped reads half-see.
    * Refuse on any data file an epoch read cannot reach instead. */
  private def requireEpochLayout(spark: SparkSession, path: String,
                                 sink: String, role: String): Unit =
    graft.operators.EpochIndex.foreignDataFile(spark, path).foreach { f =>
      throw new IllegalArgumentException(
        s"$sink: the $role at $path holds data files outside the " +
          s"epoch layout (e.g. $f) — a flat parquet table this sink's " +
          "epoch-scoped reads and activation guards cannot see. " +
          "Re-ingest that data through an epoch write " +
          "(EpochIndex.bootstrap, or the family's IndexWrite) or point " +
          s"the sink at a fresh $role path")
    }

  /** THE shared activation preamble — every ingest sink's start-time
    * guards routed through one call, so a new sink cannot forget one
    * (the partialIngestSink/indexedCleaningSink discipline applied
    * to activation itself). Three guard classes, each refusing
    * BEFORE any write lands:
    *
    *  1. **Epoch layout** on every path the sink epoch-writes or
    *     epoch-reads (`epochPaths` — (role, path) pairs): data files
    *     outside the `_epoch=` layout mean a flat parquet table the
    *     sink's epoch-scoped reads and standing-state guards
    *     half-see — interleaving `_epoch=` partitions into it would
    *     silently fork the table into two half-visible halves.
    *  2. **Integral ids** (`integralIdCols`): any id column the
    *     sink's keep/erase policy casts to long — min-id canonical
    *     keeps, cap-quota joins, and every RTBF path
    *     (`certLedgerErase` victim filters, `Maintenance
    *     .erasureAudit`'s id sweep) key on integral ids; a string id
    *     casts to NULL and silently corrupts the policy instead of
    *     failing. The refusal prints the keying recipe (docs/
    *     DEPLOYMENT.md "Streaming ingest" has the full contract).
    *  3. **Fresh checkpoint vs standing state** (`standing` +
    *     `refusal`, both lazy — only evaluated when the checkpoint
    *     has no run token yet): a reset checkpoint against kept
    *     tables re-delivers ingested rows, which doubles additive
    *     state and re-admits deduped documents; the family message
    *     says what breaks and how to recover. Families whose folds
    *     are idempotent under replay pass the default `false`. */
  private def ingestActivation(spark: SparkSession, sink: String,
                               stream: DataFrame, checkpoint: String,
                               epochPaths: Seq[(String, String)] = Nil,
                               integralIdCols: Seq[String] = Nil,
                               standing: => Boolean = false,
                               refusal: => String = ""): Unit = {
    import org.apache.spark.sql.types.{ByteType, ShortType}
    epochPaths.foreach { case (role, p) =>
      requireEpochLayout(spark, p, sink, role) }
    integralIdCols.foreach { c =>
      require(Seq(ByteType, ShortType, IntegerType, LongType)
        .contains(stream.schema(c).dataType),
        s"$sink: id column '$c' is ${stream.schema(c).dataType
          .simpleString}, not an integral type — the sink's keep/erase " +
          "policies (canonical-keep classification, cap quotas, victim-id " +
          "erasure and the RTBF audit sweep) cast ids to long, which on " +
          "this type yields NULLs and silently corrupts the decision; " +
          "map ids to a stable integral key upstream (e.g. xxhash64 of " +
          "the natural key) before the sink — see docs/DEPLOYMENT.md, " +
          "\"Streaming ingest: the id contract\"")
    }
    if (!graft.sources.Fs.exists(spark, s"$checkpoint/graft-run-id"))
      require(!standing, refusal)
  }

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
    * life). */
  def mergeSink(stream: DataFrame, spark: SparkSession, targetPath: String,
                keys: Seq[String], checkpoint: String, partitionCol: String,
                clusterCols: Seq[String] = Nil,
                versionCol: Option[String] = None): StreamingQuery =
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        Merge.mergeWrite(spark, targetPath, batch, keys, partitionCol,
          clusterCols, versionCol)
        ()
      }
      .start()

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
    * Both tables carry an `_epoch` partition column (the micro-batch
    * id): writes are epoch-partitioned dynamic overwrites, which is
    * what makes an at-least-once replay idempotent instead of a
    * double-append. */
  def dedupIngestSink(stream: DataFrame, spark: SparkSession,
                      corpusPath: String, indexPath: String,
                      textCol: String, idCol: String, checkpoint: String,
                      bloomExpectedItems: Option[Long] = None): StreamingQuery = {
    // Epoch ids are only unique PER CHECKPOINT: if the checkpoint is
    // reset while the corpus/index tables are kept (the tables are
    // the permanent state — that recovery is the design), a fresh
    // run's epoch 0 would dynamic-overwrite the old run's epoch-0
    // partition and silently delete documents. A run token persisted
    // IN the checkpoint dir scopes the partition key: restarts of the
    // same checkpoint reuse it (replay stays idempotent), a reset
    // checkpoint mints a new one (old partitions become permanent
    // data, and the still-read index keeps rejecting their
    // fingerprints).
    // no fresh-checkpoint refusal: the content-keyed index makes a
    // re-delivered source self-healing — but both tables must be in
    // the epoch layout for the replay contract to see them whole
    ingestActivation(spark, "dedupIngestSink", stream, checkpoint,
      epochPaths = Seq("corpus" -> corpusPath, "index" -> indexPath))
    val token = runToken(spark, checkpoint)
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        // Hadoop-FS probe, not java.io.File: the index lives wherever
        // the cluster's storage is (HDFS/S3A/GCS), where a local-file
        // check is always false and would silently re-admit the whole
        // corpus every batch (graft.sources.Fs's loud-failure rationale)
        val index =
          if (graft.sources.Fs.exists(spark, indexPath))
            spark.read.parquet(indexPath).select("fingerprint")
          else emptyFrame(spark,
            StructType(Seq(StructField("fingerprint", StringType))))
        // localCheckpoint, not persist: accepted's lineage READS
        // indexPath, and the second write below OVERWRITES indexPath.
        // A cache-evicted recompute mid-write would re-scan the
        // directory while it is being replaced; the eager checkpoint
        // severs the lineage so a lost block fails loudly instead of
        // recomputing from a mutating source.
        val accepted = (bloomExpectedItems match {
          case Some(n) if index.limit(1).count() > 0 =>
            Dedup.bloomIncrementalExactDedup(batch, textCol, idCol, index, n)
          case _ => Dedup.incrementalExactDedup(batch, textCol, idCol, index)
        }).localCheckpoint(true)
        try {
          // epoch-partitioned dynamic overwrite, NOT a plain append:
          // foreachBatch is at-least-once, and a retry of epoch N
          // after a partial failure must overwrite its own partition
          // instead of double-appending the batch. Either failure
          // point replays safely: before the index write, the retry
          // recomputes the same accepted set (index unchanged) and
          // rewrites _epoch=N; after it, the retry's accepted set is
          // empty (fingerprints already indexed) and dynamic
          // overwrite with zero rows touches nothing.
          epochWrite(accepted.drop("fingerprint"), corpusPath, token, epochId)
          epochWrite(accepted.select("fingerprint"), indexPath, token, epochId)
        } finally release(accepted)
      }
      .start()
  }

  /** The ingest run token: epoch ids are only unique per checkpoint,
    * so a reset checkpoint re-delivering epoch 0 must not dynamic-
    * overwrite a kept table's old epoch-0 partition. The token lives
    * IN the checkpoint dir: restarts reuse it (replay idempotent), a
    * reset mints a fresh one (old partitions become permanent data). */
  private def runToken(spark: SparkSession, checkpoint: String): String = {
    import org.apache.hadoop.fs.Path
    val marker = new Path(checkpoint, "graft-run-id")
    val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val token =
        try scala.io.Source.fromInputStream(in).mkString.trim
        finally in.close()
      // an empty marker means a crash landed between create and write
      // — two such runs would mint the SAME (empty) token and the
      // later one's epoch-0 overwrite would delete the earlier one's
      // data, the exact loss the token prevents. Fail loudly.
      require(token.nonEmpty,
        s"$marker exists but is empty (crashed mint?) — delete it to mint a fresh run token")
      token
    } else {
      // write-to-temp + rename so the marker only ever exists complete
      val id = java.util.UUID.randomUUID().toString
      val tmp = new Path(checkpoint, ".graft-run-id.tmp")
      val out = fs.create(tmp, true)
      try out.write(id.getBytes("UTF-8")) finally out.close()
      if (!fs.rename(tmp, marker)) {
        // lost a race to a concurrent first activation: use the winner's
        fs.delete(tmp, false)
        return runToken(spark, checkpoint)
      }
      id
    }
  }

  /** Epoch-scoped dynamic partition overwrite — THE replay-idempotency
    * contract both ingest sinks share: a retry of epoch N rewrites its
    * own `_epoch=token-N` partitions instead of double-appending. */
  private def epochWrite(df: DataFrame, path: String, token: String,
                         epochId: Long, partCols: Seq[String] = Nil): Unit =
    // EpochIndex.append IS the epoch-scoped dynamic overwrite (and
    // carries the zero-row no-op guard: an empty first write would
    // create a file-less directory whose schema inference bricks
    // every later read); this wrapper only supplies the
    // `<runToken>-<epochId>` naming convention the sinks share.
    graft.operators.EpochIndex.append(df, path, s"$token-$epochId", partCols)

  /** Zero-row frame with an explicit schema — the "no stored index
    * yet" read result the ingest sinks share. */
  private def emptyFrame(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** Streaming ANN-index ingest — the IVF twin of [[dedupIngestSink]],
    * closing the last index family's streaming path: each micro-batch
    * of new vectors is assigned to the STORED centroids (the corpus
    * pays nothing) and written into the cell-partitioned assignments
    * table under a `(cell, _epoch)` dynamic overwrite, so an
    * at-least-once replay of epoch N rewrites its own partitions
    * instead of double-appending. Centroids must already exist at
    * `indexPath` (bootstrap via `Similarity.ivfIndexWrite` — its
    * `_epoch=base` layout is depth-compatible with these writes).
    * Probes against the table (`Similarity.ivfProbeStored`) see every
    * ingested epoch immediately. */
  def ivfIngestSink(stream: DataFrame, spark: SparkSession,
                    indexPath: String, idCol: String, vecCol: String,
                    checkpoint: String): StreamingQuery = {
    ingestActivation(spark, "ivfIngestSink", stream, checkpoint,
      epochPaths = Seq("assignments" -> s"$indexPath/assignments"),
      // erasure (ivfIndexErase) and recluster key on integral ids
      integralIdCols = Seq(idCol))
    require(graft.sources.Fs.exists(spark, s"$indexPath/centroids"),
      s"ivfIngestSink: no centroids at $indexPath — bootstrap the " +
        "index with Similarity.ivfIndexWrite before streaming appends " +
        "(assigning to centroids that do not exist yet cannot work)")
    val token = runToken(spark, checkpoint)
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        val cents = spark.read.parquet(s"$indexPath/centroids")
          .select(col("cell").as(idCol), col(vecCol))
        epochWrite(
          graft.operators.Similarity.assignCells(batch, cents, idCol, vecCol),
          s"$indexPath/assignments", token, epochId, partCols = Seq("cell"))
      }
      .start()
  }

  /** Streaming boilerplate-cleaning ingest — the continuous form of
    * `Dedup.incrementalRemoveBoilerplate`, completing the streaming
    * path for the line-frequency index family: each micro-batch is
    * cleaned against corpus-wide line frequencies (prior epochs'
    * stored counts + the batch's own), the cleaned documents land in
    * the corpus, and the batch's line-count PARTIAL joins the index
    * the next batch reads.
    *
    * The index is LOG-STRUCTURED — one (fp, n_docs) partial per
    * epoch partition, readers sum per fingerprint
    * ([[graft.operators.Dedup.boilerplateIndexRead]]). Counts are
    * additive over disjoint doc sets, so per-epoch partials + the
    * `_epoch` dynamic overwrite compose into replay idempotency; a
    * merged-in-place count could not tell a retry from new data.
    *
    * One subtlety the dedup sink does NOT have: the index read must
    * EXCLUDE the current epoch's own partial. The dedup sink is
    * naturally self-healing (a replay that re-sees its own
    * fingerprints accepts nothing, and a zero-row dynamic overwrite
    * touches nothing); here every batch doc reaches the corpus, so a
    * replay that re-read its own failed-commit partial would count
    * each batch line twice, clean differently, and overwrite epoch N
    * with DIFFERENT rows. Filtering out `_epoch = token-N` makes the
    * retry see exactly what the original saw. */
  /** Streaming zone-map maintenance — the manifest twin of the ingest
    * sinks: every micro-batch lands in the corpus under the epoch-
    * scoped dynamic overwrite, then per-file min/max stats are built
    * from ONLY that epoch's partition directory (the freshly written
    * files — the table is never re-scanned) and written into an
    * epoch-partitioned manifest under the SAME (token, epoch) key.
    * An at-least-once replay of epoch N rewrites both its corpus
    * partition and its manifest partition — stats never double, and
    * stale file paths from the replaced write disappear with the
    * partition. Readers union the manifest epochs
    * ([[zoneMapManifestRead]]) and prune with `Layout.pruneFiles` —
    * scan pruning over a GROWING table whose manifest cost is one
    * pass per batch over that batch's files only. */
  def zoneMapIngestSink(stream: DataFrame, spark: SparkSession,
                        corpusPath: String, manifestPath: String,
                        statCols: Seq[String],
                        checkpoint: String): StreamingQuery = {
    require(statCols.nonEmpty, "zoneMapIngestSink needs stat columns")
    ingestActivation(spark, "zoneMapIngestSink", stream, checkpoint,
      epochPaths = Seq("corpus" -> corpusPath, "manifest" -> manifestPath))
    val token = runToken(spark, checkpoint)
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        epochWrite(batch, corpusPath, token, epochId)
        val epochDir = s"$corpusPath/_epoch=$token-$epochId"
        // empty batches write nothing (epochWrite's no-op contract) —
        // and must add no manifest partition either
        if (graft.sources.Fs.exists(spark, epochDir)) {
          val stats = graft.operators.Layout.zoneMap(
            spark.read.parquet(epochDir), statCols)
          epochWrite(stats, manifestPath, token, epochId)
        }
      }
      .start()
  }

  /** Resolve the live manifest of a [[zoneMapIngestSink]] table:
    * union of every epoch's file stats (file paths are absolute —
    * they point into the corpus epoch partitions directly). A
    * manifest that does not exist yet — a sink whose batches were all
    * empty so far — reads as an EMPTY manifest (the same guard the
    * boilerplate/IVF readers apply), carrying only the stat-less
    * (file, n_rows) columns; `Layout.pruneFiles` resolves that to
    * "no files" rather than failing. */
  def zoneMapManifestRead(spark: SparkSession, manifestPath: String): DataFrame =
    if (graft.sources.Fs.exists(spark, manifestPath))
      spark.read.parquet(manifestPath).drop("_epoch")
    else emptyFrame(spark, StructType(Seq(
      StructField("file", StringType), StructField("n_rows", LongType))))

  /** Streaming keep-first line-dedup ingest — the streaming shape of
    * `Dedup.incrementalDedupLines` (q142's family): each micro-batch
    * is cleaned against the stored first-occurrence index + its own
    * first occurrences, lands in the corpus, and appends its index
    * partial — all under the shared epoch-scoped replay contract.
    * The append-only id-order contract (corpus ids precede batch ids)
    * is the caller's: ingest order IS the id order in this family.
    * Same fresh-checkpoint refusal as the boilerplate sink: a reset
    * checkpoint re-delivering ingested documents would find their own
    * lines in the index and blank every re-delivered doc. */
  def lineDedupIngestSink(stream: DataFrame, spark: SparkSession,
                          corpusPath: String, indexPath: String,
                          textCol: String, idCol: String,
                          checkpoint: String, sep: String,
                          minLineLen: Int = 1,
                          allowForeignEpochs: Boolean = false): StreamingQuery = {
    indexedCleaningSink(stream, spark, "lineDedupIngestSink",
      corpusPath, indexPath, checkpoint,
      allowForeignEpochs,
      refusal = s"lineDedupIngestSink: fresh checkpoint ($checkpoint) but " +
        s"$indexPath already holds first-occurrence partials. If the source " +
        "re-delivers ingested documents, their own lines would dedup them " +
        "to empty. Restore the original checkpoint, rebuild corpus+index " +
        "from raw sources, or — only if this run ingests strictly new " +
        "documents — pass allowForeignEpochs = true",
      emptyIndexSchema = StructType(Seq(StructField("fp", StringType),
        StructField("wid", LongType), StructField("wpos", IntegerType))),
      meta = Dedup.lineIndexMeta(sep, minLineLen))(
      buildPartial = batch =>
        Dedup.lineFirstOccPartial(batch, idCol, textCol, sep, minLineLen),
      readIndex = excludeEpoch =>
        Dedup.lineFirstOccIndexRead(spark, indexPath, Some(excludeEpoch),
          sep, minLineLen),
      clean = (batch, index, partial) =>
        Dedup.incrementalDedupLines(batch, idCol, textCol, index,
          sep, minLineLen, batchIndex = Some(partial)))
  }

  def boilerplateIngestSink(stream: DataFrame, spark: SparkSession,
                            corpusPath: String, indexPath: String,
                            textCol: String, idCol: String,
                            checkpoint: String, sep: String, minDocs: Int,
                            minLineLen: Int = 1,
                            allowForeignEpochs: Boolean = false): StreamingQuery = {
    // checkpoint-reset-with-kept-tables is NOT a supported recovery
    // here, unlike the dedup sink (whose content-keyed index makes a
    // re-delivered source self-healing): line counts are keyed by
    // doc id, so re-ingesting the same documents under a fresh token
    // silently doubles every count and over-removes forever after.
    // Refuse the ambiguous shape loudly; a caller whose new run
    // genuinely ingests only NEW documents may override.
    indexedCleaningSink(stream, spark, "boilerplateIngestSink",
      corpusPath, indexPath, checkpoint,
      allowForeignEpochs,
      refusal = s"boilerplateIngestSink: fresh checkpoint ($checkpoint) but " +
        s"$indexPath already holds count partials. If the source re-delivers " +
        "ingested documents, their line counts would double silently. " +
        "Restore the original checkpoint, rebuild corpus+index from raw " +
        "sources, or — only if this run ingests strictly new documents — " +
        "pass allowForeignEpochs = true",
      emptyIndexSchema = StructType(Seq(StructField("fp", StringType),
        StructField("n_docs", LongType))),
      meta = Dedup.boilerplateIndexMeta(sep, minLineLen))(
      buildPartial = batch =>
        Dedup.boilerplateCountsPartial(batch, idCol, textCol, sep, minLineLen),
      readIndex = excludeEpoch =>
        Dedup.boilerplateIndexRead(spark, indexPath, Some(excludeEpoch),
          sep, minLineLen),
      clean = (batch, index, partial) =>
        Dedup.incrementalRemoveBoilerplate(batch, idCol, textCol, index,
          sep, minDocs, minLineLen, batchCounts = Some(partial)))
  }

  /** Streaming per-domain cap ingest — the caps family's streaming
    * shape (q146's incremental contract applied per micro-batch):
    * each batch keeps rows while the key's global arrival quota
    * lasts, lands survivors in the corpus, and appends the batch's
    * per-key TOTAL counts (kept AND dropped — the raw-totals
    * contract that makes the index fold an associative SUM) as one
    * epoch partial. The kept set ≡ `capPerKeyArrival` over
    * everything delivered, under the family's append-only contract
    * (ids arrive in order across batches — ingest order IS id order
    * here). Replay-idempotent like its siblings: the prior-count
    * read EXCLUDES this epoch's own partial, and both writes are
    * epoch-scoped dynamic overwrites. Fresh-checkpoint refusal: a
    * reset source re-delivering ingested rows would double every
    * count and starve later arrivals of quota — counts are id-blind,
    * so this shape cannot self-heal. */
  def domainCapIngestSink(stream: DataFrame, spark: SparkSession,
                          corpusPath: String, indexPath: String,
                          keyCol: String, idCol: String,
                          checkpoint: String, maxPerKey: Int,
                          keyName: String,
                          allowForeignEpochs: Boolean = false): StreamingQuery = {
    import graft.operators.{Curation, EpochIndex, IndexMeta}
    ingestActivation(spark, "domainCapIngestSink", stream, checkpoint,
      epochPaths = Seq("corpus" -> corpusPath, "index" -> indexPath),
      // the quota keep rejoins kept ids to the batch through a long
      // cast — the canonical-keep hazard, so the id contract applies
      integralIdCols = Seq(idCol),
      standing = !allowForeignEpochs && EpochIndex.nonEmpty(spark, indexPath),
      refusal =
        s"domainCapIngestSink: fresh checkpoint ($checkpoint) but $indexPath " +
          "already holds count partials. If the source re-delivers ingested " +
          "rows, every count doubles and later arrivals are starved of " +
          "quota. Restore the original checkpoint, rebuild corpus+index " +
          "from raw sources, or — only if this run ingests strictly new " +
          "rows — pass allowForeignEpochs = true")
    val token = runToken(spark, checkpoint)
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        // built ONCE (checkpointed): feeds the keep decision AND is
        // the index write; the checkpoint severs the prior-count
        // read of indexPath from the write that replaces partitions
        val partial = Curation.capCountIndex(batch,
          col(keyCol), col(idCol)).localCheckpoint(true)
        try {
          IndexMeta.writeIfAbsent(spark, indexPath,
            Curation.capIndexMeta(keyName))
          val prior =
            if (EpochIndex.nonEmpty(spark, indexPath))
              Curation.capCountIndexRead(spark, indexPath, keyName,
                Some(s"$token-$epochId"))
            else emptyFrame(spark, StructType(Seq(
              StructField("key", StringType), StructField("n", LongType))))
          val keptIds = Curation.incrementalCapPerKey(batch,
            col(keyCol), col(idCol), maxPerKey, prior)
          val kept = batch.join(
            keptIds.select(col("id").cast("long").as(idCol)),
            Seq(idCol), "left_semi").localCheckpoint(true)
          try {
            // corpus before index: a crash between them re-runs the
            // epoch with the index still excluding it
            epochWrite(kept, corpusPath, token, epochId)
            epochWrite(partial, indexPath, token, epochId)
          } finally release(kept)
        } finally release(partial)
      }
      .start()
  }

  /** Streaming profile-maintenance ingest — the sample-sketch
    * family's streaming shape: every micro-batch lands raw in the
    * corpus and appends its per-group k-sample sketch as one epoch
    * partial, so the profile store answers quantiles over everything
    * ever delivered (bottom-k closure across epoch folds) without a
    * rescan. Profiling is pure observation — no keep/drop decision
    * reads the store — so unlike the cleaning sinks there is no
    * index-vs-redelivery hazard beyond double-sampling, and even
    * that self-heals: sketch triples are content-keyed by (h52, id,
    * v), and the fold's dedup drops an identical resample. The
    * fresh-checkpoint refusal therefore stays, but only to stop the
    * CORPUS from double-landing re-delivered rows. */
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
      refusal = if (allowForeignEpochs) None else Some(
        s"sampleSketchIngestSink: fresh checkpoint ($checkpoint) but " +
          s"$indexPath already holds sketch partials. A reset source would " +
          "re-land its rows in the corpus (the profile store itself " +
          "self-heals — identical resampled triples dedup in the fold). " +
          "Restore the original checkpoint, rebuild corpus+store from raw " +
          "sources, or — only if this run ingests strictly new rows — " +
          "pass allowForeignEpochs = true"))(batch =>
      Seq("" -> SampleSketch.sampleSketch(batch, col(groupCol),
        col(idCol), col(valueCol), k)))
  }

  /** Streaming HLL-profile ingest — the register twin of
    * [[sampleSketchIngestSink]], completing the HLL family's shapes:
    * each micro-batch lands in the corpus and appends its per-group
    * register partial; reads max-merge across epochs
    * (`Cardinality.hllIndexRead`), and because max-merge is
    * IDEMPOTENT a replayed identical partial can never inflate an
    * estimate — the register store is self-healing under at-least-
    * once delivery, so no fresh-checkpoint refusal is needed for the
    * STORE (the corpus write still relies on the epoch-scoped
    * dynamic overwrite). */
  def hllIngestSink(stream: DataFrame, spark: SparkSession,
                    corpusPath: String, indexPath: String,
                    groupCol: String, valueCol: String, p: Int,
                    checkpoint: String): StreamingQuery = {
    import graft.operators.Cardinality
    partialIngestSink(stream, spark, "hllIngestSink",
      corpusPath, indexPath, checkpoint,
      Cardinality.hllMeta(p, valueCol), refusal = None)(batch =>
      Seq("" -> Cardinality.hllSketch(batch, col(groupCol),
        col(valueCol), p)))
  }

  /** Streaming KMV ingest — the bottom-k twin of [[hllIngestSink]],
    * completing the cardinality family's shapes: each micro-batch
    * lands in the corpus and appends its per-group bottom-k sketch
    * partial; reads union-and-retruncate across epochs
    * (`Cardinality.kmvIndexRead`). `array_union` dedupes, so a
    * replayed identical partial merges to itself — idempotent like
    * HLL's max-merge, hence no fresh-checkpoint refusal for the
    * STORE (the corpus write still relies on the epoch-scoped
    * dynamic overwrite). */
  def kmvIngestSink(stream: DataFrame, spark: SparkSession,
                    corpusPath: String, indexPath: String,
                    groupCol: String, valueCol: String, k: Int,
                    checkpoint: String): StreamingQuery = {
    import graft.operators.Cardinality
    partialIngestSink(stream, spark, "kmvIngestSink",
      corpusPath, indexPath, checkpoint,
      Cardinality.kmvMeta(k, valueCol), refusal = None)(batch =>
      Seq("" -> Cardinality.kmvSketch(batch, col(groupCol),
        col(valueCol), k)))
  }

  /** Streaming count-min ingest — the frequency twin of
    * [[hllIngestSink]]: each micro-batch lands in the corpus and
    * appends its d×w cell-count partial; reads SUM across epochs
    * (`HeavyHitters.cmsIndexRead`). Counts are additive — NOT
    * idempotent — so replay safety leans entirely on the epoch-scoped
    * dynamic overwrite (a retry rewrites its own partial), and a
    * reset source re-landing counted rows would silently double every
    * estimate: hence the sample-sketch-style fresh-checkpoint
    * refusal. */
  def cmsIngestSink(stream: DataFrame, spark: SparkSession,
                    corpusPath: String, indexPath: String,
                    itemCol: String, depth: Int, width: Int,
                    checkpoint: String,
                    allowForeignEpochs: Boolean = false): StreamingQuery = {
    import graft.operators.HeavyHitters
    partialIngestSink(stream, spark, "cmsIngestSink",
      corpusPath, indexPath, checkpoint,
      HeavyHitters.cmsMeta(depth, width, itemCol),
      refusal = if (allowForeignEpochs) None else Some(
        s"cmsIngestSink: fresh checkpoint ($checkpoint) but $indexPath " +
          "already holds count partials. Counts are additive: a reset " +
          "source re-landing its rows would double every estimate. " +
          "Restore the original checkpoint, rebuild corpus+store from " +
          "raw sources, or — only if this run ingests strictly new " +
          "rows — pass allowForeignEpochs = true"))(batch =>
      Seq("" -> HeavyHitters.countMinSketch(batch, itemCol, depth, width)))
  }

  /** THE shared scaffold of the partial-appending profile/index sinks
    * (sample sketch, HLL, CMS, digest ledger, islands, BM25 postings)
    * — one copy of the machinery, so a fix lands in every family at
    * once (the indexedCleaningSink discipline):
    *  - optional fresh-checkpoint refusal (`refusal` = the family's
    *    message; None for idempotent-fold families — max-merge HLL,
    *    re-merge islands — whose stores self-heal under replay, and
    *    for callers passing allowForeignEpochs);
    *  - manifest-first `writeIfAbsent`, then corpus before partials,
    *    all under the `(token, epochId)` dynamic-overwrite unit — an
    *    at-least-once replay rewrites its own partitions;
    *  - empty batches write nothing anywhere;
    *  - `buildPartials` returns (store-subdir → partial) pairs ("" =
    *    the store root; BM25 splits postings/stats). */
  private def partialIngestSink(stream: DataFrame, spark: SparkSession,
                                sink: String,
                                corpusPath: String, indexPath: String,
                                checkpoint: String,
                                meta: graft.operators.IndexMeta,
                                refusal: Option[String],
                                storeSubdirs: Seq[String] = Seq(""))(
      buildPartials: DataFrame => Seq[(String, DataFrame)]): StreamingQuery = {
    import graft.operators.{EpochIndex, IndexMeta}
    def sub(p: String) = if (p.isEmpty) indexPath else s"$indexPath/$p"
    ingestActivation(spark, sink, stream, checkpoint,
      epochPaths = ("corpus" -> corpusPath) +:
        storeSubdirs.map(p => "store" -> sub(p)),
      standing = refusal.isDefined &&
        storeSubdirs.exists(p => EpochIndex.nonEmpty(spark, sub(p))),
      refusal = refusal.getOrElse(""))
    val token = runToken(spark, checkpoint)
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        if (!batch.isEmpty) {
          val partials = buildPartials(batch)
            .map { case (p, df) => p -> df.localCheckpoint(true) }
          try {
            IndexMeta.writeIfAbsent(spark, indexPath, meta)
            epochWrite(batch, corpusPath, token, epochId)
            partials.foreach { case (p, df) =>
              epochWrite(df, sub(p), token, epochId)
            }
          } finally partials.foreach { case (_, df) => release(df) }
        }
      }
      .start()
  }

  /** Streaming islands maintenance — the coverage twin of
    * [[hllIngestSink]]: each micro-batch of raw intervals lands in
    * the corpus and appends its MERGED islands as an epoch partial;
    * reads re-merge across epochs
    * (`IntervalExpand.islandsIndexRead`). Island merging is
    * idempotent — a replayed identical partial re-merges to itself —
    * so like the HLL sink the store is self-healing under
    * at-least-once delivery and no fresh-checkpoint refusal is
    * needed; the corpus write still relies on the epoch-scoped
    * dynamic overwrite. */
  def islandsIngestSink(stream: DataFrame, spark: SparkSession,
                        corpusPath: String, indexPath: String,
                        keyCol: String, startCol: String, endCol: String,
                        checkpoint: String): StreamingQuery = {
    import graft.operators.IntervalExpand
    partialIngestSink(stream, spark, "islandsIngestSink",
      corpusPath, indexPath, checkpoint,
      IntervalExpand.islandsMeta(keyCol), refusal = None)(batch =>
      Seq("" -> IntervalExpand.mergeIntervals(batch, keyCol,
        col(startCol), col(endCol))))
  }

  /** Streaming digest-ledger maintenance — the audit twin of
    * [[cmsIngestSink]]: each micro-batch lands in the corpus and
    * appends its per-group (n_rows, digest) partial; reads fold by
    * modular addition (`Audit.digestIndexRead`), so the ledger always
    * equals the digest of everything ingested and replica
    * verification never re-hashes the corpus. Digests are additive —
    * NOT idempotent — so the sink carries the same fresh-checkpoint
    * refusal as the CMS sink (a reset source re-landing rows would
    * shift every group's checksum). */
  def digestIngestSink(stream: DataFrame, spark: SparkSession,
                       corpusPath: String, indexPath: String,
                       cols: Seq[String], groupCol: String,
                       checkpoint: String,
                       allowForeignEpochs: Boolean = false): StreamingQuery = {
    import graft.operators.Audit
    partialIngestSink(stream, spark, "digestIngestSink",
      corpusPath, indexPath, checkpoint,
      Audit.digestMeta(cols, groupCol),
      refusal = if (allowForeignEpochs) None else Some(
        s"digestIngestSink: fresh checkpoint ($checkpoint) but $indexPath " +
          "already holds digest partials. Digests are additive: a reset " +
          "source re-landing its rows would shift every group's checksum. " +
          "Restore the original checkpoint, rebuild corpus+ledger from " +
          "raw sources, or — only if this run ingests strictly new rows — " +
          "pass allowForeignEpochs = true"))(batch =>
      Seq("" -> Audit.digestPartial(batch, cols, col(groupCol))))
  }

  /** Streaming corpus gram-frequency maintenance — the gram-
    * granularity sibling of [[boilerplateIngestSink]], minus the
    * cleaning step (novelty is an ANNOTATION probed on demand, not a
    * rewrite of the ingested text): each micro-batch of documents
    * lands in the corpus and appends its `(gram_fp, n_docs)` count
    * partial; reads sum across epochs
    * (`Dedup.gramFreqIndexRead`), so a later
    * `Dedup.incrementalDupGramFraction` probe sees every document
    * ever ingested while the corpus text is tokenized exactly once,
    * at ingest. Counts are additive — NOT idempotent — so the sink
    * carries the same fresh-checkpoint refusal as the digest/CMS
    * sinks: a reset source re-ingesting its documents would double
    * every gram's count; presence-based probes would survive that,
    * but any df-thresholded consumer of the index would not. */
  def gramFreqIngestSink(stream: DataFrame, spark: SparkSession,
                         corpusPath: String, indexPath: String,
                         idCol: String, textCol: String,
                         checkpoint: String, n: Int = 8,
                         allowForeignEpochs: Boolean = false): StreamingQuery =
    partialIngestSink(stream, spark, "gramFreqIngestSink",
      corpusPath, indexPath, checkpoint,
      Dedup.gramFreqIndexMeta(n),
      refusal = if (allowForeignEpochs) None else Some(
        s"gramFreqIngestSink: fresh checkpoint ($checkpoint) but $indexPath " +
          "already holds gram-count partials. Counts are additive: a reset " +
          "source re-ingesting its documents would double every gram's " +
          "count. Restore the original checkpoint, rebuild corpus+index " +
          "from raw sources, or — only if this run ingests strictly new " +
          "documents — pass allowForeignEpochs = true"))(batch =>
      Seq("" -> Dedup.gramFreqIndex(batch, idCol, textCol, n)))

  /** Streaming reference-LM maintenance — the language-model sibling
    * of [[gramFreqIngestSink]]: each micro-batch of REFERENCE
    * documents lands in the corpus and appends its hashed
    * context/bigram count partial; reads sum across epochs
    * (`LmFilter.lmIndexRead`), so a later `LmFilter.lmPerplexity`
    * scores candidates against every reference document ever
    * ingested while the reference text is tokenized exactly once, at
    * ingest — the model stays a bounded table however long the
    * stream runs. Counts are additive — NOT idempotent — so the sink
    * carries the fresh-checkpoint refusal: a reset source
    * re-ingesting its documents would double every count and
    * silently shift every later perplexity score (and any quantile
    * cut derived from it). */
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
      refusal = if (allowForeignEpochs) None else Some(
        s"lmIngestSink: fresh checkpoint ($checkpoint) but $indexPath " +
          "already holds LM count partials. Counts are additive: a reset " +
          "source re-ingesting its documents would double every count and " +
          "shift every later perplexity. Restore the original checkpoint, " +
          "rebuild corpus+model from raw sources, or — only if this run " +
          "ingests strictly new documents — pass " +
          "allowForeignEpochs = true"))(batch =>
      Seq("" -> LmFilter.lmIndex(batch, idCol, textCol,
        ctxBuckets, bigramBuckets)))
  }

  /** Streaming quality gate — the round-trip of the engine's two
    * FROZEN quality artifacts applied to a live ingest: each
    * micro-batch of documents is scored against the STORED reference
    * LM (`LmFilter.lmIndexRead` — trained once, maintained by
    * [[lmIngestSink]]) and bucketed against the STORED per-source
    * calibration (`Quality.qualityCutsRead` — frozen once, versioned),
    * then split: kept docs land in the corpus, rejected docs land in
    * a rejects audit table carrying their NAMED gate reasons (the
    * [[graft.operators.Quality.gateReasons]] verdict — a curation
    * stream that silently drops is undebuggable). The `lm` gate is
    * "not in the source's perplexity tail"; a source ABSENT from the
    * calibration gets a NULL bucket and fails the gate (unknowable is
    * not head — the engine-wide unscorable convention). `extraChecks`
    * rides additional named gates (heuristic floors etc.) through the
    * same verdict.
    *
    * Both writes are epoch-scoped dynamic overwrites: an
    * at-least-once replay rewrites its own partitions, and because
    * the gate reads FROZEN stores the re-scored verdicts are
    * identical — PROVIDED the stores did not move between delivery
    * and replay. That is the operational discipline this sink
    * assumes and the calibration store makes auditable: freeze
    * before ingest, re-freeze between runs (the version pointer
    * names which calibration any shard shipped under); growing the
    * LM store mid-stream shifts later scores exactly as retraining
    * a real reference LM would.
    *
    * No fresh-checkpoint refusal: unlike the additive count sinks,
    * this sink's writes are pure per-epoch functions of the batch
    * and the frozen stores — a reset source re-landing documents
    * rewrites the same rows into the same epoch partitions. */
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
    ingestActivation(spark, "qualityGateIngestSink", stream, checkpoint,
      epochPaths = Seq("corpus" -> corpusPath, "rejects" -> rejectsPath))
    val token = runToken(spark, checkpoint)
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        if (!batch.isEmpty) {
          val lm = LmFilter.lmIndexRead(spark, lmStorePath,
            ctxBuckets, bigramBuckets)
          val cuts = Quality.qualityCutsRead(spark, cutsStorePath,
            "ppl", Seq(sourceCol))
          val scored = batch.join(
            LmFilter.lmPerplexity(batch, idCol, textCol, lm,
              ctxBuckets = ctxBuckets, bigramBuckets = bigramBuckets)
              .select(col(idCol), col("ppl")), Seq(idCol))
          val gated = Quality.gateReasons(
            Quality.qualityBucketsWith(scored, "ppl", Seq(sourceCol),
              cuts, as = "_qg_bucket"),
            Seq("lm" -> (col("_qg_bucket").isNotNull &&
              col("_qg_bucket") =!= "tail")) ++ extraChecks)
            .localCheckpoint(true)
          try {
            epochWrite(gated.filter(col("keep"))
              .select(batch.columns.map(col).toIndexedSeq: _*),
              corpusPath, token, epochId)
            epochWrite(gated.filter(!col("keep"))
              .select(col(idCol), col(sourceCol), col("reasons")),
              rejectsPath, token, epochId)
          } finally release(gated)
        }
      }
      .start()
  }

  /** Streaming dedup certification — q230's induction claim run as a
    * LIVE loop, store-backed: each micro-batch probes the PERSISTED
    * certification index ([[graft.operators.Dedup.certTextIndexProbe]]
    * — fingerprint rows, so corpus text is never re-read, re-tokenized
    * or re-df-counted per micro-batch; scan cost ∝ batch) and
    * exact-joins against itself; the pairs land in the certification
    * ledger as one epoch, the batch's own fingerprint/postings/stats rows
    * land in the index, and the batch lands in the corpus — so after
    * every activation the ledger equals the full corpus-wide exact
    * join over everything ever ingested, by induction, with corpus²
    * never having run here at all (bootstrap ledger + index from the
    * one-time [[graft.operators.Dedup.exactJaccardJoin]] /
    * [[graft.operators.Dedup.certTextIndexWrite]] pass, or from empty
    * for a corpus born under this sink).
    *
    * Ordering: ledger epoch BEFORE index epoch BEFORE corpus epoch,
    * all epoch-scoped dynamic overwrites, and the probe EXCLUDES this
    * epoch's own index partial — a crash (or an at-least-once replay)
    * anywhere in the sequence re-certifies against exactly the
    * standing index the first attempt saw and rewrites the same rows;
    * a replay across an index compaction refuses loudly inside the
    * store read rather than double-certifying. Both manifests are
    * checked, not just recorded: a PRE-EXISTING ledger or index at a
    * different metric/τ/shingleK refuses before any write lands
    * (appends at a different τ are refused, not merged — a silently
    * mixed ledger would void the release-audit guarantee).
    *
    * `labelsPath` (optional) keeps the PERSISTED repair labeling
    * current with every certified batch — the cosine sink's
    * `cc_labels` fold, here under metric="jaccard": after the ledger
    * epoch lands, the epoch's pairs min-fold into the store, so the
    * live certified-repair view is a STORE READ
    * ([[graft.operators.Dedup.repairSurvivorsFromStore]]), never a CC
    * recomputation over the ledger. Same self-heal as the cosine
    * twin: an empty labels store bootstraps from the full ledger. */
  def certIngestSink(stream: DataFrame, spark: SparkSession,
                     corpusPath: String, ledgerPath: String,
                     indexPath: String,
                     idCol: String, textCol: String,
                     checkpoint: String, threshold: Double,
                     shingleK: Int = 1,
                     maxBucket: Int = 100000,
                     buckets: Int = 64,
                     labelsPath: Option[String] = None): StreamingQuery = {
    import graft.operators.{Dedup, EpochIndex, IndexMeta}
    ingestActivation(spark, "certIngestSink", stream, checkpoint,
      epochPaths = Seq("corpus" -> corpusPath),
      // certLedgerErase / the RTBF audit sweep filter id_a/id_b as
      // longs — string-keyed pairs would be silently un-erasable
      integralIdCols = Seq(idCol))
    // corpus-ahead-of-index refusal: a standing corpus whose
    // certification index is EMPTY means every probe below would
    // match nothing and the ledger would silently stop equaling the
    // full exact join — the induction this sink exists to maintain.
    // Mirror of the fresh-checkpoint refusals: refuse at activation,
    // before any write lands. An index that is empty because the
    // standing corpus itself has no indexable row (every text empty
    // at this shingleK) is LEGITIMATE, not torn — certTextIndexWrite
    // could not produce index rows from it either, so refusing would
    // brick the pipeline forever; the (rare) empty-index branch pays
    // one limit(1)-bounded corpus scan to tell the two apart.
    require(!EpochIndex.nonEmpty(spark, corpusPath) ||
      Dedup.certTextIndexNonEmpty(spark, indexPath) ||
      !Dedup.certTextHasIndexable(
        EpochIndex.read(spark, corpusPath, observed = false,
          bootstrapName = "certIngestSink"), textCol, shingleK),
      s"certIngestSink: corpus at $corpusPath already holds indexable " +
        s"documents but the certification index at $indexPath is empty " +
        "— probing would certify only self-pairs and the ledger would " +
        "silently diverge from the full corpus-wide exact join. " +
        "Bootstrap the index over the standing corpus with " +
        "certTextIndexWrite (and the ledger with certLedgerWrite) " +
        "first, or point the sink at a fresh corpusPath")
    val token = runToken(spark, checkpoint)
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        if (!batch.isEmpty) {
          // manifest-first AND manifest-checked: first batch records,
          // later batches verify; a ledger bootstrapped elsewhere at
          // another τ (or a cosine ledger path) refuses loudly here
          // instead of silently absorbing incompatible appends
          IndexMeta.writeIfAbsent(spark, ledgerPath,
            Dedup.certLedgerMeta("jaccard", threshold))
          IndexMeta.check(spark, ledgerPath,
            Dedup.certLedgerMeta("jaccard", threshold))
          IndexMeta.writeIfAbsent(spark, indexPath,
            Dedup.certTextMeta(threshold, shingleK, maxBucket, buckets))
          val epoch = s"$token-$epochId"
          val self = Dedup.exactJaccardJoin(batch, idCol, textCol,
            threshold, shingleK, maxBucket)
          val pairs =
            if (Dedup.certTextIndexNonEmpty(spark, indexPath))
              Dedup.certTextIndexProbe(spark, indexPath, batch,
                  idCol, textCol, threshold, shingleK, maxBucket, buckets,
                  excludeEpoch = Some(epoch))
                .select(least(col("id_corpus"), col("id_batch")).as("id_a"),
                  greatest(col("id_corpus"), col("id_batch")).as("id_b"),
                  col("jaccard"))
                .unionByName(self)
            else self
          val pinned = pairs.localCheckpoint(true)
          try {
            // ledger first: a crash here replays with the index still
            // excluding this batch — same standing corpus, same rows
            epochWrite(pinned, ledgerPath, token, epochId)
            // live repair labels — certVecIngestSink's fold, the
            // jaccard twin (ledger first, labels as its derived view;
            // empty labels bootstrap from the full ledger when one
            // exists, this epoch alone when it does not; min-label
            // monotonicity makes every replay idempotent)
            labelsPath.foreach { lp =>
              val foldPairs =
                if (graft.operators.EpochIndex.nonEmpty(spark, lp))
                  pinned.select("id_a", "id_b")
                else if (graft.operators.EpochIndex.nonEmpty(spark,
                    ledgerPath))
                  graft.operators.EpochIndex
                    .read(spark, ledgerPath, excludeEpoch = Some(epoch),
                      bootstrapName = "certLedgerWrite")
                    .select("id_a", "id_b")
                    .unionByName(pinned.select("id_a", "id_b"))
                else pinned.select("id_a", "id_b")
              Dedup.ccLabelsFold(spark, lp, foldPairs, epoch,
                "jaccard", threshold)
              ()
            }
            Dedup.certTextIndexAppend(spark, indexPath, batch,
              idCol, textCol, epoch, threshold, shingleK, maxBucket,
              buckets)
            epochWrite(batch, corpusPath, token, epochId)
          } finally release(pinned)
        }
      }
      .start()
  }

  /** [[certIngestSink]]'s EMBEDDING twin — streaming SEMANTIC
    * certification over the cert_vec store: each micro-batch of
    * vectors probes the persisted banded index (frozen pivots, corpus
    * vectors never re-banded per batch), exact-joins against itself,
    * lands its pairs in a metric="cosine" ledger and its band rows in
    * the index — so the ledger equals the full corpus-wide exact
    * cosine join over everything ingested, by induction, after every
    * activation. With [[graft.operators.Dedup.repairSurvivors]] over
    * an incrementally-maintained labeling (q234), this is the live
    * form of certified-repair semantic dedup.
    *
    * A store born under this sink freezes its pivot geometry from the
    * FIRST batch ([[graft.operators.Dedup.certVecMetaWriteIfAbsent]]
    * — deterministic, replay-idempotent); bootstrap with
    * `certVecIndexWrite` + `certLedgerWrite` when a corpus predates
    * the stream. Ordering, replay idempotency, and the
    * checked-manifest refusals are exactly [[certIngestSink]]'s.
    *
    * `labelsPath` (optional) keeps the PERSISTED repair labeling
    * ([[graft.operators.Dedup.ccLabelsFold]]) current with every
    * certified batch: after the ledger epoch lands, the epoch's pairs
    * fold into the `cc_labels` store (super-vertex contraction —
    * O(batch) work), so the live certified-repair view is a STORE
    * READ ([[graft.operators.Dedup.repairSurvivorsFromStore]]), never
    * a recomputation of the CC over the ledger. A labels store that
    * is EMPTY while the ledger already holds epochs self-heals: the
    * first fold bootstraps from the FULL ledger (prior pairs ∪ this
    * epoch), so mid-life adoption and a crash between ledger and
    * labels writes both converge — the fold's min-label monotonicity
    * makes any replay idempotent. */
  def certVecIngestSink(stream: DataFrame, spark: SparkSession,
                        corpusPath: String, ledgerPath: String,
                        indexPath: String,
                        idCol: String, vecCol: String,
                        checkpoint: String, threshold: Double,
                        nPivots: Int = 4, maxCell: Long = 100000L,
                        roundTo: Int = 4,
                        labelsPath: Option[String] = None): StreamingQuery = {
    import graft.operators.{Dedup, EpochIndex, IndexMeta}
    ingestActivation(spark, "certVecIngestSink", stream, checkpoint,
      epochPaths = Seq("corpus" -> corpusPath),
      integralIdCols = Seq(idCol))
    // corpus-ahead-of-index refusal — certIngestSink's, cosine twin;
    // same legitimately-empty-index tolerance (a standing corpus of
    // only zero-norm vectors cannot band, so an empty band store is
    // the truthful index of it)
    require(!EpochIndex.nonEmpty(spark, corpusPath) ||
      Dedup.certVecIndexNonEmpty(spark, indexPath) ||
      !Dedup.certVecHasIndexable(
        EpochIndex.read(spark, corpusPath, observed = false,
          bootstrapName = "certVecIngestSink"), vecCol),
      s"certVecIngestSink: corpus at $corpusPath already holds " +
        s"bandable vectors but the certification index at $indexPath " +
        "is empty — probing would certify only self-pairs and the " +
        "ledger would silently diverge from the full corpus-wide " +
        "exact join. Bootstrap the index over the standing corpus " +
        "with certVecIndexWrite (and the ledger with certLedgerWrite) " +
        "first, or point the sink at a fresh corpusPath")
    val token = runToken(spark, checkpoint)
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        if (!batch.isEmpty) {
          IndexMeta.writeIfAbsent(spark, ledgerPath,
            Dedup.certLedgerMeta("cosine", threshold))
          IndexMeta.check(spark, ledgerPath,
            Dedup.certLedgerMeta("cosine", threshold))
          Dedup.certVecMetaWriteIfAbsent(spark, indexPath, batch,
            idCol, vecCol, threshold, nPivots, maxCell, roundTo)
          val epoch = s"$token-$epochId"
          // a 1-row batch cannot supply exactCosineJoin's 2 blocking
          // pivots; its self-pair set is trivially computable by the
          // block-local brute verifier instead (0 or tiny rows)
          val self =
            if (batch.limit(2).count() >= 2)
              Dedup.exactCosineJoin(batch, idCol, vecCol, threshold,
                nPivots, maxCell, roundTo)
            else
              Dedup.embeddingNearDup(batch.withColumn("_one", lit(1)),
                idCol, vecCol, "_one", threshold, roundTo)
                .select(col("id_a"), col("id_b"), col("cos"))
          val pairs =
            if (Dedup.certVecIndexNonEmpty(spark, indexPath))
              Dedup.certVecIndexProbe(spark, indexPath, batch,
                  idCol, vecCol, threshold, maxCell, roundTo,
                  excludeEpoch = Some(epoch))
                .select(least(col("id_corpus"), col("id_batch")).as("id_a"),
                  greatest(col("id_corpus"), col("id_batch")).as("id_b"),
                  col("cos"))
                .unionByName(self)
            else self
          val pinned = pairs.localCheckpoint(true)
          try {
            epochWrite(pinned, ledgerPath, token, epochId)
            // repair labels AFTER the ledger (the ledger is the source
            // of truth; labels are its derived view). An empty labels
            // store folds the FULL ledger minus this epoch plus this
            // epoch's pairs — so mid-life adoption over a standing
            // ledger, and a crash landing between ledger and labels
            // writes, both converge to the complete labeling; the
            // min-label fold makes every replay idempotent.
            labelsPath.foreach { lp =>
              // the bootstrap branch reads the FULL ledger — but a
              // fresh pipeline whose batches have all certified zero
              // pairs has no ledger data yet (empty epoch appends are
              // no-ops), and an unconditional read would throw and
              // crash-loop every replay of this batch. An absent/empty
              // ledger means there is nothing prior to bootstrap from:
              // fold this epoch's pairs alone (ccLabelsFold treats an
              // empty first fold as a no-op).
              val foldPairs =
                if (graft.operators.EpochIndex.nonEmpty(spark, lp))
                  pinned.select("id_a", "id_b")
                else if (graft.operators.EpochIndex.nonEmpty(spark,
                    ledgerPath))
                  graft.operators.EpochIndex
                    .read(spark, ledgerPath, excludeEpoch = Some(epoch),
                      bootstrapName = "certLedgerWrite")
                    .select("id_a", "id_b")
                    .unionByName(pinned.select("id_a", "id_b"))
                else pinned.select("id_a", "id_b")
              Dedup.ccLabelsFold(spark, lp, foldPairs, epoch,
                "cosine", threshold)
              ()
            }
            Dedup.certVecIndexAppend(spark, indexPath, batch,
              idCol, vecCol, epoch, threshold, maxCell, roundTo)
            epochWrite(batch, corpusPath, token, epochId)
          } finally release(pinned)
        }
      }
      .start()
  }

  /** Streaming NEAR-dup ingest over the persisted (bucketed) SimHash
    * band store — the near-duplicate completion of
    * [[dedupIngestSink]]'s exact shape and the streaming form of the
    * q97/q238 family: each micro-batch probes the STORED index
    * (partition-pruned to the batch's own band-key buckets,
    * [[graft.operators.Dedup.incrementalSimHashFromStore]]), keeps
    * only docs whose near-dup component touches no standing corpus
    * doc AND whose id is the component's minimum among batch members
    * (the q42 canonical-keep policy, per batch), then lands the
    * SURVIVORS' band rows in the index and the survivors in the
    * corpus. Dropped docs never pollute either store — the exact
    * sink's accepted-only contract.
    *
    * Replay idempotency is the cert-sink argument: the probe EXCLUDES
    * this epoch's own index partial, within-batch pairs are a pure
    * function of the batch, and both writes are epoch-scoped dynamic
    * overwrites — an at-least-once redelivery recomputes the
    * identical survivor set and rewrites its own partitions. A
    * standing corpus with an EMPTY index refuses at activation
    * (every document produces a signature row, so an empty index
    * under a standing corpus is always torn state, never legitimate
    * — no tolerance case, unlike the text-cert sink).
    *
    * Id contract: `idCol` must be integral — the canonical keep and
    * every RTBF path cast ids to long, and a string id NULLs out of
    * the membership joins, silently ADMITTING near-duplicates; key
    * upstream with `xxhash64(natural_key)` (the activation refusal
    * prints the recipe; docs/DEPLOYMENT.md "Streaming ingest: the id
    * contract" has the full rationale, including why the min-id keep
    * needs ids STABLE across re-deliveries). */
  def nearDupIngestSink(stream: DataFrame, spark: SparkSession,
                        corpusPath: String, indexPath: String,
                        idCol: String, textCol: String,
                        checkpoint: String, maxHamming: Int = 3,
                        maxBucket: Int = 5000,
                        buckets: Int = 64): StreamingQuery = {
    import graft.operators.{Dedup, EpochIndex, IndexMeta}
    val meta = Dedup.hamming64BandsMeta("simhash_bands", maxBucket)
    nearDupActivationChecks(stream, spark, corpusPath, indexPath, idCol,
      checkpoint,
      "nearDupIngestSink", "simHashBandIndexWrite")
    val token = runToken(spark, checkpoint)
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        if (!batch.isEmpty) {
          IndexMeta.writeIfAbsent(spark, indexPath,
            Dedup.bandMetaWithBuckets(meta, buckets))
          val epoch = s"$token-$epochId"
          val (pairs, freePin) =
            if (EpochIndex.nonEmpty(spark, indexPath,
                innerPartCols = Seq("bb")))
              Dedup.incrementalSimHashFromStorePinned(spark, indexPath,
                batch, idCol, textCol, maxHamming, maxBucket, buckets,
                excludeEpoch = Some(epoch), keepSelf = true)
            else (Dedup.simHashPairs(batch, idCol, textCol, maxHamming,
              maxBucket).select("id_a", "id_b"), () => ())
          val accepted = nearDupAccepted(batch, idCol, pairs, freePin)
          try {
            if (!accepted.isEmpty) {
              Dedup.bandIndexStoreAppend(spark, indexPath,
                Dedup.simHashBandIndex(accepted, idCol, textCol,
                  maxBucket), epoch, meta, buckets)
              epochWrite(accepted, corpusPath, token, epochId)
            }
          } finally release(accepted)
        }
      }
      .start()
  }

  /** Shared activation refusals of the near-dup ingest sinks: the
    * flat-layout check, the corpus-ahead-of-index check (every
    * document yields a signature/banding row, so an empty index under
    * a standing corpus is always torn state — no tolerance case,
    * unlike the text-cert sink), and the id-type check. The last one
    * exists because the keep policy below classifies component
    * membership through `cast("long")`: on a string/decimal id column
    * that cast yields NULLs, every batch doc falls out of the
    * membership joins, and near-duplicates would be ADMITTED with no
    * error — a silent violation of the dedup contract, refused here
    * at activation instead (the selectRepresentatives precedent:
    * id-shape constraints fail loudly). */
  private def nearDupActivationChecks(stream: DataFrame,
                                      spark: SparkSession,
                                      corpusPath: String, indexPath: String,
                                      idCol: String, checkpoint: String,
                                      sink: String,
                                      bootstrapName: String): Unit = {
    import graft.operators.EpochIndex
    ingestActivation(spark, sink, stream, checkpoint,
      epochPaths = Seq("corpus" -> corpusPath),
      integralIdCols = Seq(idCol))
    require(!EpochIndex.nonEmpty(spark, corpusPath) ||
      EpochIndex.nonEmpty(spark, indexPath, innerPartCols = Seq("bb")),
      s"$sink: corpus at $corpusPath already holds data " +
        s"but the band index at $indexPath is empty — probing would " +
        s"re-admit near-duplicates of the whole standing corpus. " +
        s"Bootstrap the index with $bootstrapName over the " +
        "standing corpus first, or point the sink at a fresh corpusPath")
  }

  /** Shared keep policy of the near-dup ingest sinks: a batch doc
    * survives iff its near-dup component touches no standing-corpus
    * doc AND its id is the component's minimum among batch members
    * (the q42 canonical-keep policy, per batch); unpaired docs
    * survive trivially. Returns the PINNED accepted set (the caller
    * releases it after its writes). `freePin` — the probe's internal
    * checkpoint release — and the CC mapping's own checkpoint are
    * both released only AFTER the accepted set's eager
    * `localCheckpoint` has materialized (or the attempt failed), so
    * nothing this helper touched stays in the block manager across
    * micro-batches and no release ever depends on an upstream
    * function happening to materialize eagerly: even if
    * `connectedComponents` grew a lazy path, every plan that reads
    * the probe's pinned blocks is either materialized or abandoned
    * by the time the pin is freed. */
  private def nearDupAccepted(batch: DataFrame, idCol: String,
                              pairs: DataFrame,
                              freePin: () => Unit): DataFrame = {
    import graft.operators.Dedup
    try {
      // a SELF pair (id_a == id_b: the store probe matched a batch
      // doc to a standing-corpus row under the SAME id — the probes
      // run keepSelf for exactly this) is a RE-DELIVERY: the id is
      // already in the corpus with near-identical content, so the doc
      // drops outright — without this, a source that re-sends old
      // files under new names would land every known doc a second
      // time (pair generation used to discard self-matches, and a
      // re-delivered doc sailed through as "unpaired"). Detection is
      // banding-granularity like everything here: a same-id arrival
      // whose content no longer bands with its stored signature is an
      // upstream id-contract violation this door cannot see.
      val known = pairs.filter(col("id_a") === col("id_b"))
        .select(col("id_a")
          .cast(batch.schema(idCol).dataType).as(idCol)).distinct()
      val live = batch.join(known, Seq(idCol), "left_anti")
      val comp = Dedup.connectedComponents(
        pairs.filter(col("id_a") =!= col("id_b")))
      try {
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
          .select(col("id").cast(batch.schema(idCol).dataType).as(idCol))
        live.join(dropIds, Seq(idCol), "left_anti").localCheckpoint(true)
      } finally release(comp)
    } finally freePin()
  }

  /** Streaming near-dup ingest over the persisted (bucketed) SRP band
    * store — the EMBEDDING member of the near-dup ingest family
    * ([[nearDupIngestSink]] = Hamming over text SimHash,
    * [[nearDupTextIngestSink]] = Jaccard over shingle MinHash, this =
    * cosine over signed-random-projection signatures): each batch of
    * (id, vector) rows probes the stored SRP index partition-pruned
    * to its own band-key buckets
    * ([[graft.operators.Dedup.incrementalEmbeddingLshFromStore]]),
    * cosine-verifies candidates at `threshold`, and lands only the
    * canonical survivors — semantic dedup at the door for an
    * embedding stream. Keep policy, replay idempotency, accepted-only
    * writes and every activation refusal are shared with the other
    * two (every vector yields an SRP signature — zero-norm vectors
    * band too, they just verify cosine 0 — so the empty-index-under-
    * standing-corpus refusal has no tolerance case here either). LSH
    * recall caveat: a true pair whose signatures disagree on all 4
    * bands is admitted — the [[graft.operators.Dedup
    * .embeddingLshPairs]] bound at Hamming-banding granularity. Same
    * id contract as the SimHash sink: integral `idCol` only
    * (docs/DEPLOYMENT.md "Streaming ingest: the id contract"). */
  def nearDupVecIngestSink(stream: DataFrame, spark: SparkSession,
                           corpusPath: String, indexPath: String,
                           idCol: String, vecCol: String,
                           checkpoint: String, threshold: Double,
                           maxBucket: Int = 5000,
                           buckets: Int = 64): StreamingQuery = {
    import graft.operators.{Dedup, EpochIndex, IndexMeta}
    val meta = Dedup.hamming64BandsMeta("srp_bands", maxBucket)
    nearDupActivationChecks(stream, spark, corpusPath, indexPath, idCol,
      checkpoint,
      "nearDupVecIngestSink", "srpBandIndexWrite")
    val token = runToken(spark, checkpoint)
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        if (!batch.isEmpty) {
          IndexMeta.writeIfAbsent(spark, indexPath,
            Dedup.bandMetaWithBuckets(meta, buckets))
          val epoch = s"$token-$epochId"
          val (pairs, freePin) =
            if (EpochIndex.nonEmpty(spark, indexPath,
                innerPartCols = Seq("bb")))
              Dedup.incrementalEmbeddingLshFromStorePinned(spark,
                indexPath, batch, idCol, vecCol, threshold, maxBucket,
                buckets, excludeEpoch = Some(epoch), keepSelf = true)
            else (Dedup.embeddingLshPairs(batch, idCol, vecCol,
              threshold, maxBucket), () => ())
          val accepted = nearDupAccepted(batch, idCol,
            pairs.select("id_a", "id_b"), freePin)
          try {
            if (!accepted.isEmpty) {
              Dedup.bandIndexStoreAppend(spark, indexPath,
                Dedup.srpBandIndex(accepted, idCol, vecCol, maxBucket),
                epoch, meta, buckets)
              epochWrite(accepted, corpusPath, token, epochId)
            }
          } finally release(accepted)
        }
      }
      .start()
  }

  /** Streaming near-dup ingest over the persisted (bucketed) MinHash
    * band store — [[nearDupIngestSink]]'s text-shingle (Jaccard)
    * twin: the Hamming sink catches telescoped/typo-level near-dups;
    * this one catches shingle-overlap near-dups (boilerplate
    * recombination, partial copies), probing the STORED minhash index
    * partition-pruned to the batch's own band-key buckets
    * ([[graft.operators.Dedup.incrementalMinHashLshFromStore]]).
    * Keep policy, replay idempotency, accepted-only writes and every
    * activation refusal are the SimHash sink's, shared above. LSH
    * recall caveat carried from the batch operator: candidates are
    * banded, so pairs missed by every band are admitted — same
    * probability bound as [[graft.operators.Dedup.minHashLsh]] at the
    * given (numHashes, bands). Same id contract as the SimHash sink:
    * integral `idCol` only (docs/DEPLOYMENT.md "Streaming ingest:
    * the id contract"). */
  def nearDupTextIngestSink(stream: DataFrame, spark: SparkSession,
                            corpusPath: String, indexPath: String,
                            idCol: String, textCol: String,
                            checkpoint: String, numHashes: Int = 64,
                            bands: Int = 16, shingleK: Int = 3,
                            maxBucket: Int = 200,
                            buckets: Int = 64): StreamingQuery = {
    import graft.operators.{Dedup, EpochIndex, IndexMeta}
    val meta = Dedup.minHashBandsMeta(numHashes, bands, shingleK,
      maxBucket, blockCol = None)
    nearDupActivationChecks(stream, spark, corpusPath, indexPath, idCol,
      checkpoint,
      "nearDupTextIngestSink", "minHashBandIndexWrite")
    val token = runToken(spark, checkpoint)
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        if (!batch.isEmpty) {
          IndexMeta.writeIfAbsent(spark, indexPath,
            Dedup.bandMetaWithBuckets(meta, buckets))
          val epoch = s"$token-$epochId"
          val (pairs, freePin) =
            if (EpochIndex.nonEmpty(spark, indexPath,
                innerPartCols = Seq("bb")))
              Dedup.incrementalMinHashLshFromStorePinned(spark, indexPath,
                batch, idCol, textCol, numHashes, bands, shingleK,
                maxBucket, blockCol = None, buckets,
                excludeEpoch = Some(epoch), keepSelf = true)
            else (Dedup.minHashLsh(batch, idCol, textCol, numHashes,
              bands, shingleK, threshold = 0.0, maxBucket)
              .select("id_a", "id_b"), () => ())
          val accepted = nearDupAccepted(batch, idCol, pairs, freePin)
          try {
            if (!accepted.isEmpty) {
              Dedup.bandIndexStoreAppend(spark, indexPath,
                Dedup.minHashBandIndex(accepted, idCol, textCol,
                  numHashes, bands, shingleK, maxBucket), epoch, meta,
                buckets)
              epochWrite(accepted, corpusPath, token, epochId)
            }
          } finally release(accepted)
        }
      }
      .start()
  }

  /** Streaming retrieval-index ingest — the continuous form of
    * `Relevance.bm25IndexAppend`, completing the postings family's
    * shapes (batch build / incremental append / streaming): each
    * micro-batch of documents lands in the corpus, its postings
    * partial and its one-row `(n_docs, sumdl)` statistics partial
    * land in the store, and every later `bm25IndexProbe` answers over
    * everything ingested — the corpus is tokenized exactly once, at
    * ingest. All three writes share the `(token, epochId)` dynamic-
    * overwrite unit: an at-least-once replay rewrites its own
    * partitions (postings and the stats row are pure functions of the
    * batch), never double-counts. Fresh-checkpoint refusal mirrors
    * the sample-sketch sink: statistics are ADDITIVE over disjoint
    * doc sets, so a reset source re-landing ingested documents would
    * silently double N/avgdl and skew every later score. */
  def bm25IngestSink(stream: DataFrame, spark: SparkSession,
                     corpusPath: String, indexPath: String,
                     idCol: String, textCol: String,
                     checkpoint: String,
                     allowForeignEpochs: Boolean = false): StreamingQuery = {
    import graft.operators.Relevance
    partialIngestSink(stream, spark, "bm25IngestSink",
      corpusPath, indexPath, checkpoint,
      Relevance.postingsMeta(idCol, textCol),
      refusal = if (allowForeignEpochs) None else Some(
        s"bm25IngestSink: fresh checkpoint ($checkpoint) but $indexPath " +
          "already holds postings partials. A reset source would re-land " +
          "its documents and double-count the corpus statistics (N, avgdl) " +
          "every score depends on. Restore the original checkpoint, " +
          "rebuild corpus+store from raw sources, or — only if this run " +
          "ingests strictly new documents — pass allowForeignEpochs = true"),
      storeSubdirs = Seq("postings", "stats")) { batch =>
      val (postings, stats) = Relevance.bm25Postings(batch, idCol, textCol)
      Seq("postings" -> postings, "stats" -> stats)
    }
  }

  /** THE shared scaffold of the index-backed cleaning sinks
    * (boilerplate, line dedup): one copy of the replay-idempotency
    * machinery so a fix lands in every family at once.
    *
    *  - The fresh-checkpoint-vs-kept-index refusal guards the shape
    *    where a reset source re-delivers ingested documents into an
    *    index that already contains them.
    *  - The batch's index partial is built ONCE (checkpointed): it
    *    feeds the clean AND is the index write below — and the
    *    checkpoint severs the clean's read of `indexPath` from the
    *    write that replaces partitions in it.
    *  - `readIndex` receives this epoch's `token-epochId` to EXCLUDE:
    *    an at-least-once replay must not dedup/count the batch
    *    against its own previous partial.
    *  - Both writes are epoch-scoped dynamic overwrites (epochWrite):
    *    a replay rewrites its own partitions, never double-appends;
    *    corpus before index, so a crash between them re-runs the
    *    epoch with the index still excluding it. */
  private def indexedCleaningSink(stream: DataFrame, spark: SparkSession,
                                  sink: String,
                                  corpusPath: String, indexPath: String,
                                  checkpoint: String,
                                  allowForeignEpochs: Boolean,
                                  refusal: String,
                                  emptyIndexSchema: StructType,
                                  meta: graft.operators.IndexMeta)(
      buildPartial: DataFrame => Dedup.LinePartial,
      readIndex: String => DataFrame,
      clean: (DataFrame, DataFrame, Dedup.LinePartial) => DataFrame): StreamingQuery = {
    import graft.operators.{EpochIndex, IndexMeta}
    // "index already exists" means stored PARTIALS (live epochs or a
    // compacted base) — a root holding only the `_GRAFT_META` written
    // ahead of a crashed first batch is not one
    ingestActivation(spark, sink, stream, checkpoint,
      epochPaths = Seq("corpus" -> corpusPath, "index" -> indexPath),
      standing = !allowForeignEpochs &&
        EpochIndex.nonEmpty(spark, indexPath),
      refusal = refusal)
    val token = runToken(spark, checkpoint)
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        val partial = buildPartial(batch).localCheckpoint(true)
        try {
          // manifest-first: record build parameters BEFORE any partial
          // lands, so a crash mid-epoch can never leave checkable data
          // behind an uncheckable (manifest-less) store; an existing
          // manifest is verified by readIndex below, never clobbered
          IndexMeta.writeIfAbsent(spark, indexPath, meta)
          val index =
            if (EpochIndex.nonEmpty(spark, indexPath))
              readIndex(s"$token-$epochId")
            else emptyFrame(spark, emptyIndexSchema)
          val cleaned = clean(batch, index, partial).localCheckpoint(true)
          try {
            epochWrite(cleaned, corpusPath, token, epochId)
            epochWrite(partial.frame, indexPath, token, epochId)
          } finally release(cleaned)
        } finally partial.unpersist()
      }
      .start()
  }
}
