package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** THE log-structured index store every persisted-index family shares
  * (line first-occurrence, boilerplate counts, IVF/IVF-PQ cells, band
  * keys, DSIR buckets): one copy of the epoch layout, the epoch-scoped
  * read, the append, and — the piece that bounds index growth — the
  * epoch COMPACTION that folds accumulated partials into a versioned
  * base published with `Layout.publishVersion`'s atomic `_CURRENT`
  * pointer flip.
  *
  * Layout of a store root (all bookkeeping names are `_`/`.`-prefixed,
  * so parquet partition discovery over the root sees only epoch data):
  *
  * {{{
  * root/_epoch=base/…             bootstrap partial (family writers)
  * root/_epoch=<token>-<n>/…      one appended partial per batch
  * root/_commits/<name>           per-epoch commit marker, written LAST
  * root/_base/_CURRENT            live compacted-base version pointer
  * root/_base/v00000001/…parquet  folded rows (no _epoch column)
  * root/_base/v00000001/_FOLDED   epoch names folded into this base
  * }}}
  *
  * Without compaction every batch appends one `_epoch=` partition
  * forever and every probe re-aggregates across ALL of them — after a
  * year of daily batches the probe-side scan is 365× the base index.
  * [[compact]] folds the current base (if any) plus a SNAPSHOT of the
  * live epochs into a new base version; because the fold output is one
  * partial of the same schema and every family's fold (min / sum /
  * union) is associative, reading base ∪ later epochs through the
  * family aggregation is exactly equivalent to reading the raw epochs.
  *
  * Concurrency contract, provable because the pointer flip is atomic:
  *  - An epoch appended AFTER the compaction snapshot is neither
  *    folded nor listed in `_FOLDED`, so readers of the new base still
  *    union it — a sink writing during compaction never loses an epoch
  *    (EpochIndexSpec pins this).
  *  - Folded epoch directories are NOT deleted by the compaction that
  *    folds them: readers holding the PREVIOUS version still need
  *    them. They are garbage-collected one compaction later, when
  *    every retained version's `_FOLDED` excludes them.
  *  - An epoch write MID-COMMIT at snapshot time is fenced by the
  *    per-epoch commit marker: [[append]] writes the epoch's data
  *    first and its `_commits/<name>` marker LAST, and [[read]] /
  *    [[compact]] snapshot only marked epochs — a half-written epoch
  *    (data present, marker absent) is invisible to probes, never
  *    folded, never GC'd, and surfaces in `CompactionStats.
  *    uncommitted` (and through Maintenance) until its writer
  *    finishes or an operator removes the torn directory. Stores
  *    written before markers existed have no `_commits/` directory
  *    and read as before (every listed epoch committed) — the
  *    discipline attaches at the first marker-writing append.
  *  - A replay that asks to EXCLUDE an epoch already folded into the
  *    base refuses loudly (the partial can no longer be subtracted) —
  *    the silent double-count a replay-across-compaction would cause
  *    becomes an explicit error.
  */
/** The TYPED "benign skip" of the maintenance protocol: a compaction
  * entry point that finds no partials to fold throws this, and
  * [[Maintenance.compactAll]] counts the store as skipped instead of
  * failed. A dedicated type, not a message-substring convention — a
  * GENUINE failure whose message happens to contain "nothing to
  * compact" must still fail the sweep (silent skips are the forbidden
  * failure class). */
final class NothingToCompact(msg: String) extends RuntimeException(msg)

object EpochIndex {

  val EpochCol = "_epoch"
  /** Synthetic `_epoch` label of compacted-base rows in [[read]]
    * output. Starts with `_` so it can never collide with a real
    * epoch name (`base` or `<uuid-token>-<n>`). */
  val CompactedLabel = "_compacted"
  private val BaseDir = "_base"
  private val FoldedFile = "_FOLDED"
  private val CommitsDir = "_commits"

  private def fsOf(spark: SparkSession, path: Path): FileSystem =
    path.getFileSystem(spark.sessionState.newHadoopConf())

  // ------------------------------------------------------------- listing

  /** Distinct live epoch names under `root` — directory names
    * `_epoch=X`, one partition-tree level per inner partition column
    * (e.g. IVF assignments are `cell=…/_epoch=…`, so
    * `innerPartCols = Seq("cell")`). Epoch names are written verbatim
    * (`base`, `<uuid>-<n>`) — no partition-value escaping applies. */
  def liveEpochNames(spark: SparkSession, root: String,
                     innerPartCols: Seq[String] = Nil): Seq[String] = {
    val p = new Path(root)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) return Nil
    def walk(dir: Path, depth: Int): Seq[String] =
      fs.listStatus(dir).toSeq.filter(_.isDirectory).flatMap { st =>
        val name = st.getPath.getName
        if (depth == 0) {
          if (name.startsWith(s"$EpochCol="))
            Seq(name.drop(EpochCol.length + 1))
          else Nil
        } else if (name.contains("=") && !name.startsWith(s"$EpochCol="))
          walk(st.getPath, depth - 1)
        else Nil
      }
    walk(p, innerPartCols.size).distinct.sorted
  }

  /** The epoch names with a commit marker, or None for a pre-marker
    * (legacy) store with no `_commits/` directory at all — where every
    * listed epoch is taken as committed. */
  private def commitMarkers(spark: SparkSession,
                            root: String): Option[Set[String]] = {
    val dir = new Path(root, CommitsDir)
    val fs = fsOf(spark, dir)
    if (!fs.exists(dir)) None
    else Some(fs.listStatus(dir).toSeq.filterNot(_.isDirectory)
      .map(_.getPath.getName).toSet)
  }

  /** Mark one epoch committed — the LAST write of a bootstrap or an
    * append. */
  private def markCommitted(spark: SparkSession, root: String,
                            epoch: String): Unit =
    writeTextFile(fsOf(spark, new Path(root)),
      new Path(new Path(root, CommitsDir), epoch), "")

  /** Live epochs whose commit marker is present (all of them for a
    * pre-marker store) — what [[read]] unions and [[compact]]
    * snapshots. */
  def committedEpochNames(spark: SparkSession, root: String,
                          innerPartCols: Seq[String] = Nil): Seq[String] = {
    val live = liveEpochNames(spark, root, innerPartCols)
    commitMarkers(spark, root).fold(live)(m => live.filter(m))
  }

  /** Live epochs WITHOUT a commit marker — data on disk whose append
    * never finished (or is still in flight). Invisible to reads and
    * compaction; surfaced so an operator can decide: wait, re-run the
    * append (idempotent), or delete the torn directory. */
  def uncommittedEpochNames(spark: SparkSession, root: String,
                            innerPartCols: Seq[String] = Nil): Seq[String] =
    commitMarkers(spark, root) match {
      case None => Nil
      case Some(m) =>
        liveEpochNames(spark, root, innerPartCols).filterNot(m)
    }

  private def currentBase(spark: SparkSession,
                          root: String): Option[(String, Set[String])] = {
    val pointer = new Path(s"$root/$BaseDir", "_CURRENT")
    val fs = fsOf(spark, pointer)
    if (!fs.exists(pointer)) None
    else {
      val vdir = Layout.currentVersionPath(spark, s"$root/$BaseDir")
      Some((vdir, readFolded(fs, new Path(vdir, FoldedFile))))
    }
  }

  private def readFolded(fs: FileSystem, f: Path): Set[String] = {
    require(fs.exists(f),
      s"compacted base ${f.getParent} has no $FoldedFile manifest — " +
        "not a base written by EpochIndex.compact; refusing to guess " +
        "which epochs it contains")
    val in = fs.open(f)
    val bytes = try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
    finally in.close()
    new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
      .split("\n").map(_.trim).filter(_.nonEmpty).toSet
  }

  private def writeTextFile(fs: FileSystem, f: Path, text: String): Unit = {
    val out = fs.create(f, true)
    try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Does the store hold any data — a live epoch or a compacted base?
    * (A root holding only bookkeeping files — `_GRAFT_META` written
    * ahead of a first batch — is NOT a stored index; reading it would
    * fail schema inference, and the sinks' fresh-checkpoint refusal
    * must not fire on it.) */
  def nonEmpty(spark: SparkSession, root: String,
               innerPartCols: Seq[String] = Nil): Boolean =
    liveEpochNames(spark, root, innerPartCols).nonEmpty ||
      currentBase(spark, root).nonEmpty

  /** First data file under `root` that NO epoch-store read can see:
    * not inside an `_epoch=` partition and not inside the compacted
    * `_base` tree. A flat (non-epoch) parquet table at the path —
    * `df.write.parquet(root)`, a table the sink was mis-pointed at —
    * reads as EMPTY through [[nonEmpty]]/[[read]], so an activation
    * guard keyed on nonEmpty alone would silently pass over standing
    * data and the sink would interleave `_epoch=` partitions into a
    * layout its own reads then half-see. The streaming sinks refuse
    * on this instead. Bounded: a directory walk that descends neither
    * `_base` nor `_epoch=` subtrees (the trees reads DO see) and
    * stops at the first foreign file; hidden/bookkeeping entries
    * (`_GRAFT_META`, `_SUCCESS`, `.crc`, `_ERASURES`, `_commits`)
    * never count. */
  def foreignDataFile(spark: SparkSession, root: String): Option[String] = {
    val p = new Path(root)
    val fs = fsOf(spark, p)
    // every store-visible tree is `_`-prefixed (`_epoch=`, `_base`),
    // as is every bookkeeping file — so anything NOT `_`/`.`-prefixed
    // that bottoms out in a file is foreign (inner-partition dirs like
    // `bb=3` are descended: their store-visible content is again
    // `_epoch=` subtrees)
    def walk(d: Path): Option[String] =
      fs.listStatus(d).iterator.map { st =>
        val n = st.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) None
        else if (st.isDirectory) walk(st.getPath)
        else Some(st.getPath.toString)
      }.collectFirst { case Some(f) => f }
    if (!fs.exists(p)) None else walk(p)
  }

  // ------------------------------------------------------------- append

  /** Bootstrap a store from a batch-built index: one `_epoch=base`
    * partition, the layout every later epoch append and compaction
    * composes with. A bootstrap IS a fresh index, and that is
    * ENFORCED, not assumed: every prior epoch directory, the whole
    * compacted `_base` tree and the commit markers are deleted
    * explicitly before the write. Spark's static overwrite replaces
    * only the partition directories it writes — so without the
    * explicit sweep, a re-bootstrap over a previously-compacted store
    * would leave the stale `_base` (and any epoch name the new write
    * does not produce) in place, and every later [[read]] would
    * silently UNION the old index into the new one. (Caught by the
    * q235 bench loop: a second pass's bootstrap met the first pass's
    * base and the replay-exclusion refusal fired — the loud symptom
    * of what would elsewhere have been silent double-reads.) Other
    * root files (`_GRAFT_META` manifests written by single-subroot
    * families) are preserved; family writers re-record them after the
    * bootstrap anyway. */
  def bootstrap(df: DataFrame, root: String,
                innerPartCols: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    val p = new Path(root)
    val fs = fsOf(spark, p)
    if (fs.exists(p)) {
      liveEpochNames(spark, root, innerPartCols)
        .foreach(deleteEpochDirs(spark, root, _, innerPartCols))
      fs.delete(new Path(p, BaseDir), true)
      fs.delete(new Path(p, CommitsDir), true)
      // the erasure log describes THIS store's content lineage — a
      // bootstrap replaces that lineage wholesale, so the log resets
      // with it (a re-bootstrapped demo/test store must not inherit a
      // prior life's erasure citations)
      fs.delete(new Path(p, ErasuresFile), false)
    }
    df.withColumn(EpochCol, lit("base"))
      .write.partitionBy(innerPartCols :+ EpochCol: _*)
      .mode("overwrite").parquet(root)
    // marker last: a crash mid-bootstrap leaves a store no read trusts
    markCommitted(spark, root, "base")
  }

  /** Epoch-scoped dynamic partition overwrite — THE idempotent append
    * unit (one partial per epoch name): a retry of the same epoch
    * rewrites its own `_epoch=<name>` partitions instead of double-
    * appending. A zero-row append is a no-op (it must not create an
    * empty directory whose schema inference bricks later reads — the
    * guard the streaming sinks rely on). */
  /** Does this plan do real work (joins/aggregations/windows/
    * explodes) — i.e. is running it twice worth one materialization?
    * Metadata-only: walks the optimized logical plan, runs nothing. */
  private def nonTrivialPlan(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst {
      case p: org.apache.spark.sql.catalyst.plans.logical.Join => p
      case p: org.apache.spark.sql.catalyst.plans.logical.Aggregate => p
      case p: org.apache.spark.sql.catalyst.plans.logical.Window => p
      case p: org.apache.spark.sql.catalyst.plans.logical.Generate => p
      case p: org.apache.spark.sql.catalyst.plans.logical.Distinct => p
    }.isDefined

  def append(df: DataFrame, root: String, epoch: String,
             innerPartCols: Seq[String] = Nil): Unit = {
    // ONE materialization of an EXPENSIVE batch plan: the emptiness
    // gate used to execute the plan once (a day's delta join, an
    // incremental triangle count) and the write a second time —
    // isEmpty and write are separate ACTIONS, so AQE's within-query
    // stage reuse never dedupes them (measured: q181's two census
    // appends 8.7→7.2 s scoped min-of-3). Checkpoint eagerly, answer
    // isEmpty from the cached blocks, write from them, release.
    // localCheckpoint's MEMORY_AND_DISK storage keeps a large epoch
    // batch spillable at scale; an append is batch-sized by contract,
    // never corpus-sized. A TRIVIAL plan (already-checkpointed leaf,
    // bare scan/projection) skips the barrier — there the extra
    // materialization job costs more than the recompute it saves.
    val ck = if (nonTrivialPlan(df)) df.localCheckpoint(true) else df
    try {
      if (ck.isEmpty) return
      val spark = df.sparkSession
      // first marker-writing append over a pre-marker store: backfill
      // markers for the already-listed epochs (committed under the old
      // discipline) BEFORE this write — otherwise creating `_commits/`
      // would retroactively hide them as torn
      if (commitMarkers(spark, root).isEmpty)
        liveEpochNames(spark, root, innerPartCols)
          .foreach(markCommitted(spark, root, _))
      ck.withColumn(EpochCol, lit(epoch))
        .write.partitionBy(innerPartCols :+ EpochCol: _*)
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").parquet(root)
      // marker LAST: only now is the epoch visible to read/compact; a
      // crash above leaves a torn directory that stays invisible and
      // is reported (never folded, never GC'd) until repaired or re-run
      markCommitted(spark, root, epoch)
    } finally if (ck ne df)
      org.apache.spark.sql.graftbridge.Bridge.unpersistCheckpoint(ck)
  }

  // --------------------------------------------------------------- read

  /** What one store read aggregated, captured from the executed
    * query's observed metrics via [[probeStats]]: the partial rows
    * the probe had to re-aggregate (`rowsAggregated`, of which
    * `baseRows` came from the compacted base) and the live epoch
    * partitions unioned on top (`epochsScanned` — 0 for a flat
    * never-epoch layout). A climbing `epochsScanned` / shrinking
    * base share is THE "compaction due" signal: it makes index
    * growth a production metric instead of a scaladoc warning. */
  case class ProbeStats(store: String, rowsAggregated: Long,
                        baseRows: Long, epochsScanned: Long)

  /** Unique observed-metric suffixes (one plan may probe several
    * stores — q143 reads the store it just compacted; Spark requires
    * distinct CollectMetrics names per plan). */
  private val probeSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Every [[read]] observes its own scan. `nLiveEpochs` is known
    * driver-side at plan time (the epoch listing), so only the row
    * counts aggregate executor-side; `max(lit(…))` carries the
    * constants through the metric row. */
  private def observeProbe(df: DataFrame, root: String,
                           nLiveEpochs: Int, hasEpochCol: Boolean): DataFrame =
    df.observe(s"epoch_probe_${probeSeq.incrementAndGet()}",
      count(lit(1)).as("rows_aggregated"),
      (if (hasEpochCol)
        sum(when(col(EpochCol) === lit(CompactedLabel), 1L).otherwise(0L))
      else max(lit(0L))).as("base_rows"),
      max(lit(root)).as("store"),
      max(lit(nLiveEpochs.toLong)).as("epochs_scanned"))

  private def longOr0(row: org.apache.spark.sql.Row, name: String): Long =
    Option(row.getAs[Any](name)).fold(0L)(_.asInstanceOf[Long])

  /** Probe metrics of every store read that executed in `df`'s plan.
    * Same capture contract as Dedup.droppedBuckets: metrics attach to
    * the QueryExecution that RAN — call after `collect`/`foreach` on
    * `df` itself, or capture `epoch_probe_*` through a
    * QueryExecutionListener for `count`/`write` actions. */
  def probeStats(df: DataFrame): Seq[ProbeStats] =
    org.apache.spark.sql.graftbridge.Bridge.observedMetrics(df).toSeq
      .collect {
        case (name, row) if name.startsWith("epoch_probe_") =>
          ProbeStats(Option(row.getAs[String]("store")).getOrElse(""),
            longOr0(row, "rows_aggregated"), longOr0(row, "base_rows"),
            longOr0(row, "epochs_scanned"))
      }

  /** Read a store as one frame of partial rows carrying `_epoch`
    * (base rows labeled [[CompactedLabel]]); the caller applies its
    * family aggregation (min / sum / identity). `excludeEpoch` drops
    * one live epoch's partial — the replay-idempotency hook of the
    * streaming sinks — and refuses loudly if that epoch was already
    * folded into the base (its rows can no longer be subtracted; a
    * silent read would double-count the replay). A store never
    * compacted reads exactly like the flat layout the family writers
    * bootstrap (`bootstrapName` names the writer in that error).
    * By default every read carries an `epoch_probe_*` observation
    * ([[probeStats]]) — but CollectMetrics is a Catalyst pushdown
    * BARRIER: no filter (static or dynamic-partition-pruning) can
    * cross it to reach the scan, because pushing one would change
    * what the metrics count. Reads whose whole point is a pruned
    * scan (the IVF cell probe, the postings term probe) must pass
    * `observed = false` or they silently regress to full-store
    * scans — SimilaritySpec pins the pruning, EpochIndexSpec the
    * metrics. */
  def read(spark: SparkSession, root: String,
           excludeEpoch: Option[String] = None,
           innerPartCols: Seq[String] = Nil,
           bootstrapName: String = "the family index writer",
           observed: Boolean = true): DataFrame =
    currentBase(spark, root) match {
      case None =>
        val raw = spark.read.parquet(root)
        val live = committedEpochNames(spark, root, innerPartCols)
        // a torn append (data, no marker) must be invisible to probes
        val committedOnly =
          if (uncommittedEpochNames(spark, root, innerPartCols).isEmpty) raw
          else if (live.isEmpty) raw.filter(lit(false))
          else raw.filter(col(EpochCol).isin(live: _*))
        val out = excludeEpoch match {
          case Some(e) =>
            require(raw.columns.contains(EpochCol),
              s"excludeEpoch set but $root has no $EpochCol partition " +
                s"column — a flat index cannot back the streaming sink " +
                s"(mixed flat + partitioned layouts break discovery); " +
                s"bootstrap it with $bootstrapName, which writes the " +
                s"$EpochCol=base layout")
            committedOnly.filter(col(EpochCol) =!= lit(e))
          case None => committedOnly
        }
        val nLive = live.count(n => !excludeEpoch.contains(n))
        if (observed) observeProbe(out, root, nLive,
          raw.columns.contains(EpochCol))
        else out
      case Some((vdir, folded)) =>
        excludeEpoch.foreach { e =>
          require(!folded.contains(e),
            s"epoch $e of $root was already compacted into $vdir — its " +
              "partial is merged into the base and cannot be excluded; " +
              "a replay across a compaction boundary would double-count. " +
              "Run compaction only between committed batches (from the " +
              "ingest owner), or rebuild the store from raw sources")
        }
        val base = spark.read.parquet(vdir)
          .withColumn(EpochCol, lit(CompactedLabel))
        val live = committedEpochNames(spark, root, innerPartCols)
          .filterNot(folded)
        val all =
          if (live.isEmpty) base
          else base.unionByName(
            spark.read.parquet(root)
              .filter(col(EpochCol).isin(live: _*))
              .select(base.columns.map(col).toIndexedSeq: _*))
        val out = excludeEpoch.fold(all)(e =>
          all.filter(col(EpochCol) =!= lit(e)))
        val nLive = live.count(n => !excludeEpoch.contains(n))
        if (observed) observeProbe(out, root, nLive, hasEpochCol = true)
        else out
    }

  // -------------------------------------------------------- time travel

  /** Retained base versions of a store, ascending, plus the current
    * pointer. The retention horizon is compaction's `keepVersions`,
    * so this is the [[readAsOf]] window. */
  def versions(spark: SparkSession,
               root: String): (Seq[String], Option[String]) =
    Layout.listVersions(spark, s"$root/$BaseDir")

  /** Time-travel read: the store EXACTLY as one retained compaction
    * folded it — the folded partial rows of base `version`, ignoring
    * the current pointer and every epoch appended since. This is the
    * reproducibility hook the release-manifest flow needs ("score
    * against the index release N was built with"): each compaction is
    * a named, immutable snapshot, retained for `keepVersions`
    * generations behind the atomic pointer flip.
    *
    * Output schema is the family partial WITHOUT `_epoch` (a folded
    * base IS one partial per group — directly usable by the family's
    * estimate/probe functions). Refuses loudly for a version outside
    * the retention window, listing what IS retained: a silently-empty
    * read of a GC'd snapshot would look like an empty corpus. */
  def readAsOf(spark: SparkSession, root: String,
               version: String): DataFrame = {
    val (retained, _) = versions(spark, root)
    require(retained.contains(version),
      s"version $version of $root is not retained " +
        s"(have: ${if (retained.isEmpty) "none — never compacted" else retained.mkString(", ")}) " +
        "— GC'd snapshots cannot be read; raise keepVersions at " +
        "compaction time for a longer time-travel window")
    spark.read.parquet(s"$root/$BaseDir/$version")
  }

  // ------------------------------------------------------------ compact

  /** What one [[compact]] run did: the published base version, the
    * epochs folded into it, the previously-folded epochs carried in
    * its `_FOLDED` manifest awaiting GC, the ones GC'd now, and any
    * TORN epochs found (data without a commit marker — excluded from
    * the fold, left on disk, reported here and via Maintenance until
    * their writer finishes, re-runs, or an operator removes them). */
  case class CompactionStats(version: String, folded: Seq[String],
                             carried: Seq[String], gcd: Seq[String],
                             uncommitted: Seq[String] = Nil)

  /** Version sentinel in [[CompactionStats]] when [[eraseRewrite]]
    * tore the store down because `keep` removed every row — the
    * Derived erase form branches on it to skip rebuild reads of a
    * store that no longer exists. Starts with `_` so it can never collide with a
    * real `v=N` version directory name. */
  val TornDownVersion = "_torn_down"

  /** Control-flow signal inside [[eraseRewrite]]'s fold: the kept set
    * is empty, so abort the publish (before the `_CURRENT` flip) and
    * tear the store down instead. Never escapes eraseRewrite. */
  private final class EraseLeavesNothing extends RuntimeException

  private val ErasuresFile = "_ERASURES"

  /** The store's erasure history — one entry per completed
    * [[eraseRewrite]], oldest first: the version the rewrite
    * published (`v=N`) or [[TornDownVersion]] for a total erasure.
    * This is what a release card cites ("N erasure rewrites applied,
    * last at version V") without replaying any maintenance history —
    * the erasure counterpart of the `_CURRENT` calibration pointer.
    * Empty for a store never erased (including stores written before
    * the log existed — absence of evidence is recorded as zero, the
    * conservative reading for an audit). On disk each line is
    * `<epochMillis>\t<version>` (see [[erasureLog]]); this accessor
    * returns the versions alone, in log (= per-store chronological)
    * order. */
  def erasures(spark: SparkSession, root: String): Seq[String] =
    erasureLog(spark, root).map(_._2)

  /** The erasure history WITH wall-clock order: (epochMillis,
    * version), oldest-logged first. The timestamp is what lets a
    * card that cites SEVERAL stores' logs name the chronologically
    * latest rewrite rather than the last store in its own listing
    * order ([[graft.operators.Audit.cardFromStores]]'s
    * `last_erasure`). Lines written before the timestamp existed
    * read as epoch 0 — ordered before every timestamped entry, the
    * conservative reading ("older than anything we can date"). */
  def erasureLog(spark: SparkSession, root: String): Seq[(Long, String)] =
    rawErasureLines(spark, root).map { l =>
      l.indexOf('\t') match {
        case -1 => (0L, l)
        case i => (scala.util.Try(l.substring(0, i).toLong).getOrElse(0L),
          l.substring(i + 1))
      }
    }

  private def rawErasureLines(spark: SparkSession,
                              root: String): Seq[String] = {
    val f = new Path(root, ErasuresFile)
    val fs = fsOf(spark, f)
    if (!fs.exists(f)) Nil
    else {
      val in = fs.open(f)
      try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().filter(_.nonEmpty).toList
      finally in.close()
    }
  }

  /** Append one line to the erasure log (read + rewrite — local and
    * object-store FS need no append support; erasures run inside the
    * same single-writer maintenance window as the rewrite itself),
    * stamped with wall-clock millis so multi-store consumers can
    * order entries ACROSS logs ([[erasureLog]]).
    * Also the record of the non-epoch erasure path — the snapshot
    * Rebuild form ([[StoreFamily.Rebuild]]) replaces a versioned
    * calibration rather than rewriting epochs, but the RTBF record it
    * leaves is the same `_ERASURES` line `describeStores` and the
    * release card read. */
  private[operators] def logErasure(spark: SparkSession, root: String,
                                line: String): Unit = {
    val prior = rawErasureLines(spark, root)
    writeTextFile(fsOf(spark, new Path(root)),
      new Path(root, ErasuresFile),
      (prior :+ s"${System.currentTimeMillis()}\t$line").mkString("\n"))
  }

  /** Fold the current base plus a snapshot of the live epochs into a
    * new base version and flip `_CURRENT` atomically. `fold` receives
    * the unioned partial rows WITHOUT `_epoch` and must return one
    * partial of the same schema (the family merge: min for first-
    * occurrence, sum for counts, identity for disjoint-row families)
    * — associativity is what makes base-as-one-partial equivalent to
    * the raw epochs under the family read aggregation.
    *
    * Epochs folded by a PREVIOUS compaction are excluded from the
    * fold (their rows are in the inherited base) and deleted here —
    * one generation late, so every retained version's `_FOLDED`
    * already excludes them and no retained reader can be holding
    * them. Crash-safe at every step: a crash before the pointer flip
    * leaves the store on its old base; a crash before GC leaves
    * duplicate-but-excluded directories the next run deletes. */
  def compact(spark: SparkSession, root: String,
              fold: DataFrame => DataFrame,
              innerPartCols: Seq[String] = Nil,
              keepVersions: Int = 2): CompactionStats = {
    val prev = currentBase(spark, root)
    val prevFolded = prev.map(_._2).getOrElse(Set.empty[String])
    // snapshot COMMITTED epochs only: a torn append must never fold
    // (its partial could be half the rows its writer intended)
    val liveAll = committedEpochNames(spark, root, innerPartCols)
    val uncommitted = uncommittedEpochNames(spark, root, innerPartCols)
    val snapshot = liveAll.filterNot(prevFolded)
    val carried = liveAll.filter(prevFolded)
    if (prev.isEmpty && snapshot.isEmpty) throw new NothingToCompact(
      s"nothing to compact at $root: no live epochs and no existing base")
    val liveDf =
      if (snapshot.isEmpty) None
      else Some(spark.read.parquet(root)
        .filter(col(EpochCol).isin(snapshot: _*)).drop(EpochCol))
    val baseDf = prev.map { case (vdir, _) => spark.read.parquet(vdir) }
    val input = (baseDf, liveDf) match {
      case (Some(b), Some(l)) =>
        b.unionByName(l.select(b.columns.map(col).toIndexedSeq: _*))
      case (Some(b), None) => b
      case (None, Some(l)) => l
      case (None, None) => sys.error("unreachable: guarded above")
    }
    val foldedDf = fold(input)
    val manifest = (carried ++ snapshot).sorted
    val version = Layout.publishVersion(spark, s"$root/$BaseDir",
      keepVersions) { dir =>
      val w = foldedDf.write.mode("overwrite")
      (if (innerPartCols.nonEmpty) w.partitionBy(innerPartCols: _*) else w)
        .parquet(dir)
      writeTextFile(fsOf(spark, new Path(dir)), new Path(dir, FoldedFile),
        manifest.mkString("\n"))
    }
    val gcd = carried.filter(deleteEpochDirs(spark, root, _, innerPartCols))
    // a GC'd epoch's marker goes with its data (a marker without an
    // epoch directory is meaningless and would accumulate forever)
    val markerFs = fsOf(spark, new Path(root))
    gcd.foreach(e =>
      markerFs.delete(new Path(new Path(root, CommitsDir), e), false))
    CompactionStats(version, snapshot, carried, gcd, uncommitted)
  }

  /** Targeted ERASURE rewrite — the right-to-be-forgotten primitive
    * for log-structured stores: rewrite the store as `keep`(partial
    * rows), with the erased rows REMOVED FROM DISK, not just filtered
    * at read time (the q160/q175 deleteWrite discipline, extended to
    * the epoch/base layout). Two compactions do it with the existing
    * crash-safe machinery:
    *
    *  1. fold base ∪ live epochs THROUGH `keep` into a fresh base
    *     version at `keepVersions = 1` — the prior versions, which
    *     still hold the erased rows, are GC'd at the publish;
    *  2. an identity re-compaction whose only job is to GC the
    *     now-carried epoch directories (the first pass leaves them on
    *     disk for one generation, per the compaction contract — an
    *     erasure cannot).
    *
    * After it returns, every epoch directory, every retained base
    * version and every commit marker on disk is erased-row-free.
    * Refuses loudly when a TORN append is present: its data is
    * invisible to the fold, so an unreachable copy of erased rows
    * would survive in the torn directory — repair or remove it first.
    * Runs under the same single-writer maintenance-window assumption
    * as compaction; a replay across it refuses for the same reason
    * (the epochs are folded).
    *
    * TOTAL erasure (keep removes every row) is handled by TEARDOWN,
    * not publish: Spark writes no parquet files for an empty
    * partitioned frame, so publishing the empty fold would flip
    * `_CURRENT` to a file-less base that bricks every later read
    * (including pass 2's own identity compaction) at schema
    * inference. And refusing would be worse — the erased rows would
    * STAY on disk. So when the kept set is empty the store's data
    * trees (epochs, `_base`, `_commits`, inner-partition branches)
    * are deleted outright; root-level manifests survive, the store
    * reads as empty ([[nonEmpty]] false) and a later bootstrap or
    * append starts it cleanly. Returned stats carry
    * [[TornDownVersion]] as the version sentinel. */
  def eraseRewrite(spark: SparkSession, root: String,
                   keep: DataFrame => DataFrame,
                   innerPartCols: Seq[String] = Nil): CompactionStats = {
    val torn = uncommittedEpochNames(spark, root, innerPartCols)
    require(torn.isEmpty,
      s"eraseRewrite at $root: torn (uncommitted) epochs ${torn.mkString(", ")} " +
        "hold data the fold cannot see — an erasure that left them " +
        "behind would retain unreachable copies of the erased rows; " +
        "re-run their append (idempotent) or remove the directories, " +
        "then erase")
    // column order is load-bearing (parquet round-trips by position,
    // and family reads map rows positionally): a keep built from
    // USING-joins silently moves join keys to the front, so the fold
    // output is re-selected into the INPUT's column order here, once,
    // for every caller
    val first = try {
      compact(spark, root, p => {
        val kept = keep(p)
        require(kept.columns.toSet == p.columns.toSet,
          s"eraseRewrite keep must preserve the partial schema at $root: " +
            s"got ${kept.columns.mkString(",")}, " +
            s"store has ${p.columns.mkString(",")}")
        val out = kept.select(p.columns.map(col).toIndexedSeq: _*)
        // the emptiness probe runs INSIDE the fold, before
        // publishVersion — aborting here leaves the store on its old
        // base (the compaction crash-safety contract), and the catch
        // below tears it down instead
        if (out.isEmpty) throw new EraseLeavesNothing
        out
      }, innerPartCols, keepVersions = 1)
    } catch {
      case _: EraseLeavesNothing =>
        val folded = committedEpochNames(spark, root, innerPartCols)
        val p = new Path(root)
        val fs = fsOf(spark, p)
        // delete every data tree: `_base`, `_commits`, and every
        // partition directory (inner-partition branches and top-level
        // `_epoch=` dirs both carry '='); manifests and other root
        // files survive so family meta checks still hold
        fs.listStatus(p).toSeq
          .filter(st => st.isDirectory && {
            val n = st.getPath.getName
            n == BaseDir || n == CommitsDir || n.contains("=")
          })
          .foreach(st => fs.delete(st.getPath, true))
        logErasure(spark, root, TornDownVersion)
        return CompactionStats(TornDownVersion, folded, Nil, folded)
    }
    // pass 2 folds the just-published base alone (identity is exact on
    // one partial, whatever the family fold) and GCs the carried
    // epoch directories + the superseded version
    val second = compact(spark, root, identity, innerPartCols,
      keepVersions = 1)
    logErasure(spark, root, second.version)
    // the returned stats carry pass 1's fold/GC work but pass 2's
    // version — the base the store actually sits on after the rewrite
    // — so CompactionStats.version and the `_ERASURES` line an audit
    // card cites as last_erasure always name the same `v=N`
    first.copy(version = second.version)
  }

  /** Delete every `_epoch=name` directory of one epoch (one per inner
    * partition branch). Best-effort: false when nothing was deleted. */
  private def deleteEpochDirs(spark: SparkSession, root: String,
                              name: String,
                              innerPartCols: Seq[String]): Boolean = {
    val p = new Path(root)
    val fs = fsOf(spark, p)
    def walk(dir: Path, depth: Int): Seq[Path] =
      fs.listStatus(dir).toSeq.filter(_.isDirectory).flatMap { st =>
        val n = st.getPath.getName
        if (depth == 0) {
          if (n == s"$EpochCol=$name") Seq(st.getPath) else Nil
        } else if (n.contains("=") && !n.startsWith(s"$EpochCol="))
          walk(st.getPath, depth - 1)
        else Nil
      }
    walk(p, innerPartCols.size).map(fs.delete(_, true))
      .foldLeft(false)(_ || _)
  }
}
