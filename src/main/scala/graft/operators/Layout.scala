package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton space-filling curve) data layout — the 100 TB
  * data-skipping workhorse: cluster a table on the bit-interleaving
  * of k range-bucketed columns so that parquet row-group / file
  * min-max statistics prune scans on ANY of the k dimensions, not
  * just the leading sort column. A lexicographic sort on (a, b)
  * skips nothing for a predicate on b alone; a z-order sort bounds
  * every file to a small hyper-rectangle of the key space, so a
  * narrow predicate on either column intersects only a fraction of
  * the files (LayoutSpec proves the pruning ratio on real writes).
  *
  * Reference semantics: the reference engine stores append-only
  * snapshots with no clustering (extract_stripe_data.py:105-116 —
  * plain NDJSON overwrite); this is the layout layer a lake-scale
  * deployment adds under the same tables.
  *
  * Scale design: bucket scaling needs only per-column min/max — ONE
  * aggregate job collecting 2k longs to the driver (bounded, like
  * Percentiles' boundary collect) — and the interleave itself is a
  * static composition of shift/mask built-ins, fully codegen'd,
  * zero shuffle beyond the final repartitionByRange. Shift-aligned
  * min/max bucketing is integer-exact at any magnitude and pinned
  * bit-for-bit by q95's DuckDB oracle; for heavily skewed dimensions
  * [[zorderKeyEqualDepth]] buckets by the column's own exact
  * quantiles instead (q96's oracle) so buckets equalize ROW mass —
  * the interleave is agnostic to how buckets were produced.
  */
object Layout {

  /** Morton-interleave k already-bucketed non-negative columns, each
    * in [0, 2^bits): output bit (i·k + j) is bit i of column j. With
    * k·bits ≤ 62 the key fits a long. Pure shift/mask built-ins —
    * whole-stage-codegen'd, no UDF. */
  def interleave(buckets: Seq[Column], bits: Int): Column = {
    require(buckets.nonEmpty && buckets.size * bits <= 62,
      s"k*bits must fit a long: ${buckets.size} * $bits")
    val k = buckets.size
    buckets.zipWithIndex.flatMap { case (b, j) =>
      (0 until bits).map(i =>
        shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), i * k + j))
    }.reduce(_ bitwiseOR _)
  }

  /** Shift-aligned range bucket: offset to (v − min), then align the
    * column's significant width to exactly `bits` bits — right-shift
    * a wide column, left-shift a narrow one — so every dimension
    * contributes equally to the curve regardless of its natural
    * span. Pure integer shifts: exact and overflow-safe at ANY long
    * magnitude (a multiply-then-divide scaling overflows 64 bits for
    * nanosecond-timestamp spans; shifts never do), and expressible
    * bit-for-bit in the DuckDB oracle (q95). Degenerate min = max
    * collapses to bucket 0. */
  def bucketize(v: Column, min: Long, max: Long, bits: Int): Column = {
    if (max <= min) lit(0L)
    else {
      // a span wider than 2^63 − 1 (e.g. a full-range signed hash
      // column) wraps max − min negative here and overflows v − min
      // per row under ANSI mode — fail loudly; pre-hash to a
      // narrower domain or split the column instead
      require(max - min >= 0,
        s"z-order dimension span [$min, $max] exceeds the signed-long " +
          "range — pre-map the column into a narrower domain")
      // binary digit count of the largest offset (max − min ≥ 1)
      val width = 64 - java.lang.Long.numberOfLeadingZeros(max - min)
      val off = v.cast("long") - min
      if (width >= bits) shiftright(off, width - bits)
      else shiftleft(off, bits - width)
    }
  }

  /** Append a `zkey` column: per-column min/max via one aggregate
    * (2k longs to the driver), then bucketize + interleave. */
  def zorderKey(df: DataFrame, cols: Seq[String], bits: Int = 16): DataFrame = {
    val aggs = cols.flatMap(c => Seq(min(col(c)).cast("long"), max(col(c)).cast("long")))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val buckets = cols.zipWithIndex.map { case (c, i) =>
      // loud failure over a bare NPE: min/max are null iff the column
      // has no non-null rows (empty table or all-null dimension)
      require(!row.isNullAt(2 * i),
        s"z-order dimension $c has no non-null rows — nothing to bucket")
      bucketize(col(c), row.getLong(2 * i), row.getLong(2 * i + 1), bits)
    }
    df.withColumn("zkey", interleave(buckets, bits))
  }

  /** Equal-depth (rank-based) z-order key — the skew-robust variant.
    * Min/max bucketing wastes the curve on a skewed dimension: a
    * timestamp column where 99 % of rows land in the newest month
    * puts 99 % of the data into a sliver of buckets, and every file
    * still spans that sliver — no pruning where the mass is. Here
    * each dimension's bucket boundaries are its own exact quantiles
    * (the engine's `Percentiles`, bit-identical to DuckDB's
    * `quantile_cont` — q96 pins the whole key), so every bucket holds
    * ~1/2^bits of the ROWS regardless of the value distribution.
    *
    * Cost: one `Percentiles` pass per dimension at build time
    * (2^bits − 1 doubles per column to the driver — bounded), and the
    * per-row bucket is a fold over that broadcast-literal boundary
    * array: count of boundaries ≤ v. Ties among boundaries (a value
    * so hot it spans quantiles) collapse adjacent buckets on BOTH
    * engines identically, because the definition is a pure count. */
  def zorderKeyEqualDepth(df: DataFrame, cols: Seq[String],
                          bits: Int = 8): DataFrame = {
    require(bits >= 1 && bits <= 12,
      s"equal-depth boundaries are driver-held literals: 2^$bits is too many")
    val nb = (1 << bits) - 1
    val fracs = (1 to nb).map(i => i.toDouble / (1 << bits))
    val buckets = cols.map { c =>
      val bs = Percentiles.values(df.select(col(c)), c, fracs)
      bucketOfSorted(col(c).cast("double"), bs)
    }
    // materialize each bucket ONCE before interleaving: interleave
    // references its inputs `bits` times each, and inlining the
    // comparison tree 8× per dimension makes the zkey expression
    // thousands of nodes (measured 14 s vs sub-second at sf0.1)
    val tmp = cols.indices.map(j => s"_zb$j")
    val bucketed = buckets.zip(tmp).foldLeft(df) { case (d, (b, n)) =>
      d.withColumn(n, b)
    }
    bucketed
      .withColumn("zkey", interleave(tmp.map(col), bits))
      .drop(tmp: _*)
  }

  /** Count of sorted boundaries ≤ v, as a balanced comparison TREE of
    * nested CASE expressions — log₂(n) codegen'd comparisons per row
    * instead of a linear interpreted fold (an `aggregate` HOF over a
    * 255-literal array measured 26 s for 60k rows × 2 dims; this tree
    * is sub-second). Identical result to the fold: `v ≥ bs(i)` is
    * monotone non-increasing over a sorted (ties included) boundary
    * array, which is exactly the predicate binary search needs. */
  private[operators] def bucketOfSorted(v: Column, bs: IndexedSeq[Double]): Column = {
    def go(lo: Int, hi: Int): Column = // the count, known to lie in [lo, hi]
      if (lo == hi) lit(lo.toLong)
      else {
        val mid = (lo + hi) / 2 // v ≥ bs(mid) ⇒ at least mid+1 boundaries ≤ v
        when(v >= bs(mid), go(mid + 1, hi)).otherwise(go(lo, mid))
      }
    go(0, bs.length)
  }

  /** Range-partition and sort by the z-key — each output file covers
    * one contiguous curve segment (a bounded hyper-rectangle union),
    * which is what makes min/max pruning effective on every
    * dimension. The zkey column is dropped before the write; parquet
    * column stats on the ORIGINAL columns do the pruning. */
  def zorderBy(df: DataFrame, cols: Seq[String], numPartitions: Int,
               bits: Option[Int] = None, equalDepth: Boolean = false): DataFrame = {
    // per-mode defaults, resolved only when the caller left bits
    // unset: an EXPLICIT bits always reaches the callee verbatim
    // (over-budget equal-depth values hit zorderKeyEqualDepth's loud
    // require, never a silent remap to a coarser key)
    val keyed = if (equalDepth)
      zorderKeyEqualDepth(df, cols, bits.getOrElse(8))
    else zorderKey(df, cols, bits.getOrElse(16))
    keyed.repartitionByRange(numPartitions, col("zkey"))
      .sortWithinPartitions("zkey")
      .drop("zkey")
  }

  def zorderWrite(df: DataFrame, cols: Seq[String], path: String,
                  numPartitions: Int, bits: Option[Int] = None,
                  equalDepth: Boolean = false): Unit =
    zorderBy(df, cols, numPartitions, bits, equalDepth)
      .write.mode("overwrite").parquet(path)

  case class CompactionStats(filesBefore: Int, filesAfter: Int,
                             bytesBefore: Long, rows: Long) {
    def +(o: CompactionStats): CompactionStats =
      CompactionStats(filesBefore + o.filesBefore, filesAfter + o.filesAfter,
        bytesBefore + o.bytesBefore, rows + o.rows)
  }

  /** Small-file compaction — the operational counterpart of the
    * layout writers: streaming ingest (dedupIngestSink, mergeSink)
    * and frequent incremental batches each append a handful of rows
    * per activation, and a 100 TB table quietly accretes millions of
    * kilobyte files whose per-file open/footer cost dominates every
    * subsequent scan. Rewrites each data directory into
    * ⌈bytes / targetFileBytes⌉ files (optionally re-sorted so
    * clustering survives compaction), verifies the row count on the
    * rewritten copy BEFORE touching the original, then swaps.
    *
    * A hive-partitioned root (day=…/ subdirectories, nested or not)
    * is compacted PER PARTITION DIRECTORY — each leaf gets its own
    * verify+swap, partition values stay encoded in the directory
    * names, and directory pruning is untouched for every downstream
    * reader. Stats aggregate across partitions. This is the
    * maintenance companion of the streaming ingest, whose sinks write
    * exactly this layout.
    *
    * The source is scanned ONCE per leaf: the expected row count
    * rides the rewrite job itself as an observed metric instead of a
    * separate count() pass; the independent verification count runs
    * against the (small, freshly written) rewrite only.
    *
    * The swap is rename-based: not atomic for readers the way a
    * manifest-pointer flip would be (concurrent readers of `path` can
    * glimpse the gap on stores without atomic dir rename), but never
    * lossy — the verified rewrite exists on disk from before the
    * original is removed, and a crash between the two leaves the
    * `.compact-tmp` copy to recover from. For concurrent readers, put
    * the table behind a versioned root and use [[compactVersioned]]:
    * its publish is one atomic pointer flip.
    *
    * A zone map built over this table is STALE after the rewrite
    * (every compacted leaf's file names changed — [[zoneMapRead]]
    * refuses on it); rebuild it in one call with [[zoneMapRebuild]]. */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
              targetFileBytes: Long = 128L << 20,
              sortCols: Seq[String] = Nil): CompactionStats = {
    import org.apache.hadoop.fs.{FileSystem, Path}
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    // every directory holding .parquet files directly — the root for a
    // flat table, each (possibly nested) partition dir otherwise.
    // Hidden/metadata entries (_SUCCESS, _CURRENT, .…compact-tmp
    // leftovers) are skipped with Spark's own file-index rule: an
    // underscore prefix hides a name UNLESS it contains '=' — an
    // underscore-named partition column (`_epoch=…`, what the
    // streaming dedup ingest writes) is data, not metadata.
    // A directory holding BOTH data files and subdirectories is not a
    // layout this operator can rewrite safely (compacting the parent
    // would swallow the children, then the child visit would read a
    // deleted path) — refuse loudly, like the old flat-only guard did.
    def leaves(dir: Path): Seq[Path] = {
      val entries = fs.listStatus(dir).filterNot { s =>
        val n = s.getPath.getName
        n.startsWith(".") || (n.startsWith("_") && !n.contains("="))
      }
      val hasFiles = entries.exists(s =>
        s.isFile && s.getPath.getName.endsWith(".parquet"))
      val subdirs = entries.filter(_.isDirectory)
      require(!(hasFiles && subdirs.nonEmpty),
        s"$dir mixes parquet files with subdirectories " +
          s"(${subdirs.take(3).map(_.getPath.getName).mkString(", ")}) — " +
          "not a flat or hive-partitioned layout; compact cannot rewrite it safely")
      if (hasFiles) Seq(dir)
      else subdirs.flatMap(s => leaves(s.getPath))
    }
    val dataDirs = leaves(p)
    require(dataDirs.nonEmpty, s"no parquet files under $path — nothing to compact")
    dataDirs.map(d => compactLeaf(spark, fs, d, targetFileBytes, sortCols))
      .reduce(_ + _)
  }

  private def compactLeaf(spark: org.apache.spark.sql.SparkSession,
                          fs: org.apache.hadoop.fs.FileSystem,
                          p: org.apache.hadoop.fs.Path,
                          targetFileBytes: Long,
                          sortCols: Seq[String]): CompactionStats = {
    import org.apache.hadoop.fs.Path
    val files = fs.listStatus(p).filter(s =>
      s.isFile && s.getPath.getName.endsWith(".parquet"))
    val bytes = files.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)

    // read the leaf directly (partition values live in the directory
    // name, not the files — the rewrite must not flatten them in)
    val df = spark.read.parquet(p.toString)
    val obs = org.apache.spark.sql.Observation()
    val arranged0 = df.observe(obs, count(lit(1)).as("rows"))
    val arranged =
      if (sortCols.nonEmpty)
        arranged0.repartitionByRange(nOut, sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.map(col): _*)
      else arranged0.repartition(nOut)
    // dot-prefixed: HIDDEN to partition discovery and to leaves(), so
    // a crash between write and swap leaves a recoverable tmp that no
    // reader mistakes for a partition and no later compact() re-eats
    // (the pre-dot name inside a partitioned root did both)
    val tmp = new Path(p.getParent, "." + p.getName + ".compact-tmp")
    arranged.write.mode("overwrite").parquet(tmp.toString)
    val expected = observedRows(obs, df)

    val actual = spark.read.parquet(tmp.toString).count()
    require(actual == expected,
      s"compaction row-count mismatch for $p: $expected -> $actual; " +
        s"original left untouched, rewrite at $tmp")
    if (!fs.delete(p, true))
      throw new java.io.IOException(s"could not remove $p for swap")
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(
        s"rename $tmp -> $p failed; recover from $tmp")
    CompactionStats(files.length, nOut, bytes, expected)
  }

  /** The observed source-row count, with a fallback for the one case
    * the metric can vanish: a 0-row source lets AQE replace the
    * observed stage with an empty relation AFTER it ran, and the
    * Observation never completes (`get` would hang forever — the same
    * loss mode Bridge.observedMetrics documents). `getOrEmpty` bounds
    * the wait; the fallback count() touches only footers of a source
    * that is empty (or nearly) exactly when the fallback fires. */
  private def observedRows(obs: org.apache.spark.sql.Observation,
                           df: DataFrame): Long =
    org.apache.spark.sql.graftbridge.Bridge.observationRow(obs) match {
      case Some(row) => row.getAs[Long]("rows")
      case None => df.count()
    }

  // ------------------------------------------------------ versioned publish

  /** Versioned table root — the atomic-visibility layer under
    * [[compactVersioned]] and [[zorderPublish]]:
    *
    * {{{
    * root/_CURRENT        <- one line: the live version dir ("v00000003")
    * root/v00000002/…parquet
    * root/v00000003/…parquet
    * }}}
    *
    * Writers produce a complete new version directory, then flip
    * `_CURRENT` with ONE atomic rename (FileContext OVERWRITE rename —
    * atomic on HDFS and on local file systems). A reader resolving
    * through [[readVersioned]] therefore sees the old version or the
    * new one, never an empty window — the lakehouse-manifest pattern,
    * minus the formats this container doesn't ship. Old versions are
    * retained (`keepVersions`) so in-flight readers of a just-replaced
    * version finish against intact files; retention is the caveat a
    * reader slower than `keepVersions` publishes must size for. */
  private val Pointer = "_CURRENT"

  private def pointerOf(fs: org.apache.hadoop.fs.FileSystem,
                        root: org.apache.hadoop.fs.Path): Option[String] = {
    val f = new org.apache.hadoop.fs.Path(root, Pointer)
    if (!fs.exists(f)) None
    else {
      val in = fs.open(f)
      try {
        val bytes = org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
        Some(new String(bytes, java.nio.charset.StandardCharsets.UTF_8).trim)
          .filter(_.nonEmpty)
      } finally in.close()
    }
  }

  /** Resolve the live version directory of a versioned root. */
  def currentVersionPath(spark: org.apache.spark.sql.SparkSession,
                         root: String): String = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val v = pointerOf(fs, p).getOrElse(
      throw new java.io.FileNotFoundException(
        s"$root/$Pointer missing — not a versioned root (publish first)"))
    new org.apache.hadoop.fs.Path(p, v).toString
  }

  /** Read the live version of a versioned root. */
  def readVersioned(spark: org.apache.spark.sql.SparkSession,
                    root: String): DataFrame =
    spark.read.parquet(currentVersionPath(spark, root))

  /** Retained version names under a versioned root, ascending (the
    * GC horizon is `keepVersions` at publish time, so this is the
    * time-travel window), plus the current pointer — `(versions,
    * current)`. Empty/None when the root was never published. */
  def listVersions(spark: org.apache.spark.sql.SparkSession,
                   root: String): (Seq[String], Option[String]) = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) return (Nil, None)
    val versions = fs.listStatus(p).filter(_.isDirectory)
      .map(_.getPath.getName).filter(_.matches("v\\d{8}")).toSeq.sorted
    (versions, pointerOf(fs, p))
  }

  /** Write a new version via `write(dir)`, flip the pointer
    * atomically, GC versions beyond `keepVersions`. Returns the new
    * version name. `write` must produce a complete, readable directory
    * — it runs entirely before the flip, so a failed write leaves the
    * table untouched on its old version. */
  def publishVersion(spark: org.apache.spark.sql.SparkSession, root: String,
                     keepVersions: Int = 2)(write: String => Unit): String = {
    import org.apache.hadoop.fs.{Options, Path}
    require(keepVersions >= 1, s"keepVersions must be >= 1, got $keepVersions")
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(root)
    val fs = p.getFileSystem(conf)
    fs.mkdirs(p)
    // next = max(existing)+1, scanning version dirs AND claim markers
    // rather than trusting the pointer alone: a crashed previous
    // publish may have left an unpointed (or claimed-but-unwritten)
    // vN+1 behind — never reuse its name
    def taken(): Seq[Long] = fs.listStatus(p).map(_.getPath.getName).toSeq
      .collect {
        case d if d.matches("v\\d{8}") => d.drop(1).toLong
        case c if c.matches("\\.claim-v\\d{8}") => c.drop(8).toLong
      }
    val existing = fs.listStatus(p).filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.matches("v\\d{8}")).map(_.drop(1).toLong)
    // claim the version name EXCLUSIVELY before writing: an atomic
    // create(overwrite = false) of a dot-hidden SIBLING marker loses
    // to at most one concurrent publisher, so two writers can never
    // interleave into the same version directory (the marker must not
    // live inside the directory — overwrite-mode writers delete it);
    // the loser walks to the next free number
    var n = taken().maxOption.getOrElse(0L) + 1
    var claimed = false
    var attempts = 0
    while (!claimed) {
      try {
        fs.create(new Path(p, f".claim-v$n%08d"), false).close()
        claimed = true
      } catch {
        case e: java.io.IOException =>
          attempts += 1
          // distinguish "slot taken" from a genuinely failing store:
          // a taken slot means a marker exists; anything else rethrows
          if (attempts > 1000 || !fs.exists(new Path(p, f".claim-v$n%08d")))
            throw e
          n += 1
      }
    }
    val next = f"v$n%08d"
    write(new Path(p, next).toString)

    // atomic flip: write the pointer beside itself, then OVERWRITE-
    // rename onto _CURRENT in one FileContext op
    val tmp = new Path(p, s".$Pointer.tmp")
    val out = fs.create(tmp, true)
    try out.write(next.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(p.toUri, conf)
    fc.rename(tmp, new Path(p, Pointer), Options.Rename.OVERWRITE)

    // GC: newest `keepVersions` survive (the new live one included);
    // the previous live version is deliberately inside the horizon
    // when keepVersions >= 2 (the default), so readers mid-scan on it
    // finish cleanly
    val survivors = (existing :+ n).sorted.reverse
      .take(keepVersions).toSet
    existing.filterNot(survivors).foreach { v =>
      fs.delete(new Path(p, f"v$v%08d"), true)
      // the claim marker goes with its version: a GC'd version sits
      // below the surviving max, so its number can never be re-issued
      fs.delete(new Path(p, f".claim-v$v%08d"), false)
    }
    next
  }

  /** Z-order write behind a versioned root: same layout as
    * [[zorderWrite]], published with an atomic pointer flip. */
  def zorderPublish(spark: org.apache.spark.sql.SparkSession, df: DataFrame,
                    cols: Seq[String], root: String, numPartitions: Int,
                    bits: Option[Int] = None, equalDepth: Boolean = false,
                    keepVersions: Int = 2): String =
    publishVersion(spark, root, keepVersions) { dir =>
      zorderWrite(df, cols, dir, numPartitions, bits, equalDepth)
    }

  /** Compaction for a VERSIONED root: rewrite the live version into a
    * new one (single source scan, observed row count), verify the
    * rewrite, then atomically flip the pointer — concurrent readers
    * resolving through `_CURRENT` see old or new, never nothing, and
    * the old version stays on disk inside the retention horizon for
    * readers already mid-scan. */
  def compactVersioned(spark: org.apache.spark.sql.SparkSession, root: String,
                       targetFileBytes: Long = 128L << 20,
                       sortCols: Seq[String] = Nil,
                       keepVersions: Int = 2): CompactionStats = {
    import org.apache.hadoop.fs.Path
    val cur = new Path(currentVersionPath(spark, root))
    val fs = cur.getFileSystem(spark.sessionState.newHadoopConf())
    val files = fs.listStatus(cur).filter(s =>
      s.isFile && s.getPath.getName.endsWith(".parquet"))
    require(files.nonEmpty, s"no parquet files under live version $cur")
    val bytes = files.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)

    val df = spark.read.parquet(cur.toString)
    val obs = org.apache.spark.sql.Observation()
    val arranged0 = df.observe(obs, count(lit(1)).as("rows"))
    val arranged =
      if (sortCols.nonEmpty)
        arranged0.repartitionByRange(nOut, sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.map(col): _*)
      else arranged0.repartition(nOut)
    var expected = -1L
    publishVersion(spark, root, keepVersions) { dir =>
      arranged.write.mode("overwrite").parquet(dir)
      expected = obs.get("rows").asInstanceOf[Long]
      val actual = spark.read.parquet(dir).count()
      // throwing here aborts the publish BEFORE the pointer flip: the
      // table stays on its old version, the bad rewrite is unpointed
      require(actual == expected,
        s"compaction row-count mismatch for $root: $expected -> $actual; " +
          s"pointer not flipped, table still on $cur")
    }
    CompactionStats(files.length, nOut, bytes, expected)
  }

  // ------------------------------------------------------------- zone maps
  /** Per-file min/max manifest ("zone map") for a parquet table —
    * the scan-side payoff of the z-order/compaction layout work
    * above: ONE table-wide pass builds (file, n_rows, c_min, c_max
    * per column), and every later point/range query consults the
    * manifest FIRST, reading only files whose interval overlaps the
    * predicate. This is the external-manifest half of what parquet
    * row-group stats give within a file — at 100 TB "which of the
    * 100k files can contain n_chars ∈ [400, 600]" must be answered
    * without opening 100k footers, which is precisely the table this
    * builds (and what Delta/Iceberg record per `add` action).
    *
    * Build cost: one scan, one partial-agg shuffle keyed by file
    * path — at most one row per (file × map partition) in flight.
    * NULL handling: min/max ignore NULLs, so an all-NULL file gets
    * NULL bounds and [[pruneFiles]] drops it — sound for the
    * range predicates the reader serves (NULL never matches). */
  def zoneMap(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "zoneMap needs at least one column")
    val aggs = count(lit(1)).as("n_rows") +:
      cols.flatMap(c => Seq(min(col(c)).as(s"${c}_min"),
        max(col(c)).as(s"${c}_max")))
    df.groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Files whose [min, max] interval intersects [lo, hi] on `c`.
    * The manifest is one bounded row per FILE (a 100 TB table is
    * ~10⁵ files), so the collect is driver-safe by construction —
    * same bounded-collect contract as the percentile boundaries. */
  def pruneFiles(manifest: DataFrame, c: String,
                 lo: Column, hi: Column): Seq[String] = {
    // a not-yet-materialized manifest (streaming sink before its first
    // non-empty batch) has no stat columns — that is "no files", not
    // an unresolved-column error; a NON-empty manifest missing the
    // stat columns is a caller bug and stays loud
    if (!manifest.columns.contains(s"${c}_min")) {
      require(manifest.isEmpty,
        s"manifest has rows but no ${c}_min/${c}_max stats — built for " +
          s"different columns?")
      return Nil
    }
    manifest.filter(col(s"${c}_max") >= lo && col(s"${c}_min") <= hi)
      .select(col("file")).collect().map(_.getString(0)).toSeq
  }

  /** Range read through the zone map: scan only overlapping files,
    * then apply the exact predicate (the manifest prunes at file
    * granularity; the residual filter restores row semantics).
    * Equals the full-scan filter bit-for-bit — q130's oracle — while
    * LayoutSpec pins that it READS strictly fewer files on a
    * range-laid-out table. An empty overlap set degenerates to a
    * never-true filter over the table root (Catalyst folds it to an
    * empty scan — no file content is read).
    *
    * STALENESS GUARD (`verifyCoverage`, default on): a manifest
    * missing files that exist under `dir` would silently drop their
    * rows from every pruned read — exactly what happens after a
    * partition rewrite (`Merge.deleteWrite`, small-file compaction)
    * replaces file names under a table whose manifest was built
    * earlier. Deleted-path staleness already fails loudly at scan
    * time; MISSING-file staleness is the silent half, so the read
    * verifies every data file under `dir` appears in the manifest
    * and refuses with a rebuild instruction otherwise. Cost: one
    * recursive directory listing (which an unpruned `read.parquet(dir)`
    * pays anyway — zone maps exist to skip FOOTER reads, not the
    * listing) plus the manifest's bounded one-row-per-file collect.
    * Pass `verifyCoverage = false` only on a path where the caller
    * already owns manifest/table consistency (the streaming sink's
    * epoch-tracked manifests, a read immediately after a build). */
  def zoneMapRead(spark: org.apache.spark.sql.SparkSession, dir: String,
                  manifest: DataFrame, c: String,
                  lo: Column, hi: Column,
                  verifyCoverage: Boolean = true): DataFrame = {
    // a not-yet-materialized manifest (the streaming sink before its
    // first non-empty batch) has NO columns at all — pruneFiles below
    // already tolerates it as "no files"; running the coverage guard
    // on it would throw an unresolved-column error on `file` instead
    // of returning the empty scan that state means
    if (verifyCoverage && manifest.columns.contains("file")) {
      import org.apache.hadoop.fs.Path
      val root = new Path(dir)
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      def norm(s: String): String = new Path(s).toUri.getPath
      def walk(d: Path): Seq[String] =
        fs.listStatus(d).toSeq.flatMap { st =>
          val n = st.getPath.getName
          if (n.startsWith("_") || n.startsWith(".")) Nil
          else if (st.isDirectory) walk(st.getPath)
          else Seq(norm(st.getPath.toString))
        }
      val listed = if (fs.exists(root)) walk(root) else Nil
      val known = manifest.select(col("file")).collect()
        .map(r => norm(r.getString(0))).toSet
      val missing = listed.filterNot(known)
      require(missing.isEmpty,
        s"zone-map manifest is STALE for $dir: ${missing.size} data " +
          s"file(s) on disk are not in the manifest (first: " +
          s"${missing.take(3).mkString(", ")}) — a partition rewrite " +
          "(deleteWrite, compaction) replaced file names after the " +
          "manifest was built; rebuild it in one call with " +
          "Layout.zoneMapRebuild(spark, dir, cols) (a pruned read " +
          "against this manifest would silently drop those files' rows)")
    }
    val files = pruneFiles(manifest, c, lo, hi)
    val base = if (files.isEmpty) spark.read.parquet(dir).filter(lit(false))
    else spark.read.parquet(files: _*)
    base.filter(col(c) >= lo && col(c) <= hi)
  }

  /** One-call repair for a stale zone map — what [[zoneMapRead]]'s
    * staleness refusal tells the operator to run: rebuild the
    * manifest from the table as it stands NOW (one scan, the same
    * cost [[zoneMap]] paid at build time) and return it. This is the
    * whole repair: zone-map manifests carry no history, so "rebuild"
    * and "repair" coincide — unlike the epoch stores, where a stale
    * manifest means torn state to adjudicate. Callers that persist
    * the manifest overwrite their copy with the result; the rewrite
    * paths that INVALIDATE a manifest ([[Merge.deleteWrite]],
    * [[compact]]) point here from their scaladoc. */
  def zoneMapRebuild(spark: org.apache.spark.sql.SparkSession, dir: String,
                     cols: Seq[String]): DataFrame =
    zoneMap(spark.read.parquet(dir), cols)
}
