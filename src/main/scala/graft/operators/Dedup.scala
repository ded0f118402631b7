package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{Sketches, TextFunctions}
import graft.operators.{Similarity => Sim}
import org.apache.spark.sql.graftbridge.Bridge

/** Deduplication operator family for training-data pipelines:
  * exact, MinHash+LSH, SimHash, and exact n-gram Jaccard.
  *
  * Scale design notes (the part that matters at 100 TB):
  *  - exactDedup: one hash-partition shuffle on the dedup key. Group
  *    on a 128-bit md5 of the canonical text (TextFunctions
  *    .fingerprint), not the text itself, so shuffle rows carry 16
  *    bytes + id instead of full documents.
  *  - banded LSH ([[lshPairs]], one implementation over the MinHash,
  *    SimHash, Hamming64 and SRP family values): MinHash signatures
  *    are computed scan-side by the native
  *    MinHashShingled expression (tokens hashed once, shingle hashes
  *    derived polynomially inside a compiled loop — no UDF, no
  *    interpreted HOF, no shuffle); banding shuffles small fixed-width
  *    (id, [block,] band, hash) rows into per-bucket sorted id lists,
  *    and identical-membership buckets collapse before any quadratic
  *    step. Buckets above `maxBucket` are dropped (degenerate /
  *    boilerplate content — standard practice — that would otherwise
  *    produce O(n²) pairs in a single task: the skew bomb).
  *  - simHash: pure per-row bit arithmetic, then a self-join on 4×16-
  *    bit band keys of the 64-bit signature (pigeonhole ⇒ full recall
  *    for Hamming distance ≤ 3).
  *  - ngramJaccard: exact verifier — run it on candidate pairs (LSH
  *    output) or within small blocks, never all-pairs.
  */
object Dedup {

  /** Unique observed-metric suffixes: one query plan may hold several
    * guarded bucket stages (q93 runs the full LSH, the index build,
    * and the batch probe in a single query) and Spark requires
    * distinct CollectMetrics names within a plan. */
  private val metricSeq = new java.util.concurrent.atomic.AtomicLong()

  /** The mega-bucket skew guard, with its drop count OBSERVED: every
    * banded family (MinHash, SimHash, SRP — full runs and index
    * builds alike) funnels its `size(list) <= maxBucket` filter
    * through here, so the count of dropped buckets lands in the
    * executed query's observed metrics as
    * `<family>_dropped_buckets_<n>`. That makes the one documented
    * divergence window of the incremental paths — near the guard
    * boundary the full run sees combined bucket sizes while each
    * incremental side guards alone — measurable in production
    * ([[droppedBuckets]]) instead of only documented in scaladoc. */
  private def guardBuckets(df: DataFrame, listCol: String, maxBucket: Int,
                           family: String,
                           dropSingletons: Boolean): DataFrame = {
    val sz = size(col(listCol))
    val observed = df.observe(
      s"${family}_dropped_buckets_${metricSeq.incrementAndGet()}",
      count(when(sz > maxBucket, lit(1))).as("dropped_buckets"))
    observed.filter(if (dropSingletons) sz <= maxBucket && sz > 1
                    else sz <= maxBucket)
  }

  /** Total buckets dropped by every skew guard that executed in `df`'s
    * plan, summed across families and stages. Observed metrics exist
    * only post-execution and attach to the QueryExecution that RAN:
    * call this after an action that executes `df`'s own plan
    * (`collect`/`foreach`/`toLocalIterator`). Actions that wrap the
    * plan in a new one (`count`, `write`) accumulate onto their own
    * QueryExecution — capture those through a QueryExecutionListener
    * matching `*_dropped_buckets_*` instead. Zero both means "no
    * degenerate content" and "the incremental ≡ full equivalence
    * contract is airtight here" — a nonzero count near a tight
    * `maxBucket` is the signal to raise the guard. */
  def droppedBuckets(df: DataFrame): Long =
    // Bridge.observedMetrics, not queryExecution.observedMetrics: the
    // stock accessor loses metrics whose stage AQE replaced with an
    // empty relation after it ran — i.e. exactly the all-buckets-
    // dropped case this counter exists to expose
    Bridge.observedMetrics(df).collect {
      case (name, row) if name.contains("_dropped_buckets_") =>
        row.getAs[Long]("dropped_buckets")
    }.sum

  /** Exact dedup: one representative (min `idCol`) per distinct value
    * of `key`, with multiplicity. */
  def exactDedupStats(df: DataFrame, key: Column, idCol: Column): DataFrame =
    df.groupBy(key.as("dedup_key"))
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Exact dedup keeping entire representative rows: the row with the
    * smallest `idCol` per key survives. Single shuffle on the key. */
  def exactDedup(df: DataFrame, key: Column, idCol: Column): DataFrame = {
    val w = Window.partitionBy(key).orderBy(idCol.asc)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
  }

  /** Corpus-level boilerplate line removal (the RefinedWeb / CCNet
    * cleaning stage): split every document into lines on the literal
    * `sep`, drop each line that occurs VERBATIM in at least `minDocs`
    * distinct documents (headers, footers, nav chrome, license
    * banners), and reassemble the survivors in original order —
    * all-boilerplate and NULL-text documents come back with empty
    * text, never silently dropped. Lines shorter than `minLineLen`
    * characters are EXEMPT from detection and always kept: with the
    * default 1, blank lines (paragraph breaks, which recur in every
    * real corpus) are never stripped — the same floor CCNet-style
    * line dedup applies.
    *
    * Scale shape: lines are keyed by md5 fingerprint, so the
    * frequency count and the boilerplate join shuffle 16-byte keys +
    * line payloads once each — never whole documents — and the
    * reassembly is one hash aggregation on the doc id
    * (order restored via array_sort on (pos, line), no window sort).
    *
    * @return (idCol, clean_text, n_removed) — one row per input doc
    */
  def removeBoilerplateLines(df: DataFrame, idCol: String, textCol: String,
                             sep: String, minDocs: Int,
                             minLineLen: Int = 1): DataFrame = {
    val segs = lineSegs(df, idCol, textCol, sep)
    val boiler = lineCounts(segs, idCol, minLineLen)
      .filter(col("n_docs") >= minDocs)
      .select(col("fp"), lit(true).as("_boiler"))
    reassembleLines(segs.join(boiler, Seq("fp"), "left"), idCol, sep)
  }

  /** One (idCol, pos, seg, fp) row per line of every document — THE
    * segmentation all boilerplate paths share, so full, index-build
    * and incremental runs fingerprint byte-identically (the same
    * single-definition rule the MinHash band keys follow). NULL text
    * reads as empty: the doc still yields its one (empty) segment, so
    * it survives to the output row contract. */
  private def lineSegs(df: DataFrame, idCol: String, textCol: String,
                       sep: String): DataFrame =
    df.select(col(idCol), posexplode(
        split(coalesce(col(textCol), lit("")),
          java.util.regex.Pattern.quote(sep))).as(Seq("pos", "seg")))
      .withColumn("fp", md5(col("seg")))

  /** Distinct-document frequency per line fingerprint (lines under
    * `minLineLen` excluded — they are exempt from detection). */
  private def lineCounts(segs: DataFrame, idCol: String,
                         minLineLen: Int): DataFrame =
    segs.filter(length(col("seg")) >= minLineLen)
      .groupBy(col("fp"))
      .agg(count_distinct(col(idCol)).as("n_docs"))

  /** Reassemble marked segments: `_boiler` NULL survives, in original
    * order, one hash aggregation on the doc id. */
  private def reassembleLines(marked: DataFrame, idCol: String,
                              sep: String): DataFrame =
    marked.groupBy(col(idCol))
      .agg(
        array_join(
          transform(
            // collect_list skips nulls: only non-boilerplate survives
            array_sort(collect_list(when(col("_boiler").isNull,
              struct(col("pos"), col("seg"))))),
            x => x.getField("seg")),
          sep).as("clean_text"),
        count(col("_boiler")).as("n_removed"))

  /** Cross-corpus line/paragraph dedup (the MassiveText "exact
    * paragraph dedup" stage): every line that occurred EARLIER in the
    * corpus — in a lower (doc_id, pos) — is removed; the globally
    * first occurrence survives. Distinct from
    * [[removeBoilerplateLines]] (threshold frequency: ALL copies of a
    * boilerplate line go) — here exactly one copy of every repeated
    * line survives, so no content is lost corpus-wide. Lines shorter
    * than `minLineLen` are exempt (blank paragraph breaks survive in
    * every doc), same floor as the boilerplate family.
    *
    * Scale shape: "first occurrence" is a MIN aggregation per line
    * fingerprint — partial (map-side) aggregated, so a line repeated
    * in a billion documents shuffles one candidate per scan partition,
    * never a window partition holding all copies. The keep decision
    * joins the 16-byte fingerprint + (doc_id, pos) winner back to the
    * segments; reassembly is the shared one-aggregation path.
    *
    * @return (idCol, clean_text, n_removed) — one row per input doc
    */
  def dedupLinesAcrossCorpus(df: DataFrame, idCol: String, textCol: String,
                             sep: String, minLineLen: Int = 1): DataFrame = {
    val segs = lineSegs(df, idCol, textCol, sep)
    val firstOcc = segsFirstOcc(segs, idCol, minLineLen)
      .select(col("fp"), col("wid").as("_wid"), col("wpos").as("_wpos"))
    val marked = segs.join(firstOcc, Seq("fp"), "left")
      .withColumn("_boiler", when(
        col("_wid").isNotNull &&
          (col("_wid") =!= col(idCol) || col("_wpos") =!= col("pos")),
        lit(true)))
      .drop("_wid", "_wpos")
    reassembleLines(marked, idCol, sep)
  }

  /** Earliest (doc, pos) per line fingerprint over a [[lineSegs]]
    * stream — THE first-occurrence definition the full run, the
    * persisted index and the incremental probe all share (the same
    * single-definition rule as [[lineSegs]]: a tie-break or filter
    * drift between copies would silently diverge full vs incremental
    * results). Lines under `minLineLen` are exempt and never appear. */
  private def segsFirstOcc(segs: DataFrame, idCol: String,
                           minLineLen: Int): DataFrame =
    segs.filter(length(col("seg")) >= minLineLen)
      .groupBy(col("fp"))
      .agg(min(struct(col(idCol), col("pos"))).as("w"))
      .select(col("fp"), col(s"w.$idCol").as("wid"), col("w.pos").as("wpos"))

  /** Proof-carrying batch partial for the incremental line cleaners:
    * only [[lineFirstOccPartial]] / [[boilerplateCountsPartial]] mint
    * one, so a partial handed to [[incrementalDedupLines]] /
    * [[incrementalRemoveBoilerplate]] is guaranteed to be THE same-
    * definition build — and the cleaners verify family/sep/minLineLen
    * against their own parameters, refusing loudly instead of
    * silently mis-cleaning (the in-memory sibling of the
    * `_GRAFT_META` manifest check on stored indexes). */
  final class LinePartial private[operators] (
      val frame: DataFrame,
      private[operators] val family: String,
      private[operators] val sep: String,
      private[operators] val minLineLen: Int) {
    private[graft] def localCheckpoint(eager: Boolean): LinePartial =
      new LinePartial(frame.localCheckpoint(eager), family, sep, minLineLen)
    // Bridge.unpersistCheckpoint, not Dataset.unpersist: the latter
    // only consults the CacheManager, which never sees the checkpoint
    // RDD a localCheckpoint'd partial pins (a sink releasing partials
    // through this in foreachBatch would otherwise leak one pinned
    // RDD per micro-batch). No-op on a never-checkpointed partial.
    private[graft] def unpersist(): Unit =
      org.apache.spark.sql.graftbridge.Bridge.unpersistCheckpoint(frame)
    private[operators] def requireMatches(expFamily: String, expSep: String,
                                          expMinLineLen: Int): Unit =
      require(family == expFamily && sep == expSep &&
        minLineLen == expMinLineLen,
        s"batch partial was built as $family(sep='$sep', " +
          s"minLineLen=$minLineLen) but this run cleans with " +
          s"$expFamily(sep='$expSep', minLineLen=$expMinLineLen) — it " +
          "would silently mis-clean; mint it with the matching builder " +
          "under the SAME parameters")
  }

  /** Mint a batch's first-occurrence partial (see [[LinePartial]]). */
  def lineFirstOccPartial(batch: DataFrame, idCol: String, textCol: String,
                          sep: String, minLineLen: Int = 1): LinePartial =
    new LinePartial(
      lineFirstOccIndex(batch, idCol, textCol, sep, minLineLen),
      lineStore.name, sep, minLineLen)

  /** Mint a batch's line-count partial (see [[LinePartial]]). */
  def boilerplateCountsPartial(batch: DataFrame, idCol: String,
                               textCol: String, sep: String,
                               minLineLen: Int = 1): LinePartial =
    new LinePartial(
      boilerplateIndex(batch, idCol, textCol, sep, minLineLen),
      boilerStore.name, sep, minLineLen)

  /** Persisted first-occurrence index for [[dedupLinesAcrossCorpus]]
    * — (fp, wid, wpos): the earliest (doc, pos) each distinct line was
    * seen at, one fixed-width row per DISTINCT line, never the text.
    * The incremental probe and the streaming shape both resolve
    * keep/drop against this table without re-reading the corpus. */
  def lineFirstOccIndex(df: DataFrame, idCol: String, textCol: String,
                        sep: String, minLineLen: Int = 1): DataFrame =
    segsFirstOcc(lineSegs(df, idCol, textCol, sep), idCol, minLineLen)

  /** Incremental keep-first line dedup — the daily-batch shape for
    * [[dedupLinesAcrossCorpus]]: clean ONLY the batch against the
    * stored corpus index + the batch's own first occurrences. A batch
    * line drops iff the corpus already holds its line (any corpus
    * occurrence precedes the whole batch) or an earlier batch
    * position holds it. Equals the full run over corpus ∪ batch
    * restricted to the batch's documents — PROVIDED every corpus id
    * precedes every batch id (the append-only contract; ingest order
    * IS the id order in this family) and sep/minLineLen match the
    * index build — stored indexes record them in the `_GRAFT_META`
    * manifest (checked by every [[lineFirstOcc]] read), and an in-memory
    * batch partial carries them in its [[LinePartial]] token.
    * Spec-pinned.
    *
    * @param batchIndex the batch's own first occurrences, if the
    *        caller already built them — a [[LinePartial]] minted by
    *        [[lineFirstOccPartial]], whose recorded parameters are
    *        verified against this call's (a mismatched partial would
    *        silently mis-dedup). The streaming sink passes its
    *        checkpointed partial so the batch is line-exploded once,
    *        not twice.
    * @return (idCol, clean_text, n_removed) — one row per batch doc
    */
  def incrementalDedupLines(batch: DataFrame, idCol: String, textCol: String,
                            index: DataFrame, sep: String,
                            minLineLen: Int = 1,
                            batchIndex: Option[LinePartial] = None): DataFrame = {
    batchIndex.foreach(_.requireMatches(lineStore.name, sep, minLineLen))
    val segs = lineSegs(batch, idCol, textCol, sep)
    val batchFirst = batchIndex.map(_.frame)
      .getOrElse(lineFirstOccIndex(batch, idCol, textCol, sep, minLineLen))
      .select(col("fp"), col("wid").as("_bwid"), col("wpos").as("_bwpos"))
    val marked = segs
      .join(index.select(col("fp"), lit(true).as("_inCorpus")), Seq("fp"), "left")
      .join(batchFirst, Seq("fp"), "left")
      .withColumn("_boiler", when(
        col("_inCorpus").isNotNull ||
          (col("_bwid").isNotNull &&
            (col("_bwid") =!= col(idCol) || col("_bwpos") =!= col("pos"))),
        lit(true)))
      .drop("_inCorpus", "_bwid", "_bwpos")
    reassembleLines(marked, idCol, sep)
  }

  /** THE first-occurrence fold — min (wid, wpos) per fingerprint over
    * any union of partials. Shared by the epoch-scoped read AND
    * compaction (associative, so a compacted base
    * re-entering this fold next to later epochs gives exactly the
    * all-epochs answer — the equivalence q143 oracle-pins). */
  private def firstOccFold(partials: DataFrame): DataFrame =
    partials.groupBy(col("fp"))
      .agg(min(struct(col("wid"), col("wpos"))).as("w"))
      .select(col("fp"), col("w.wid").as("wid"), col("w.wpos").as("wpos"))

  /** Erasure is a REBUILD, not a filter (the cc_labels precedent):
    * the min-fold already discarded every LATER occurrence of a line
    * whose first holder is now a victim, so dropping the victim's rows
    * would lose lines the retained corpus still contains — the exact
    * erased state is [[lineFirstOccIndex]] over the retained corpus. */
  private[operators] val lineStore = StoreFamily.flat("line_first_occ",
    _ => firstOccFold, StoreFamily.Rebuild())

  /** The stored first-occurrence index (`line_first_occ`), bound to
    * its build parameters: epoch partitions (plus the compacted base,
    * once compacted) each hold a (fp, wid, wpos) partial, and a read
    * takes the min (wid, wpos) per fingerprint — the corpus-wide first
    * occurrence, exact under the append-only id-order contract (ids
    * never interleave across epochs). A read or append under another
    * sep/minLineLen refuses (the manifest check) — the
    * silent-divergence class [[incrementalDedupLines]]'s contract used
    * to delegate to the caller. */
  def lineFirstOcc(sep: String, minLineLen: Int = 1): StoreFamily.Bound =
    lineStore.bind("sep" -> sep, "minLineLen" -> minLineLen)

  /** Persisted line-frequency index for boilerplate removal — the
    * table a 100 TB pipeline writes once at corpus-build time:
    * (fp, n_docs), one fixed-width row per DISTINCT line, never the
    * corpus text. [[incrementalRemoveBoilerplate]] probes it;
    * [[boilerplateCounts]] stores it and merges a new batch's counts
    * in. */
  def boilerplateIndex(df: DataFrame, idCol: String, textCol: String,
                       sep: String, minLineLen: Int = 1): DataFrame =
    lineCounts(lineSegs(df, idCol, textCol, sep), idCol, minLineLen)

  /** THE line-count fold — counts ADD across partials (disjoint doc
    * sets), so per-shard indexes merged equal one corpus-wide build
    * (spec-pinned). */
  private def countsFold(partials: DataFrame): DataFrame =
    partials.groupBy(col("fp")).agg(sum(col("n_docs")).as("n_docs"))

  /** Erasure subtracts the victims' own [[boilerplateIndex]] partial
    * (line counts ADD over disjoint documents): the store then equals
    * the index over the corpus WITHOUT the victims, and lines unique
    * to them leave the disk. */
  private[operators] val boilerStore = StoreFamily.flat("boilerplate_counts",
    _ => countsFold, StoreFamily.Subtract(Seq("n_docs")))

  /** The stored line-frequency index (`boilerplate_counts`), bound to
    * its build parameters: epoch partitions (plus the compacted base)
    * each hold a (fp, n_docs) partial (`Streaming.boilerplateIngestSink`
    * writes them), and a read sums them per fingerprint into the
    * corpus-wide counts. A read or append under another sep/minLineLen
    * refuses — a mismatched probe silently under- or over-removes. */
  def boilerplateCounts(sep: String, minLineLen: Int = 1): StoreFamily.Bound =
    boilerStore.bind("sep" -> sep, "minLineLen" -> minLineLen)

  /** Incremental boilerplate removal — the daily-batch shape
    * completing the same persisted-index family as the near-dup
    * probes (q93/q97/q98/q99): clean ONLY the batch, against
    * corpus-wide line frequencies = stored index counts + the
    * batch's own counts (document sets disjoint, so the sum IS the
    * union's frequency). The corpus text is never touched — the join
    * ships 16-byte fingerprints against the index. Equals
    * [[removeBoilerplateLines]] over corpus ∪ batch restricted to the
    * batch's documents (spec-pinned) — PROVIDED `sep` and
    * `minLineLen` match the index build's: a mismatched probe
    * silently under- or over-removes, which is why stored indexes
    * record them in `_GRAFT_META` (every [[boilerplateCounts]] read
    * checks it) and in-memory partials carry them in the
    * [[LinePartial]] token.
    *
    * @param batchCounts the batch's own line counts, if the caller
    *        already built them — a [[LinePartial]] minted by
    *        [[boilerplateCountsPartial]], parameter-verified against
    *        this call's. The streaming sink passes its checkpointed
    *        partial here so the batch is line-exploded and
    *        count-aggregated once, not twice. */
  def incrementalRemoveBoilerplate(batch: DataFrame, idCol: String,
                                   textCol: String, index: DataFrame,
                                   sep: String, minDocs: Int,
                                   minLineLen: Int = 1,
                                   batchCounts: Option[LinePartial] = None): DataFrame = {
    batchCounts.foreach(_.requireMatches(boilerStore.name, sep, minLineLen))
    val segs = lineSegs(batch, idCol, textCol, sep)
    val boiler = batchCounts.map(_.frame)
      .getOrElse(lineCounts(segs, idCol, minLineLen))
      .join(index.select(col("fp"), col("n_docs").as("_stored")),
        Seq("fp"), "left")
      .filter(col("n_docs") + coalesce(col("_stored"), lit(0L)) >= minDocs)
      .select(col("fp"), lit(true).as("_boiler"))
    reassembleLines(segs.join(boiler, Seq("fp"), "left"), idCol, sep)
  }

  /** Exact-substring repeated-span detection (the Lee et al. 2022,
    * arXiv:2107.06499 "Deduplicating Training Data" technique, at the
    * token-window grain): every `k`-token window whose token sequence
    * occurs at least `minCount` times in the corpus — any document,
    * any offset, self-repeats included — is flagged, and flagged
    * windows that overlap OR touch end-to-start merge into MAXIMAL
    * repeated regions per document (a span can therefore be the
    * union of several independent repeats that abut). The caller
    * excises or down-weights the spans; this operator reports them.
    *
    * Scale shape: windows are fingerprinted (md5) in the scan stage
    * and the global occurrence count shuffles 16-byte keys with
    * map-side partial counts — never the window text twice. The span
    * merge is two windows + an aggregate all partitioned by document,
    * so partition sizes are bounded by document length. Documents
    * shorter than `k` tokens yield no windows (not an error).
    *
    * @return (idCol, span_start, span_end, n_windows) — token
    *         offsets, [start, end) — one row per maximal span
    */
  def repeatedSpans(df: DataFrame, idCol: String, textCol: String,
                    k: Int, minCount: Int = 2): DataFrame = {
    require(k >= 2 && minCount >= 2, s"k >= 2, minCount >= 2: $k, $minCount")
    val grams = positionedGramFps(df, idCol, textCol, k)
    val rep = grams.groupBy(col("_fp"))
      .agg(count(lit(1)).as("_n"))
      .filter(col("_n") >= minCount)
      .select("_fp")
    val flagged = grams.join(rep, Seq("_fp"), "left_semi")
    mergeWindowIslands(flagged, k)
      .select(col("_doc").as(idCol), col("span_start"), col("span_end"),
        col("n_windows"))
  }

  /** (_doc, _pos, _fp): every positional k-token window of every doc,
    * fingerprinted. Codegen'd WordNgrams, NOT a transform() lambda
    * closing over the tokenizer: ArrayTransform interprets its body
    * per element and would re-tokenize the whole document once per
    * window — the O(n²) trap word_ngrams exists to kill (its
    * scaladoc, q50). dedup=false keeps one gram per position (the
    * array index IS the window offset); emptyIfShort covers docs
    * under k tokens. */
  private def positionedGramFps(df: DataFrame, idCol: String,
                                textCol: String, k: Int): DataFrame =
    df.select(col(idCol).as("_doc"),
      posexplode(Sketches.word_ngrams(TextFunctions.tokens(col(textCol)),
        k, dedup = false, emptyIfShort = true)).as(Seq("_pos", "_gram")))
      .select(col("_doc"), col("_pos"), md5(col("_gram")).as("_fp"))

  /** Merge flagged (_doc, _pos) windows of width k that overlap or
    * abut into maximal [span_start, span_end) islands per document.
    * Two windows + an aggregate, all partitioned by document —
    * partition sizes bounded by document length. */
  private def mergeWindowIslands(flagged: DataFrame, k: Int): DataFrame = {
    val wDoc = Window.partitionBy(col("_doc")).orderBy(col("_pos"))
    flagged
      .withColumn("_prev_end", max(col("_pos") + k)
        .over(wDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("_island", sum(
        when(col("_prev_end").isNull || col("_pos") > col("_prev_end"), 1)
          .otherwise(0)).over(wDoc))
      .groupBy(col("_doc"), col("_island"))
      .agg(
        min(col("_pos")).cast("long").as("span_start"),
        (max(col("_pos")) + k).cast("long").as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("_doc"), col("span_start"), col("span_end"), col("n_windows"))
  }

  /** Exact-substring repeated-span REMOVAL — [[repeatedSpans]]'s
    * excision counterpart (the apply step of Lee et al. 2022): every
    * occurrence of a ≥`minCount`-times-repeated k-token window is cut
    * from its document EXCEPT the globally first occurrence (minimal
    * (doc, pos) — so exactly one copy of every duplicated passage
    * survives the corpus, deterministically), and surviving tokens
    * reassemble in order. Output text is at the token grain (the
    * tokenizer's lowercase alphanumeric stream — the same contract as
    * chunking/packing), since that is the grain the windows are
    * defined on.
    *
    * Scale shape: the keep-first decision is a count + min(struct)
    * aggregate per fingerprint — map-side partial, skew-safe (a
    * million-fold-repeated gram never lands in one window-sort task,
    * unlike a row_number-per-gram plan). Removed windows then merge
    * into maximal disjoint spans per document BEFORE reassembly, so
    * the per-token kept/cut test is `exists` over a handful of merged
    * spans (a fully-duplicated document is ONE span), not per bad
    * window; the document table joins the span lists once and rebuilds
    * text row-local — the corpus token stream itself never shuffles.
    *
    * @return (idCol, clean_text, n_removed) — every input doc, removed
    *         token count at the window-union grain
    */
  def removeRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
                          k: Int, minCount: Int = 2): DataFrame = {
    require(k >= 2 && minCount >= 2, s"k >= 2, minCount >= 2: $k, $minCount")
    val grams = positionedGramFps(df, idCol, textCol, k)
    val stats = grams.groupBy(col("_fp"))
      .agg(count(lit(1)).as("_n"),
        min(struct(col("_doc"), col("_pos"))).as("_first"))
    val bad = grams
      .join(stats.filter(col("_n") >= minCount).select("_fp", "_first"),
        Seq("_fp"))
      .filter(struct(col("_doc"), col("_pos")) =!= col("_first"))
      .select(col("_doc"), col("_pos"))
    val perDoc = mergeWindowIslands(bad, k)
      .groupBy(col("_doc"))
      .agg(sort_array(collect_list(
        struct(col("span_start"), col("span_end")))).as("_spans"))
    val toks = TextFunctions.tokens(coalesce(col(textCol), lit("")))
    val spans = coalesce(col("_spans"),
      array().cast("array<struct<span_start:bigint,span_end:bigint>>"))
    val kept = filter(toks, (_, i) =>
      !exists(spans, s =>
        i >= s.getField("span_start") && i < s.getField("span_end")))
    df.join(perDoc, col(idCol) === col("_doc"), "left")
      .select(col(idCol),
        concat_ws(" ", kept).as("clean_text"),
        (size(toks) - size(kept)).cast("long").as("n_removed"))
  }

  /** Incremental exact dedup — the daily-production shape: keep only
    * rows of `newDocs` whose canonical fingerprint is absent from the
    * EXISTING corpus' fingerprint index. Never re-fingerprints the
    * corpus: at scale `existingFingerprints` is the stored 16-byte-key
    * index (one column), and the anti join shuffles fingerprints, not
    * documents. Within-batch duplicates collapse first (min id wins),
    * mirroring exactDedup. */
  def incrementalExactDedup(newDocs: DataFrame, textCol: String, idCol: String,
                            existingFingerprints: DataFrame): DataFrame = {
    val fp = TextFunctions.fingerprint(col(textCol))
    val withFp = newDocs.withColumn("fingerprint", fp)
    exactDedup(withFp, col("fingerprint"), col(idCol))
      .join(existingFingerprints.select(col("fingerprint")),
        Seq("fingerprint"), "left_anti")
  }

  /** Bloom-prefiltered incremental exact dedup — identical result to
    * [[incrementalExactDedup]], different 100 TB shape. The plain
    * form's anti join shuffles BOTH sides on fingerprint: the new
    * batch (small) and the corpus index (at scale, billions of rows —
    * the dominant cost, repaid in full every daily batch). Here the
    * corpus index is folded ONCE into a broadcast bloom filter (one
    * map-side-combined aggregate; only the ~n·ln(1/p)/ln²2-bit filter
    * crosses the wire), the batch probes it at scan speed, and rows
    * the filter rejects are DEFINITIVELY new — they skip the join
    * entirely. Only the "maybe" rows (true dups + the fpp share of
    * false positives) reach the exact anti join, so the corpus-side
    * shuffle still happens but the batch side shrinks to the dup
    * rate, and with AQE the join often degrades gracefully further.
    * Exactness is preserved by construction: the bloom can only err
    * toward sending a row to the verifying join, never toward
    * dropping one.
    *
    * This is Spark's own runtime-filter machinery applied where the
    * optimizer can't see it (`InjectRuntimeFilter` only rewrites
    * equi-join shapes, not anti-join-as-dedup pipelines).
    *
    * @param expectedItems corpus index cardinality (at scale: the
    *                      stored table's row-count stat, not a count())
    * @param fpp           target false-positive rate; sizes the filter
    */
  def bloomIncrementalExactDedup(newDocs: DataFrame, textCol: String, idCol: String,
                                 existingFingerprints: DataFrame,
                                 expectedItems: Long,
                                 fpp: Double = 0.01): DataFrame = {
    import graft.functions.Sketches
    import org.apache.spark.sql.graftbridge.Bridge
    // might_contain requires its filter operand to be a constant or a
    // scalar subquery (a joined column fails analysis) — the same
    // attachment InjectRuntimeFilter uses; ReuseSubquery executes the
    // build once even though both branches below reference it
    val bloomCol = Bridge.scalarSubquery(existingFingerprints
      .agg(Sketches.bloom_agg(col("fingerprint"), expectedItems, fpp).as("_bloom")))
    val withFp = newDocs.withColumn("fingerprint",
      TextFunctions.fingerprint(col(textCol)))
    val probed = exactDedup(withFp, col("fingerprint"), col(idCol))
    // An empty corpus builds a zero-cardinality bloom that evaluates to
    // null; might_contain null-propagates and a null predicate is dropped
    // by BOTH branches below, which would silently lose the whole first
    // batch. coalesce to true so "unknown" routes rows through the exact
    // anti join, which is always correct.
    val mightHit = coalesce(
      Sketches.bloom_might_contain(bloomCol, col("fingerprint")), lit(true))
    // two branches over one subtree: the dedup window's exchange is
    // physically reused, so the batch is scanned, not recomputed
    val definitelyNew = probed.filter(!mightHit)
    val verified = probed.filter(mightHit)
      .join(existingFingerprints.select(col("fingerprint")),
        Seq("fingerprint"), "left_anti")
    definitelyNew.unionByName(verified)
  }

  /** Distinct word k-shingles of the token stream — the MinHash input
    * unit. Documents shorter than k tokens yield their whole token
    * stream as a single shingle.
    *
    * Built by the codegen'd WordNgrams expression — one compiled pass
    * over the token array. The earlier zip_with-over-shifted-slices
    * formulation, while already avoiding the O(n²) trap of closing
    * over the token regex inside a lambda, still paid an interpreted
    * lambda evaluation per gram; the compiled loop removes that too. */
  def shingles(text: Column, k: Int = 3): Column =
    Sketches.word_ngrams(TextFunctions.tokens(text), k,
      dedup = true, emptyIfShort = false)

  /** MinHash signature via the custom codegen'd expression
    * (graft.functions.MinHashSignature) — computed in the scan stage,
    * no shuffle, tight compiled loop instead of interpreted HOFs. */
  def minHashSignature(shinglesCol: Column, numHashes: Int): Column =
    Sketches.minhash_signature(shinglesCol, numHashes)

  /** Estimated Jaccard from two equal-length signatures: fraction of
    * agreeing positions (codegen'd SigAgreement expression). */
  def estimatedJaccard(sigA: Column, sigB: Column): Column =
    Sketches.sig_agreement(sigA, sigB)

  /** 64-bit SimHash of the token stream: bit j of the result is the
    * sign of Σ_tokens (±1 by bit j of xxhash64(token)). Codegen'd
    * SimHash64 expression — no UDF, no shuffle. */
  def simHash(text: Column): Column =
    Sketches.simhash64(array_distinct(TextFunctions.tokens(text)))

  // ------------------------------------------------------------ banded LSH
  /** One banded-LSH signature family: how a frame becomes band keys,
    * what each bucket member carries, how a candidate pair is
    * verified, and the store manifest. Every role is ONE
    * implementation over these values — full-run pairs
    * ([[lshPairs]]), the index build ([[bandIndex]]) and its store
    * ([[bandIndexWrite]]/[[bandIndexAppend]]/[[bandIndexRead]], erased
    * through [[Maintenance.eraseStore]]), the in-memory and store probes
    * ([[lshProbe]]/[[lshProbeStore]]) and the streaming sink
    * (`Streaming.nearDupIngestSink`) — so the full run, the index
    * build and the probe produce byte-identical band keys by
    * construction (the q93/q97/q98/q124 incremental-equals-full
    * contracts).
    *
    * `maxBucket` is the degenerate-content skew guard shared by every
    * role: a constant signature (empty/boilerplate documents) puts its
    * whole cohort into one (band, bh) bucket, whose self-pairing would
    * emit O(m²) rows in a single task. Buckets above it are dropped —
    * at index-build time too, so every later probe inherits the guard —
    * and counted ([[guardBuckets]]): pair runs as
    * `<guard>_dropped_buckets_<n>`, index builds as
    * `<name>_index_dropped_buckets_<n>`; the store manifest family is
    * `<name>_bands`. */
  sealed trait LshFamily extends Product with Serializable {
    def maxBucket: Int
    private[operators] def name: String
    private[operators] def guard: String = name
    /** The store manifest: family `<name>_bands` plus the band
      * geometry a probe must share with the index it reads. */
    private[graft] def meta: IndexMeta
    private[operators] def blockKey: Seq[String] = Nil
    private[operators] def bucketKey: Seq[String] = blockKey ++ Seq("band", "bh")
    /** Columns every bucket member and index row carries for pair
      * verification. Empty = ids only (MinHash: the shuffle then moves
      * fixed-width rows, never signature arrays). */
    private[operators] def payload: Seq[String]
    /** (id, sig, block…/payload…) — the scan-side signature front,
      * from the frame's `idCol` and signature input `valueCol`. */
    private[operators] def sigs(df: DataFrame, idCol: String,
                                valueCol: String): DataFrame
    /** (id, block…, band, bh, payload…) band-key rows of `sigs`. */
    private[operators] def band(sigs: DataFrame): DataFrame
    /** Whether pairs are scored (and filtered) at all. */
    private[operators] def scores: Boolean = true
    private[operators] def scoreName: String
    /** A pair's score from each side's payload (or `sig`) columns. */
    private[operators] def score(a: String => Column,
                                 b: String => Column): Column
    private[operators] def keep(score: Column): Column

    /** A probe verifies cross pairs against what the band store
      * carries; a family whose bands carry ids only can therefore
      * probe candidate-only — refused loudly rather than scoring one
      * half of the output and not the other. */
    private[graft] def requireProbeable(): Unit =
      require(payload.nonEmpty || !scores,
        s"$this: $name bands carry ids only, so a probe cannot score " +
          "batch×corpus pairs — probe with threshold = 0.0 and verify " +
          "the candidates exactly downstream (ngramJaccardVerify)")
  }

  /** MinHash + LSH over word k-shingles: signatures computed
    * scan-side by the native MinHashShingled expression (tokens hashed
    * once, shingle hashes derived polynomially inside a compiled loop);
    * `bands` band keys of `numHashes / bands` rows each. Hash seeds are
    * deterministic, so signatures computed in a LATER job line up with
    * a persisted index — the property incrementality depends on.
    *
    * @param blockCol  optional blocking column: when set, the band key
    *                  includes it, so candidates are same-block BY
    *                  CONSTRUCTION. When the dedup unit is a block
    *                  (e.g. per-source), blocking here — not filtering
    *                  after pair generation — is the scale decision:
    *                  it keeps cross-block moderate-similarity pairs
    *                  from ever entering the candidate set.
    * @param threshold minimum estimated Jaccard. 0.0 skips signature
    *                  scoring entirely (est_jaccard comes back null):
    *                  banding is then the only filter and the caller is
    *                  expected to verify candidates exactly
    *                  (ngramJaccardVerify) — two whole join stages
    *                  cheaper when an exact verifier follows anyway,
    *                  and the only setting a probe accepts. */
  final case class MinHash(numHashes: Int = 64, bands: Int = 16,
                           shingleK: Int = 3, threshold: Double = 0.5,
                           maxBucket: Int = 200,
                           blockCol: Option[String] = None)
      extends LshFamily {
    require(numHashes % bands == 0, "bands must divide numHashes")
    private[operators] def name = "minhash"
    override private[operators] def guard = "minhash_lsh"
    private[graft] def meta =
      IndexMeta("minhash_bands", "numHashes" -> numHashes, "bands" -> bands,
        "shingleK" -> shingleK, "maxBucket" -> maxBucket,
        "blockCol" -> blockCol.getOrElse("-"))
    override private[operators] def blockKey: Seq[String] = blockCol.toSeq
    private[operators] def payload: Seq[String] = Nil

    /** (id, sig, [block]) signatures computed at full width: the
      * exchange sits BELOW the signature projection ([[Par.widen]],
      * scale-adaptive — a no-op on a scan with enough splits), so the
      * expensive sketch runs on every core instead of serially on a
      * narrow scan, and nothing re-shuffles the computed signatures.
      * Recompute safety without a post-projection barrier:
      * CollapseProject's cheapness guard refuses to collapse this
      * projection into the banding projection above it (which slices
      * `sig` once per band) — gated by
      * [[graft.plans.PlanAuditSpec]]'s "signature fronts" test, which
      * fails if a Spark upgrade ever relaxes that guard. */
    private[operators] def sigs(df: DataFrame, idCol: String,
                                textCol: String): DataFrame =
      Par.widen(df, col(idCol)).select(
        col(idCol).as("id") +: Sketches.minhash_shingled(
          TextFunctions.tokens(col(textCol)), shingleK, numHashes).as("sig") +:
          blockKey.map(col): _*)

    /** Signatures are dropped here: every shuffle from banding to pair
      * generation carries only (id, [block,] band, bh) — small
      * fixed-width rows, not 8·numHashes-byte signature arrays; a
      * threshold > 0 run re-joins them by id for scoring. */
    private[operators] def band(sigs: DataFrame): DataFrame = {
      val rowsPerBand = numHashes / bands
      val bandStructs = (0 until bands).map { b =>
        struct(lit(b).as("band"),
          xxhash64(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)).as("bh"))
      }
      sigs
        .select(col("id") +: explode(array(bandStructs: _*)).as("bk") +:
          blockKey.map(col): _*)
        .select(col("id") +: col("bk.band") +: col("bk.bh") +:
          blockKey.map(col): _*)
    }

    override private[operators] def scores = threshold > 0.0
    private[operators] def scoreName = "est_jaccard"
    private[operators] def score(a: String => Column,
                                 b: String => Column): Column =
      estimatedJaccard(a("sig"), b("sig"))
    private[operators] def keep(score: Column): Column = score >= threshold
  }

  /** The 64-bit Hamming families: 4×16-bit banding of a 64-bit `sig`
    * ([[band64]]), the signature riding along so pairs Hamming-verify
    * without touching the source rows. With `maxHamming` ≤ 3 the
    * output is EXACTLY every pair at Hamming ≤ maxHamming (≤ 3 flipped
    * bits leave ≥ 1 of 4 bands intact), so a brute-force oracle can
    * pin it; beyond 3 it is recall-bounded like any banded LSH. */
  sealed abstract class Hamming extends LshFamily {
    def maxHamming: Int
    private[graft] def meta = IndexMeta(s"${name}_bands", "maxBucket" -> maxBucket)
    private[operators] def payload: Seq[String] = Seq("sig")
    private[operators] def band(sigs: DataFrame): DataFrame =
      band64(sigs, carry = Nil)
    private[operators] def scoreName = "hamming"
    private[operators] def score(a: String => Column,
                                 b: String => Column): Column =
      bit_count(a("sig").bitwiseXOR(b("sig")))
    private[operators] def keep(score: Column): Column = score <= maxHamming
  }

  /** SimHash of the text ([[simHash]]) under Hamming banding. The
    * signature is computed at full width ([[Par.widen]] below the
    * projection — a scale-adaptive no-op on a wide scan). */
  final case class SimHash(maxHamming: Int = 3, maxBucket: Int = 5000)
      extends Hamming {
    private[operators] def name = "simhash"
    private[operators] def sigs(df: DataFrame, idCol: String,
                                textCol: String): DataFrame =
      Par.widen(df, col(idCol))
        .select(col(idCol).as("id"), simHash(col(textCol)).as("sig"))
  }

  /** Any PRE-COMPUTED 64-bit Hamming signature (perceptual image
    * hashes, …) under the same banding; `name` names its guard
    * counters and store manifest (`<name>_bands`). */
  final case class Hamming64(name: String = "hamming64",
                             maxHamming: Int = 3, maxBucket: Int = 5000)
      extends Hamming {
    private[operators] def sigs(df: DataFrame, idCol: String,
                                sigCol: String): DataFrame =
      df.select(col(idCol).as("id"), col(sigCol).as("sig"))
  }

  /** Embedding near-dups via signed-random-projection LSH: 64-bit SRP
    * signatures (codegen'd SrpSignature, deterministic hyperplanes —
    * no stored matrix), Hamming-banded into 4×16-bit buckets exactly
    * like SimHash, then candidates are verified with EXACT cosine,
    * rounded to `roundTo` — the estimate never decides, only blocks.
    * The vector rides in the buckets and the index (what a real ANN
    * index stores). Recall: a pair survives iff its signatures agree
    * on one 16-bit band; for near-dups (angle → 0) band agreement
    * approaches 1 (spec-bounded on planted duplicates). */
  final case class Srp(threshold: Double, maxBucket: Int = 5000,
                       roundTo: Int = 4) extends LshFamily {
    private[operators] def name = "srp"
    private[graft] def meta = IndexMeta("srp_bands", "maxBucket" -> maxBucket)
    private[operators] def payload: Seq[String] = Seq("vec")
    private[operators] def sigs(df: DataFrame, idCol: String,
                                vecCol: String): DataFrame =
      Par.widen(df, col(idCol)).select(col(idCol).as("id"),
        col(vecCol).as("vec"), Sketches.srp_signature(col(vecCol)).as("sig"))
    private[operators] def band(sigs: DataFrame): DataFrame =
      band64(sigs, carry = Seq("vec"))
    private[operators] def scoreName = "cos"
    private[operators] def score(a: String => Column,
                                 b: String => Column): Column =
      round(Sim.cosine(a("vec"), b("vec")), roundTo)
    private[operators] def keep(score: Column): Column = score >= threshold
  }

  /** 4×16-bit banding of a materialized 64-bit `sig` column — the ONE
    * implementation behind every Hamming-banded family. Output:
    * (id, sig, carry…, band, bh). */
  private def band64(sigs: DataFrame, carry: Seq[String]): DataFrame = {
    val bandStructs = (0 until 4).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("sig"), 16 * b).bitwiseAND(lit(0xFFFFL)).as("bh"))
    }
    val keep = col("id") +: col("sig") +: carry.map(col)
    sigs
      .select(keep :+ explode(array(bandStructs: _*)).as("bk"): _*)
      .select(keep :+ col("bk.band") :+ col("bk.bh"): _*)
  }

  /** Near-duplicate pairs of `df` under `family` — (id_a, id_b,
    * <score>) with id_a < id_b, distinct, filtered by the family's
    * verification (est_jaccard comes back null for a MinHash at
    * threshold 0.0).
    *
    * COST MODEL — read before trusting a wall-clock number: the
    * quadratic step enumerates pairs inside each band bucket, so total
    * candidate work is Σ over buckets of |bucket|² (after the
    * identical-membership collapse and the `maxBucket` skew guard).
    * That sum is NOT linear in corpus size: buckets are near-dup
    * cliques, and if clique sizes grow with the corpus — planted
    * duplicates at a fixed RATE, the common synthetic and crawl shape —
    * doubling the corpus quadruples Σ|bucket|². The q93 benchmark
    * measures a ~36× time slope for 10× data at shingleK=1 for exactly
    * this reason; that is the model working, not a regression. At
    * 100 TB the knobs, in order: raise MinHash `shingleK` (smaller,
    * more specific buckets), block with `blockCol`, and keep
    * `maxBucket` tight — a bucket at the cap contributes maxBucket² no
    * matter how the corpus grows, making the guard the hard ceiling on
    * per-bucket cost. Bench emits a per-query SF slope and flags
    * super-linear jumps (`slope_flags` in bench_stats.json) so a
    * cost-model breach surfaces as a named flag, not a mystery
    * headline number. */
  def lshPairs(df: DataFrame, idCol: String, valueCol: String,
               family: LshFamily): DataFrame = {
    val sigs = family.sigs(df, idCol, valueCol)
    val pairs = bucketPairs(family.band(sigs), family)
    if (family.payload.nonEmpty) pairs
    else if (!family.scores)
      pairs.select(col("id_a"), col("id_b"),
        lit(null).cast("double").as(family.scoreName))
    // ids-only buckets: fetch both signatures by id (small enough to
    // auto-broadcast at bench scale; AQE picks a shuffle join when the
    // corpus outgrows the broadcast threshold) and score once per pair
    else pairs
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        family.score(c => col(s"${c}_a"), c => col(s"${c}_b")).as(family.scoreName))
      .filter(family.keep(col(family.scoreName)))
  }

  /** Bucket member list: ids alone, or (id, payload…) structs. */
  private def bucketList(family: LshFamily): (String, Column) =
    if (family.payload.isEmpty) ("ids", col("id"))
    else ("xs", struct(col("id") +: family.payload.map(col): _*))

  /** The quadratic step over band-key rows: bucket membership as a
    * sorted list (one shuffle), with the skew guard and singleton drop
    * applied on list size. Buckets with IDENTICAL membership collapse
    * before pairing: near-identical documents agree on most of their
    * bands, so without this each clique's pair set is regenerated once
    * per agreeing band — measured ~30× redundant pre-distinct volume on
    * a near-dup-heavy corpus; distinct() on (block, list) costs one
    * shuffle of O(#buckets) list rows instead of O(Σ bucket²) pair
    * rows. Lists are sorted, so pair generation emits id_a < id_b by
    * construction. Ids-only families come back as distinct candidate
    * (id_a, id_b) — deduped BEFORE any scoring, so each pair is scored
    * (or verified) once; payload families come back verified as
    * (id_a, id_b, <score>). */
  private def bucketPairs(banded: DataFrame, family: LshFamily): DataFrame = {
    val (list, member) = bucketList(family)
    val xs = col(list)
    val buckets = guardBuckets(
      banded.groupBy(family.bucketKey.map(col): _*)
        .agg(sort_array(collect_list(member)).as(list)),
      list, family.maxBucket, family.guard, dropSingletons = true)
      .select(family.blockKey.map(col) :+ xs: _*)
      .distinct()
    val rest = explode(slice(xs, col("i") + lit(2), size(xs)))
    if (family.payload.isEmpty)
      buckets.select(posexplode(xs).as(Seq("i", "id_a")), xs)
        .select(col("id_a"), rest.as("id_b"))
        .distinct()
    else
      buckets.select(posexplode(xs).as(Seq("i", "x")), xs)
        .select(col("x.id").as("id_a") +:
          family.payload.map(c => col(s"x.$c").as(s"${c}_a")) :+
          rest.as("y"): _*)
        .select(col("id_a"), col("y.id").as("id_b"),
          family.score(c => col(s"${c}_a"), c => col(s"y.$c"))
            .as(family.scoreName))
        .filter(family.keep(col(family.scoreName)))
        .distinct()
  }

  /** The corpus-side state for incremental near-dup: one
    * (block…, band, bh, id, payload…) row per bucket membership, with
    * degenerate mega-buckets dropped at BUILD time so every later probe
    * inherits the skew guard. At 100 TB this is the band table a daily
    * pipeline writes once per corpus rebuild ([[bandIndexWrite]]) and
    * range-reads per batch — O(docs · bands) fixed-width rows; probing
    * it never re-tokenizes, re-hashes or re-shuffles the corpus. */
  def bandIndex(df: DataFrame, idCol: String, valueCol: String,
                family: LshFamily): DataFrame = {
    val (list, member) = bucketList(family)
    val key = family.bucketKey.map(col)
    val rows = guardBuckets(
      family.band(family.sigs(df, idCol, valueCol))
        .groupBy(key: _*).agg(collect_list(member).as(list)),
      list, family.maxBucket, s"${family.name}_index", dropSingletons = false)
    if (family.payload.isEmpty)
      rows.select(key :+ explode(col(list)).as("id"): _*)
    else
      rows.select(key :+ explode(col(list)).as("x"): _*)
        .select(key ++ (col("x.id").as("id") +:
          family.payload.map(c => col(s"x.$c").as(c))): _*)
  }

  /** Near-dup pairs for a NEW batch against an already-indexed corpus
    * ([[bandIndex]] built with the SAME family): within-batch pairs
    * plus batch×corpus pairs from an equi join of the batch's band keys
    * against the index, both verified — (id_a, id_b), id_a < id_b,
    * distinct. The corpus pays nothing per batch.
    *
    * The batch is signatured and banded ONCE (an eager local
    * checkpoint, released by the harness sweep like every batch-query
    * pin), and both halves read that banded frame.
    *
    * With a shared `maxBucket` comfortably above the largest real
    * clique, the output equals the full-corpus [[lshPairs]] candidate
    * set restricted to pairs touching the batch (q93/q97/q98/q124 pin
    * this in-engine; DedupSpec proves it on real data) — near the guard
    * boundary the two can differ, because the full run sees combined
    * bucket sizes while the incremental run guards each side
    * separately. That divergence is OBSERVABLE: every guard stage
    * emits a dropped-bucket counter into the executed query's observed
    * metrics — read the total with [[droppedBuckets]]; nonzero on
    * either side near a tight `maxBucket` means candidates were lost
    * asymmetrically.
    *
    * Cost model: the within-batch half inherits [[lshPairs]]'
    * Σ|bucket|² over BATCH buckets only — the incremental win; the
    * cross half is one equi join on band keys whose output is bounded
    * by batch-bucket × corpus-bucket co-membership, capped by
    * `maxBucket` per side. */
  def lshProbe(batch: DataFrame, idCol: String, valueCol: String,
               index: DataFrame, family: LshFamily): DataFrame =
    probeBanded(pinBanded(batch, idCol, valueCol, family), index, family,
      keepSelf = false)

  /** [[lshProbe]] against the PERSISTED store: the batch's band-key
    * bucket set becomes the store read's parquet partition filter, and
    * the manifest check refuses a probe banded differently. Scan cost
    * is ∝ the batch's bucket set — at 100 TB the corpus index is never
    * scanned whole per batch.
    *
    * The internal banding pin outlives the call (it backs the returned
    * plan); batch/bench callers rely on the harness sweep to free it. A
    * caller inside a LONG-LIVED loop with no sweep — a streaming sink's
    * foreachBatch — must use [[lshProbeStorePinned]] and release the
    * pin itself, or it leaks one pinned RDD per batch for the session
    * lifetime. */
  def lshProbeStore(spark: org.apache.spark.sql.SparkSession, path: String,
                    batch: DataFrame, idCol: String, valueCol: String,
                    family: LshFamily, buckets: Int = 64,
                    excludeEpoch: Option[String] = None): DataFrame =
    lshProbeStorePinned(spark, path, batch, idCol, valueCol, family,
      buckets, excludeEpoch)._1

  /** [[lshProbeStore]] with caller-managed release: the second element
    * frees the internal banding checkpoint (call it only after the
    * pairs are consumed or themselves pinned — the pin backs the
    * returned plan). `keepSelf` keeps (id, id) batch×corpus matches —
    * the sink's re-delivery signal. */
  private[graft] def lshProbeStorePinned(
      spark: org.apache.spark.sql.SparkSession, path: String,
      batch: DataFrame, idCol: String, valueCol: String,
      family: LshFamily, buckets: Int = 64,
      excludeEpoch: Option[String] = None,
      keepSelf: Boolean = false): (DataFrame, () => Unit) = {
    val banded = pinBanded(batch, idCol, valueCol, family)
    val idx = bandIndexProbeRead(spark, path, family, banded, excludeEpoch,
      buckets)
    (probeBanded(banded, idx, family, keepSelf),
      () => Bridge.unpersistCheckpoint(banded))
  }

  private def pinBanded(batch: DataFrame, idCol: String, valueCol: String,
                        family: LshFamily): DataFrame = {
    family.requireProbeable()
    Bridge.freshLeaf(family.band(family.sigs(batch, idCol, valueCol))
      .localCheckpoint(true))
  }

  /** Both probe halves from the one banded batch. */
  private def probeBanded(banded: DataFrame, index: DataFrame,
                          family: LshFamily, keepSelf: Boolean): DataFrame =
    bucketPairs(banded, family).select("id_a", "id_b")
      .unionByName(cross(banded, index, family, keepSelf))
      .distinct()

  /** The batch×corpus half: an equi join on the band key, verified on
    * the carried payload. */
  private def cross(banded: DataFrame, index: DataFrame, family: LshFamily,
                    keepSelf: Boolean): DataFrame = {
    val corpus = family.payload.foldLeft(index.withColumnRenamed("id", "corpus_id"))(
      (d, c) => d.withColumnRenamed(c, s"corpus_$c"))
    val joined = banded.join(corpus, family.bucketKey)
      .filter(if (keepSelf) lit(true) else col("id") =!= col("corpus_id"))
    (if (family.scores)
       joined.filter(family.keep(family.score(col, c => col(s"corpus_$c"))))
     else joined)
      .select(least(col("id"), col("corpus_id")).as("id_a"),
        greatest(col("id"), col("corpus_id")).as("id_b"))
      .distinct()
  }

  // --------------------------------------------- persisted band stores
  /** Inner-partition bucket of a band key: every band-store row and
    * every probe derive it from the SAME expression, so the probe's
    * candidate-bucket set is a valid parquet partition filter by
    * construction. */
  private[graft] def bandBucket(buckets: Int): Column =
    pmod(xxhash64(col("band"), col("bh")), lit(buckets.toLong)).cast("int")

  /** The band store of `family` bucketed `buckets` ways: its manifest
    * carries the bucket count alongside the family's banding geometry
    * — a probe at a different bucketing refuses instead of silently
    * scanning partitions that cannot match its filter expression. */
  private[graft] def bands(family: LshFamily, buckets: Int): StoreFamily.Bound =
    StoreFamily.Bound(bandStore, family.meta.copy(
      params = family.meta.params + ("bb_buckets" -> buckets.toString)))

  /** Persisted, epoch-structured store of a family's [[bandIndex]]:
    * band-key rows are DISJOINT across append-only batches, so the
    * epoch fold is identity — compaction's value here is file count and
    * partition-listing latency, not row reduction (an identity fold can
    * never corrupt, so no family gate is needed on compact). The
    * family's manifest records the banding geometry
    * (`minhash_bands` numHashes/bands/shingleK/maxBucket/blockCol, …):
    * reads, probes and appends check it, so a probe banded differently
    * refuses loudly instead of silently missing candidates — the
    * persisted-level enforcement of the byte-identical-band-keys
    * contracts (q93/q97/q98/q124).
    *
    * Layout: rows are inner-partitioned by
    * `bb = pmod(xxhash64(band, bh), buckets)` so a batch probe reads
    * ONLY its own band keys' buckets as a parquet partition filter
    * ([[bandIndexProbeRead]]). One exchange on the bucket key precedes
    * the partitioned write: without it every input task writes a file
    * into every bucket directory (tasks × buckets small files — listing
    * and probe-read poison at scale); with it each bucket is one task's
    * output, and the within-partition (band, bh) sort gives the probe's
    * equi-join key row-group min/max pruning inside each bucket file —
    * the cert_text postings discipline ([[Jaccard]]). */
  private def bandBucketed(index: DataFrame, buckets: Int): DataFrame =
    index.withColumn("bb", bandBucket(buckets))
      .repartition(col("bb"))
      .sortWithinPartitions(col("bb"), col("band"), col("bh"))

  def bandIndexWrite(corpus: DataFrame, idCol: String, valueCol: String,
                     path: String, family: LshFamily,
                     buckets: Int = 64): Unit =
    bands(family, buckets).write(
      bandBucketed(bandIndex(corpus, idCol, valueCol, family), buckets), path)

  /** Append one batch's band rows as a new epoch (idempotent per epoch
    * name; manifest-checked). */
  def bandIndexAppend(spark: org.apache.spark.sql.SparkSession,
                      path: String, batch: DataFrame, idCol: String,
                      valueCol: String, epoch: String, family: LshFamily,
                      buckets: Int = 64): Unit =
    bands(family, buckets).append(spark, path,
      bandBucketed(bandIndex(batch, idCol, valueCol, family), buckets), epoch)

  def bandIndexRead(spark: org.apache.spark.sql.SparkSession,
                    path: String, family: LshFamily,
                    excludeEpoch: Option[String] = None,
                    buckets: Int = 64): DataFrame =
    bands(family, buckets).read(spark, path, excludeEpoch = excludeEpoch).drop("bb")

  /** Partition-pruned probe read: only the buckets the batch's own
    * band keys hash into are scanned — `batchBands` carries (band,
    * bh) rows (any extra columns ignored), the distinct bucket set is
    * bounded by `buckets` (driver-read under that bound), and the
    * returned frame is exactly [[bandIndexRead]] restricted to those
    * buckets — which, joined on the full band key, loses no candidate
    * because every index row a batch key can match carries the batch
    * key's own bucket. */
  private def bandIndexProbeRead(spark: org.apache.spark.sql.SparkSession,
                                 path: String, family: LshFamily,
                                 batchBands: DataFrame,
                                 excludeEpoch: Option[String],
                                 buckets: Int): DataFrame = {
    // observed = false: the probe's whole value is the bucket-pruned
    // scan, and a CollectMetrics barrier above the store read would
    // block the bb filter from reaching partition pruning (the
    // ivfIndexRead precedent — see EpochIndex.read's scaladoc)
    val stored = bands(family, buckets).read(spark, path,
      excludeEpoch = excludeEpoch, observed = false)
    val bbs = BoundedRead.boundedDriverRead(
      batchBands.select(bandBucket(buckets).as("bb")).distinct(),
      buckets, "bandIndexProbeRead buckets",
      s"distinct pmod values are bounded by buckets = $buckets")
      .map(_.getInt(0))
    stored.filter(col("bb").isin(bbs: _*)).drop("bb")
  }

  /** Every `<kind>_bands` family shares the `bb`-bucketed layout and
    * the identity fold — band rows are disjoint, so compaction bounds
    * the file count. Erasure filters by `id` whatever the banding (no
    * geometry is passed): the erased store is exactly the retained
    * documents' index (q238 pins post-erase probe ≡ never-ingested). A
    * pre-bucketing layout (no `bb_buckets` in the manifest) refuses —
    * rebuild it with [[bandIndexWrite]]. */
  private[graft] val bandStore = StoreFamily.flat("*_bands", _ => identity,
    StoreFamily.Filter(param => { param("bb_buckets"); Seq("id") }), Seq("bb"))

  /** Connected components over a near-duplicate pair list: the final
    * dedup stage that turns pairwise matches into clusters with one
    * representative (the minimum id) per cluster.
    *
    * Contraction algorithm: each round every vertex of the CURRENT
    * graph computes L(v) = min(v, min over neighbors), the vertex→
    * cluster mapping is composed through L, and the edge list is
    * contracted to (L(s), L(d)) with self-loops dropped — so round
    * r+1 runs on the CONTRACTED graph, not the original one. On
    * near-dup graphs (dense cliques, the shape LSH emits) round one
    * collapses each clique to its minimum and the surviving edge set
    * is orders of magnitude smaller; plain min-label propagation —
    * the previous implementation — re-joined the FULL edge list every
    * round. A component always contracts to its minimum vertex
    * (L(min) = min is a fixed point, and contraction preserves
    * connectedness), so labels are exact min-ids, not approximations.
    *
    * One driver action per round (the emptiness probe) materializes
    * that round's L and contracted edges; the vertex→cluster mapping
    * is NOT materialized per round — it is composed as a lazy join
    * chain over the (cached) per-round L tables and executes ONCE, at
    * the final eager checkpoint after convergence. Checkpointing the
    * mapping each round would re-execute the whole chain from scratch
    * every time (the lazy checkpoint is only cached by an action,
    * which never came) — O(rounds²) join executions; measured as a
    * multi-minute stall on a 40-round chain graph. The final
    * materialization also lets the operator FREE every per-round
    * checkpoint before returning: only the returned mapping's blocks
    * outlive the call (callers running many CC invocations in one
    * session previously accumulated O(rounds) pinned block-manager
    * entries per call).
    *
    * @return (id, cluster_id) for every vertex that appears in a pair
    */
  /** Canonical-copy selection per near-dup cluster — the keep policy
    * that follows clustering: real pipelines keep the BEST member of
    * each duplicate cluster (longest, highest-quality), not the
    * arbitrary first. `clusters` is [[connectedComponents]] output
    * (id, cluster_id); `scored` carries (idCol, scoreCol). The winner
    * is max score with ties to the SMALLER id, computed as one MAX
    * aggregate over (score, −id) structs — partial-aggregated and
    * skew-safe, never a per-cluster window sort (a viral duplicate
    * cluster holds millions of members at corpus scale). Ids must be
    * non-negative (the −id tiebreak trick; a loud require, not a
    * silent wrong winner).
    *
    * @return (cluster_id, keep_id, keep_score, n_members, n_dropped)
    */
  def selectRepresentatives(clusters: DataFrame, scored: DataFrame,
                            idCol: String, scoreCol: String): DataFrame = {
    val j = clusters.select(col("id"), col("cluster_id"))
      .join(scored.select(col(idCol).cast("long").as("id"),
        col(scoreCol).as("_score")), Seq("id"))
      .withColumn("_nid",
        when(col("id") < 0, raise_error(lit(
          "selectRepresentatives requires non-negative ids")))
          .otherwise(-col("id")))
    j.groupBy(col("cluster_id"))
      .agg(max(struct(col("_score").as("s"), col("_nid").as("ni"))).as("_best"),
        count(lit(1)).as("n_members"))
      .select(col("cluster_id"),
        (-col("_best.ni")).as("keep_id"),
        col("_best.s").as("keep_score"),
        col("n_members"),
        (col("n_members") - 1).as("n_dropped"))
  }

  def connectedComponents(pairs: DataFrame, idA: String = "id_a",
                          idB: String = "id_b", maxIter: Int = 30): DataFrame = {
    // every per-round checkpoint goes through Bridge.freshLeaf: a bare
    // localCheckpoint leaf inherits the origin plan's size stats, which
    // compound exponentially across contraction rounds (see freshLeaf).
    // Every checkpoint is HELD and freed before return: the final
    // mapping materializes eagerly below, after which the per-round
    // L/edge blocks are dead — leaving them pinned leaked O(rounds)
    // block-manager entries per call for the session lifetime
    // (round 8's bench inflation mechanism).
    val held = scala.collection.mutable.ListBuffer.empty[DataFrame]
    def cp(df: DataFrame, eager: Boolean): DataFrame = {
      val ck = df.localCheckpoint(eager)
      held += ck
      Bridge.freshLeaf(ck)
    }
    var edges = cp(pairs.select(col(idA).as("s"), col(idB).as("d"))
      .unionByName(pairs.select(col(idB).as("s"), col(idA).as("d")))
      .distinct(), eager = true)
    var mapping = cp(edges.select(col("s").as("id"))
      .distinct()
      .withColumn("label", col("id")), eager = true)
    var done = edges.isEmpty
    var i = 0
    while (!done && i < maxIter) {
      // L(v) = min(v, min over neighbors). Every current-graph vertex
      // appears on the s side (edges are stored in both directions),
      // so l covers the whole contracted vertex set.
      val l = cp(edges.groupBy("s")
        .agg(least(col("s"), min(col("d"))).as("l")), eager = false)
      // compose the original-id mapping through this round's L (lazy —
      // l is cached below, so the chain executes once, at the end);
      // left join: vertices whose component already fully contracted
      // (label no longer in the current graph) keep their label
      mapping = mapping.as("m")
        .join(l.select(col("s").as("v"), col("l")), col("m.label") === col("v"), "left")
        .select(col("id"), coalesce(col("l"), col("label")).as("label"))
      // long-chain guard: an unboundedly deep lazy join plan blows up
      // Catalyst's BigInteger size estimates (sizes multiply per join
      // level). Dedup graphs converge in 2-4 rounds and never hit
      // this; pathological chain graphs get an eager truncation — one
      // O(vertices) job — every 8 rounds.
      if ((i + 1) % 8 == 0) mapping = cp(mapping, eager = true)
      // contract: edges between vertices that chose different labels
      // survive (in both directions — symmetric by construction of
      // the input), intra-cluster edges become self-loops and drop.
      // No per-round distinct: duplicate contracted edges collapse in
      // the NEXT round's map-side partial agg (groupBy s) at zero
      // extra shuffles, each original edge contributes at most one
      // row per round (so rows stay bounded by the symmetrized |E|),
      // and l-joins cannot fan out (l is unique per vertex) — the
      // distinct bought earlier shrinkage for a full extra exchange
      // per round, the wrong trade at any scale
      edges = cp(edges
        .join(l.select(col("s"), col("l").as("ls")), Seq("s"))
        .join(l.select(col("s").as("d"), col("l").as("ld")), Seq("d"))
        .filter(col("ls") =!= col("ld"))
        .select(col("ls").as("s"), col("ld").as("d")), eager = false)
      done = edges.isEmpty // the round's single driver action
      i += 1
    }
    // returning silently-unconverged labels would hand the caller
    // SPLIT clusters (several cluster_ids inside one real duplicate
    // group) with nothing flagging it — fail loudly instead
    if (!done) throw new IllegalStateException(
      s"connectedComponents did not converge within $maxIter rounds — " +
        "the graph has components whose contraction needs more rounds " +
        "(long near-dup chains); raise maxIter")
    // materialize the composed mapping ONCE (the same single execution
    // the caller's first action used to pay), then release every
    // per-round checkpoint — the result is self-contained, so the
    // only blocks that outlive the call are the returned mapping's
    val out = mapping.select(col("id"), col("label").as("cluster_id"))
      .localCheckpoint(true)
    held.foreach(Bridge.unpersistCheckpoint(_))
    Bridge.freshLeaf(out)
  }

  /** Exact INCREMENTAL connected components: fold a batch of new
    * match pairs into yesterday's labeling without re-clustering
    * history — the general graph-level answer to "today's near-dup
    * pairs arrived; update the clusters" (q174's block-scoped ER is
    * the blocked special case; this one needs no blocking column).
    *
    * Correctness rests on component contraction: replace each pair
    * endpoint by its stored label (itself for unseen vertices) and
    * the stored components become SUPER-VERTICES of a graph whose
    * size is O(batch). Running [[connectedComponents]] on that mini
    * graph and composing labels through it yields EXACTLY the full
    * rebuild's labeling: any path through old+new edges collapses to
    * a path over super-vertices, and because stored labels are the
    * min ids of their components, the merged label
    * min(labels, unseen ids) IS the global min id. Pairs wholly
    * inside one existing component drop before the mini CC (both
    * endpoints share a label — nothing to merge).
    *
    * Scale shape: two broadcast-or-shuffle equi joins to map
    * endpoints, one [[connectedComponents]] bounded by the BATCH's
    * structure (never the corpus's), and one label-composition join
    * over the stored labeling — the only corpus-sized operation, and
    * it is a co-partitioned equi join, not an iteration. A year of
    * daily batches pays a year of O(batch) minis, never a second
    * full-history contraction.
    *
    * @param storedLabels [[connectedComponents]] output over all
    *                     previous pairs: (id, cluster_id), min-id
    *                     labels — the labeling this call updates
    * @param pairs        today's (idA, idB) match pairs
    * @return the updated complete labeling (id, cluster_id) over
    *         stored ∪ batch vertices */
  def incrementalComponents(storedLabels: DataFrame, pairs: DataFrame,
                            idA: String = "id_a",
                            idB: String = "id_b"): DataFrame =
    incrementalWithMini(storedLabels, pairs, idA, idB)._1

  /** [[incrementalComponents]] and the mini CC's pinned mapping it
    * reads (free it once the labeling is materialized). */
  private def incrementalWithMini(storedLabels: DataFrame, pairs: DataFrame,
                                  idA: String = "id_a",
                                  idB: String = "id_b"): (DataFrame, DataFrame) = {
    val lab = storedLabels.select(col("id"), col("cluster_id"))
    val mapped = pairs
      .join(lab.select(col("id").as(idA), col("cluster_id").as("_la")),
        Seq(idA), "left")
      .join(lab.select(col("id").as(idB), col("cluster_id").as("_lb")),
        Seq(idB), "left")
      .select(coalesce(col("_la"), col(idA)).as("id_a"),
        coalesce(col("_lb"), col(idB)).as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
    val mini = connectedComponents(mapped)
      .select(col("id").as("_sv"), col("cluster_id").as("_nl"))
    val updatedStored = lab
      .join(mini, lab("cluster_id") === col("_sv"), "left")
      .select(col("id"), coalesce(col("_nl"), col("cluster_id")).as("cluster_id"))
    // vertices the batch introduced: they participated in the mini
    // graph as themselves (or, pair-partnered into an existing
    // component, took its merged label); isolated-by-filter ones
    // keep their own id
    val newIds = pairs.select(col(idA).as("id"))
      .unionByName(pairs.select(col(idB).as("id")))
      .distinct()
      .join(lab.select(col("id")), Seq("id"), "left_anti")
    val newLabels = newIds
      .join(mini, newIds("id") === col("_sv"), "left")
      .select(col("id"), coalesce(col("_nl"), col("id")).as("cluster_id"))
    (updatedStored.unionByName(newLabels), mini)
  }

  /** Embedding-cosine near-duplicate pairs: all pairs within a
    * blocking key whose cosine similarity clears `threshold`.
    * Brute force within blocks — the exact verifier; at corpus scale
    * run it on LSH/IVF candidate cells instead of raw blocks. The
    * repartition is the same co-partition + materialization barrier
    * as the other pair generators. */
  def embeddingNearDup(df: DataFrame, idCol: String, vecCol: String,
                       blockCol: String, threshold: Double,
                       roundTo: Int = 4): DataFrame = {
    val v = df.select(col(blockCol).as("block"), col(idCol).as("id"),
      col(vecCol).as("vec")).repartition(col("block"))
    val a = v.select(col("block"), col("id").as("id_a"), col("vec").as("vec_a"))
    val b = v.select(col("block"), col("id").as("id_b"), col("vec").as("vec_b"))
    a.join(b, Seq("block"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(Sim.cosine(col("vec_a"), col("vec_b")), roundTo).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus by nearest centroid
    * ([[graft.operators.Similarity.assignCells]] — the IVF coarse
    * quantizer, so a pipeline that already built an IVF index reuses
    * its cells for free), then inside each cluster greedily drop
    * every vector that has an EARLIER-id clustermate with cosine
    * ≥ `tau` — the same deterministic keep-earliest rule the text
    * near-dup stages use (no rand(), replayable).
    *
    * Scale shape: pair scoring is block-local brute force, but the
    * blocks are the IVF cells — |cell| ≈ corpus/nCells by
    * construction, so cost is Σ|cell|² ≈ n²/nCells, and a denser
    * centroid set buys the quadratic down linearly. Degenerate cells
    * (mass collapse onto one centroid) hit the same observed skew
    * guard as the banded LSH families: cells over `maxCell` rows are
    * excluded from pair scoring — their rows all SURVIVE, never a
    * silent drop — and the count lands in [[droppedBuckets]].
    *
    * @return one row per surviving vector: (idCol, cell)
    */
  def semanticDedup(df: DataFrame, centroids: DataFrame, idCol: String,
                    vecCol: String, tau: Double, roundTo: Int = 4,
                    maxCell: Int = 100000): DataFrame =
    // the assignment feeds three lineages below (size aggregate, pair
    // scoring, final anti join) — checkpoint it so the corpus-×-
    // centroids pass runs ONCE, not three times (eager, so the job
    // runs at construction; the connectedComponents/q99 pattern)
    semanticDedupAssigned(
      Bridge.freshLeaf(
        Sim.assignCells(df, centroids, idCol, vecCol).localCheckpoint(true)),
      idCol, vecCol, tau, roundTo, maxCell)

  /** [[semanticDedup]] over PRE-ASSIGNED cells — the 100 TB entry
    * point: a corpus with a stored IVF index
    * ([[graft.operators.Similarity.ivfIndexRead]]) already holds
    * (id, vec, cell) assignments on disk; pass them here and the
    * corpus is never re-assigned at all. `cells` must carry `idCol`,
    * `vecCol` and a `cell` column. */
  def semanticDedupAssigned(cells: DataFrame, idCol: String,
                            vecCol: String, tau: Double, roundTo: Int = 4,
                            maxCell: Int = 100000): DataFrame = {
    // cell-size skew guard: |sizes| = |centroids| (small), broadcast
    // back onto the rows so every lineage below carries its cell's
    // size. The drop counter must ride the FINAL output lineage, not
    // the guard's filter branch: when every cell is oversized the
    // scoring branch collapses to empty and AQE's empty-relation
    // propagation discards any metric observed there (the exact loss
    // mode Bridge.observedMetrics documents). Oversized cells keep
    // all their rows, so counting their distinct cells among the
    // SURVIVORS — a subtree that always executes — is exact.
    val sized = broadcast(cells.groupBy(col("cell")).agg(count(lit(1)).as("_n")))
    val flagged = cells.join(sized, Seq("cell"))
    val drops = embeddingNearDup(flagged.filter(col("_n") <= maxCell),
      idCol, vecCol, "cell", tau, roundTo)
      .select(col("id_b").as(idCol)).distinct()
    flagged.join(drops, Seq(idCol), "left_anti")
      .observe(s"semdedup_dropped_buckets_${metricSeq.incrementAndGet()}",
        size(collect_set(when(col("_n") > maxCell, col("cell"))))
          .cast("long").as("dropped_buckets"))
      .select(col(idCol), col("cell"))
  }

  /** Certified-REPAIR semantic dedup: close the cross-cell recall gap
    * [[semanticDedup]] trades away, using the certification join's
    * own output. SemDeDup's keep rule is cell-LOCAL, so pairs whose
    * members landed in different IVF cells survive it — the exact
    * residual [[exactJoin]] under [[Cosine]] measures (the corpus-card
    * `sem_residual_cross` number). This operator CONSUMES that
    * certification: the residual edges over the survivors feed
    * [[connectedComponents]] (min-id labels, the q42 machinery), one
    * canonical member (the component min id — deterministic,
    * replayable) is kept per component, and the returned survivor set
    * provably contains NO pair ≥ `threshold` at all — re-certifying
    * it returns zero rows, cross-cell included.
    *
    * Scale shape: one exact cosine join over the (already-deduped)
    * survivors — banded, adaptively re-blocked, tripwired — plus a CC
    * whose graph is the RESIDUAL (near-empty when the cell blocking
    * was dense enough; the iteration is bounded by residual cluster
    * diameter, not corpus size), and one anti join back. The corpus
    * never shuffles beyond the certification join it was already
    * paying for the audit.
    *
    * @param survivors one row per surviving vector, carrying `idCol`
    *                  and `vecCol` (any other columns ride through)
    * @return `survivors` minus every non-canonical member of each
    *         residual component */
  def semanticRepair(survivors: DataFrame, idCol: String, vecCol: String,
                     threshold: Double, nPivots: Int = 4,
                     maxCell: Long = 100000L, roundTo: Int = 4): DataFrame = {
    val edges = exactJoin(survivors, idCol, vecCol,
      Cosine(threshold, nPivots, maxCell, roundTo)).select(col("id_a"), col("id_b"))
    val drops = connectedComponents(edges)
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id").as(idCol))
    survivors.join(drops, Seq(idCol), "left_anti")
  }

  /** The repair KEEP rule over a component labeling — the second half
    * of [[semanticRepair]], exposed for the INCREMENTAL loop: given
    * min-id labels over every certified pair so far
    * ([[connectedComponents]] at bootstrap,
    * [[incrementalComponents]] folded with each batch's
    * [[certBatchPairs]] — [[certIndexProbe]] cross pairs + self
    * join), the repaired survivor set is every ingested id whose
    * label is ITSELF — non-canonical members drop, ids that never
    * appeared in a pair are kept by construction (absent from the
    * labeling). Because the incremental labeling provably equals the
    * full rebuild's (the super-vertex contraction argument), the
    * survivor set of an ever-GROWING corpus stays equal to
    * [[semanticRepair]]-over-everything at batch cost — q234 pins the
    * equality against a full-rebuild oracle.
    *
    * Scale shape: one anti equi-join of the id set against the
    * labeling's non-canonical rows. */
  def repairSurvivors(ids: DataFrame, labels: DataFrame,
                      idCol: String): DataFrame =
    ids.join(labels.filter(col("id") =!= col("cluster_id"))
      .select(col("id").as(idCol)), Seq(idCol), "left_anti")

  /** Exact n-gram Jaccard over an EXPLICIT candidate pair list — the
    * scale-safe verifier stage: candidates come from a sub-quadratic
    * generator ([[lshPairs]] under MinHash/SimHash), never from within-block
    * brute force. Each document's shingle set is hashed once into a
    * sorted long array; the two joins then ship 8-byte hash arrays to
    * the (sparse) candidate pairs, and scoring is a codegen'd linear
    * merge. Cost: O(docs) prep + O(candidates) scoring — the shape
    * that survives 100 TB, vs the O(Σ block²) of ngramJaccardPairs.
    *
    * @param candidates (id_a, id_b) pairs, id_a < id_b
    * @return (id_a, id_b, jaccard) filtered to jaccard >= threshold
    */
  def ngramJaccardVerify(df: DataFrame, candidates: DataFrame,
                         idCol: String, textCol: String,
                         k: Int = 1, threshold: Double = 0.5): DataFrame = {
    val shingleCol =
      if (k == 1) TextFunctions.tokens(col(textCol))
      else shingles(col(textCol), k)
    // same materialization barrier as the other generators: hash each
    // doc's shingle set once, not once per candidate pair it appears
    // in — the exchange is REUSED by both joins below, so it stays
    // (unlike the single-consumer sig front ends); widen below it so
    // the hashing itself runs at full width on a narrow scan
    val toks = Par.widen(df, col(idCol))
      .select(col(idCol).as("id"),
        Sketches.hashed_token_set(shingleCol).as("sh"))
      .repartition(col("id"))
    candidates.select("id_a", "id_b")
      .join(toks.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(toks.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        Sketches.jaccard_sorted_long(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  // ------------------------------------------------ exact certification

  /** An EXACT similarity metric — the join a dedup CERTIFICATION pass
    * runs (prove the shipped corpus has no surviving pair above τ):
    * every pair at or above `threshold` is returned, zero false
    * negatives, the guarantee banded LSH ([[LshFamily]]) trades away
    * for speed. One implementation per role serves both values:
    * [[exactJoin]] (corpus × corpus), [[exactJoinAgainst]] (batch ×
    * corpus, in memory), [[certBatchPairs]] (one batch's certified
    * pairs) and the persisted store — [[certIndexWrite]],
    * [[certIndexAppend]], [[certIndexProbe]]. Each value states its
    * own parts once: the per-document rows, the blocking key, the
    * verify, the overflow guard and the store manifest.
    *
    * Exact forms never depend on their blocking choices (token order,
    * pivots) for the RESULT — only candidate counts do. Degenerate
    * rows (zero-token documents, zero-norm vectors) certify nothing
    * and are excluded by every form.
    *
    * A batch×corpus form (store probe or in-memory) is one
    * candidate+verify core ([[CertMetric.cross]]) over a
    * [[CertSource]]: the store's partition-pruned reads, or in-memory
    * parts of the corpus frame. An over-full blocking key (a
    * boilerplate token in `maxBucket`+ prefixes, a mass-collapsed
    * `maxCell`+ band cell) FAILS loudly, never drops candidates —
    * dropping would break the exactness contract: in-plan for the
    * in-memory forms, driver-side from the persisted stats for a
    * store probe (so a poisoned store refuses every probe, touched
    * or not). */
  sealed trait CertMetric extends Product with Serializable {
    def threshold: Double
    /** The ledger/labels metric name and the pair score column. */
    private[graft] def name: String
    private[graft] def score: String
    private[graft] def store: StoreFamily
    /** The key substore and the blocking-key columns its stats
      * substore counts (`cnt` per key). */
    private[operators] def keySub: String
    private[operators] def key: Seq[String]
    /** maxBucket / maxCell: the most rows one blocking key may hold. */
    private[operators] def limit: Long
    /** At most this many distinct inner-partition values per substore
      * (the bound of a probe's pruning read). */
    private[operators] def partCap: Int
    /** raise_error naming an over-full key; `what` qualifies the kind. */
    private[operators] def overflow(what: String, key: Seq[Column],
                                    n: Column): Column
    /** `rows` plus `_cn`, its key's row count. */
    private[operators] def counted(rows: DataFrame,
                                   key: Seq[String]): DataFrame
    /** (id, value) rows that can certify anything (degenerate dropped). */
    private[operators] def docs(df: DataFrame, idCol: String,
                                valueCol: String): DataFrame
    /** The blocking geometry `who` picks from a corpus (cosine: its
      * pivots, at least two; Jaccard: none). */
    private[operators] def blocking(corpus: DataFrame, idCol: String,
                                    valueCol: String, who: String): Pivots
    private[graft] def meta(geo: Pivots): IndexMeta
    /** The store bound to the manifest of geometry `geo`. */
    private[operators] def bound(geo: Pivots): StoreFamily.Bound =
      StoreFamily.Bound(store, meta(geo))
    /** The manifest a sink writes at activation; None when the geometry
      * derives from data (cosine pivots freeze from the first batch). */
    private[graft] def fixedMeta: Option[IndexMeta]
    /** Manifest check; returns the store's frozen geometry. */
    private[operators] def frozen(spark: SparkSession, path: String): Pivots
    /** One slice's substore frames, keyed by subdir (`pin` marks the
      * frames several substores share). */
    private[operators] def parts(df: DataFrame, idCol: String,
                                 valueCol: String, geo: Pivots,
                                 pin: DataFrame => DataFrame): Map[String, DataFrame]
    /** A substore frame's on-disk layout. */
    private[operators] def laidOut(sub: String, df: DataFrame): DataFrame = df
    private[operators] def selfJoin(df: DataFrame, idCol: String,
                                    valueCol: String): DataFrame
    /** (id_corpus, id_batch, score): the batch×corpus candidates and
      * their exact verify. */
    private[operators] def cross(batch: DataFrame, idCol: String,
                                 valueCol: String, geo: Pivots,
                                 src: CertSource): DataFrame
  }

  private[graft] type Pivots = Seq[Array[Float]]

  /** Token-set Jaccard over word `shingleK`-shingles (k = 1: the
    * tokens; larger k demands shared word ORDER, the q20/q21
    * convention).
    *
    * Candidates come from prefix filtering (the AllPairs/PPJoin
    * family, Bayardo et al., WWW 2007): a set of n shingles under a
    * total order keeps its first n − ⌈t·n⌉ + 1 as its PREFIX. Two sets
    * with Jaccard ≥ t share a shingle inside both prefixes, so the
    * self-join's equi-join on prefix keys loses nothing; the order is
    * document frequency ascending (rarest first) — purely the
    * bucket-size optimization, since prefixes of natural text then
    * hold rare shingles (cost O(Σ prefix-bucket²), not O(docs²)). The
    * ⌈·⌉ computes with a 1e-9 slack so binary rounding of t·n can only
    * LENGTHEN a prefix (more candidates — safe), never shorten it.
    *
    * Batch×corpus is ONE-SIDED: corpus prefixes (under the corpus
    * slice's own df order) against the batch's FULL sets. For a
    * qualifying pair |A∩B| ≥ ⌈t·|A|⌉ while A's non-prefix suffix holds
    * only ⌈t·|A|⌉ − 1 shingles, so some shared shingle lands in A's
    * prefix whatever total order cut it (the R×S corollary) — which is
    * why a store's epochs may each cut under their own slice's order
    * and stay exact. The PPJoin length filter (t·|A| ≤ |B| ≤ |A|/t)
    * rides every candidate join. Keys are xxhash64 shingle hashes: a
    * collision only ADDS a candidate; the verify (a linear merge of
    * sorted shingle-hash arrays) alone decides membership.
    *
    * Store layout (`cert_text`, manifest at the root):
    *  - `postings/`: prefix rows `(pb, pt, id, n)`, inner-partitioned
    *    by `pb = pmod(pt, buckets)` so a probe's batch buckets become
    *    a PARQUET PARTITION FILTER (the q151 `term IN (…)` shape), and
    *    sorted by `pt` within files for row-group skipping;
    *  - `stats/`: `(pb, pt, cnt)` prefix-bucket-count partials,
    *    sum-folded — the `maxBucket` guard reads these, one row per
    *    distinct prefix token, never the postings;
    *  - `fps/`: `(ib, id, n, hset)` fingerprint rows, the verify side,
    *    inner-partitioned by `ib = pmod(xxhash64(id), buckets)` so the
    *    verify scan prunes to the candidates' id buckets.
    *  No substore carries text: a probe never re-reads, re-tokenizes
    *  or re-df-counts the corpus.
    *
    * @return pairs scored `jaccard`: filtered unrounded, displayed at 4dp */
  final case class Jaccard(threshold: Double, shingleK: Int = 1,
                           maxBucket: Int = 100000, buckets: Int = 64)
      extends CertMetric {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1]: $threshold")
    require(shingleK >= 1, s"shingleK must be >= 1: $shingleK")
    require(maxBucket >= 1, s"maxBucket must be >= 1: $maxBucket")
    require(buckets >= 1, s"buckets must be >= 1: $buckets")
    private[graft] def name = "jaccard"
    private[graft] def score = "jaccard"
    private[graft] def store = certTextStore
    private[operators] def keySub = CertTextPostings
    private[operators] def key = Seq("pt")
    private[operators] def limit = maxBucket.toLong
    private[operators] def partCap = buckets

    private[operators] def overflow(what: String, key: Seq[Column], n: Column) =
      raise_error(concat(
        lit(s"exact Jaccard certification ${what}prefix bucket overflow: " +
          "shingle hash "), key.head.cast("string"),
        lit(" appears in "), n.cast("string"),
        lit(s" prefixes (> $maxBucket) — quadratic candidate blow-up; " +
          "strip the boilerplate token upstream or raise maxBucket with " +
          "the cost understood")))

    /** A count window: the candidate join on the same key colocates the
      * bucket anyway, so the count rides that exchange. */
    private[operators] def counted(rows: DataFrame, key: Seq[String]) =
      rows.withColumn("_cn", count(lit(1)).over(
        Window.partitionBy(key.map(col): _*)))

    /** (id, _s): each document's distinct shingle set — THE front end.
      * Zero-token documents drop at every k, so certification counts
      * never shift with `shingleK` (the k ≥ 2 short-document fallback
      * shingle would otherwise pair two empty documents at 1.0). */
    private[operators] def docs(df: DataFrame, idCol: String, textCol: String) =
      df.filter(size(TextFunctions.tokens(col(textCol))) > 0)
        .select(col(idCol).as("id"),
          (if (shingleK == 1) array_distinct(TextFunctions.tokens(col(textCol)))
           else shingles(col(textCol), shingleK)).as("_s"))
        .filter(size(col("_s")) > 0)

    private def sets(df: DataFrame, idCol: String, textCol: String) =
      docs(df, idCol, textCol).repartition(col("id"))

    private def needed(n: Column) =
      ceil(n.cast("double") * lit(threshold) - lit(1e-9))

    private def lengthOk(na: Column, nb: Column) =
      nb >= needed(na) && na >= needed(nb)

    /** (id, n, pt): each set's prefix under the df order of `sets`. */
    private def prefix(sets: DataFrame): DataFrame = {
      val toks = sets.select(col("id"), size(col("_s")).cast("long").as("n"),
        explode(col("_s")).as("_t"))
      val dfreq = toks.groupBy(col("_t")).agg(count(lit(1)).as("_df"))
      toks.join(dfreq, Seq("_t"))
        .withColumn("_pos", row_number().over(
          Window.partitionBy(col("id")).orderBy(col("_df"), col("_t"))))
        .filter(col("_pos") <= col("n") - needed(col("n")) + 1)
        .select(col("id"), col("n"), xxhash64(col("_t")).as("pt"))
    }

    private def hashed(sets: DataFrame) =
      sets.select(col("id"), Sketches.hashed_token_set(col("_s")).as("hset"))

    /** The exact verify of (a, b) candidates from (id, hset) rows. */
    private def verify(cand: DataFrame, a: String, b: String,
                       ha: DataFrame, hb: DataFrame): DataFrame =
      cand.join(ha.select(col("id").as(a), col("hset").as("_ha")), Seq(a))
        .join(hb.select(col("id").as(b), col("hset").as("_hb")), Seq(b))
        .select(col(a), col(b),
          Sketches.jaccard_sorted_long(col("_ha"), col("_hb")).as("_j"))
        .filter(col("_j") >= threshold)
        .select(col(a), col(b), round(col("_j"), 4).as("jaccard"))

    private[operators] def blocking(corpus: DataFrame, idCol: String,
                                    textCol: String, who: String) = Nil
    private[graft] def meta(geo: Pivots) =
      IndexMeta(certTextStore.name, "threshold" -> f"$threshold%.4f",
        "shingleK" -> shingleK, "maxBucket" -> maxBucket,
        "buckets" -> buckets)
    private[graft] def fixedMeta = Some(meta(Nil))
    private[operators] def frozen(spark: SparkSession, path: String) = {
      IndexMeta.check(spark, path, meta(Nil))
      Nil
    }

    private def idBucket(id: Column) =
      pmod(xxhash64(id), lit(buckets.toLong)).cast("int")
    private def pb = pmod(col("pt"), lit(buckets.toLong)).cast("int").as("pb")

    /** The sets and the prefix cut feed all three substores: pinned, so
      * a write tokenizes and df-orders the slice once. */
    private[operators] def parts(df: DataFrame, idCol: String, textCol: String,
                                 geo: Pivots, pin: DataFrame => DataFrame) = {
      val s = pin(sets(df, idCol, textCol))
      val p = pin(prefix(s))
      Map(
        CertStats -> p.groupBy(pb, col("pt")).agg(count(lit(1)).as("cnt")),
        CertTextPostings -> p.select(pb, col("pt"), col("id"), col("n")),
        CertTextFps -> s.select(idBucket(col("id")).as("ib"), col("id"),
          size(col("_s")).cast("long").as("n"),
          Sketches.hashed_token_set(col("_s")).as("hset")))
    }

    /** One exchange on the bucket key, so each `pb` directory is one
      * task's file (not tasks × buckets small files). */
    override private[operators] def laidOut(sub: String, df: DataFrame) =
      if (sub != CertTextPostings) df
      else df.repartition(col("pb")).sortWithinPartitions(col("pb"), col("pt"))

    private[operators] def selfJoin(df: DataFrame, idCol: String,
                                    textCol: String): DataFrame = {
      // widened: the tokenizing runs at full width on a narrow scan
      val s = sets(Par.widen(df, col(idCol)), idCol, textCol)
      val p = guarded(this, prefix(s), key, "")
      val cand = p.select(col("id").as("id_a"), col("pt"), col("n").as("_na"))
        .join(p.select(col("id").as("id_b"), col("pt"), col("n").as("_nb")),
          Seq("pt"))
        .filter(col("id_a") < col("id_b") && lengthOk(col("_na"), col("_nb")))
        .select("id_a", "id_b").distinct()
      verify(cand, "id_a", "id_b", hashed(s), hashed(s))
    }

    /** Candidates are pinned when the source pins: a store probe then
      * prunes its verify scan to their id buckets. */
    private[operators] def cross(batch: DataFrame, idCol: String,
                                 textCol: String, geo: Pivots,
                                 src: CertSource): DataFrame = {
      val b = src.pin(sets(batch, idCol, textCol))
      val bToks = b.select(col("id").as("id_batch"),
          size(col("_s")).cast("long").as("_nb"), explode(col("_s")).as("_t"))
        .select(col("id_batch"), col("_nb"), xxhash64(col("_t")).as("pt"))
      val cand = src.pin(src.read(CertTextPostings, bToks.select(pb))
        .select(col("pt"), col("id").as("id_corpus"), col("n").as("_nc"))
        .join(bToks, Seq("pt"))
        .filter(lengthOk(col("_nc"), col("_nb")))
        .select("id_corpus", "id_batch").distinct())
      verify(cand, "id_corpus", "id_batch",
        src.read(CertTextFps, cand.select(idBucket(col("id_corpus")).as("ib"))),
        hashed(b))
    }
  }

  /** Cosine similarity of embedding vectors, blocked by pivot-angle
    * bands (the generalized-hyperplane / pivot bound of the
    * metric-space join literature — Jacox & Samet TODS 2008,
    * MRSimJoin ICDE 2012 — specialized to the sphere): up to
    * `nPivots` deterministic pivots from the md5 rule
    * ([[graft.operators.Similarity.pickCentroids]] over the nonzero-norm
    * rows — the blocking choice never affects the RESULT, which is
    * what the oracle replays), and per pivot the band
    * ⌊angle(vec, pivot) / θ⌋ with θ = acos(threshold) + 1e-3. The
    * spherical triangle inequality |angle(x,p) − angle(y,p)| ≤
    * angle(x,y) ≤ acos(threshold) < θ puts a qualifying pair's bands
    * at most 1 apart on EVERY pivot (the 1e-3 widening absorbs float
    * noise; a wider band only ever adds candidates). The first two
    * pivots key the join, the rest prune as in-plan |Δband| ≤ 1
    * checks before the exact verify — round(cos, `roundTo`) ≥
    * threshold, the q34 engine/oracle convention — which alone
    * decides membership. Pruning power is θ-bound (π/θ bands per
    * pivot: τ = 0.9 blocks the sphere into ~7² cells, τ ≤ 0.5
    * degrades toward all-pairs — inherent to EXACT joins at wide
    * angles).
    *
    * Self-join: every vector replicates to {b, b+1} on the two key
    * pivots (4×), so a qualifying pair meets at EXACTLY the canonical
    * cell (max(b0ₐ,b0ᵦ), max(b1ₐ,b1ᵦ)) — one match per pair, no
    * distinct. A cell over `maxCell` (every vector at one angle to
    * both key pivots — the concentration shape of high dimensions) is
    * RE-BLOCKED: its rows key one level deeper on pivots 2/3 as extra
    * {b, b+1} keys (exact — more pivots only narrow candidates, and the
    * deeper canonical cell is still a single meet); only the overflow
    * cells' rows pay the extra 4×. A cell that still
    * overflows (collapsed on all four pivots, or no spare pivot) trips
    * the guard. Fewer than two bandable vectors hold no pair: the
    * self-join is empty.
    *
    * Batch×corpus: the CORPUS keys by its own (b0, b1) band cell,
    * unreplicated; only the batch replicates, to the 3×3
    * {b−1, b, b+1}² neighborhood (9×, of a batch), so every
    * |Δband| ≤ 1 pair meets at the corpus row's cell exactly once and
    * the corpus never explodes. It needs a corpus of at least two
    * bandable vectors to block at all.
    *
    * Store layout (`cert_vec`): `bands/` — `(id, vec, b0..)` rows,
    * inner-partitioned by the (b0, b1) key, so a probe reads only the
    * ≤ 9·|batch cells| partitions it can pair with — and `stats/` —
    * `(b0, b1, cnt)` cell-count partials, sum-folded and geometry-
    * bounded. The pivots are FROZEN into the manifest at bootstrap:
    * every epoch bands under them byte-identically and a probe reads
    * them back instead of re-picking (a gradually staler pivot set
    * costs candidates, never pairs).
    *
    * @return pairs scored `cos`: round(cos, roundTo) ≥ threshold */
  final case class Cosine(threshold: Double, nPivots: Int = 4,
                          maxCell: Long = 100000L, roundTo: Int = 4)
      extends CertMetric {
    require(threshold > -1.0 && threshold < 1.0,
      s"threshold must be in (-1, 1): $threshold")
    require(nPivots >= 2 && nPivots <= 16,
      s"nPivots must be in [2, 16] (two block the join, the rest prefilter): $nPivots")
    private[graft] def name = "cosine"
    private[graft] def score = "cos"
    private[graft] def store = certVecStore
    private[operators] def keySub = CertVecBands
    private[operators] def key = Seq("b0", "b1")
    private[operators] def limit = maxCell

    /** The band width covers the ROUNDED contract: the verify admits
      * round(cos, roundTo) ≥ τ, i.e. true cos ≥ τ − 0.5·10^-roundTo,
      * and the bands must too, or the borderline pairs the brute-force
      * oracle returns would be exactly the ones the blocking loses. */
    private val theta = math.acos(math.max(-1.0,
      threshold - 0.5 * math.pow(10, -roundTo))) + 1e-3

    /** Bands lie in [0, ⌈π/θ⌉], so a batch's 3×3 neighborhood spans
      * at most (⌈π/θ⌉ + 3)² cells, whatever the batch or corpus size. */
    private[operators] def partCap = {
      val maxBands = (math.Pi / theta).toInt + 3
      maxBands * maxBands
    }

    private[operators] def overflow(what: String, key: Seq[Column], n: Column) =
      raise_error(concat((Seq(
        lit(s"exact cosine certification ${what}cell overflow: band cell (")) ++
        key.flatMap(k => Seq(k.cast("string"), lit(","))).init ++ Seq(
        lit(") holds "), n.cast("string"),
        lit(s" vectors (> $maxCell) — quadratic pair blow-up; certify at " +
          "a tighter threshold (more, narrower bands) or raise maxCell " +
          "with the O(cell²) cost understood"))): _*))

    /** Cell counts by groupBy (map-side partials crush a hot cell; a
      * window could not — the q205 hot-key lesson), joined back: the
      * cell COUNT is θ-bounded, so the count table broadcasts whatever
      * the corpus size. */
    private[operators] def counted(rows: DataFrame, key: Seq[String]) =
      rows.join(broadcast(rows.groupBy(key.map(col): _*)
        .agg(count(lit(1)).as("_cn"))), key)

    /** (id, vec) nonzero-norm rows: cosine(v, v) is 1 for any nonzero
      * vector and 0 (the engine's zero-denominator convention) for a
      * zero-norm one, which has no angle to band. */
    private[operators] def docs(df: DataFrame, idCol: String, vecCol: String) =
      df.select(col(idCol).as("id"), col(vecCol).as("vec"))
        .filter(Sim.cosine(col("vec"), col("vec")) > 0.0)

    /** Up to `nPivots` pivots of the bandable rows — a bounded metadata
      * read: the pivot VECTORS become plan literals, so banding is
      * codegen'd row math and the corpus never shuffles for it. */
    private def pick(corpus: DataFrame, idCol: String, vecCol: String): Pivots =
      BoundedRead.boundedDriverRead(
        Sim.pickCentroids(docs(corpus, idCol, vecCol), "id", "vec", nPivots)
          .orderBy("cell"),
        nPivots, "certification pivots",
        s"pickCentroids emits at most nPivots = $nPivots rows")
        .map(_.getSeq[Float](1).toArray).toIndexedSeq

    /** Fewer pivots than asked only drop prefilters (still exact); fewer
      * than two cannot key the join. */
    private[operators] def blocking(corpus: DataFrame, idCol: String,
                                    vecCol: String, who: String) = {
      val pivots = pick(corpus, idCol, vecCol)
      require(pivots.length >= 2,
        s"$who needs >= 2 pivot vectors to block the join; the corpus " +
          s"supplied only ${pivots.length} nonzero-norm vectors — a corpus " +
          "this small certifies faster by brute force (crossJoin + filter), " +
          "and a store is bootstrapped with certIndexWrite over a real corpus")
      pivots
    }

    private[graft] def meta(pivots: Pivots) =
      IndexMeta(certVecStore.name, "threshold" -> f"$threshold%.4f",
        "roundTo" -> roundTo, "maxCell" -> maxCell,
        "nPivots" -> pivots.length,
        "pivots" -> pivots.map(_.mkString(",")).mkString(";"))

    private[graft] def fixedMeta = None

    /** Scalar parameters must match exactly; the pivots are read back
      * (`Float.toString`/`toFloat` round-trips bit-identically) — frozen
      * at bootstrap, never the caller's to supply. */
    private[operators] def frozen(spark: SparkSession, path: String) = {
      val stored = IndexMeta.read(spark, path).getOrElse(
        throw new IllegalStateException(
          s"cosine certification store at $path has no _GRAFT_META " +
            "manifest — bootstrap it with certIndexWrite"))
      require(stored.family == certVecStore.name,
        s"index family mismatch at $path: stored '${stored.family}', " +
          s"probe expects '${certVecStore.name}' — wrong index path?")
      val pivots = stored.params.getOrElse("pivots", sys.error(
        s"manifest at $path records no frozen pivots — not a " +
          "certIndexWrite store"))
        .split(";").map(_.split(",").map(_.toFloat)).toIndexedSeq
      IndexMeta.check(spark, path, meta(pivots))
      pivots
    }

    /** (id, vec, b0..b{p-1}): the one band rule of every form. */
    private def banded(df: DataFrame, idCol: String, vecCol: String,
                       pivots: Pivots): DataFrame = {
      def band(p: Array[Float]) =
        floor(acos(greatest(lit(-1.0), least(lit(1.0),
          Sim.cosine(col("vec"), typedLit(p))))) / lit(theta)).cast("int")
      docs(df, idCol, vecCol).select(col("id") +: col("vec") +:
        pivots.zipWithIndex.map { case (p, i) => band(p).as(s"b$i") }: _*)
    }

    private def cos(a: Column, b: Column) = round(Sim.cosine(a, b), roundTo)

    /** The banding runs once and feeds both substores. */
    private[operators] def parts(df: DataFrame, idCol: String, vecCol: String,
                                 pivots: Pivots, pin: DataFrame => DataFrame) = {
      val bands = pin(banded(df, idCol, vecCol, pivots))
      Map(CertStats -> bands.groupBy(col("b0"), col("b1"))
          .agg(count(lit(1)).as("cnt")),
        CertVecBands -> bands)
    }

    private[operators] def selfJoin(df: DataFrame, idCol: String,
                                    vecCol: String): DataFrame = {
      val pivots = pick(df, idCol, vecCol)
      val nP = pivots.length
      // widened before the band math: every branch below re-derives
      // from this lineage
      val pts = banded(Par.widen(df, col(idCol)), idCol, vecCol, pivots)
      if (nP < 2) return pts.select(col("id").as("id_a"),
        col("id").as("id_b"), lit(1.0).as("cos")).filter(lit(false))
      val rep = pts
        .withColumn("_k0", explode(array(col("b0"), col("b0") + 1)))
        .withColumn("_k1", explode(array(col("b1"), col("b1") + 1)))
      // pivots 2/3 (those that exist) are the re-blocking reserve: an
      // over-full (b0, b1) cell's rows also replicate to {b, b+1} on
      // them, every other row keys them at -1 (bands are ≥ 0). Both
      // members of a pair share its meet cell, so they take the same
      // branch and still meet exactly once, in one join.
      val deep = Seq(2, 3).filter(_ < nP)
      val keyed = if (deep.isEmpty) rep else deep.foldLeft(
          counted(rep, Seq("_k0", "_k1"))) { case (d, i) =>
        d.withColumn(s"_k$i", explode(when(col("_cn") > maxCell,
          array(col(s"b$i"), col(s"b$i") + 1)).otherwise(array(lit(-1)))))
      }.drop("_cn")
      val key = (0 +: 1 +: deep).map(i => s"_k$i")
      val side = guarded(this, keyed, key,
        if (deep.isEmpty) "nPivots=2 " else "re-blocked ")
      // the canonical meet: each key pivot equals the pair's band max;
      // every pivot past the first two also prunes as |Δband| ≤ 1
      def meet(i: Int) = col(s"_k$i") === greatest(col(s"b$i"), col(s"_xb$i"))
      val conds = (col("id") < col("_xid")) +: meet(0) +: meet(1) +:
        (deep.map(i => col(s"_k$i") === -1 || meet(i)) ++
          (2 until nP).map(i => abs(col(s"b$i") - col(s"_xb$i")) <= 1))
      side.join(side.select(key.map(col) ++ Seq(col("id").as("_xid"),
          col("vec").as("_xv")) ++
          (0 until nP).map(i => col(s"b$i").as(s"_xb$i")): _*), key)
        .filter(conds.reduce(_ && _))
        .select(col("id").as("id_a"), col("_xid").as("id_b"),
          cos(col("vec"), col("_xv")).as("cos"))
        .filter(col("cos") >= threshold)
    }

    private[operators] def cross(batch: DataFrame, idCol: String,
                                 vecCol: String, pivots: Pivots,
                                 src: CertSource): DataFrame = {
      val bRep = src.pin(banded(batch, idCol, vecCol, pivots))
        .select(col("id").as("id_batch") +: col("vec").as("_vb") +:
          pivots.indices.map(i => col(s"b$i").as(s"_b${i}b")): _*)
        .withColumn("b0", explode(array(col("_b0b") - 1, col("_b0b"),
          col("_b0b") + 1)))
        .withColumn("b1", explode(array(col("_b1b") - 1, col("_b1b"),
          col("_b1b") + 1)))
      val corpus = src.read(CertVecBands, bRep.select("b0", "b1"))
        .select(col("id").as("id_corpus") +: col("vec").as("_vc") +:
          pivots.indices.map(i => col(s"b$i").cast("int").as(s"_b${i}c")): _*)
        .withColumn("b0", col("_b0c")).withColumn("b1", col("_b1c"))
      corpus.join(bRep, Seq("b0", "b1"))
        .filter((2 until pivots.length).map(i =>
          abs(col(s"_b${i}c") - col(s"_b${i}b")) <= 1)
          .foldLeft(lit(true))(_ && _))
        .select(col("id_corpus"), col("id_batch"),
          cos(col("_vc"), col("_vb")).as("cos"))
        .filter(col("cos") >= threshold)
    }
  }

  /** `when(n > limit)` raise the metric's overflow, else `n` (≥ 1). */
  private def guard(m: CertMetric, what: String, key: Seq[Column],
                    n: Column): Column =
    when(n > m.limit, m.overflow(what, key, n).cast("long")).otherwise(n)

  /** `rows` behind the in-plan overflow guard on `key` — a filter that
    * is always true on healthy keys, load-bearing so column pruning
    * cannot drop the raise_error branch. */
  private def guarded(m: CertMetric, rows: DataFrame, key: Seq[String],
                      what: String): DataFrame =
    m.counted(rows, key)
      .filter(guard(m, what, key.map(col), col("_cn")) > 0L).drop("_cn")

  /** Where a batch×corpus cross reads the corpus. */
  private[operators] trait CertSource {
    /** Materialize a frame that feeds several reads (a store probe
      * pins eagerly; in memory it stays lazy). */
    def pin(df: DataFrame): DataFrame
    /** Substore `sub`'s rows, restricted (a store: by partition filter)
      * to the inner-partition values `keys` carries. */
    def read(sub: String, keys: DataFrame): DataFrame
  }

  /** The in-memory corpus parts (key substore behind the in-plan guard). */
  private final class MemorySource(parts: Map[String, DataFrame])
      extends CertSource {
    def pin(df: DataFrame): DataFrame = df
    def read(sub: String, keys: DataFrame): DataFrame = parts(sub)
  }

  /** EXACT all-pairs join: every pair of `df` rows with `metric`'s
    * similarity ≥ its threshold, zero false negatives (see
    * [[CertMetric]], [[Jaccard]], [[Cosine]]).
    *
    * @return (id_a, id_b, <score>) with id_a < id_b */
  def exactJoin(df: DataFrame, idCol: String, valueCol: String,
                metric: CertMetric): DataFrame =
    metric.selfJoin(df, idCol, valueCol)

  /** Batch-vs-corpus EXACT join: every (corpus row, batch row) pair at
    * or above the threshold, zero false negatives — the incremental
    * form of [[exactJoin]]: the corpus×corpus pass runs once, then a
    * clean batch result plus the batch's own [[exactJoin]] certifies
    * the merged corpus by induction ([[certBatchPairs]]). It is the
    * store probe's candidate+verify core fed by in-memory parts of
    * `corpus` (cosine pivots picked from it, at least two), with the
    * corpus-side overflow guard in-plan.
    *
    * PRODUCTION STEERING: this one-shot form re-derives the corpus
    * parts (shingles and df order, or pivots and bands) on every call —
    * right for an acceptance query over a corpus frame already in hand
    * (q230/q231's induction proofs), wrong for a recurring ingest loop,
    * where [[certIndexWrite]] derives them ONCE, [[certIndexProbe]]
    * answers every batch from the stored rows and [[certIndexAppend]]
    * folds the batch in: O(batch) work per batch.
    *
    * @return (id_corpus, id_batch, <score>); a row present on both
    *         sides pairs with itself — the re-ingestion signal a
    *         certification exists to raise */
  def exactJoinAgainst(corpus: DataFrame, batch: DataFrame, idCol: String,
                       valueCol: String, metric: CertMetric): DataFrame = {
    val geo = metric.blocking(corpus, idCol, valueCol, "exactJoinAgainst")
    val parts = metric.parts(corpus, idCol, valueCol, geo, identity)
    metric.cross(batch, idCol, valueCol, geo, new MemorySource(
      parts.updated(metric.keySub,
        guarded(metric, parts(metric.keySub), metric.key, "corpus "))))
  }

  /** One batch's certified pairs — the unit a certification ledger
    * appends ([[certLedger]]): its batch×corpus pairs (`cross`,
    * from [[certIndexProbe]] or [[exactJoinAgainst]]; None while no
    * corpus exists) canonicalized to id_a < id_b, plus the batch's
    * own [[exactJoin]].
    *
    * @return (id_a, id_b, <score>) */
  def certBatchPairs(batch: DataFrame, cross: Option[DataFrame],
                     idCol: String, valueCol: String,
                     metric: CertMetric): DataFrame = {
    val self = exactJoin(batch, idCol, valueCol, metric)
    cross.fold(self)(_.select(
      least(col("id_corpus"), col("id_batch")).as("id_a"),
      greatest(col("id_corpus"), col("id_batch")).as("id_b"),
      col(metric.score)).unionByName(self))
  }

  // -------------------------------------------------- certification ledger

  /** Identity fold: ledger rows are disjoint (see the class doc).
    * Erasure drops every pair touching a victim: the ledger then equals
    * the full exact join over the corpus WITHOUT the erased documents
    * (the induction restarts from the erased state, so erase the
    * cert_text/cert_vec stores in the same window — [[Maintenance
    * .eraseAll]] does). */
  private[operators] val certLedgerStore = StoreFamily.flat("cert_pairs",
    _ => identity, StoreFamily.Filter(_ => Seq("id_a", "id_b")))

  /** A certification ledger (`cert_pairs`): the OPERATIONAL form of
    * the incremental certification story. Bootstrap it with the
    * one-time full corpus×corpus pass ([[exactJoin]] output — any
    * `(id_a, id_b, <score>)` pair frame); after that every arriving
    * batch appends its [[certBatchPairs]] (its batch-vs-corpus pairs,
    * canonicalized to `id_a < id_b`, plus its own self-join) as one
    * epoch, and by induction the ledger always equals the full join
    * over everything ingested — the release-audit artifact ("these,
    * exactly, are the surviving ≥ τ pairs of shipped corpus N") without
    * ever re-running corpus². Rows are disjoint across epochs BY
    * CONSTRUCTION (a batch's pairs all touch that batch's ids; one
    * epoch per certified batch is the caller's append contract), so
    * the fold is the identity and a read is the epoch union. The
    * manifest records metric + threshold: appending cosine pairs into
    * a Jaccard ledger — or τ = 0.8 pairs into a τ = 0.85 ledger — is
    * refused, not merged. */
  def certLedger(metric: String, threshold: Double): StoreFamily.Bound =
    certLedgerStore.bind("metric" -> metric, "threshold" -> f"$threshold%.4f")

  // ------------------------------------------- persisted repair labels

  /** Min-fold (the family merge — see [[ccLabelsFold]]). Erasure is a
    * REBUILD: min-id LABELS are identifiers too (an erased id that was
    * its component's min would survive a filter as every other
    * member's cluster_id), so the erased labeling is
    * [[connectedComponents]] over the erased ledger. */
  private[operators] val ccLabelsStore = StoreFamily.flat("cc_labels",
    _ => p => p.groupBy(col("id")).agg(min(col("cluster_id")).as("cluster_id")),
    StoreFamily.Rebuild())

  /** Persisted connected-component labeling over everything the
    * certification ledger has certified — the state
    * [[incrementalComponents]] maintains, made a STORE so a production
    * ingest loop never re-derives bootstrap labels per run (the
    * verdict-named gap: every other incremental family persists its
    * state; the labeling is what [[repairSurvivors]] reads). A read is
    * the current complete labeling, (id, cluster_id).
    *
    * THE FOLD IS MIN, AND THAT IS A THEOREM, NOT A CONVENTION: labels
    * are component MIN-IDS, and components only ever MERGE as new
    * certified pairs arrive — a merge relabels every member to the
    * min of the merged labels, so an id's label is monotonically
    * NON-INCREASING across folds. The store therefore keeps per-epoch
    * DELTA rows `(id, cluster_id)` (changed + new ids only) and reads
    * back `min(cluster_id)` per id: min over all deltas IS the latest
    * label, with no sequence numbers, no ordering requirement across
    * epochs, and replay idempotency for free (re-appending any old
    * delta cannot change a min). Compaction is the same min fold —
    * associative, so base-as-one-partial stays exact.
    *
    * Scale shape: the labeling holds only ids that ever appeared in a
    * certified pair (never the corpus); each fold's delta is bounded
    * by the batch's structure; reads are one co-partitioned
    * aggregation over delta rows. Manifest pins metric + τ so labels
    * derived from one certification can never silently absorb folds
    * from another. Appends normally go through [[ccLabelsFold]], which
    * computes the delta. */
  def ccLabels(metric: String, threshold: Double): StoreFamily.Bound =
    ccLabelsStore.bind("metric" -> metric, "threshold" -> f"$threshold%.4f")

  /** Bootstrap a [[ccLabels]] store from a complete (nonempty)
    * labeling. */
  def ccLabelsWrite(labels: DataFrame, path: String, metric: String,
                    threshold: Double): Unit = {
    require(!labels.isEmpty,
      s"ccLabelsWrite at $path: refusing to bootstrap from an EMPTY " +
        "labeling (a zero-row bootstrap bricks later reads); for a " +
        "pipeline with no certified pairs yet, start folding with " +
        "ccLabelsFold — it bootstraps from the first nonempty fold")
    ccLabels(metric, threshold).write(
      labels.select(col("id"), col("cluster_id")), path)
  }

  /** Fold one batch of certified pairs into the stored labeling — the
    * production loop's one call: read the store, run the super-vertex
    * contraction ([[incrementalComponents]] — O(batch) mini-CC, never
    * a corpus recontraction), append only the CHANGED/NEW rows as this
    * epoch's delta, and return the updated complete labeling — pinned
    * (a checkpoint): the caller frees it with
    * `Bridge.unpersistCheckpoint` once consumed, or at once when only
    * the store matters.
    *
    * An EMPTY store bootstraps from this fold's own
    * [[connectedComponents]] (the first nonempty fold IS the
    * bootstrap — no separate empty-store write that would brick
    * reads). `excludeEpoch = Some(epoch)` makes an at-least-once
    * replay recompute against exactly the standing labels the first
    * attempt saw and rewrite the identical delta. */
  def ccLabelsFold(spark: org.apache.spark.sql.SparkSession,
                   path: String, pairs: DataFrame, epoch: String,
                   metric: String, threshold: Double): DataFrame = {
    // manifest-first (the streaming-sink discipline): the first fold
    // records build parameters before any delta lands; every later
    // fold verifies them — folding τ=0.8 pairs into a τ=0.85 labeling
    // refuses, never merges
    val store = ccLabels(metric, threshold)
    IndexMeta.writeIfAbsent(spark, path, store.meta)
    IndexMeta.check(spark, path, store.meta)
    def append(delta: DataFrame): Unit = store.append(spark, path,
      delta.select(col("id"), col("cluster_id")), epoch)
    if (!EpochIndex.nonEmpty(spark, path)) {
      val labels = connectedComponents(pairs)
      append(labels)
      labels
    } else {
      val stored = store.read(spark, path, excludeEpoch = Some(epoch))
      val (labels, mini) = incrementalWithMini(stored, pairs)
      val updated = Bridge.freshLeaf(labels.localCheckpoint(true))
      Bridge.unpersistCheckpoint(mini)
      val delta = updated
        .join(stored.withColumnRenamed("cluster_id", "_old"),
          Seq("id"), "left")
        .filter(col("_old").isNull || col("_old") =!= col("cluster_id"))
      append(delta)
      updated
    }
  }

  /** The live certified-repair view FROM the store:
    * [[repairSurvivors]] over the [[ccLabels]] read — every ingested id
    * whose stored label is itself (or that never certified a pair).
    * What a release pipeline reads instead of recomputing q232's CC. */
  def repairSurvivorsFromStore(spark: org.apache.spark.sql.SparkSession,
                               ids: DataFrame, idCol: String,
                               labelsPath: String, metric: String,
                               threshold: Double): DataFrame =
    repairSurvivors(ids,
      ccLabels(metric, threshold).read(spark, labelsPath), idCol)

  // ------------------------------------------- certification index stores

  /** The certification stores' per-document substores erase by `id`;
    * their count partials rebuild from the retained rows (a count
    * cannot be filtered per document). */
  private val byId = StoreFamily.Filter(_ => Seq("id"))

  /** Substores of a certification root ([[Jaccard]]'s and [[Cosine]]'s
    * layouts); both count their blocking keys in `stats/`. */
  private val CertStats = "stats"
  private val CertTextPostings = "postings"
  private val CertTextFps = "fps"
  private val CertVecBands = "bands"

  /** Fingerprint and postings rows are disjoint across epochs
    * (identity fold — one row per document/prefix token, documents
    * partitioned by arrival batch); the stats partials SUM-fold per
    * (pb, pt). Compaction reports the fps fold (the
    * document-count-shaped substore). */
  private[operators] val certTextStore = StoreFamily("cert_text", Seq(
    StoreFamily.substore(CertStats, _ => p =>
      p.groupBy(col("pb"), col("pt")).agg(sum(col("cnt")).as("cnt")),
      StoreFamily.Derived(CertTextPostings, p =>
        p.groupBy(col("pb"), col("pt")).agg(count(lit(1)).as("cnt"))), Seq("pb")),
    StoreFamily.substore(CertTextPostings, _ => identity, byId, Seq("pb")),
    StoreFamily.substore(CertTextFps, _ => identity, byId, Seq("ib"))),
    reports = CertTextFps)

  /** Band rows are disjoint across epochs (identity fold — bounds the
    * per-cell file count); the cell-count partials SUM-fold per
    * (b0, b1). Compaction reports the band fold. */
  private[operators] val certVecStore = StoreFamily("cert_vec", Seq(
    StoreFamily.substore(CertStats, _ => p =>
      p.groupBy(col("b0"), col("b1")).agg(sum(col("cnt")).as("cnt")),
      StoreFamily.Derived(CertVecBands, p =>
        p.groupBy(col("b0"), col("b1")).agg(count(lit(1)).as("cnt")))),
    StoreFamily.substore(CertVecBands, _ => identity, byId, Seq("b0", "b1"))),
    reports = CertVecBands)

  private def certSub(m: CertMetric, sub: String): StoreFamily.Substore =
    m.store.substores.find(_.subdir == sub).get

  /** Eager checkpoints one store call takes, freed together. */
  private class Pins {
    private var held = List.empty[DataFrame]
    def pin(df: DataFrame): DataFrame = {
      val p = Bridge.freshLeaf(df.localCheckpoint(true))
      held ::= p
      p
    }
    def release(): Unit = {
      held.foreach(Bridge.unpersistCheckpoint(_))
      held = Nil
    }
  }

  /** A store probe's corpus: substores read partition-pruned to the
    * batch's keys — the key set is a bounded driver read (at most
    * [[CertMetric.partCap]] values by construction), so a small batch
    * touches only its own partitions' files. */
  private final class StoreSource(spark: SparkSession, path: String,
                                  m: CertMetric, store: StoreFamily.Bound,
                                  excludeEpoch: Option[String])
      extends Pins with CertSource {
    def read(sub: String, keys: DataFrame): DataFrame = {
      val s = certSub(m, sub)
      // one long per partition: (b0, b1) encodes b0·2²⁰ + b1 (bands ≪
      // 2¹⁹ because θ ≥ 1e-3), so one isin is the whole filter
      val part = s.innerPartCols.map(c => col(c).cast("long"))
        .reduce((a, b) => a * lit(1L << 20) + b)
      val values = BoundedRead.boundedDriverRead(
        keys.select(part).distinct(), m.partCap,
        s"certIndexProbe $sub partitions",
        s"a ${m.store.name} store has at most ${m.partCap} ${s.subdir} partitions")
        .map(r => Long.box(r.getLong(0)))
      // observed = false: a CollectMetrics barrier would block the
      // partition filter (EpochIndex.read's scaladoc)
      store.read(spark, path, sub, excludeEpoch, observed = false)
        .filter(part.isin(values.toIndexedSeq: _*))
    }
  }

  /** One slice's substore frames laid out, keyed by subdir, their
    * shared checkpoints released once `f` has written them. */
  private def withParts(m: CertMetric, df: DataFrame, idCol: String,
                        valueCol: String, geo: Pivots)(
      f: Map[String, DataFrame] => Unit): Unit = {
    val pins = new Pins
    try f(m.parts(df, idCol, valueCol, geo, pins.pin).map { case (sub, part) =>
      sub -> m.laidOut(sub, part) })
    finally pins.release()
  }

  /** Bootstrap a persisted certification index — the store that makes
    * "cost ∝ batch" true for SCANS, not just joins: the corpus is
    * shingled and prefix-cut (or banded under pivots frozen into the
    * manifest) exactly ONCE, here; every later batch probes
    * partition-pruned substores ([[certIndexProbe]]) and appends its
    * own rows ([[certIndexAppend]]), so N batches pay O(N · batch)
    * work instead of O(N · corpus) — the q93/q97/q107 incremental
    * contract, extended to EXACT certification. The manifest pins the
    * metric's parameters: a probe at another τ or granularity refuses
    * loudly (prefix lengths and bands are τ-specific — probing across
    * τ would silently miss pairs). The substores write concurrently
    * (disjoint paths, one shared slice checkpoint); the manifest lands
    * strictly last. */
  def certIndexWrite(corpus: DataFrame, idCol: String, valueCol: String,
                     path: String, metric: CertMetric): Unit = {
    val geo = metric.blocking(corpus, idCol, valueCol, "certIndexWrite")
    withParts(metric, corpus, idCol, valueCol, geo)(metric.bound(geo).write(_, path))
  }

  /** Append one certified batch's index rows as one epoch, under the
    * manifest's frozen geometry (idempotent under at-least-once replay
    * — the EpochIndex append unit; every substore gets the SAME epoch
    * name, and a crash between substore writes is caught by the
    * probe's epoch-alignment check, repaired by re-running this
    * append). The caller's contract is the ledger's: probe first, then
    * append, so the store always mirrors everything certified. */
  def certIndexAppend(spark: SparkSession, path: String, batch: DataFrame,
                      idCol: String, valueCol: String, epoch: String,
                      metric: CertMetric): Unit = {
    val geo = metric.frozen(spark, path)
    withParts(metric, batch, idCol, valueCol, geo)(
      metric.bound(geo).append(spark, path, _, epoch))
  }

  /** Freeze a certification manifest WITHOUT a bootstrap base — the
    * streaming sink's first-batch hook: a cosine store born under
    * `certVecIngestSink` has no corpus yet, so its pivots freeze from
    * the FIRST batch (the deterministic md5 rule — a replay of that
    * batch re-derives the identical pivots). The publish is atomic
    * ([[IndexMeta.writeIfAbsent]]): of two concurrent first
    * activations exactly one geometry survives, and the loser checks
    * (and thereafter bands under) the winner's. An existing manifest
    * is checked, never clobbered. */
  private[graft] def certIndexMetaWriteIfAbsent(
      spark: SparkSession, path: String, firstBatch: DataFrame,
      idCol: String, valueCol: String, metric: CertMetric): Unit = {
    if (IndexMeta.read(spark, path).isEmpty)
      IndexMeta.writeIfAbsent(spark, path, metric.meta(
        metric.blocking(firstBatch, idCol, valueCol, "a stream's first batch")))
    metric.frozen(spark, path)
    ()
  }

  /** Batch-vs-corpus EXACT join THROUGH the persisted index —
    * [[exactJoinAgainst]]'s output contract, the same candidate+verify
    * core, but the corpus side is read from `path` (frozen geometry,
    * no corpus text or re-banding per batch). Every substore read is
    * PARTITION-PRUNED to what the batch can pair with (postings by the
    * batch's token buckets, fingerprints by the candidates' id
    * buckets, bands by the batch's 3×3 neighborhood cells). The
    * `maxBucket`/`maxCell` guard reads the PERSISTED stats (summed
    * partials, one row per blocking key) DRIVER-SIDE at probe
    * construction: a poisoned store refuses every probe, empty batches
    * and untouched keys included, and the candidate plan stays
    * guard-free.
    *
    * The internal checkpoints outlive the call (they back the returned
    * plan); batch/bench callers rely on the harness sweep. A
    * long-lived loop with no sweep — a streaming sink — uses
    * [[certIndexProbePinned]] and releases them itself.
    *
    * @param excludeEpoch the streaming replay hook: drop one live
    *                     epoch's rows ([[EpochIndex.read]] refuses if
    *                     it was already compacted into the base)
    * @return (id_corpus, id_batch, <score>) */
  def certIndexProbe(spark: SparkSession, path: String, batch: DataFrame,
                     idCol: String, valueCol: String, metric: CertMetric,
                     excludeEpoch: Option[String] = None): DataFrame =
    certIndexProbePinned(spark, path, batch, idCol, valueCol, metric,
      excludeEpoch)._1

  /** [[certIndexProbe]] with caller-managed release: the second element
    * frees the probe's checkpoints (call it only after the pairs are
    * consumed or themselves pinned). */
  private[graft] def certIndexProbePinned(
      spark: SparkSession, path: String, batch: DataFrame, idCol: String,
      valueCol: String, metric: CertMetric,
      excludeEpoch: Option[String] = None): (DataFrame, () => Unit) = {
    val geo = metric.frozen(spark, path)
    StoreFamily.requireAlignedCertEpochs(spark, path, metric.store)
    val store = metric.bound(geo)
    val src = new StoreSource(spark, path, metric, store, excludeEpoch)
    // the stats fold sums each key's partials: one row per key
    BoundedRead.boundedDriverRead(
      store.read(spark, path, CertStats, excludeEpoch)
        .agg(max(struct(col("cnt") +: metric.key.map(col): _*)).as("_hot"))
        .select(guard(metric, "corpus ", metric.key.map(c => col(s"_hot.$c")),
          col("_hot.cnt"))),
      1, "certIndexProbe hottest key", "a global aggregate emits exactly one row")
    (metric.cross(batch, idCol, valueCol, geo, src), () => src.release())
  }

  /** Does the certification store hold any index data (a live epoch or
    * a compacted base)? The gate the streaming sinks probe through. */
  def certIndexNonEmpty(spark: SparkSession, path: String,
                        metric: CertMetric): Boolean = {
    val s = certSub(metric, metric.store.reports)
    EpochIndex.nonEmpty(spark, s.path(path), innerPartCols = s.innerPartCols)
  }

  /** Does `corpus` hold a row the index would carry (a nonempty shingle
    * set at this granularity, a nonzero-norm vector)? The activation
    * predicate that tells a WRONGLY-empty index under a standing
    * indexable corpus (refuse — probes would silently miss pairs) from
    * a LEGITIMATELY empty one (no probe could ever match, and
    * [[certIndexWrite]] could not index such a corpus either —
    * refusing would brick the pipeline). `limit(1)`: the scan stops at
    * the first indexable row. */
  def certHasIndexable(corpus: DataFrame, idCol: String, valueCol: String,
                       metric: CertMetric): Boolean =
    !metric.docs(corpus, idCol, valueCol).limit(1).isEmpty

  /** Exact n-gram (word-shingle) Jaccard for all pairs within a
    * blocking key — the exact verifier for LSH candidates. Pair
    * scoring uses the codegen'd JaccardStr expression (hash-set
    * intersection, O(n+m) per pair) — the interpreted array_intersect
    * chain was the sf0.1 bench hot spot. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        blockCol: String, k: Int = 1,
                        threshold: Double = 0.5): DataFrame = {
    // hash each shingle set ONCE per document into a sorted long
    // array: pair scoring is then a linear merge with no hashing and
    // the join shuffles 8-byte hashes instead of shingle strings.
    // The repartition on the block key both co-partitions the self-
    // join (no broadcast of the corpus) and acts as the barrier that
    // stops CollapseProject from re-tokenizing per PAIR (measured 13s
    // → sub-second per-doc cost at sf0.1 without it).
    // k == 1 shingles ARE the tokens — skip the interpreted
    // shingle-building HOF on that fast path.
    val shingleCol =
      if (k == 1) TextFunctions.tokens(col(textCol))
      else shingles(col(textCol), k)
    val toks = df.select(col(blockCol).as("block"), col(idCol).as("id"),
      Sketches.hashed_token_set(shingleCol).as("sh"))
      .repartition(col("block"))
    val a = toks.select(col("block"), col("id").as("id_a"), col("sh").as("sh_a"))
    val b = toks.select(col("block"), col("id").as("id_b"), col("sh").as("sh_b"))
    a.join(b, Seq("block"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        Sketches.jaccard_sorted_long(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  // -------------------------------------------------------------------
  // Cross-document gram repetition: corpus-level duplicated n-gram signal

  /** Cross-document duplicated n-gram fraction — the corpus-level twin
    * of the within-document repetition signals (q51): for every
    * document, the share of its DISTINCT word n-grams that also occur
    * in at least one OTHER document. High values mark templated /
    * boilerplate-heavy content that survives exact and near-dup
    * removal (every copy differs somewhere) yet still floods training
    * with repeated text — the MassiveText-style repetition filters
    * applied ACROSS documents instead of within one.
    *
    * Shape: grams explode per doc (DISTINCT within a doc, so a gram's
    * row count IS its document frequency), md5-fingerprinted so every
    * shuffle carries fixed-width 16-byte keys however long the grams
    * are. Corpus df comes from `groupBy(gram_fp).count()` + an
    * equi-join back on the fingerprint — NOT a
    * `count over (partition by gram_fp)` window. The distinction is
    * the whole 100 TB contract: a corpus-wide boilerplate gram
    * (df ≈ N docs) physically colocates all N of its rows in ONE
    * window task that nothing can split, whereas the groupBy's
    * map-side partials crush the hot key to one row per input
    * partition, and the residual join-side skew is exactly the shape
    * AQE's skew-join splitter handles. The join re-derives the gram
    * frame on both sides (two scans of the text) — deliberately: at
    * corpus scale, persisting the exploded gram table to avoid a
    * second pass costs far more than the rescan. The per-doc rollup
    * after it is map-side partial, so its exchange moves one small
    * row per (doc, partition), never the grams.
    *
    * @return one row per doc: n_grams, n_shared (corpus df >= 2),
    *         shared_frac (rounded to 4 decimals) */
  def dupGramFraction(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 8): DataFrame = {
    val grams = docs.select(col(idCol).as("doc_id"),
        explode(shingles(col(textCol), n)).as("_ng"))
      .select(col("doc_id"), md5(col("_ng").cast("binary")).as("gram_fp"))
    val dfCounts = grams.groupBy(col("gram_fp"))
      .agg(count(lit(1)).as("_df"))
    grams.join(dfCounts, Seq("gram_fp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("_df") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("shared_frac",
        round(col("n_shared").cast("double") / col("n_grams"), 4))
  }

  /** Persisted corpus gram-frequency index: (gram_fp, n_docs), one
    * fixed-width row per DISTINCT n-gram in the corpus — md5
    * fingerprints, never text (the gram-granularity sibling of
    * [[boilerplateIndex]]). [[incrementalDupGramFraction]] probes it;
    * [[gramFreq]] stores it and merges a disjoint batch's counts in. */
  def gramFreqIndex(df: DataFrame, idCol: String, textCol: String,
                    n: Int = 8): DataFrame =
    df.select(col(idCol).as("doc_id"),
        explode(shingles(col(textCol), n)).as("_ng"))
      .select(md5(col("_ng").cast("binary")).as("gram_fp"))
      .groupBy(col("gram_fp"))
      .agg(count(lit(1)).as("n_docs"))

  private[operators] val gramStore = StoreFamily.flat("gram_freq",
    _ => gramCountsFold, StoreFamily.Subtract(Seq("n_docs")))

  /** THE gram-count fold — counts ADD across disjoint-doc partials
    * (grams are per-doc DISTINCT, so no document is counted twice).
    * Associative: per-shard builds merged equal one corpus-wide build
    * (spec-pinned). */
  private def gramCountsFold(partials: DataFrame): DataFrame =
    partials.groupBy(col("gram_fp")).agg(sum(col("n_docs")).as("n_docs"))

  /** The stored corpus gram-frequency index (`gram_freq`) in the
    * epoch-partitioned layout the whole store family shares — the
    * gram-granularity sibling of [[boilerplateCounts]]; a read sums
    * the partials per fingerprint. The gram size `n` is in the
    * manifest: probing an n=8 index with n=5 grams would silently
    * report near-zero seen_frac for everything, so it refuses. */
  def gramFreq(n: Int): StoreFamily.Bound = gramStore.bind("n" -> n)

  /** Batch novelty probe against a persisted corpus gram index — the
    * daily-batch shape of [[dupGramFraction]]: for each incoming doc,
    * the share of its distinct n-grams ALREADY present in the corpus.
    * seen_frac ≈ 1 means the doc is assembled from text the corpus
    * already has even if no single existing document near-dups it —
    * the remix/boilerplate case banded LSH is blind to.
    *
    * The index does NOT broadcast: unlike a benchmark gram index
    * (thousands of eval docs), the corpus index is the BIG side, so
    * this is a shuffled equi-join on 16-byte fingerprints with the
    * batch as the small side — AQE picks the cheap build side.
    * Same loud-failure contract as [[Contamination.incrementalNgramOverlap]]:
    * an empty or mis-pathed index would report seen_frac = 0 for
    * every doc — the silent "everything is novel" verdict a curation
    * gate must never emit. */
  def incrementalDupGramFraction(batch: DataFrame, index: DataFrame,
                                 idCol: String, textCol: String,
                                 n: Int = 8): DataFrame = {
    require(!index.isEmpty,
      "incrementalDupGramFraction: corpus gram index is EMPTY — a " +
        "missing or mis-pathed persisted index must fail loudly, not " +
        "report seen_frac=0 for every batch document")
    batch.select(col(idCol).as("doc_id"),
        explode(shingles(col(textCol), n)).as("_ng"))
      .select(col("doc_id"), md5(col("_ng").cast("binary")).as("gram_fp"))
      .join(index.select(col("gram_fp"), lit(1).as("_hit")),
        Seq("gram_fp"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), count(col("_hit")).as("n_seen"))
      .withColumn("seen_frac",
        round(col("n_seen").cast("double") / col("n_grams"), 4))
  }
}
