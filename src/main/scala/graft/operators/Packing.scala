package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing for training shards: assign documents to
  * fixed-token-budget bins (context windows) in a deterministic
  * order, so a 100 TB corpus turns into shuffled, evenly-filled
  * training sequences without a driver-side pass.
  *
  * Design:
  *  - documents are first sharded by a hash of their id (`Splits`-
  *    style md5 arithmetic — deterministic, engine-portable, and the
  *    shard is the unit of parallelism: every window below partitions
  *    by shard, so no global ordering or single-partition sort ever
  *    happens;
  *  - within a shard, docs are ordered by the same hash (a
  *    deterministic shuffle — training order must not correlate with
  *    source order) and greedily packed: running token count, bin =
  *    how many full budgets precede the doc's start. A doc that
  *    crosses a boundary belongs to the bin where it starts (real
  *    packers split or pad; the assignment grain is what matters for
  *    the distributed shape).
  *
  * Cost: one shuffle (hash partition by shard) + per-shard sort —
  * the same plan as any keyed window; shards scale with the corpus.
  */
object Packing {

  /** @param df       documents
    * @param idCol    stable id (hashed for shard + order)
    * @param tokenCol per-doc token count column name
    * @param ctxLen   token budget per packed sequence
    * @param shards   number of independent packing streams
    * @return doc_id, shard, seq_in_shard, cum_tokens (inclusive), bin
    */
  def packGreedy(df: DataFrame, idCol: String, tokenCol: String,
                 ctxLen: Int, shards: Int = 1024): DataFrame = {
    val h = Splits.splitBucket(col(idCol), Int.MaxValue)
    val shard = pmod(h, lit(shards))
    val w = Window.partitionBy("shard").orderBy(col("_h"), col("doc_id"))
    df.select(col(idCol).as("doc_id"), col(tokenCol).as("_n"),
      h.as("_h"), shard.as("shard"))
      .withColumn("seq_in_shard", row_number().over(w).cast("long"))
      .withColumn("cum_tokens", sum(col("_n")).over(w))
      .withColumn("bin", floor((col("cum_tokens") - col("_n")) / ctxLen))
      .select("doc_id", "shard", "seq_in_shard", "cum_tokens", "bin")
  }

  /** [[packGreedy]] plus the SAMPLE-LOADER contract: where each
    * document STARTS inside its (shard, bin) context window —
    * `offset = (cum − n) mod ctxLen` — so a training reader can
    * materialize token windows without replaying the packing scan.
    * Same deterministic md5 order, same shard-local windows; one
    * extra scan-side subtraction. A document whose tokens straddle
    * the bin boundary starts at `offset` and wraps into bin+1 —
    * the standard packed-sequence convention (the reader splits at
    * ctxLen; nothing here re-chunks). */
  def packWithOffsets(df: DataFrame, idCol: String, tokenCol: String,
                      ctxLen: Int, shards: Int = 1024): DataFrame = {
    val h = Splits.splitBucket(col(idCol), Int.MaxValue)
    val shard = pmod(h, lit(shards))
    val w = Window.partitionBy("shard").orderBy(col("_h"), col("doc_id"))
    df.select(col(idCol).as("doc_id"), col(tokenCol).as("n_tokens"),
      h.as("_h"), shard.as("shard"))
      .withColumn("_cum", sum(col("n_tokens")).over(w))
      .withColumn("bin", floor((col("_cum") - col("n_tokens")) / ctxLen))
      .withColumn("offset",
        (col("_cum") - col("n_tokens")) - col("bin") * ctxLen)
      .select("doc_id", "shard", "bin", "offset", "n_tokens")
  }

  /** Length-bucketed batch assignment — the padding-minimization
    * counterpart of [[packGreedy]]: sort the corpus by
    * (token count, md5(id), id), cut consecutive runs of `batchSize`
    * documents into batches, and report each document's padding cost
    * (`max(batch) − own`). Similar-length docs land together, so
    * pad-to-longest waste collapses versus random batching — the
    * standard dynamic-batching prep for variable-length training.
    * Within a length, the md5 order is a deterministic shuffle, so
    * same-length batches do not correlate with ingest order.
    *
    * Scale shape: the global rank is
    * [[graft.operators.Rolling.sequenceByKey]] — bucket-local windows
    * plus broadcast prefix offsets — with the rank bucket
    * (length, leading md5 hex char): a prefix of the sort order, as
    * sequenceByKey requires, AND a 16-way split of every equal-length
    * run, so a truncation-capped corpus (millions of docs at exactly
    * the cap — the common training shape) does not collapse into one
    * sort task. The pad window partitions by batch_id (≤ batchSize
    * rows each).
    *
    * @return (idCol, batch_id, n_tokens, pad_tokens) — one row per doc
    */
  def lengthBatches(df: DataFrame, idCol: String, tokenCol: String,
                    batchSize: Int): DataFrame = {
    require(batchSize >= 1, s"batchSize >= 1: $batchSize")
    val t = coalesce(col(tokenCol).cast("long"), lit(0L))
    val h = md5(col(idCol).cast("string").cast("binary"))
    val ranked = Rolling.sequenceByKey(
      df.withColumn("_t", t).withColumn("_h", h), Seq.empty,
      orderCols = Seq(col("_t"), col("_h"), col(idCol)),
      bucket = struct(col("_t"), substring(col("_h"), 1, 1)), as = "_rn")
    ranked
      .withColumn("batch_id", ((col("_rn") - 1) / lit(batchSize)).cast("long"))
      .withColumn("pad_tokens",
        max(col("_t")).over(Window.partitionBy(col("batch_id"))) - col("_t"))
      .select(col(idCol), col("batch_id"), col("_t").as("n_tokens"),
        col("pad_tokens"))
  }

  /** Curriculum interleave: a global training order that goes
    * easiest-first WITHIN each source while round-robining ACROSS
    * sources — rank-r documents of every source precede every
    * rank-r+1 document, so the curriculum ramps difficulty without
    * starving any source (the standard multi-source curriculum /
    * data-ordering recipe).
    *
    * The order is emitted as an explicit `pos` KEY, not a global
    * sort: `pos = (rank − 1) · n_sources + source_index`, with
    * per-source ranks from [[Rolling.sequenceByKey]] (bucket-local
    * windows + broadcast offsets — a mega-source never becomes one
    * sort task) and the source index a bounded driver read of the
    * distinct sources (≤ `maxSources`, [[BoundedRead]]-enforced)
    * broadcast as a literal map. Writers range-partition on `pos`;
    * nothing ever sorts the corpus in one task.
    *
    * Determinism: rank order is (difficulty asc, id asc) — exact
    * integer ordering, engine-replayable; the source index is the
    * lexicographic source rank, matching SQL's `ORDER BY source`.
    *
    * @param bucket monotone-in-difficulty coarse bucket (e.g.
    *               `expr("n_chars div 100")`) — the sequenceByKey
    *               shard key; must be non-decreasing in
    *               (difficulty, id) order. '''This is the one
    *               caller-supplied bucket in the catalog''': unlike
    *               the md5-prefix buckets of [[epochShuffle]] /
    *               [[annealedOrder]] it is NOT uniform by
    *               construction — a corpus where half the documents
    *               share one difficulty band makes that band a single
    *               window task per source. The tripwire is therefore
    *               ARMED BY DEFAULT here (`Some(0.5)`): a band holding
    *               more than half of a ≥ 10k-row source fails in-plan
    *               with a raise_error naming the offending band,
    *               instead of silently stalling on one window task.
    *               The `skewGuardMinRows = 10000` exemption inside
    *               [[Rolling.sequenceByKey]] makes this free for
    *               small/healthy workloads; [[Rolling.bucketSkew]]
    *               gives the histogram view for tuning a bucket
    *               function that trips it.
    * @param skewGuardFrac armed-by-default tripwire for degenerate
    *               difficulty bands — see [[Rolling.sequenceByKey]]'s
    *               skew caveat; pass `None` to disarm (accepting the
    *               single-task stall) after reviewing the histogram
    * @return (idCol, sourceCol, rank, pos) — pos is a total order
    *         over the corpus, 0-based, gap-free iff sources are
    *         equal-sized (gaps are harmless to consumers: order is
    *         what matters) */
  def curriculumInterleave(df: DataFrame, sourceCol: String, idCol: String,
                           difficulty: Column, bucket: Column,
                           maxSources: Int = 10000,
                           skewGuardFrac: Option[Double] = Some(0.5)): DataFrame = {
    val ranked = Rolling.sequenceByKey(df, Seq(sourceCol),
      orderCols = Seq(difficulty, col(idCol)), bucket = bucket, as = "rank",
      skewGuardFrac = skewGuardFrac)
    val srcs = BoundedRead.boundedDriverRead(
      df.select(col(sourceCol)).distinct(),
      maxRows = maxSources,
      what = "Packing.curriculumInterleave source index",
      boundWhy = s"distinct sources are a curated enumerable set " +
        s"(maxSources=$maxSources)")
      .map(_.getString(0)).sorted
    val idx: Map[String, Long] =
      srcs.zipWithIndex.map { case (s, i) => s -> i.toLong }.toMap
    val ns = srcs.size.toLong
    ranked
      .withColumn("_sidx", element_at(typedLit(idx), col(sourceCol)))
      .select(col(idCol), col(sourceCol), col("rank"),
        ((col("rank") - 1L) * lit(ns) + col("_sidx")).as("pos"))
  }

  /** Annealed training order: a weighted blend of the CURRICULUM
    * rank (easy-first) and the per-epoch SHUFFLE rank — the standard
    * curriculum-annealing schedule, where early epochs run
    * difficulty-ordered (α high) and later epochs decay toward a
    * plain deterministic shuffle (α → 0) without ever re-deriving
    * either ingredient:
    *
    * {{{ key = α·rank_difficulty + (10000−α)·rank_shuffle  (α in bps) }}}
    *
    * and `pos` is the rank of `key` (id tiebreak) — pure integer
    * arithmetic end-to-end, so the whole schedule is engine-
    * replayable (q203's oracle restates it as three window ranks).
    * α = 10000 degenerates to the pure curriculum, α = 0 to
    * [[epochShuffle]]'s order.
    *
    * Scale shape: all three ranks are [[Rolling.sequenceByKey]]
    * sharded ranks (difficulty buckets, md5-prefix buckets, and
    * key-range buckets of width ≈ 10000·n / `orderShards` — one
    * count() action sizes them); nothing sorts the corpus in one
    * task, and the only driver touch is that count.
    *
    * @param diffBucket monotone-in-difficulty shard (e.g.
    *                   `expr("n_chars div 100")`)
    * @param totalCount corpus row count, if the caller already knows
    *                   it — a multi-epoch schedule calls this once
    *                   per epoch over the SAME corpus, and passing
    *                   the count forward skips the one full-corpus
    *                   count() action each call would otherwise
    *                   spend (the q181-family `asOfDate` pattern).
    *                   Only shard WIDTHS depend on it, so an
    *                   approximate count changes the plan's task
    *                   sizing, never the output order.
    * @param skewGuardFrac the [[Rolling.sequenceByKey]] skew guard on
    *                      the DIFFICULTY shard (armed by default since
    *                      round 13; the hash and key shards are
    *                      uniform by construction) — a legitimately
    *                      spiky difficulty distribution opts out with
    *                      `None` once the concentration is understood
    * @return (idCol, key, pos) — pos 0-based total order */
  def annealedOrder(df: DataFrame, idCol: String, difficulty: Column,
                    diffBucket: Column, epochSeed: String, alphaBps: Int,
                    orderShards: Int = 256,
                    totalCount: Option[Long] = None,
                    skewGuardFrac: Option[Double] = Some(0.5)): DataFrame = {
    require(alphaBps >= 0 && alphaBps <= 10000,
      s"alphaBps must be in [0, 10000]: $alphaBps")
    require(totalCount.forall(_ >= 0), s"totalCount must be >= 0: $totalCount")
    val rc = Rolling.sequenceByKey(df, Seq.empty,
      orderCols = Seq(difficulty, col(idCol)), bucket = diffBucket,
      as = "_rc", skewGuardFrac = skewGuardFrac)
    val h = md5(concat(lit(epochSeed), lit(":"),
      col(idCol).cast("string")).cast("binary"))
    val rs = Rolling.sequenceByKey(rc.withColumn("_ao_h", h), Seq.empty,
      orderCols = Seq(col("_ao_h"), col(idCol)),
      bucket = conv(substring(col("_ao_h"), 1, 2), 16, 10).cast("long"),
      as = "_rs")
    val keyed = rs.withColumn("key",
      lit(alphaBps.toLong) * col("_rc") + lit(10000L - alphaBps) * col("_rs"))
    val n = math.max(1L, totalCount.getOrElse(df.count()))
    val width = math.max(1L, (10000L * n) / orderShards)
    Rolling.sequenceByKey(keyed, Seq.empty,
      orderCols = Seq(col("key"), col(idCol)),
      bucket = expr(s"key div ${width}L"), as = "pos")
      .withColumn("pos", col("pos") - 1L)
      .select(col(idCol), col("key"), col("pos"))
  }

  /** Deterministic per-epoch corpus shuffle: a 0-based training-order
    * position from ranking documents by `md5(seed || ':' || id)` — a
    * reproducible, engine-portable permutation that is completely
    * different for every epoch seed yet bit-stable across
    * runs/retries/engines, the anti-rand() property every sampler
    * here shares (q49's discipline applied to ORDER instead of
    * membership). rand()-based shuffles silently break exactly where
    * it hurts: a retried stage re-draws, a resumed run re-orders, and
    * two engines disagree on what "epoch 3" was.
    *
    * Scale shape — no global sort task: the md5 hex's LEADING 2 chars
    * are the [[Rolling.sequenceByKey]] shard bucket (256 ranges whose
    * lexicographic order IS the hash order — the mixtureSample shard
    * pattern), so ranking runs as 256 bucket-local windows plus one
    * tiny broadcast offset table. Writers range-partition on `pos`;
    * nothing sorts the corpus in one task.
    *
    * @param epochSeed any string naming the epoch ("epoch-3"); the
    *                  whole permutation changes with it
    * @return df columns + `pos` (0-based, gap-free: exactly
    *         0..count-1) */
  def epochShuffle(df: DataFrame, idCol: String, epochSeed: String,
                   as: String = "pos"): DataFrame = {
    val h = md5(concat(lit(epochSeed), lit(":"),
      col(idCol).cast("string")).cast("binary"))
    val withH = df.withColumn("_eshuf_h", h)
    Rolling.sequenceByKey(withH, Seq.empty,
      orderCols = Seq(col("_eshuf_h"), col(idCol)),
      bucket = conv(substring(col("_eshuf_h"), 1, 2), 16, 10).cast("long"),
      as = as)
      .withColumn(as, col(as) - 1L)
      .drop("_eshuf_h")
  }

  /** Serialize each packed (shard, bin) into ONE self-describing
    * binary payload — the loader-ready shard format: a training
    * reader fetches a (shard, bin) row, decodes the blob, and has its
    * context window's documents in pack order with zero joins at
    * read time. Layout (all integers big-endian):
    *
    *   [n_docs: int32] then per document, in pack order:
    *   [doc_id: int64][byte_len: int32][utf-8 text bytes]
    *
    * [[readPackedPayload]] is the reference decoder (spec-pinned
    * round-trip). Pack order inside a bin is (offset, doc_id) — the
    * same order [[packWithOffsets]] defined; zero-token documents
    * sharing an offset tiebreak by id.
    *
    * Scale shape: the record bytes are a pure codegen'd projection
    * (hex/unhex/concat); assembly is one (shard, bin)-keyed
    * aggregation whose output width is the context window's text —
    * bounded by ctxLen tokens per bin, never a corpus-scale row.
    * Write the result partitioned by shard and the loader's fetch is
    * one pruned-partition point read.
    *
    * @param packed [[packWithOffsets]] output (doc_id, shard, bin, offset)
    * @param docs   (idCol, textCol) — text joined back by id
    * @return (shard, bin, n_docs, payload: binary) */
  def packedPayloads(packed: DataFrame, docs: DataFrame,
                     idCol: String, textCol: String): DataFrame = {
    def be4(c: Column) = unhex(lpad(hex(c), 8, "0"))
    def be8(c: Column) = unhex(lpad(hex(c), 16, "0"))
    // NULL-text tripwire (the exact joins' guard discipline): concat is
    // null-propagating, so ONE null record would null the ENTIRE bin
    // payload while n_docs stays positive — the silent-corruption
    // shape a loader then NPEs on. Fail loudly, naming the doc.
    val body = docs.select(col(idCol).as("doc_id"),
      when(col(textCol).isNull, raise_error(concat(
        lit("packedPayloads: NULL text for doc_id "),
        col(idCol).cast("string"),
        lit(" — one null record nulls its whole bin payload; drop or " +
          "coalesce null texts upstream"))).cast("binary"))
        .otherwise(col(textCol).cast("binary")).as("_b"))
    packed.select(col("doc_id"), col("shard"), col("bin"), col("offset"))
      .join(body, Seq("doc_id"))
      .select(col("shard"), col("bin"),
        struct(col("offset"), col("doc_id"),
          concat(be8(col("doc_id")), be4(length(col("_b"))), col("_b"))
            .as("_rec")).as("_r"))
      .groupBy(col("shard"), col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        collect_list(col("_r")).as("_rs"))
      .select(col("shard"), col("bin"), col("n_docs"),
        concat(be4(col("n_docs")),
          aggregate(
            transform(array_sort(col("_rs")), r => r.getField("_rec")),
            lit(Array.emptyByteArray),
            (acc, x) => concat(acc, x))).as("payload"))
  }

  /** Reference decoder for [[packedPayloads]] blobs — the contract a
    * training loader implements; kept here so the round-trip is
    * spec-pinned against the writer. */
  def readPackedPayload(bytes: Array[Byte]): Seq[(Long, String)] = {
    val buf = java.nio.ByteBuffer.wrap(bytes)
    val n = buf.getInt
    (1 to n).map { _ =>
      val id = buf.getLong
      val len = buf.getInt
      val arr = new Array[Byte](len)
      buf.get(arr)
      (id, new String(arr, java.nio.charset.StandardCharsets.UTF_8))
    }
  }
}
