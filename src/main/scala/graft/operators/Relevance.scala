package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{Sketches, TextFunctions}

/** Corpus-relative term relevance scoring — the TF-IDF family a
  * training-data pipeline uses for keyword extraction, topic tagging
  * and quality heuristics over the document corpus.
  *
  * Plan shape at scale: term frequencies are computed INSIDE each row
  * by the codegen'd TokenCounts expression (grouping by document is
  * free within the row), so the exploded (doc, term, tf) stream is
  * already aggregated — the corpus-wide (doc, term) shuffle a
  * groupBy-after-explode plan pays never happens. Document
  * frequencies are a small term-keyed aggregate over that stream, and
  * the corpus size joins in as a broadcast single-row aggregate — no
  * driver action, no collect. The final per-document top-k window partitions
  * by document, so each window partition is bounded by document
  * length (thousands of terms), never corpus-sized: row_number here
  * is scale-safe, unlike a per-query corpus ranking (see TopK for
  * that case).
  *
  * Determinism: the rank orders on the ROUNDED score with the term
  * string as tiebreak, so top-k membership is engine-independent
  * (the engine and the DuckDB oracle agree on round(tf·ln(...), 6)).
  */
object Relevance {

  /** Top-k TF-IDF terms per document.
    *
    * Score = tf · ln((N + 1) / (df + 1)) — the +1-smoothed IDF, so a
    * term present in every document scores ~0 instead of -∞ and the
    * log argument is always > 0.
    *
    * @return (doc_id, term, tf, df, score) — k rows per document that
    *         has at least one token
    */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
                    k: Int = 3): DataFrame = {
    val tf = docs.select(col(idCol).as("doc_id"),
      explode(Sketches.token_counts(TextFunctions.tokens(col(textCol))))
        .as(Seq("term", "tf")))
    // tf is already distinct on (doc, term) — df is a plain count
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("score",
        round(col("tf") * log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0))), 6))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("doc_id", "term", "tf", "df", "score")
  }

  /** BM25 retrieval scoring against a FIXED query-term list — the
    * ranking function actual search/retrieval-augmentation pipelines
    * run over a corpus (Robertson-Spärck Jones, the k1/b form):
    *
    *   score(d) = Σ_t idf(t) · tf(t,d)·(k1+1) /
    *                         (tf(t,d) + k1·(1 − b + b·|d|/avgdl))
    *   idf(t)   = ln(1 + (N − df + 0.5)/(df + 0.5))   (always ≥ 0)
    *
    * Because the query list is literal, term frequencies come from
    * per-row map lookups on the codegen'd TokenCounts expression and
    * the per-term scores SUM IN LIST ORDER as plain column addition —
    * no explode, no per-term shuffle, and (crucially for the oracle)
    * no aggregation-order float drift: an independent engine summing
    * the same literal order reproduces the double bit-for-bit. The
    * corpus statistics (N, avgdl, per-term df) ride in as ONE
    * broadcast scalar row.
    *
    * @return (idCol, n_matched, score) for documents matching ≥ 1
    *         query term, the top `k` by (score desc, id asc) on the
    *         ROUNDED score — engine-independent membership
    */
  def bm25TopDocs(docs: DataFrame, idCol: String, textCol: String,
                  queryTerms: Seq[String], k: Int = 50,
                  k1: Double = 1.2, b: Double = 0.75,
                  roundTo: Int = 6): DataFrame = {
    require(queryTerms.nonEmpty && queryTerms.distinct.size == queryTerms.size,
      "query terms must be non-empty and distinct")
    val base = docs.select(col(idCol),
      Sketches.token_counts(TextFunctions.tokens(col(textCol))).as("_tc"),
      TextFunctions.tokenCount(col(textCol)).cast("long").as("_dl"))
    def tf(t: String): Column = coalesce(element_at(col("_tc"), t), lit(0L))
    val aggCols = count(lit(1)).cast("double").as("n") +:
      sum(col("_dl")).cast("double").as("sumdl") +:
      queryTerms.map(t =>
        sum(when(tf(t) > 0, 1L).otherwise(0L)).cast("double").as(s"df_$t"))
    val stats = base.agg(aggCols.head, aggCols.tail: _*)
    val withStats = base.crossJoin(broadcast(stats))
    val avgdl = col("sumdl") / col("n")
    val perTerm = queryTerms.map { t =>
      val idf = log(lit(1.0) +
        (col("n") - col(s"df_$t") + lit(0.5)) / (col(s"df_$t") + lit(0.5)))
      val denom = tf(t).cast("double") +
        lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("_dl").cast("double") / avgdl)
      idf * (tf(t).cast("double") * lit(k1 + 1.0)) / denom
    }
    val nMatched = queryTerms.map(t => when(tf(t) > 0, 1).otherwise(0))
      .reduce(_ + _)
    withStats
      .select(col(idCol), nMatched.as("n_matched"),
        round(perTerm.reduce(_ + _), roundTo).as("score"))
      .filter(col("n_matched") > 0)
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** Corpus vocabulary coverage — the tokenizer-prep probe: build the
    * top-`vocabSize` vocabulary by corpus token frequency
    * (count-desc, token-asc tiebreak — deterministic membership) and
    * score every document's out-of-vocabulary token ratio. High-OOV
    * documents are what a fixed-vocab tokenizer shreds into bytes;
    * this is the standard pre-training screen for them.
    *
    * Scale shape: per-row TokenCounts keeps the (doc, token, tf)
    * stream pre-aggregated exactly like [[tfidfTopTerms]]; the
    * vocabulary is a token-keyed aggregate cut by a bounded
    * TakeOrdered (vocabSize rows, never a global sort) and joins back
    * as a BROADCAST — the corpus never shuffles for the lookup.
    * Zero-token documents surface with n_tokens 0 / oov_ratio 0,
    * never dropped.
    *
    * @return (idCol, n_tokens, oov_ratio) — one row per input doc
    */
  def vocabCoverage(docs: DataFrame, idCol: String, textCol: String,
                    vocabSize: Int, roundTo: Int = 4): DataFrame = {
    val tf = docs.select(col(idCol),
      explode(Sketches.token_counts(TextFunctions.tokens(col(textCol))))
        .as(Seq("tok", "tf")))
    val vocab = tf.groupBy(col("tok"))
      .agg(sum(col("tf")).as("cnt"))
      .orderBy(col("cnt").desc, col("tok").asc)
      .limit(vocabSize)
      .select(col("tok"), lit(true).as("_in_vocab"))
    val perDoc = tf.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col(idCol))
      .agg(
        sum(col("tf")).as("n_tokens"),
        round(sum(when(col("_in_vocab").isNull, col("tf")).otherwise(lit(0L)))
          .cast("double") / sum(col("tf")), roundTo).as("oov_ratio"))
    docs.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("oov_ratio"), lit(0.0)).as("oov_ratio"))
  }

  /** Bigram language-model fluency scoring — the KenLM-shaped quality
    * screen: train add-α-smoothed bigram statistics on a reference
    * corpus, score every candidate document by its mean token-level
    * log-probability. Gibberish, boilerplate and wrong-language text
    * score far below corpus-typical prose, which is why an n-gram LM
    * trained on a trusted corpus is the classic cheap perplexity
    * filter (CCNet / Gopher style) before any neural scoring.
    *
    *   P(w₂|w₁) = (c(w₁w₂) + α) / (c(w₁·) + α·V)
    *
    * with c(w₁·) the count of bigrams whose HISTORY is w₁ and V the
    * training vocabulary size — so unseen bigrams back off to
    * α/(c(w₁·)+αV), never to zero, and rows never hit ln(0).
    *
    * Scale shape: bigrams come from the codegen'd WordNgrams pass
    * (never a lambda re-tokenizing per gram); the model is two
    * token-keyed count aggregates (map-side partial) and V one scalar
    * that rides in as a broadcast single-row aggregate. Scoring
    * shuffles the candidate bigram stream twice (once keyed by bigram,
    * once by history) — both joins are key-to-key equi joins that AQE
    * can skew-split; at 100 TB the model tables are the small-but-not-
    * broadcastable side and the stream never materializes per-doc
    * state outside the final per-doc average. Swap the string keys for
    * xxhash64 fingerprints at extreme scale — same plan, 8-byte keys.
    *
    * Documents with fewer than two tokens have no bigrams: they
    * surface with n_bigrams = 0 and a NULL score (unknowable, not
    * perfect — a 0.0 would rank them above real prose).
    *
    * @return (idCol, n_bigrams, avg_logprob) — one row per `score` doc
    */
  def bigramLmScore(train: DataFrame, score: DataFrame,
                    idCol: String, textCol: String,
                    alpha: Double = 0.1, roundTo: Int = 6): DataFrame = {
    require(alpha > 0, s"alpha must be > 0 (zero re-opens ln(0)): $alpha")
    def bigrams(df: DataFrame, cols: Column*) = df.select(
      cols :+ explode(Sketches.word_ngrams(TextFunctions.tokens(col(textCol)),
        2, dedup = false, emptyIfShort = true)).as("bigram"): _*)
    val trainBi = bigrams(train)
    val c2 = trainBi.groupBy(col("bigram")).agg(count(lit(1)).as("c2"))
    // history = first token of the bigram (tokens never contain spaces)
    val c1 = trainBi
      .select(substring_index(col("bigram"), " ", 1).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val vocab = train
      .select(explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .agg(count_distinct(col("tok")).as("v"))
    val scored = bigrams(score, col(idCol))
      .join(c2, Seq("bigram"), "left")
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
      .join(c1, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col(idCol),
        log((coalesce(col("c2"), lit(0L)) + lit(alpha)) /
          (coalesce(col("c1"), lit(0L)) + lit(alpha) * col("v"))).as("lp"))
    val perDoc = scored.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(col("lp")), roundTo).as("avg_logprob"))
    score.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("avg_logprob"))
  }

  // --------------- persisted postings store (the retrieval index shape)

  /** Build the BM25 postings partials for one document set: the
    * inverted index rows `(term, doc_id, tf, dl)` plus a ONE-ROW
    * corpus-statistics partial `(n_docs, sumdl)`.
    *
    * The document length rides ON every posting row (denormalized —
    * one extra long per posting) so a probe never joins a doc-length
    * table: the whole probe is a pruned postings scan. Postings are
    * range-partitioned and sorted by term before the write, so each
    * parquet file covers a contiguous term range and a probe's
    * `term IN (…)` predicate prunes at the file/row-group level —
    * the probe cost is O(postings of the queried terms), independent
    * of corpus size.
    *
    * Corpus statistics are NOT derivable from postings alone (docs
    * whose every term is unqueried still count toward N and avgdl),
    * so each epoch records its exact `(n_docs, sumdl)` long partial;
    * reads sum them — #epochs rows, never a corpus-sized scan.
    */
  def bm25Postings(docs: DataFrame, idCol: String,
                   textCol: String): (DataFrame, DataFrame) = {
    // NULL / uncastable doc ids refuse loudly at execution (the Diff
    // NULL-key idiom): a silently-null doc_id would land unanswerable
    // posting rows that still count toward n_docs/sumdl — permanent,
    // invisible corruption of a persisted index
    // try_cast probe, not cast: under ANSI an uncastable id must reach
    // THIS message, not a generic cast error mid-projection
    val idOk = col(idCol).isNotNull &&
      expr(s"try_cast(`$idCol` AS long)").isNotNull
    val base = docs
      .filter(assert_true(idOk, lit(
        s"bm25Postings: NULL or non-numeric $idCol — every posting " +
          "needs a long doc id (a null id would corrupt the stored " +
          "corpus statistics); filter or key the documents first")).isNull)
      .select(col(idCol).cast("long").as("doc_id"),
        Sketches.token_counts(TextFunctions.tokens(col(textCol))).as("_tc"),
        TextFunctions.tokenCount(col(textCol)).cast("long").as("dl"))
    val postings = base
      .select(explode(col("_tc")).as(Seq("term", "tf")),
        col("doc_id"), col("dl"))
      .select("term", "doc_id", "tf", "dl")
      .repartitionByRange(col("term"), col("doc_id"))
      .sortWithinPartitions("term", "doc_id")
    val stats = base.agg(count(lit(1)).as("n_docs"),
      coalesce(sum(col("dl")), lit(0L)).as("sumdl"))
    (postings, stats)
  }

  private[graft] def postingsMeta(idCol: String, textCol: String): IndexMeta =
    IndexMeta(bm25Store.name, "cols" -> s"$idCol,$textCol")

  /** Two substores: `stats` partials sum into one row (compacted
    * first, and the stats compaction reports); `postings` rows are
    * disjoint across epochs (append-only doc ids), so their fold is
    * identity — compaction bounds the FILE count.
    *
    * Erasure filters the postings by `doc_id` and SUBTRACTS the
    * victims' exact statistics partial ([[bm25DocStats]]: N and Σdl
    * are additive over disjoint doc sets, so the erased stats are
    * bitwise the retained corpus's, zero-token victims included).
    * Contract: a doc id lands in exactly one epoch, so erase only
    * documents this index ingested — [[bm25Posted]] refuses a
    * tokenized victim with no posting row before any rewrite. */
  private[operators] val bm25Store = StoreFamily("bm25_postings", Seq(
    StoreFamily.substore("stats", _ => p =>
      p.agg(coalesce(sum(col("n_docs")), lit(0L)).as("n_docs"),
        coalesce(sum(col("sumdl")), lit(0L)).as("sumdl")),
      StoreFamily.Subtract(Seq("n_docs", "sumdl"), check = Some(bm25Posted))),
    StoreFamily.substore("postings", _ => identity,
      StoreFamily.Filter(_ => Seq("doc_id")))), reports = "stats")

  /** Per-document corpus statistics `(doc_id, n_docs = 1, sumdl = dl)`
    * — summed, the [[bm25Postings]] stats partial; per document, the
    * bm25 erase's Subtract input (the membership check needs the
    * ids). */
  def bm25DocStats(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"), lit(1L).as("n_docs"),
      TextFunctions.tokenCount(col(textCol)).cast("long").as("sumdl"))

  /** The bm25 erase's membership check: a tokenized victim that has no
    * posting row was never ingested here — subtracting its stats would
    * corrupt N/avgdl for every retained score with no loud symptom
    * (the negative-count refusal only catches gross overshoot).
    * Zero-token victims have no postings by construction and stay the
    * caller's ingest-contract responsibility. */
  private def bm25Posted(spark: org.apache.spark.sql.SparkSession,
                         path: String, partial: DataFrame): Unit = {
    require(partial.columns.contains("doc_id"), s"bm25 erase at $path: " +
      "the statistics partial must be per document (Relevance.bm25DocStats)")
    val tokenized = partial.filter(col("sumdl") > 0L).select("doc_id").distinct()
    // semi-join BEFORE distinct: the scan over postings is unavoidable
    // (ids are not the sort key), but only victim-matching rows should
    // reach a shuffle
    val present = EpochIndex.read(spark, s"$path/postings",
        bootstrapName = "bm25IndexWrite", observed = false)
      .select("doc_id")
      .join(broadcast(tokenized), Seq("doc_id"), "left_semi")
      .distinct()
    val missing = tokenized.join(present, Seq("doc_id"), "left_anti")
      .limit(6).collect().map(_.getLong(0))
    require(missing.isEmpty,
      s"bm25 erase at $path: victim ids ${missing.mkString(", ")} have no " +
        "posting rows — they were never ingested here (or were ingested " +
        "with different text); erasing them would silently corrupt the " +
        "corpus statistics. Erase only documents this index ingested")
  }

  /** Bootstrap a stored retrieval index at `path` (`postings/` and
    * `stats/` epoch stores under one `_GRAFT_META` manifest, the IVF
    * multi-subdir layout). The corpus is tokenized ONCE; every later
    * query is a pruned index probe, and every later batch appends its
    * own partials ([[bm25IndexAppend]]) — the corpus is never
    * re-scanned. Contract (shared with every append-only store —
    * line dedup, IVF): a document id lands in EXACTLY ONE epoch;
    * re-ingesting a doc double-counts it in the statistics. */
  def bm25IndexWrite(docs: DataFrame, path: String, idCol: String,
                     textCol: String): Unit = {
    val (postings, stats) = bm25Postings(docs, idCol, textCol)
    EpochIndex.bootstrap(postings, s"$path/postings")
    EpochIndex.bootstrap(stats, s"$path/stats")
    IndexMeta.write(docs.sparkSession, path, postingsMeta(idCol, textCol))
  }

  /** Append one batch's postings + statistics partial as a new epoch
    * (idempotent per epoch name; manifest-checked). Only the batch is
    * tokenized. */
  def bm25IndexAppend(spark: org.apache.spark.sql.SparkSession,
                      path: String, batch: DataFrame, idCol: String,
                      textCol: String, epoch: String): Unit = {
    IndexMeta.check(spark, path, postingsMeta(idCol, textCol))
    val (postings, stats) = bm25Postings(batch, idCol, textCol)
    EpochIndex.append(postings, s"$path/postings", epoch)
    EpochIndex.append(stats, s"$path/stats", epoch)
  }

  /** BM25 top-k from the STORED index — bit-identical to
    * [[bm25TopDocs]] over the union of the indexed document sets,
    * without touching a single document:
    *
    *  - `term IN (…)` prunes the postings scan to the queried terms
    *    (file-level via the term-sorted layout);
    *  - the per-doc term pivot is a conditional aggregation over ≤ 1
    *    posting per (doc, term) — exact longs, no float-order drift;
    *  - N / avgdl come from the summed statistics partials and the
    *    per-term document frequencies from the pruned postings, all
    *    riding in as ONE broadcast scalar row;
    *  - per-term scores then sum in literal list order as plain
    *    column addition — the identical double arithmetic
    *    [[bm25TopDocs]] emits, which is what lets the q151 oracle
    *    pin the probe against the full-corpus formulation.
    *
    * The final top-k is an `orderBy().limit()` — TakeOrderedAndProject,
    * bounded per partition, never a global sort. */
  def bm25IndexProbe(spark: org.apache.spark.sql.SparkSession,
                     path: String, idCol: String, textCol: String,
                     queryTerms: Seq[String], k: Int = 50,
                     k1: Double = 1.2, b: Double = 0.75,
                     roundTo: Int = 6,
                     excludeEpoch: Option[String] = None): DataFrame = {
    require(queryTerms.nonEmpty && queryTerms.distinct.size == queryTerms.size,
      "query terms must be non-empty and distinct")
    IndexMeta.check(spark, path, postingsMeta(idCol, textCol))
    // observed = false: the term predicate must REACH the postings
    // scan (file/row-group pruning over the term-sorted layout); a
    // CollectMetrics barrier would force a full-store read — see
    // EpochIndex.read's scaladoc. The stats read below stays observed
    // (it aggregates everything by design — that IS its metric).
    val post = EpochIndex.read(spark, s"$path/postings", excludeEpoch,
      bootstrapName = "bm25IndexWrite", observed = false)
      .drop(EpochIndex.EpochCol)
      .filter(col("term").isin(queryTerms: _*))
    val statPartials = EpochIndex.read(spark, s"$path/stats", excludeEpoch,
      bootstrapName = "bm25IndexWrite")
    val corpusStats = statPartials
      .agg(coalesce(sum(col("n_docs")), lit(0L)).cast("double").as("n"),
        coalesce(sum(col("sumdl")), lit(0L)).cast("double").as("sumdl"))
    val dfCols = queryTerms.map(t => coalesce(
      sum(when(col("term") === t, 1L).otherwise(0L)), lit(0L))
      .cast("double").as(s"df_$t"))
    val dfStats = post.agg(dfCols.head, dfCols.tail: _*)
    val perDoc = post.groupBy(col("doc_id"))
      .agg(max(col("dl")).as("_dl"),
        queryTerms.map(t =>
          sum(when(col("term") === t, col("tf"))).as(s"tf_$t")): _*)
    def tf(t: String): Column = coalesce(col(s"tf_$t"), lit(0L))
    val withStats = perDoc
      .crossJoin(broadcast(corpusStats))
      .crossJoin(broadcast(dfStats))
    val avgdl = col("sumdl") / col("n")
    val perTerm = queryTerms.map { t =>
      val idf = log(lit(1.0) +
        (col("n") - col(s"df_$t") + lit(0.5)) / (col(s"df_$t") + lit(0.5)))
      val denom = tf(t).cast("double") +
        lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("_dl").cast("double") / avgdl)
      idf * (tf(t).cast("double") * lit(k1 + 1.0)) / denom
    }
    val nMatched = queryTerms.map(t => when(tf(t) > 0, 1).otherwise(0))
      .reduce(_ + _)
    withStats
      .select(col("doc_id").as(idCol), nMatched.as("n_matched"),
        round(perTerm.reduce(_ + _), roundTo).as("score"))
      .filter(col("n_matched") > 0)
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** Multi-query BM25 from the STORED index — the batch-serving shape
    * ([[bm25IndexProbe]] answers ONE literal query; a search/RAG
    * pipeline scores thousands at once). Queries arrive as DATA
    * (`query_id`, `terms` array), so per-term scores can no longer
    * sum as literal column addition — they must aggregate, and
    * double aggregation order is engine-dependent. The portability
    * trick: each per-(query, doc, term) contribution is rounded and
    * cast to DECIMAL(28,9) BEFORE the sum — decimal addition is
    * exact and order-independent, so the grouped sum replays
    * bit-for-bit in any engine (the q155 oracle does), and the final
    * score converts back to a rounded double.
    *
    * Plan shape: the query-term set broadcasts as a semi-join onto
    * the term-sorted postings scan; matched postings join the
    * exploded query list (broadcast — queries are the small side) and
    * the per-term document frequencies (broadcast — ≤ |distinct query
    * terms| rows); corpus statistics ride in as ONE broadcast row;
    * the (query, doc) partial-aggregated sum is the only shuffle and
    * the per-query top-k is the bounded-heap aggregator, never a
    * window over the corpus. The pruned-postings subtree evaluates
    * twice (once for the per-term document frequencies, once for
    * scoring) — two passes over the PRUNED set, not the store;
    * checkpoint it first if the query-term set is ever huge.
    *
    * @param queries (`query_id` long, `terms` array<string>) — terms
    *                distinct within a query
    * @return (query_id, doc_id-named-idCol, n_matched, score), top
    *         `k` rows per query by (score desc, doc asc)
    */
  def bm25IndexProbeMulti(spark: org.apache.spark.sql.SparkSession,
                          path: String, idCol: String, textCol: String,
                          queries: DataFrame, k: Int = 50,
                          k1: Double = 1.2, b: Double = 0.75,
                          roundTo: Int = 6): DataFrame = {
    IndexMeta.check(spark, path, postingsMeta(idCol, textCol))
    val qterms = queries.select(col("query_id"),
      explode(col("terms")).as("term"))
    val post = EpochIndex.read(spark, s"$path/postings", None,
      bootstrapName = "bm25IndexWrite", observed = false)
      .drop(EpochIndex.EpochCol)
      .join(broadcast(qterms.select("term").distinct()), Seq("term"),
        "left_semi")
    val statPartials = EpochIndex.read(spark, s"$path/stats", None,
      bootstrapName = "bm25IndexWrite")
    val corpusStats = statPartials
      .agg(coalesce(sum(col("n_docs")), lit(0L)).cast("double").as("n"),
        coalesce(sum(col("sumdl")), lit(0L)).cast("double").as("sumdl"))
    val dfT = post.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("df"))
    val avgdl = col("sumdl") / col("n")
    val idf = log(lit(1.0) +
      (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val denom = col("tf").cast("double") +
      lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl").cast("double") / avgdl)
    val contrib = idf * (col("tf").cast("double") * lit(k1 + 1.0)) / denom
    val scored = post
      .join(broadcast(qterms), Seq("term"))
      .join(broadcast(dfT), Seq("term"))
      .crossJoin(broadcast(corpusStats))
      .select(col("query_id"), col("doc_id"),
        round(contrib, 9).cast("decimal(28,9)").as("c"))
    val grouped = scored.groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_matched"),
        round(sum(col("c")).cast("double"), roundTo).as("score"))
    grouped.groupBy(col("query_id"))
      .agg(graft.functions.TopK.top_kv(k)(col("score"), col("doc_id"),
        col("n_matched").cast("double")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("_pos", "t")))
      .select(col("query_id"), col("t._2").as(idCol),
        col("t._3").cast("int").as("n_matched"), col("t._1").as("score"))
  }

  /** Reciprocal-rank fusion — the standard hybrid-retrieval combiner
    * (Cormack et al.): each input ranking contributes
    * `1/(rrfK + rank)` for every id it ranked, missing ids contribute
    * nothing, and the fused ordering is by the summed score. RRF is
    * how a pipeline combines BM25's lexical ranking with an embedding
    * ANN ranking without comparing their incomparable score scales —
    * only RANKS enter the formula.
    *
    * Inputs are the bounded top-n lists the retrieval operators
    * already emit ([[bm25TopDocs]], [[bm25IndexProbe]],
    * `Similarity.bruteForceTopK` / `ivfProbe`), each with a 1-based
    * `rank` column. Because every input is ≤ n rows, the fuse is a
    * chain of tiny full-outer joins Spark broadcasts under AQE —
    * the heavy lifting stays in the rankers, which never materialize
    * more than their top-n.
    *
    * Determinism: contributions add in INPUT-LIST ORDER as plain
    * column addition (no aggregation-order float drift — the
    * [[bm25TopDocs]] discipline), the fused score rounds, and ties
    * break by id — the q153 oracle replays the exact arithmetic.
    *
    * @param rankings bounded ranked lists, each `(idCol, rank)`;
    *                 ranks are 1-based, unique per list
    * @return top `k` of (idCol, n_lists, rrf_score)
    */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String, k: Int,
              rrfK: Int = 60, roundTo: Int = 9): DataFrame = {
    require(rankings.size >= 2, "rrfFuse wants at least two rankings")
    rankings.foreach(r => require(r.columns.contains("rank"),
      s"each ranking needs a 'rank' column, got ${r.columns.mkString(",")}"))
    val tagged = rankings.zipWithIndex.map { case (df, i) =>
      df.select(col(idCol), col("rank").cast("long").as(s"_rk_$i"))
    }
    val joined = tagged.reduce((a, b) => a.join(b, Seq(idCol), "full_outer"))
    val contribs = rankings.indices.map(i => coalesce(
      lit(1.0) / (lit(rrfK.toDouble) + col(s"_rk_$i").cast("double")),
      lit(0.0)))
    val nLists = rankings.indices
      .map(i => when(col(s"_rk_$i").isNotNull, 1).otherwise(0))
      .reduce(_ + _)
    joined.select(col(idCol), nLists.as("n_lists"),
      round(contribs.reduce(_ + _), roundTo).as("rrf_score"))
      .orderBy(col("rrf_score").desc, col(idCol).asc)
      .limit(k)
  }

  /** Grouped reciprocal-rank fusion — [[rrfFuse]] for MANY queries at
    * once: every input ranking carries (`queryCol`, idCol, rank), the
    * fuse joins on (query, id), and the per-query top-k comes from
    * the bounded-heap aggregator — never a per-query window over the
    * fused set (bounded per query, but a window would still sort
    * queries × n rows in one pass; the heap partial-aggregates
    * map-side). Contributions add in input-list order, exactly like
    * the single-query form.
    *
    * @return top `k` per query of (queryCol, idCol, n_lists,
    *         rrf_score), membership by (score desc, id asc)
    */
  def rrfFuseGrouped(rankings: Seq[DataFrame], queryCol: String,
                     idCol: String, k: Int, rrfK: Int = 60,
                     roundTo: Int = 9): DataFrame = {
    require(rankings.size >= 2, "rrfFuseGrouped wants at least two rankings")
    rankings.foreach(r => require(r.columns.contains("rank"),
      s"each ranking needs a 'rank' column, got ${r.columns.mkString(",")}"))
    val tagged = rankings.zipWithIndex.map { case (df, i) =>
      df.select(col(queryCol), col(idCol),
        col("rank").cast("long").as(s"_rk_$i"))
    }
    val joined = tagged.reduce((a, b) =>
      a.join(b, Seq(queryCol, idCol), "full_outer"))
    val contribs = rankings.indices.map(i => coalesce(
      lit(1.0) / (lit(rrfK.toDouble) + col(s"_rk_$i").cast("double")),
      lit(0.0)))
    val nLists = rankings.indices
      .map(i => when(col(s"_rk_$i").isNotNull, 1).otherwise(0))
      .reduce(_ + _)
    joined
      .select(col(queryCol), col(idCol), nLists.as("n_lists"),
        round(contribs.reduce(_ + _), roundTo).as("rrf_score"))
      .groupBy(col(queryCol))
      .agg(graft.functions.TopK.top_kv(k)(col("rrf_score"),
        col(idCol).cast("long"), col("n_lists").cast("double")).as("top"))
      .select(col(queryCol), posexplode(col("top")).as(Seq("_pos", "t")))
      .select(col(queryCol), col("t._2").as(idCol),
        col("t._3").cast("int").as("n_lists"), col("t._1").as("rrf_score"))
  }

  /** The composite pre-training quality filter (CCNet/Gopher shape):
    * every document gets its five screening signals, a keep/drop
    * verdict, and the NAMED list of failed checks — because a filter
    * that only says "dropped" is undebuggable at corpus scale; the
    * per-reason counts are what a curation run actually reports.
    *
    * Checks, in fixed report order:
    *  - `length`:     minTokens ≤ n_tokens ≤ maxTokens
    *  - `alpha`:      alphaRatio ≥ minAlpha (markup/number soup)
    *  - `repetition`: topFrequencyFraction over bigrams ≤
    *                  maxTopBigramFrac (the Gopher "top 2-gram"
    *                  signal — loops, spam, boilerplate stutter).
    *                  Token-level (n−distinct)/n is NOT used: natural
    *                  prose crosses any fixed distinct-ratio floor as
    *                  docs grow, so it only measures length. Docs
    *                  under the length floor get no repetition
    *                  verdict (one bigram is "100% repeated" only
    *                  vacuously; `length` already names them).
    *  - `lang`:       englishScore ≥ minEnScore (marker-ratio langID)
    *  - `lm`:         bigram-LM avg_logprob ≥ minAvgLogprob, trained
    *                  on `train` ([[bigramLmScore]]); a doc too short
    *                  to have bigrams FAILS this check (unknowable
    *                  fluency must not pass a fluency screen)
    *
    * All thresholds compare against the ROUNDED emitted signals, so
    * the verdicts are engine-portable exactly like the signals.
    * Scale shape: four of five signals are per-row codegen'd
    * expressions; the LM join is [[bigramLmScore]]'s two keyed
    * aggregates — nothing else shuffles.
    *
    * @return (idCol, n_tokens, alpha_ratio, top_bigram_frac, en_score,
    *         avg_logprob, keep, reasons) — one row per doc; `reasons`
    *         is the comma-joined failed-check names, '' when kept
    */
  def qualityFilter(docs: DataFrame, train: DataFrame,
                    idCol: String, textCol: String,
                    minTokens: Long = 25, maxTokens: Long = 100000,
                    minAlpha: Double = 0.6, maxTopBigramFrac: Double = 0.2,
                    minEnScore: Double = 0.05, minAvgLogprob: Double = -7.0,
                    lmAlpha: Double = 0.1): DataFrame = {
    val lm = bigramLmScore(train, docs, idCol, textCol, lmAlpha)
      .select(col(idCol), col("avg_logprob"))
    val t = coalesce(col(textCol), lit(""))
    val base = docs.select(col(idCol), t.as("_t"))
      .select(col(idCol),
        TextFunctions.tokenCount(col("_t")).cast("long").as("n_tokens"),
        round(TextFunctions.alphaRatio(col("_t")), 4).as("alpha_ratio"),
        round(TextFunctions.topFrequencyFraction(
          TextFunctions.bigrams(col("_t"))), 4).as("top_bigram_frac"),
        round(TextFunctions.englishScore(TextFunctions.tokens(col("_t"))), 4)
          .as("en_score"))
      .join(lm, Seq(idCol), "left")
    val checks: Seq[(String, Column)] = Seq(
      "length" -> (col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens),
      "alpha" -> (col("alpha_ratio") >= minAlpha),
      "repetition" -> (col("n_tokens") < minTokens ||
        col("top_bigram_frac") <= maxTopBigramFrac),
      "lang" -> (col("en_score") >= minEnScore),
      "lm" -> (col("avg_logprob").isNotNull && col("avg_logprob") >= minAvgLogprob))
    // concat_ws skips nulls: passed checks vanish from the report
    val reasons = concat_ws(",",
      checks.map { case (n, ok) => when(!ok, lit(n)) }: _*)
    base.select(col(idCol), col("n_tokens"), col("alpha_ratio"),
      col("top_bigram_frac"), col("en_score"), col("avg_logprob"),
      (reasons === "").as("keep"), reasons.as("reasons"))
  }

  /** Retrieval-quality metrics — nDCG@k and MRR per query, the
    * evaluation loop for the BM25/dense/hybrid rankers (q126/q23/
    * q153): a retrieval stack without its metrics harness can't tell
    * an index regression from noise.
    *
    * {{{
    *   DCG@k  = Σ_{rank ≤ k} (2^rel − 1) / log2(rank + 1)
    *   nDCG@k = DCG@k / IDCG@k   (0 when the query has no relevant)
    *   MRR    = 1 / first relevant rank   (0 when none retrieved)
    * }}}
    *
    * Scale shape: the ranked lists are per-query k-row sets (the
    * rankers' own output contract), so the DCG join touches
    * queries × k rows; the IDEAL ranking never sorts the label set —
    * IDCG's top-k relevance values come from the bounded-heap
    * [[graft.functions.TopK]] aggregator (map-side ≤ k per
    * partition). Labels are SPARSE (only judged-relevant pairs need
    * rows — the real judgment-file shape); unlabeled retrieved docs
    * count rel = 0.
    *
    * Metrics are rounded to `roundTo` decimals: DCG sums ≤ k doubles
    * whose summation order differs across engines (the q65 rule).
    *
    * @param ranked (query_id, doc_id, rank) — rank 1-based, from any
    *               ranker
    * @param labels (query_id, doc_id, rel) — graded relevance > 0
    * @return (query_id, ndcg, mrr) — one row per query appearing in
    *         EITHER input: a judged query the ranker returned nothing
    *         for scores (0, 0) rather than vanishing */
  def rankingMetrics(ranked: DataFrame, labels: DataFrame, k: Int,
                     roundTo: Int = 6): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val lab = labels.select(col("query_id"), col("doc_id"),
      col("rel").cast("double").as("rel"))
    val gain = ranked.filter(col("rank") <= k)
      .join(lab, Seq("query_id", "doc_id"), "left")
      .withColumn("rel", coalesce(col("rel"), lit(0.0)))
    val dcg = gain.groupBy(col("query_id")).agg(
      sum((pow(lit(2.0), col("rel")) - 1.0) /
        log2(col("rank").cast("double") + 1.0)).as("dcg"),
      min(when(col("rel") > 0, col("rank"))).as("first_rel"))
    val idcg = lab.filter(col("rel") > 0)
      .groupBy(col("query_id"))
      .agg(graft.functions.TopK.top_k(k)(col("rel"), col("doc_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), (col("pos") + 1).as("irk"), col("t._1").as("rel"))
      .groupBy(col("query_id"))
      .agg(sum((pow(lit(2.0), col("rel")) - 1.0) /
        log2(col("irk").cast("double") + 1.0)).as("idcg"))
    // FULL outer, not left: a judged query whose ranker returned ZERO
    // rows exists only on the idcg (label) side — a left join would
    // silently drop it, and macro-averaging the output would overstate
    // the retriever exactly when it fails hardest. With dcg NULL both
    // metrics coalesce to 0, the score such a query earned.
    dcg.join(idcg, Seq("query_id"), "full_outer")
      .select(col("query_id"),
        round(coalesce(col("dcg") / col("idcg"), lit(0.0)), roundTo).as("ndcg"),
        round(coalesce(lit(1.0) / col("first_rel"), lit(0.0)), roundTo).as("mrr"))
  }
}
