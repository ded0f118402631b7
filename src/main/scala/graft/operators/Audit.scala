package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cross-engine table digests — the audit primitive behind "did the
  * migration/replication/rewrite preserve every row": an
  * ORDER-INDEPENDENT checksum any engine can recompute from the same
  * rows, compared as one number instead of sorting two 100 TB tables
  * side by side. This is the engine's own oracle philosophy
  * (hash-compare, don't trust) packaged as an operator — the q164
  * oracle recomputes the digest in DuckDB and must match it exactly.
  *
  * Construction:
  *  - each row canonicalizes to a byte string: per column, `N` for
  *    NULL else `V<len>:<value>` — the length prefix kills
  *    field-shift collisions (('a|b','c') vs ('a','b|c')) and the N/V
  *    tag keeps NULL distinct from any value including '';
  *  - the row hash is the engine-portable 52-bit md5 prefix (the same
  *    key every sketch here uses);
  *  - the digest is the EXACT sum of row hashes (DECIMAL(38,0) — a
  *    long sum would overflow silently in Spark and loudly in DuckDB)
  *    reduced mod 2^61−1. Addition is commutative/associative, so the
  *    digest is independent of row order, partitioning and
  *    aggregation order — the property that makes it comparable
  *    across engines, file layouts and cluster sizes.
  *
  * What it detects: any changed/missing/extra row (up to md5
  *  collisions and the vanishing chance of colliding SUMS).
  * What it does NOT canonicalize: floating-point columns — engines
  *  format doubles differently, so the caller must cast them to a
  *  fixed-scale decimal/string first (the q164 pattern:
  *  `round(x, 2)` cast to DECIMAL string); timestamps likewise cast
  *  to an explicit string form.
  *
  * Scale shape: one scan + one (optionally grouped) partial-agg sum —
  * no sort, no shuffle beyond the aggregation's.
  */
object Audit {

  private val Mod = 2305843009213693951L // 2^61 - 1

  /** Canonical per-column encoding: N | V<len>:<utf8 value>. */
  private def canon(c: Column): Column = {
    val s = c.cast("string")
    when(c.isNull, lit("N"))
      .otherwise(concat(lit("V"), length(s).cast("string"), lit(":"), s))
  }

  /** 52-bit md5 row hash of the canonicalized columns. */
  def rowHash(cols: Seq[Column]): Column =
    conv(substring(md5(concat(cols.map(canon): _*).cast("binary")), 1, 13),
      16, 10).cast("long")

  /** Digest one table (or each group): (groupCols…, n_rows, digest).
    * Columns are digested in the given order — order is part of the
    * digest definition, record it next to stored digests. */
  def tableDigest(df: DataFrame, cols: Seq[String],
                  groupCols: Seq[String] = Nil): DataFrame = {
    require(cols.nonEmpty, "tableDigest needs at least one column")
    val hashed = df.select(
      (groupCols.map(col) :+ rowHash(cols.map(col)).as("_h")): _*)
    val agg = Seq(count(lit(1)).as("n_rows"),
      pmod(sum(col("_h").cast("decimal(38,0)")), lit(Mod).cast("decimal(38,0)"))
        .cast("long").as("digest"))
    if (groupCols.isEmpty) hashed.agg(agg.head, agg.tail: _*)
    else hashed.groupBy(groupCols.map(col): _*).agg(agg.head, agg.tail: _*)
  }

  // ---------------- persisted digest store (the incremental shape)

  /** Epoch fold: digests are ADDITIVE over disjoint row sets —
    * digest(A ∪ B) = (digest(A) + digest(B)) mod 2^61−1, and counts
    * add — so per-group partials sum (associative, commutative;
    * mod distributes over the sum). */
  private def digestFold(partials: DataFrame): DataFrame =
    partials.groupBy(col("group"))
      .agg(sum(col("n_rows")).as("n_rows"),
        pmod(sum(col("digest").cast("decimal(38,0)")),
          lit(Mod).cast("decimal(38,0)")).cast("long").as("digest"))

  /** Erasure is exact MODULAR subtraction, no table re-scan:
    * digest(A \ V) = digest(A) − digest(V) mod M and counts subtract,
    * so the victims' own [[digestPartial]] folds in negated. Two
    * refusals keep it honest: a group whose count would go NEGATIVE
    * (a "victim" row this ledger never digested), and a group whose
    * count reaches zero with a NON-zero residual digest (the victims'
    * bytes differ from what was ingested). For surviving groups a
    * wrong victim payload is undetectable by ANY digest scheme — the
    * ledger still verifies against the retained replica, which is the
    * check that matters. */
  private[operators] val digestStore = StoreFamily.flat("table_digest",
    _ => digestFold, StoreFamily.Subtract(Seq("n_rows"),
      residualCols = Seq("digest"), absorbed = "digested"))
  private[graft] def digestMeta(cols: Seq[String],
                                groupName: String): IndexMeta =
    IndexMeta(digestStore.name, "cols" -> cols.mkString(","),
      "groupName" -> groupName)

  /** Per-group digest partial in the store's schema: (group, n_rows,
    * digest). `group` is the caller's drill-down unit rendered as a
    * string (partition value, day, shard). */
  def digestPartial(df: DataFrame, cols: Seq[String],
                    group: Column): DataFrame =
    tableDigest(df.withColumn("_grp", group.cast("string")), cols,
      groupCols = Seq("_grp"))
      .select(col("_grp").as("group"), col("n_rows"), col("digest"))

  /** Bootstrap a stored digest ledger: one (group, n_rows, digest)
    * row per group, the digested column list + group derivation in
    * the manifest (digesting different columns against a stored
    * ledger is the silent-divergence class the manifest refuses).
    * The table is hashed ONCE; every batch appends its own partial
    * ([[digestIndexAppend]]), and verification against a replica is
    * a read of ≤ groups × epochs tiny rows — never a table re-scan. */
  def digestIndexWrite(index: DataFrame, path: String, cols: Seq[String],
                       groupName: String): Unit = {
    EpochIndex.bootstrap(index, path)
    IndexMeta.write(index.sparkSession, path, digestMeta(cols, groupName))
  }

  /** Append one batch's per-group digest partial as a new epoch
    * (idempotent per epoch name; manifest-checked). Contract (shared
    * with every additive store — CMS): a ROW lands in exactly one
    * epoch; re-digesting rows double-counts them. */
  def digestIndexAppend(spark: org.apache.spark.sql.SparkSession,
                        path: String, partial: DataFrame, epoch: String,
                        cols: Seq[String], groupName: String): Unit = {
    IndexMeta.check(spark, path, digestMeta(cols, groupName))
    EpochIndex.append(partial, path, epoch)
  }

  /** Checked read: the folded per-group ledger across base and live
    * epochs — ≡ [[tableDigest]] over the union of the digested row
    * sets (additivity). */
  def digestIndexRead(spark: org.apache.spark.sql.SparkSession,
                      path: String, cols: Seq[String], groupName: String,
                      excludeEpoch: Option[String] = None): DataFrame = {
    IndexMeta.check(spark, path, digestMeta(cols, groupName))
    digestFold(EpochIndex.read(spark, path, excludeEpoch,
      bootstrapName = "digestIndexWrite"))
  }

  /** Digest-driven divergence localization — the two-pass shape for
    * comparing 100 TB tables: pass one digests each side PER GROUP
    * (partition key, date, shard) and compares checksums; only the
    * groups that disagree ever get a row-level [[Diff.snapshotDiff]].
    * Emits every group from either side with its verdict:
    * `ok` (both present, equal), `mismatch` (both present, different
    * digest or count), `only_a` / `only_b`. A full outer join of two
    * (groups × 3-column) digest tables — trivially broadcastable
    * however large the underlying data. */
  def diffByDigest(a: DataFrame, b: DataFrame, cols: Seq[String],
                   groupCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty,
      "diffByDigest needs group columns (the drill-down unit)")
    val da = tableDigest(a, cols, groupCols)
      .withColumnRenamed("n_rows", "n_rows_a")
      .withColumnRenamed("digest", "digest_a")
    val db = tableDigest(b, cols, groupCols)
      .withColumnRenamed("n_rows", "n_rows_b")
      .withColumnRenamed("digest", "digest_b")
    da.join(db, groupCols, "full_outer")
      .select(groupCols.map(col) :+
        when(col("digest_a").isNull, lit("only_b"))
          .when(col("digest_b").isNull, lit("only_a"))
          .when(col("digest_a") === col("digest_b") &&
            col("n_rows_a") === col("n_rows_b"), lit("ok"))
          .otherwise(lit("mismatch")).as("status") :+
        coalesce(col("n_rows_a"), lit(0L)).as("n_rows_a") :+
        coalesce(col("n_rows_b"), lit(0L)).as("n_rows_b"): _*)
  }

  /** READ-ONLY release audit card — q199's citation columns WITHOUT
    * re-paying the exact joins: every certification/repair/calibration
    * number is a read of a store a long-running ingest has been
    * feeding all along (the `cert_pairs` ledgers, the `cc_labels`
    * repair labeling, the frozen quality calibration), plus one
    * aggregate pass over the released documents for the base profile.
    * This is the card a release PIPELINE emits after
    * `certIngestSink`/`certVecIngestSink` have maintained the stores
    * batch by batch: corpus² ran once, at certification — the
    * auditor's read is O(stores), and the count an auditor reads IS
    * a ledger read.
    *
    * Refusals are the stores' own checked manifests (refuse-loudly,
    * never cite-the-wrong-artifact): an absent ledger, a τ/metric
    * mismatch, a labeling folded under another τ, or a calibration
    * frozen for another score/key-set all refuse before any column
    * is emitted; a calibration store with no published version
    * refuses here.
    *
    * @return one row: (n_docs, n_exact_dup_docs, cert_jaccard_tau,
    *         cert_jaccard_pairs, cert_cosine_tau, cert_cosine_pairs,
    *         repair_components, repair_dropped, calibration_score,
    *         calibration_version) */
  def cardFromStores(spark: org.apache.spark.sql.SparkSession,
                     docs: DataFrame, textCol: String,
                     jaccardLedger: String, jaccardTau: Double,
                     cosineLedger: String, cosineTau: Double,
                     labelsPath: String, cutsPath: String,
                     cutsScore: String, cutsBy: Seq[String]): DataFrame = {
    import graft.functions.TextFunctions
    val base = docs.agg(
      count(lit(1)).as("n_docs"),
      (count(lit(1)) -
        countDistinct(TextFunctions.fingerprint(col(textCol))))
        .as("n_exact_dup_docs"))
    val certj = Dedup.certLedgerRead(spark, jaccardLedger, "jaccard",
        jaccardTau)
      .agg(count(lit(1)).as("cert_jaccard_pairs"))
      .select(lit(jaccardTau).as("cert_jaccard_tau"),
        col("cert_jaccard_pairs"))
    val certc = Dedup.certLedgerRead(spark, cosineLedger, "cosine",
        cosineTau)
      .agg(count(lit(1)).as("cert_cosine_pairs"))
      .select(lit(cosineTau).as("cert_cosine_tau"),
        col("cert_cosine_pairs"))
    val rep = Dedup.ccLabelsRead(spark, labelsPath, "cosine", cosineTau)
      .agg(countDistinct(col("cluster_id")).as("repair_components"),
        coalesce(sum(when(col("id") =!= col("cluster_id"), 1L)
          .otherwise(0L)), lit(0L)).as("repair_dropped"))
    // calibration citation: the read performs the manifest check (the
    // frame itself is not needed); the version string is the store's
    // CURRENT pointer — what "release N scored under calibration vX"
    // names
    Quality.qualityCutsRead(spark, cutsPath, cutsScore, cutsBy)
    val (_, current) = Layout.listVersions(spark, s"$cutsPath/cuts")
    require(current.isDefined,
      s"calibration store at $cutsPath has no published version — " +
        "freeze one with qualityCutsWrite before citing it in a card")
    // erasure citation — the GDPR side of the audit loop: how many
    // disk-level erasure rewrites the cited certification/repair
    // stores have absorbed, and the last rewrite's published version
    // (store-qualified). Read from the _ERASURES logs the rewrites
    // themselves maintain — a store read like every other number on
    // this card, never a maintenance-history replay. Zero/"none" is
    // itself a statement: these stores still contain every document
    // ever certified.
    // entries from all four logs ordered CHRONOLOGICALLY (each line
    // carries its wall-clock stamp — [[EpochIndex.erasureLog]]), so
    // `last_erasure` names the latest rewrite across stores, not the
    // last store in this listing; pre-timestamp lines read as epoch 0
    // and the sort is stable, so a legacy log degrades to the old
    // listing-order behavior instead of misordering
    val erasureLogs = Seq(
      "cert_pairs_jaccard" -> jaccardLedger,
      "cert_pairs_cosine" -> cosineLedger,
      "cc_labels" -> labelsPath,
      // the calibration is cited by version above, so its RTBF
      // re-freezes (the quality_cuts Rebuild erase — logged to the
      // same _ERASURES) are part of this card's erasure story too
      "quality_cuts" -> cutsPath)
      .flatMap { case (name, p) =>
        EpochIndex.erasureLog(spark, p).map { case (ts, v) =>
          (ts, s"$name:$v") } }
      .sortBy(_._1).map(_._2)
    val lastErasure = erasureLogs.lastOption.getOrElse("none")
    base.crossJoin(broadcast(certj))
      .crossJoin(broadcast(certc))
      .crossJoin(broadcast(rep))
      .withColumn("calibration_score", lit(cutsScore))
      .withColumn("calibration_version", lit(current.get))
      .withColumn("erasure_rewrites", lit(erasureLogs.size.toLong))
      .withColumn("last_erasure", lit(lastErasure))
  }
}
