package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One persisted store family, declared ONCE next to the code that
  * writes it: the family name its writers record in `_GRAFT_META`,
  * and the epoch substores under the manifest root, each with its
  * subdirectory, inner partition columns, compaction fold and erase
  * form. A fold or an erase form reads the build parameters it needs
  * (HLL `p`, bottom-k `k`, the islands key column, the IVF id column)
  * from the store's own manifest, so no caller ever passes them and a
  * wrong one cannot be passed.
  *
  * [[Maintenance.Families]] is the one list of every family:
  * compaction, erasure and the operational sweep are lookups in it,
  * and a manifest naming a family missing from it fails loudly.
  *
  * @param name the `_GRAFT_META` family name; a leading `*` declares
  *             a suffix family (`*_bands` accepts every `<kind>_bands`
  *             manifest — the banding families share one layout)
  * @param substores in compaction order
  * @param reports the substore whose [[EpochIndex.CompactionStats]]
  *                compaction and erasure return */
final case class StoreFamily(name: String, substores: Seq[StoreFamily.Substore],
                             reports: String) {
  import StoreFamily._

  def accepts(family: String): Boolean =
    if (name.startsWith("*")) family.endsWith(name.drop(1)) else family == name

  /** This family bound to the manifest `params` (see [[Bound]]). */
  private[operators] def bind(params: (String, Any)*): Bound =
    Bound(this, IndexMeta(name, params: _*))

  /** This family bound to the manifest recorded at `root` — for the
    * readers that take every build parameter from the store itself
    * (the IVF reads, an erase check). No manifest, or another
    * family's, refuses. */
  private[operators] def stored(spark: SparkSession, root: String): Bound = {
    val meta = IndexMeta.read(spark, root)
    require(meta.exists(m => accepts(m.family)), s"refusing $root: its " +
      s"manifest names ${meta.fold("no family")(_.family)}, not $name — " +
      "wrong index path, or a store this family's writer did not build")
    Bound(this, meta.get)
  }

  /** Fold every substore in declaration order behind its atomic
    * `_CURRENT` flip; returns the `reports` substore's stats. A
    * family with no fold (a versioned snapshot) throws the typed
    * [[NothingToCompact]] skip. */
  private[operators] def compact(spark: SparkSession, root: String,
                                 meta: IndexMeta,
                                 keepVersions: Int): EpochIndex.CompactionStats = {
    if (substores.forall(_.fold.isEmpty)) throw new NothingToCompact(
      s"nothing to compact at $root: ${meta.family} is a versioned " +
        "snapshot with no epoch partials; retention is publishVersion's " +
        "keepVersions at freeze time")
    val param = (key: String) => meta.param(key, root)
    val stats = for (s <- substores; fold <- s.fold) yield
      s.subdir -> EpochIndex.compact(spark, s.path(root), fold(param),
        s.innerPartCols, keepVersions)
    stats.toMap.apply(reports)
  }

  /** The substore whose erase form needs a caller-built input (the
    * Subtract partial or the Rebuild frame); None when the victim ids
    * alone erase the store. */
  private[operators] def erasesWithInput: Option[Substore] =
    substores.find(s => s.erase match {
      case _: Subtract | _: Rebuild => true
      case _ => false
    })

  /** Refusals that must fire before any rewrite: a Subtract form's
    * family check (bm25's membership check) over the caller's
    * partial. */
  private[operators] def checkErase(spark: SparkSession, root: String,
                                    meta: IndexMeta,
                                    input: Option[() => DataFrame]): Unit =
    substores.map(_.erase).foreach {
      case Subtract(_, _, _, Some(check)) =>
        input.foreach(b => check(spark, Bound(this, meta), root, b()))
      case _ =>
    }

  /** Erase one store, disk-level, in the shared form order: Filter
    * substores (overlapped — they touch disjoint directories), then
    * each Derived substore from its retained source, then the
    * Subtract or Rebuild substore from `input`. Returns the `reports`
    * substore's stats. The caller ([[Maintenance.eraseStore]]) has
    * already checked `input` against the manifest. */
  private[operators] def erase(spark: SparkSession, root: String,
                               meta: IndexMeta, victims: DataFrame,
                               input: Option[() => DataFrame]): EpochIndex.CompactionStats = {
    val param = (key: String) => meta.param(key, root)
    lazy val ids = victims.select(col(victims.columns.head).as("_vid")).distinct()
    val done = scala.collection.concurrent.TrieMap.empty[String, EpochIndex.CompactionStats]
    def run(s: Substore): Unit = {
      val path = s.path(root)
      def rewrite(keep: DataFrame => DataFrame) =
        EpochIndex.eraseRewrite(spark, path, keep, s.innerPartCols)
      done(s.subdir) = s.erase match {
        case Filter(idCols) =>
          val cols = idCols(param)
          rewrite(p => cols.foldLeft(p)((kept, c) =>
            kept.join(ids.select(col("_vid").as(c)), Seq(c), "left_anti")))
        case Derived(source, rebuild) =>
          // a torn-down source has nothing to rebuild from: tear the
          // derived substore down too (a schema-preserving empty keep)
          if (done(source).version == EpochIndex.TornDownVersion)
            rewrite(_.limit(0))
          else {
            val src = substores.find(_.subdir == source).get
            val rebuilt = rebuild(EpochIndex.read(spark, src.path(root),
              innerPartCols = src.innerPartCols, bootstrapName = name,
              observed = false).drop(EpochIndex.EpochCol))
            rewrite(_ => rebuilt)
          }
        case sub: Subtract =>
          val partial = input.get()
          rewrite(p => sub.subtract(s.fold.get(param), p, partial,
            s"${meta.family} erase at $root"))
        case Rebuild(None) =>
          val rebuilt = input.get()
          rewrite(p => rebuilt.select(p.columns.map(col).toIndexedSeq: _*))
        case Rebuild(Some(versionsDir)) =>
          // a snapshot is replaced whole: the superseded (victim-fitted)
          // version goes at the publish, and the re-freeze lands on the
          // same `_ERASURES` history every rewrite logs to
          val rebuilt = input.get()
          val version = Layout.publishVersion(spark, s"$path/$versionsDir",
            keepVersions = 1)(dir => rebuilt.write.mode("overwrite").parquet(dir))
          EpochIndex.logErasure(spark, path, version)
          EpochIndex.CompactionStats(version, Nil, Nil, Nil)
      }
    }
    val (filters, rest) = substores.partition(_.erase.isInstanceOf[Filter])
    Par.concurrently(filters.map(s => () => run(s)): _*)
    rest.sortBy(s => if (s.erase.isInstanceOf[Derived]) 0 else 1).foreach(run)
    done(reports)
  }
}

object StoreFamily {

  /** A compaction fold, built from a manifest-parameter lookup: it
    * receives the partial rows of base ∪ live epochs and returns one
    * partial of the same schema ([[EpochIndex.compact]]). */
  type Fold = (String => String) => DataFrame => DataFrame

  /** How one substore forgets a right-to-be-forgotten request's
    * victims. Every form rewrites disk-clean through
    * [[EpochIndex.eraseRewrite]] (or, for a snapshot, a
    * `keepVersions = 1` publish): no retained version, epoch directory
    * or marker keeps what was erased. */
  sealed trait Erase

  /** Per-document rows: anti-join the victim ids on each id column
    * (the columns come from a manifest-parameter lookup — the IVF
    * families record theirs). Total erasure tears the substore down. */
  final case class Filter(idCols: (String => String) => Seq[String]) extends Erase

  /** Rows DERIVED from a sibling Filter substore (a count cannot be
    * filtered per document): rebuilt from the source's retained rows
    * after it is filtered, or torn down with it. */
  final case class Derived(source: String, rebuild: DataFrame => DataFrame)
    extends Erase

  /** Additive counts: the victims' own partial (same schema, any extra
    * columns ignored), negated and folded through the substore's
    * compaction fold — exact and O(victims). A negative count refuses
    * (a victim this store never absorbed: dropping the row would
    * silently erase a retained contribution too), a row whose counts
    * all reach zero leaves the disk, and a `residualCols` value left
    * non-zero on such a row refuses (the victims' payload differs
    * from what was absorbed).
    *
    * @param absorbed the verb the refusal uses ("ingested", "digested")
    * @param check a family refusal over the partial that must run
    *              before any rewrite; it reads the store through the
    *              handle bound to the store's manifest */
  final case class Subtract(countCols: Seq[String],
                            residualCols: Seq[String] = Nil,
                            absorbed: String = "ingested",
                            check: Option[(SparkSession, Bound, String, DataFrame) => Unit] = None)
    extends Erase {

    private[operators] def subtract(fold: DataFrame => DataFrame,
                                    stored: DataFrame, partial: DataFrame,
                                    what: String): DataFrame = {
      val valueCols = countCols ++ residualCols
      val keys = stored.columns.toSeq.filterNot(valueCols.contains)
      val negated = partial.select(
        keys.map(col) ++ valueCols.map(c => (-col(c)).as(c)): _*)
      val folded = fold(stored.unionByName(negated))
      val key = if (keys.isEmpty) lit("the store")
        else concat_ws(",", keys.map(k => col(k).cast("string")): _*)
      val negative = countCols.map(c => col(c) < 0L).reduce(_ || _)
      val emptied = countCols.map(c => col(c) === 0L).reduce(_ && _)
      val residual = residualCols.map(c => col(c) =!= 0L)
        .reduceOption(_ || _).getOrElse(lit(false))
      val head = countCols.head
      folded.withColumn(head,
          when(negative, raise_error(concat(
            lit(s"$what: negative count for ("), key,
            lit(s") — a victim was never $absorbed here (or was $absorbed " +
              s"with different content); erase only what this store $absorbed"))))
          .when(emptied && residual, raise_error(concat(
            lit(s"$what: ("), key,
            lit(s") empties with a non-zero residual " +
              s"${residualCols.mkString(",")} — the victim payload differs " +
              s"from what was $absorbed (canonicalization drift?); fix the " +
              "payload rather than leave an unverifiable store"))))
          .otherwise(col(head)).cast(stored.schema(head).dataType))
        .filter(!emptied)
        .select(stored.columns.map(col).toIndexedSeq: _*)
    }
  }

  /** Fold-lossy state (sketches, first occurrences, merged islands,
    * min-id labels, fitted quantiles): the caller's state rebuilt over
    * the retained rows replaces the store. `versionsDir` names a
    * snapshot family's [[Layout.publishVersion]] directory. */
  final case class Rebuild(versionsDir: Option[String] = None) extends Erase

  /** One epoch subroot of a family's store.
    *
    * @param subdir directory under the manifest root ("" = the root)
    * @param innerPartCols partition columns above `_epoch`
    * @param fold None for a versioned snapshot, which is described
    *             but never compacted */
  final case class Substore(subdir: String, innerPartCols: Seq[String],
                            fold: Option[Fold], erase: Erase) {
    def path(root: String): String = if (subdir.isEmpty) root else s"$root/$subdir"
  }

  def substore(subdir: String, fold: Fold, erase: Erase,
               innerPartCols: Seq[String] = Nil): Substore =
    Substore(subdir, innerPartCols, Some(fold), erase)

  /** A family bound to the manifest it is built under — the one
    * write/append/read path of every epoch store: this module alone
    * decides the epoch layout, each substore's inner partitioning, the
    * manifest order and the read fold (each family's public
    * constructor returns one, e.g. `Cardinality.hll(p, keyName)`).
    * Frames are keyed by substore subdir ("" = a flat family's root).
    * Every append and read first checks the stored manifest against
    * `meta` (a driver-side file read, no Spark job): another HLL `p`,
    * CMS width or gram size refuses instead of silently diverging. A
    * read applies the substore's registered [[Fold]] with `meta`'s
    * parameters — the function [[Maintenance.compactStore]] folds the
    * same store with — so a read and a compaction cannot disagree. */
  final case class Bound(family: StoreFamily, meta: IndexMeta) {
    require(family.accepts(meta.family) && family.substores.forall(_.fold.isDefined),
      s"${family.name} is not an epoch family that can be bound to ${meta.family}")

    private def substore(sub: String): Substore =
      family.substores.find(_.subdir == sub).getOrElse(throw new IllegalArgumentException(
        s"${family.name} has no substore '$sub' (declared: " +
          family.substores.map(_.subdir).mkString(", ") + ")"))

    private def fold(sub: Substore, root: String): DataFrame => DataFrame =
      sub.fold.get(meta.param(_, root))

    /** `parts` in declaration order; every declared substore exactly once. */
    private def inOrder(parts: Map[String, DataFrame]): Seq[(Substore, DataFrame)] = {
      require(parts.keySet == family.substores.map(_.subdir).toSet,
        s"${family.name} takes one frame per substore " +
          s"(${family.substores.map(_.subdir).mkString(", ")}), got " +
          parts.keys.mkString(", "))
      family.substores.map(s => s -> parts(s.subdir))
    }

    /** Bootstrap every substore at `root` (the `_epoch=base` layout;
      * disjoint directories, so they write concurrently), then — strictly
      * last — record the manifest. */
    def write(parts: Map[String, DataFrame], root: String): Unit = {
      val laid = inOrder(parts)
      Par.concurrently(laid.map { case (s, df) => () =>
        EpochIndex.bootstrap(df, s.path(root), s.innerPartCols) }: _*)
      IndexMeta.write(laid.head._2.sparkSession, root, meta)
    }

    /** A flat family's [[write]]. */
    def write(index: DataFrame, root: String): Unit = write(Map("" -> index), root)

    /** Append one batch's partials as epoch `epoch` in every substore,
      * in declaration order (idempotent per epoch name: a retry
      * replaces its own partitions). */
    def append(spark: SparkSession, root: String, parts: Map[String, DataFrame],
               epoch: String): Unit = {
      val laid = inOrder(parts)
      IndexMeta.check(spark, root, meta)
      laid.foreach { case (s, df) =>
        EpochIndex.append(df, s.path(root), epoch, s.innerPartCols) }
    }

    /** A flat family's [[append]]. */
    def append(spark: SparkSession, root: String, partial: DataFrame,
               epoch: String): Unit = append(spark, root, Map("" -> partial), epoch)

    /** Substore `sub` folded: base ∪ live epochs through its fold (inner
      * partition columns kept — a pruning reader filters on them).
      * `excludeEpoch` drops one live epoch's partial first — the
      * replay-idempotency hook of the streaming sinks. `observed =
      * false` leaves the scan free of the probe observation, for the
      * reads whose value is a pruned scan ([[EpochIndex.read]]). */
    def read(spark: SparkSession, root: String, sub: String = "",
             excludeEpoch: Option[String] = None,
             observed: Boolean = true): DataFrame = {
      IndexMeta.check(spark, root, meta)
      val s = substore(sub)
      fold(s, root)(EpochIndex.read(spark, s.path(root), excludeEpoch,
        s.innerPartCols, bootstrapName = s"the ${family.name} store's write",
        observed).drop(EpochIndex.EpochCol))
    }

    /** A flat store exactly as retained compaction `version` folded it
      * ([[EpochIndex.readAsOf]]). */
    def readAsOf(spark: SparkSession, root: String, version: String): DataFrame = {
      IndexMeta.check(spark, root, meta)
      EpochIndex.readAsOf(spark, substore("").path(root), version)
    }

    /** Substore `sub` rewritten as one new base version by `rewrite`
      * instead of its fold — [[EpochIndex.compact]]'s publish, epoch
      * GC and retention (an IVF recluster's reassignment). */
    def rewrite(spark: SparkSession, root: String, sub: String,
                rewrite: DataFrame => DataFrame,
                keepVersions: Int): EpochIndex.CompactionStats = {
      IndexMeta.check(spark, root, meta)
      val s = substore(sub)
      EpochIndex.compact(spark, s.path(root), rewrite, s.innerPartCols, keepVersions)
    }

    /** Two flat partials folded into one — the fold over `a ∪ b`. */
    def merge(a: DataFrame, b: DataFrame): DataFrame =
      fold(substore(""), "(in-memory merge)")(a.unionByName(b))
  }

  /** Refuse loudly when a certification root's substores disagree on
    * which epochs they hold — the torn-append shape (a crash between
    * substore writes) that would otherwise mis-count guards or
    * silently drop verify rows. Re-running the append for the missing
    * epoch repairs it (appends are idempotent per epoch name). */
  private[operators] def requireAlignedCertEpochs(spark: SparkSession, root: String,
                                                  store: StoreFamily): Unit = {
    val sets = store.substores.map(s => s.subdir ->
      EpochIndex.committedEpochNames(spark, s.path(root), s.innerPartCols).toSet)
    require(sets.map(_._2).distinct.size == 1,
      s"certification store at $root has mis-aligned substores: " +
        sets.map { case (s, e) =>
          s"$s=${e.toSeq.sorted.mkString("[", ",", "]")}" }
          .mkString("; ") +
        " — a torn append left index/stats partials inconsistent; " +
        "re-run the append for the missing epoch (idempotent) or " +
        "remove the torn directory")
  }

  /** A family whose epochs live directly at the manifest root. */
  def flat(name: String, fold: Fold, erase: Erase,
           innerPartCols: Seq[String] = Nil): StoreFamily =
    StoreFamily(name, Seq(substore("", fold, erase, innerPartCols)), "")

  /** A versioned calibration snapshot ([[Layout.publishVersion]] under
    * `versionsDir`): not epoch-additive, so there is nothing to
    * compact, ever; its root is still described (the `_ERASURES`
    * history lives there) and erased by a re-freeze. */
  def snapshot(name: String, versionsDir: String): StoreFamily =
    StoreFamily(name, Seq(Substore("", Nil, None, Rebuild(Some(versionsDir)))), "")
}
