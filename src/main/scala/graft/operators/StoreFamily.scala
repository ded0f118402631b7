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
                                    input: Option[() => DataFrame]): Unit =
    substores.map(_.erase).foreach {
      case Subtract(_, _, _, Some(check)) => input.foreach(b => check(spark, root, b()))
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
    *              before any rewrite */
  final case class Subtract(countCols: Seq[String],
                            residualCols: Seq[String] = Nil,
                            absorbed: String = "ingested",
                            check: Option[(SparkSession, String, DataFrame) => Unit] = None)
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
