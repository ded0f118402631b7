package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One persisted store family, declared ONCE next to the code that
  * writes it: the family name its writers record in `_GRAFT_META`,
  * and the epoch substores under the manifest root, each with its
  * subdirectory, inner partition columns and compaction fold. A fold
  * reads the build parameters it needs (HLL `p`, bottom-k `k`, the
  * islands key column) from the store's own manifest, so no caller
  * ever passes them and a wrong one cannot be passed.
  *
  * [[Maintenance.Families]] is the one list of every family:
  * compaction and the operational sweep are lookups in it, and a
  * manifest naming a family missing from it fails loudly.
  *
  * @param name the `_GRAFT_META` family name; a leading `*` declares
  *             a suffix family (`*_bands` accepts every `<kind>_bands`
  *             manifest — the banding families share one layout)
  * @param substores in compaction order
  * @param reports the substore whose [[EpochIndex.CompactionStats]]
  *                compaction returns */
final case class StoreFamily(name: String, substores: Seq[StoreFamily.Substore],
                             reports: String) {
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
}

object StoreFamily {

  /** A compaction fold, built from a manifest-parameter lookup: it
    * receives the partial rows of base ∪ live epochs and returns one
    * partial of the same schema ([[EpochIndex.compact]]). */
  type Fold = (String => String) => DataFrame => DataFrame

  /** One epoch subroot of a family's store.
    *
    * @param subdir directory under the manifest root ("" = the root)
    * @param innerPartCols partition columns above `_epoch`
    * @param fold None for a versioned snapshot, which is described
    *             but never compacted */
  final case class Substore(subdir: String, innerPartCols: Seq[String],
                            fold: Option[Fold]) {
    def path(root: String): String = if (subdir.isEmpty) root else s"$root/$subdir"
  }

  def substore(subdir: String, fold: Fold,
               innerPartCols: Seq[String] = Nil): Substore =
    Substore(subdir, innerPartCols, Some(fold))

  /** A family whose epochs live directly at the manifest root. */
  def flat(name: String, fold: Fold,
           innerPartCols: Seq[String] = Nil): StoreFamily =
    StoreFamily(name, Seq(substore("", fold, innerPartCols)), "")

  /** A versioned calibration snapshot ([[Layout.publishVersion]]): not
    * epoch-additive, so there is nothing to compact, ever; its root is
    * still described (the `_ERASURES` history lives there). */
  def snapshot(name: String): StoreFamily =
    StoreFamily(name, Seq(Substore("", Nil, None)), "")
}
