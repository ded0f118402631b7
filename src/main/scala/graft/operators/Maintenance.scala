package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** One maintenance entry point for every persisted index family —
  * the operational closure over the engine's log-structured stores.
  * A real deployment runs maintenance from ONE scheduled job over a
  * storage tree it does not hand-enumerate; this discovers stores by
  * their `_GRAFT_META` manifests and looks each manifest's `family` up
  * in [[Families]], the one list of every [[StoreFamily]] (each
  * declared next to its family's code), for the substores to fold —
  * and, for a right-to-be-forgotten request, the form each substore
  * erases by ([[eraseStore]], [[eraseAll]]).
  *
  * Failure posture: maintenance keeps going past a failing store
  * (one poisoned root must not starve every other index of
  * compaction) but FINISHES loudly — after the sweep, any failure or
  * unknown family raises with the full list. Silent skips are the
  * forbidden failure class; partial progress plus a thrown summary
  * is the operational compromise.
  *
  * Reference scope: the reference schedules one daily dbt build; a
  * 100 TB pipeline schedules THIS between ingest batches — the
  * probe-side scan of every store stays O(base + recent epochs)
  * instead of O(all epochs ever) ([[EpochIndex]]).
  */
object Maintenance {

  /** Every persisted store family — where a family is declared to
    * maintenance. A writer recording a family missing here fails
    * [[compactStore]] loudly (and the registry spec). */
  val Families: Seq[StoreFamily] = Seq(
    Dedup.lineStore, Dedup.boilerStore, Curation.capStore,
    SampleSketch.sketchStore, Cardinality.hllStore, Cardinality.kmvStore,
    Centrality.censusStore, HeavyHitters.cmsStore, Audit.digestStore,
    IntervalExpand.islandsStore, Splits.dsirStore, Dedup.gramStore,
    LmFilter.lmStore, Relevance.bm25Store, Similarity.ivfStore,
    Similarity.ivfPqStore, Dedup.certLedgerStore, Dedup.certTextStore,
    Dedup.certVecStore, Dedup.ccLabelsStore, Quality.cutsStore,
    Dedup.bandStore)

  /** One store's maintenance outcome. `stats` is None when the store
    * held nothing to compact (fresh manifest, no partials) — counted
    * as skipped, not failed. */
  final case class StoreResult(root: String, family: String,
                               stats: Option[EpochIndex.CompactionStats],
                               error: Option[String]) {
    def failed: Boolean = error.isDefined
  }

  private[graft] def familyOf(meta: IndexMeta): Option[StoreFamily] =
    Families.find(_.accepts(meta.family))

  private def compact(spark: SparkSession, root: String,
                      manifest: Option[IndexMeta],
                      keepVersions: Int): EpochIndex.CompactionStats = {
    val meta = manifest.getOrElse(sys.error(
      s"no _GRAFT_META manifest at $root — not a graft index store " +
        "(every index writer records one); refusing to guess a fold"))
    familyOf(meta).getOrElse(sys.error(
      s"unknown index family '${meta.family}' at $root — a store this " +
        "engine did not write, or a family added without a " +
        "Maintenance.Families entry; declare it rather than skipping " +
        "the store")).compact(spark, root, meta, keepVersions)
  }

  /** Compact ONE store: the manifest's family picks the substores and
    * folds (IVF roots hold their epochs under `assignments`/`codes`
    * — the family declares it; callers pass only the root the
    * manifest sits at). Multi-substore families return one declared
    * substore's stats (bm25 `stats`, census `census`, cert_text
    * `fps`, cert_vec `bands`). */
  def compactStore(spark: SparkSession, root: String,
                   keepVersions: Int = 2): EpochIndex.CompactionStats =
    compact(spark, root, IndexMeta.read(spark, root), keepVersions)

  /** One epoch subroot's operational state: what a scheduled job or
    * an operator reads BEFORE deciding to compact — live epoch count
    * climbing means probes are re-aggregating more partials
    * (compaction due); `uncommitted` nonEmpty means a torn append
    * needs its writer re-run or the directory removed; the retained
    * versions are the [[EpochIndex.readAsOf]] time-travel window. */
  final case class EpochStoreState(subdir: String, liveEpochs: Seq[String],
                                   uncommitted: Seq[String],
                                   retainedVersions: Seq[String],
                                   currentVersion: Option[String])

  /** One discovered store: manifest identity plus per-subroot state.
    * `erasures` is the per-subroot `_ERASURES` history (oldest first,
    * subroot-prefixed when the family has several) — the operational
    * view of the right-to-be-forgotten rewrites this store has
    * absorbed, the same record `Audit.cardFromStores` cites. */
  final case class StoreInfo(root: String, family: String,
                             params: Map[String, String],
                             states: Seq[EpochStoreState],
                             erasures: Seq[String] = Nil)

  /** Read-only sweep: the operational state of every store under
    * `treeRoot` — live/uncommitted epochs and the retained base
    * versions per declared substore (in compaction order; a family
    * missing from [[Families]] is described as one root-level
    * substore). The observability half of [[compactAll]]: run it
    * first, compact what the numbers say needs it, and surface torn
    * appends without touching any data. */
  def describeStores(spark: SparkSession, treeRoot: String,
                     maxDepth: Int = 4): Seq[StoreInfo] =
    discoverStores(spark, treeRoot, maxDepth).map { root =>
      val meta = IndexMeta.read(spark, root).getOrElse(
        sys.error(s"manifest vanished under sweep at $root"))
      val substores = familyOf(meta)
        .map(_.substores.map(s => s.subdir -> s.innerPartCols))
        .getOrElse(Seq("" -> Nil))
      val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
      def path(subdir: String) = if (subdir.isEmpty) root else s"$root/$subdir"
      val states = substores.flatMap { case (subdir, inner) =>
        val p = path(subdir)
        if (!fs.exists(new Path(p))) None
        else {
          val (retained, current) = EpochIndex.versions(spark, p)
          Some(EpochStoreState(subdir,
            EpochIndex.committedEpochNames(spark, p, inner),
            EpochIndex.uncommittedEpochNames(spark, p, inner),
            retained, current))
        }
      }
      val erasures = substores.flatMap { case (subdir, _) =>
        EpochIndex.erasures(spark, path(subdir))
          .map(v => if (subdir.isEmpty) v else s"$subdir:$v")
      }
      StoreInfo(root, meta.family, meta.params, states, erasures)
    }

  /** One bounded walk under `treeRoot`: the store roots (directories
    * holding a `_GRAFT_META` manifest, up to `maxDepth` levels down)
    * and the directories where the descent ran out with
    * subdirectories still below. Descent stops at a manifest: a
    * store's INTERNALS (epoch partitions, `_base` versions, IVF
    * `assignments`/`codes` subdirs) belong to its family, never to
    * independently discovered stores. */
  private final case class Discovery(stores: Seq[String],
                                     unexplored: Seq[String])

  private def discover(spark: SparkSession, treeRoot: String,
                       maxDepth: Int): Discovery = {
    val p = new Path(treeRoot)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    def walk(dir: Path, depth: Int): Discovery =
      if (fs.exists(new Path(dir, IndexMeta.FileName)))
        Discovery(Seq(dir.toString), Nil)
      else {
        val subs = fs.listStatus(dir).toSeq.filter(_.isDirectory)
          .map(_.getPath).filterNot(s =>
            s.getName.startsWith("_") || s.getName.startsWith("."))
        if (depth == 0)
          Discovery(Nil, if (subs.nonEmpty) Seq(dir.toString) else Nil)
        else {
          val below = subs.map(walk(_, depth - 1))
          Discovery(below.flatMap(_.stores), below.flatMap(_.unexplored))
        }
      }
    val found = if (fs.exists(p)) walk(p, maxDepth) else Discovery(Nil, Nil)
    Discovery(found.stores.sorted, found.unexplored.sorted)
  }

  /** Every store under `treeRoot` (see [[discover]]). */
  def discoverStores(spark: SparkSession, treeRoot: String,
                     maxDepth: Int = 4): Seq[String] =
    discover(spark, treeRoot, maxDepth).stores

  /** Sweep: compact every discovered store; return per-store results
    * and THROW a summary if any failed (after the rest compacted).
    * Stores with nothing to compact are reported, not failed. */
  def compactAll(spark: SparkSession, treeRoot: String,
                 keepVersions: Int = 2,
                 maxDepth: Int = 4): Seq[StoreResult] = {
    val results = discoverStores(spark, treeRoot, maxDepth).map { root =>
      val meta = IndexMeta.read(spark, root)
      val family = meta.map(_.family).getOrElse("?")
      try StoreResult(root, family,
        Some(compact(spark, root, meta, keepVersions)), None)
      catch {
        case _: NothingToCompact =>
          StoreResult(root, family, None, None) // fresh store: skip, not fail
        case scala.util.control.NonFatal(e) =>
          StoreResult(root, family, None, Some(e.getMessage))
      }
    }
    val failed = results.filter(_.failed)
    if (failed.nonEmpty) sys.error(
      s"maintenance sweep over $treeRoot: ${failed.size} of " +
        s"${results.size} stores FAILED — " +
        failed.map(r => s"${r.root} (${r.family}): ${r.error.get}")
          .mkString("; "))
    results
  }

  // ------------------------------------------------------- erasure

  /** One right-to-be-forgotten request: the victim ids, plus, per
    * store root whose family erases by Subtract or Rebuild, the
    * caller-built input — built with the family's own functions
    * (`gramFreqIndex`, `capCountIndex`, `digestPartial`,
    * `kmvSketch`, `qualityCuts`, …) over the victims (Subtract) or
    * the retained rows (Rebuild).
    *
    * @param victims one-column frame of victim ids (any column name)
    * @param inputs store root → input; each input carries the
    *               [[IndexMeta]] it was built under, checked against
    *               the store's manifest before any rewrite, and builds
    *               lazily, so a rebuild that reads an erased store
    *               (cc_labels from the erased ledger) sees the erased
    *               state */
  final case class EraseRequest(victims: DataFrame,
                                inputs: Map[String, EraseRequest.Input] = Map.empty) {
    /** This request plus `root`'s input, built under `meta`. */
    def withInput(root: String, meta: IndexMeta)(build: => DataFrame): EraseRequest =
      copy(inputs = inputs + (root -> EraseRequest.Input(meta, () => build)))
  }

  object EraseRequest {
    final case class Input(meta: IndexMeta, build: () => DataFrame)
  }

  /** One store resolved against the registry and the request. */
  private final case class ErasePlan(root: String, meta: IndexMeta,
                                     family: StoreFamily,
                                     input: Option[EraseRequest.Input]) {
    def run(victims: DataFrame): EpochIndex.CompactionStats =
      family.erase(victims.sparkSession, root, meta, victims,
        input.map(_.build))
  }

  private def qualified(spark: SparkSession, root: String): String = {
    val p = new Path(root)
    p.getFileSystem(spark.sessionState.newHadoopConf())
      .makeQualified(p).toString.stripSuffix("/")
  }

  /** Resolve `root` for erasure. Every refusal that needs no data —
    * no manifest, unknown family, a missing or unneeded input, an
    * input built under other parameters — comes back as Left, so
    * [[eraseAll]] can name them all before it rewrites anything. */
  private def planErase(spark: SparkSession, root: String,
                        request: EraseRequest): Either[String, ErasePlan] = {
    val here = qualified(spark, root)
    val input = request.inputs.collectFirst {
      case (k, in) if qualified(spark, k) == here => in }
    IndexMeta.read(spark, root) match {
      case None => Left(s"$root has no _GRAFT_META manifest — not a graft " +
        "index store; refusing to rewrite an unidentified store")
      case Some(meta) => familyOf(meta) match {
        case None => Left(s"$root: unknown index family '${meta.family}' — " +
          "declare it in Maintenance.Families rather than skip the store")
        case Some(family) => (family.erasesWithInput, input) match {
          case (Some(s), None) =>
            val (form, what) = s.erase match {
              case _: StoreFamily.Subtract => ("Subtract", "the victims' partial")
              case _ => ("Rebuild", "the state rebuilt over the retained rows")
            }
            Left(s"$root (${meta.family}) erases by $form and needs $what, " +
              "which the request does not carry")
          case (None, Some(_)) =>
            Left(s"$root (${meta.family}) erases by victim id alone, but " +
              "the request carries an input for it — wrong root?")
          case (_, in) =>
            scala.util.Try(in.foreach(i => IndexMeta.check(spark, root, i.meta)))
              .toEither.left.map(_.getMessage)
              .map(_ => ErasePlan(root, meta, family, in))
        }
      }
    }
  }

  /** Erase ONE store, disk-level: the manifest's family picks each
    * substore's erase form ([[StoreFamily.Erase]]) and every build
    * parameter; the request supplies the victims and, for a Subtract
    * or Rebuild family, the input checked against the manifest.
    * Returns the family's reported substore stats (the snapshot
    * family's: the re-frozen version). */
  def eraseStore(spark: SparkSession, root: String,
                 request: EraseRequest): EpochIndex.CompactionStats = {
    val plan = planErase(spark, root, request)
      .fold(msg => throw new IllegalArgumentException(s"refusing to erase: $msg"),
        identity)
    plan.family.checkErase(spark, root, plan.meta, plan.input.map(_.build))
    plan.run(request.victims)
  }

  /** Right-to-be-forgotten over a whole store tree — the erasure
    * counterpart of [[compactAll]]: discover every store, refuse
    * BEFORE any rewrite when some store cannot be erased as asked
    * (the refusal names every such root and the form that needs the
    * missing input), then erase the Filter stores, the Subtract
    * stores and the Rebuild stores in that order (a rebuild may read
    * a filtered store), and certify with [[requireErased]]. The
    * victim ids are read once, before any rewrite. Returns the
    * certificate. */
  def eraseAll(spark: SparkSession, treeRoot: String, request: EraseRequest,
               maxDepth: Int = 4): ErasureAuditReport = {
    import spark.implicits._
    val found = discover(spark, treeRoot, maxDepth)
    require(found.unexplored.isEmpty,
      s"eraseAll at $treeRoot: store discovery bottomed out at " +
        s"maxDepth=$maxDepth with unexplored directories below — a store " +
        "any deeper would keep the victims. Raise maxDepth. Unexplored: " +
        found.unexplored.mkString(", "))
    val v = request.victims
    val ids = v.select(col(v.columns.head).cast("long")).na.drop().distinct()
      .collect().map(_.getLong(0)).toSeq.sorted
    require(ids.nonEmpty, s"eraseAll at $treeRoot: the request names no victim")
    val roots = found.stores.map(qualified(spark, _)).toSet
    val planned = found.stores.map(planErase(spark, _, request))
    val refusals = planned.collect { case Left(msg) => msg } ++
      request.inputs.keys.filterNot(k => roots(qualified(spark, k)))
        .map(k => s"$k: the request carries an input for it, but no store " +
          "was discovered there")
    require(refusals.isEmpty, s"eraseAll at $treeRoot refused before any " +
      s"rewrite — ${refusals.mkString("; ")}")
    val plans = planned.collect { case Right(p) => p }
    plans.foreach(p => p.family.checkErase(spark, p.root, p.meta, p.input.map(_.build)))
    val victims = ids.toDF("id")
    plans.sortBy(_.family.erasesWithInput.map(_.erase) match {
      case None => 0
      case Some(_: StoreFamily.Subtract) => 1
      case Some(_) => 2
    }).foreach(_.run(victims))
    requireErased(spark, treeRoot, ids, maxDepth = maxDepth)
  }

  // ------------------------------------------------- erasure audit

  /** One surviving victim reference found by [[erasureAudit]]: the
    * store, the schema group of files it was read from, the id
    * column it appeared in (`column` is the partition-directory
    * column when the reference lives in a path segment, see
    * [[erasureAudit]]), and how many rows carry it. */
  final case class ErasureHit(root: String, subroot: String,
                              column: String, nRows: Long)

  /** An id-NAMED column the sweep could NOT verify — surfaced so the
    * RTBF certificate names its blind spots instead of silently
    * narrowing. Two shapes today: an id-named column whose type is
    * not integral (a string or hashed id — `isin` over victim longs
    * would be vacuous, so the sweep refuses to pretend), and a
    * partition-directory value that does not parse as a long. A
    * store surfacing here needs either integral ids (the
    * `xxhash64`-keying recipe the ingest sinks' refusals print) or a
    * store-specific audit the caller runs itself. */
  final case class UnverifiedIdColumn(root: String, subroot: String,
                                      column: String, dataType: String)

  /** Everything one [[erasureAudit]] sweep learned: surviving victim
    * references, the id-named columns it could NOT verify, and how
    * many of the tree's parquet files the footer-stats pruning let it
    * skip (`filesScanned` ≤ `filesTotal`; both count every parquet
    * file of every discovered store, retained versions and torn
    * epochs included). The certificate an RTBF pipeline records is
    * this whole object — "0 hits over N files (M read), 0
    * unverifiable columns", not a bare boolean. */
  final case class ErasureAuditReport(hits: Seq[ErasureHit],
                                      unverified: Seq[UnverifiedIdColumn],
                                      filesTotal: Long,
                                      filesScanned: Long) {
    def clean: Boolean = hits.isEmpty
  }

  /** Id-bearing columns the audit scans when present — the engine's
    * store schemas' id vocabulary. A store whose schema carries none
    * of these (count stores keyed by fingerprints, calibration
    * tables) is skipped: it holds no per-document identifiers. */
  val ErasureAuditIdCols: Seq[String] = Seq(
    "id", "doc_id", "vec_id", "id_a", "id_b", "corpus_id", "keep_id",
    "cluster_id", "bench_id", "node", "src", "dst")

  /** Directories where [[discoverStores]]' bounded descent ran out:
    * no `_GRAFT_META` manifest by `maxDepth` levels down, but
    * subdirectories still below — a store any deeper would be
    * invisible to every sweep that starts from this discovery.
    * [[compactAll]] and [[describeStores]] simply leave such trees
    * untouched (maintenance of what was found is still correct);
    * [[erasureAudit]] REFUSES when this is nonempty, because a
    * completeness certificate over a partially-explored tree would
    * be a lie. */
  def unexploredDirs(spark: SparkSession, treeRoot: String,
                     maxDepth: Int = 4): Seq[String] =
    discover(spark, treeRoot, maxDepth).unexplored

  /** Right-to-be-forgotten VERIFICATION sweep — the operational
    * closure after the erase runs: walk EVERY parquet file under
    * every discovered store (including `_base` version trees and
    * torn epoch directories Spark readers skip — exactly where a
    * stale copy of an erased row would hide) and report every row
    * that still carries a victim id in any known id column. A clean
    * report = the request is certifiably complete across the store
    * tree, WITH its limits stated: the report also lists every
    * id-named column the sweep could not check (non-integral types,
    * unparseable partition values) — disclosure, never a silent
    * skip. The disk-walk contract `EraseSpec` pins per family,
    * productized as the single call an auditor runs.
    *
    * Completeness guards, each loud:
    *  - store DISCOVERY is bounded by `maxDepth`; if the walk bottoms
    *    out with unexplored directories below ([[unexploredDirs]])
    *    the audit refuses outright rather than certify a subtree;
    *  - id values encoded in partition DIRECTORY names never appear
    *    in an explicit-file parquet read, so the sweep audits them
    *    from the path segments themselves (`col=value`), counting the
    *    files' footer row counts as the surviving rows; a partition
    *    value that does not parse as a long is reported unverified;
    *  - an id-NAMED column of non-integral type (string/hashed ids)
    *    is reported in `unverified`, with the integral-keying recipe
    *    in the case class doc;
    *  - each (store, subroot) file group is read with `mergeSchema`,
    *    so an id column added in a later epoch is audited across ALL
    *    the group's files, not just the schema-sample's.
    *
    * Cost model: one parquet-FOOTER read per file (metadata-scale,
    * same order as the directory listing itself) plus a distributed
    * scan of only the files whose footer min/max over some audited
    * id column can contain a victim — on a store tree where erasure
    * already ran, typically a small fraction of the bytes (the
    * report's `filesTotal`/`filesScanned` states the ratio). Only
    * the id columns are projected from the scanned files
    * (column-pruned at the parquet footer). Files are enumerated
    * from the LISTING, not the store's own read path, so
    * torn/retained/stale data cannot hide behind a `_CURRENT`
    * pointer. `footerPrune = false` forces the full-bytes scan — the
    * comparison surface the pruning's own tests use.
    *
    * Caveat an auditor must know: this proves no ROW carries a
    * victim ID. Derived state without ids (count deltas, digest
    * residues, calibration thresholds) is covered by the erase
    * forms' own contracts (subtract-exactness, re-freeze), not by
    * this scan — the audit is the id-level half of the proof. */
  def erasureAudit(spark: SparkSession, treeRoot: String,
                   victimIds: Seq[Long],
                   idCols: Seq[String] = ErasureAuditIdCols,
                   maxDepth: Int = 4,
                   footerPrune: Boolean = true): ErasureAuditReport = {
    import org.apache.spark.sql.functions.{count, lit, when}
    import scala.jdk.CollectionConverters._
    require(victimIds.nonEmpty, "erasureAudit needs at least one victim id")
    val victimSet = victimIds.toSet
    val conf = spark.sessionState.newHadoopConf()
    val discovery = discover(spark, treeRoot, maxDepth)
    val truncated = discovery.unexplored
    require(truncated.isEmpty,
      s"erasureAudit at $treeRoot: store discovery bottomed out at " +
        s"maxDepth=$maxDepth with unexplored directories below — a store " +
        "any deeper would silently fall outside the certificate. Raise " +
        "maxDepth past the tree's store depth. Unexplored: " +
        truncated.mkString(", "))
    def files(dir: Path): Seq[Path] = {
      val fs = dir.getFileSystem(conf)
      fs.listStatus(dir).toSeq.flatMap { st =>
        if (st.isDirectory) files(st.getPath)
        else if (st.getPath.getName.endsWith(".parquet")) Seq(st.getPath)
        else Nil
      }
    }
    // per-file footer facts: row count + per-column row-group ranges.
    // None = stats unusable (must scan); absent key = column not in
    // this file (reads as null under mergeSchema — nothing to find)
    case class Footer(nRows: Long,
                      ranges: Map[String, Option[Seq[(Long, Long)]]])
    def readFooter(f: Path): Footer = {
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
      try {
        val blocks = reader.getFooter.getBlocks.asScala.toSeq
        val nRows = blocks.map(_.getRowCount).sum
        val names = blocks.headOption.toSeq.flatMap(_.getColumns.asScala
          .map(_.getPath.toDotString)).filter(idCols.contains)
        val ranges = names.map { c =>
          val perChunk = blocks.map { b =>
            val cc = b.getColumns.asScala
              .find(_.getPath.toDotString == c).get
            val integral = cc.getPrimitiveType.getPrimitiveTypeName match {
              case org.apache.parquet.schema.PrimitiveType
                .PrimitiveTypeName.INT32 |
                org.apache.parquet.schema.PrimitiveType
                .PrimitiveTypeName.INT64 => true
              case _ => false
            }
            val st = cc.getStatistics
            if (!integral || st == null) None // no usable stats: scan
            else if (st.hasNonNullValue)
              Some(Seq((st.genericGetMin.asInstanceOf[Number].longValue,
                st.genericGetMax.asInstanceOf[Number].longValue)))
            else if (st.isNumNullsSet && st.getNumNulls == cc.getValueCount)
              Some(Nil) // all-null chunk: contributes no id values
            else None
          }
          c -> (if (perChunk.contains(None)) None
                else Some(perChunk.flatten.flatten))
        }.toMap
        Footer(nRows, ranges)
      } finally reader.close()
    }
    def mayHoldVictim(ft: Footer, c: String): Boolean =
      ft.ranges.get(c) match {
        case None => false // column absent from this file
        case Some(None) => true // no usable stats — must scan
        case Some(Some(rs)) =>
          rs.exists { case (lo, hi) =>
            victimIds.exists(v => v >= lo && v <= hi) }
      }
    val hits = scala.collection.mutable.ListBuffer.empty[ErasureHit]
    val unverified =
      scala.collection.mutable.LinkedHashSet.empty[UnverifiedIdColumn]
    var filesTotal = 0L
    var filesScanned = 0L
    discovery.stores.foreach { root =>
      val rootPath = new Path(root)
      // schema group = path segments below the store root before the
      // first partition (`c=v`) or version (`_base`) component: one
      // family writer per subroot, so each group reads as one schema
      def subrootOf(f: Path): String = {
        val rel = f.toString.stripPrefix(rootPath.toString).stripPrefix("/")
        rel.split('/').dropRight(1)
          .takeWhile(s => !s.contains("=") && s != "_base")
          .mkString("/")
      }
      def partSegs(f: Path): Seq[(String, String)] = {
        val rel = f.toString.stripPrefix(rootPath.toString).stripPrefix("/")
        rel.split('/').dropRight(1).toSeq.filter(_.contains("="))
          .map { s =>
            val i = s.indexOf('=')
            (s.substring(0, i), s.substring(i + 1))
          }
      }
      files(rootPath).groupBy(subrootOf).toSeq.sortBy(_._1)
        .foreach { case (sub, fs) =>
          filesTotal += fs.size
          val footers = fs.map(f => f -> readFooter(f)).toMap
          // ---- partition-directory audit: values an explicit-file
          // read never materializes live in the path itself
          val partHits = scala.collection.mutable.Map.empty[String, Long]
          fs.foreach { f =>
            partSegs(f).filter(kv => idCols.contains(kv._1))
              .foreach { case (k, raw) =>
                if (raw == "__HIVE_DEFAULT_PARTITION__") ()
                else scala.util.Try(raw.toLong).toOption match {
                  case Some(v) =>
                    if (victimSet(v))
                      partHits(k) = partHits.getOrElse(k, 0L) +
                        footers(f).nRows
                  case None =>
                    unverified += UnverifiedIdColumn(root, sub, k,
                      "partition-dir(non-long values)")
                }
              }
          }
          partHits.toSeq.sortBy(_._1).foreach { case (k, n) =>
            if (n > 0) hits += ErasureHit(root, sub, k, n)
          }
          // ---- in-file audit over the group's MERGED schema
          val df = spark.read.option("mergeSchema", "true")
            .parquet(fs.map(_.toString): _*)
          val (present, nonIntegral) = idCols
            .flatMap(c => df.schema.fields.find(_.name == c))
            .partition(f => Seq("byte", "short", "int", "bigint")
              .contains(f.dataType.simpleString))
          nonIntegral.foreach(f => unverified +=
            UnverifiedIdColumn(root, sub, f.name, f.dataType.simpleString))
          if (present.nonEmpty) {
            val scanFs =
              if (footerPrune)
                fs.filter(f => present.exists(p =>
                  mayHoldVictim(footers(f), p.name)))
              else fs
            filesScanned += scanFs.size
            if (scanFs.nonEmpty) {
              val scanDf = spark.read.option("mergeSchema", "true")
                .parquet(scanFs.map(_.toString): _*)
              // a present column can vanish from the scan subset's
              // schema when every file carrying it was pruned — its
              // surviving rows are then provably victim-free
              val cols = present.map(_.name)
                .filter(c => scanDf.schema.fieldNames.contains(c))
              if (cols.nonEmpty) {
                val aggs = cols.map(c => count(when(
                  col(c).isin(victimIds.map(Long.box): _*), lit(1))).as(c))
                val row = scanDf.agg(aggs.head, aggs.tail: _*).head()
                cols.zipWithIndex.collect {
                  case (c, i) if row.getLong(i) > 0 =>
                    hits += ErasureHit(root, sub, c, row.getLong(i))
                }
              }
            }
          }
        }
    }
    ErasureAuditReport(hits.toList, unverified.toList,
      filesTotal, filesScanned)
  }

  /** [[erasureAudit]] that REFUSES on any surviving reference — the
    * form an automated RTBF pipeline calls between "erase ran" and
    * "request closed" ([[eraseAll]] ends with it). Returns the full
    * report so the caller can RECORD the certificate: files walked vs
    * read, and every id-named column the sweep could not verify (the
    * refusal message names them too — an incomplete-erasure failure
    * should state its blind spots alongside its hits). A nonempty `unverified` does
    * NOT fail the call: those columns are disclosed, and closing
    * them needs either integral keying at ingest or a caller-side
    * audit — see [[UnverifiedIdColumn]]. */
  def requireErased(spark: SparkSession, treeRoot: String,
                    victimIds: Seq[Long],
                    idCols: Seq[String] = ErasureAuditIdCols,
                    maxDepth: Int = 4): ErasureAuditReport = {
    val report = erasureAudit(spark, treeRoot, victimIds, idCols, maxDepth)
    val blind = if (report.unverified.isEmpty) ""
      else report.unverified.map(u => s"${u.root}${if (u.subroot.isEmpty) ""
        else "/" + u.subroot}.${u.column} (${u.dataType})")
        .mkString("; additionally NOT VERIFIABLE (non-integral ids): ",
          "; ", "")
    require(report.hits.isEmpty,
      s"erasure INCOMPLETE under $treeRoot: " +
        report.hits.map(h => s"${h.root}${if (h.subroot.isEmpty) ""
          else "/" + h.subroot}.${h.column} still holds ${h.nRows} " +
          "victim row(s)").mkString("; ") +
        " — a store under this tree was erased by hand and another was " +
        "missed, or an erase ran before a torn epoch was repaired; repair " +
        "it and erase the whole tree with Maintenance.eraseAll (it " +
        "discovers every store), then audit again" + blind)
    report
  }
}
