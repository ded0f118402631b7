package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import graft.sources.{Fs, Sinks}

/** Keyed upsert ("MERGE") — the reference's universal incremental sink.
  *
  * Re-expresses dbt's `materialized="incremental",
  * incremental_strategy="merge"` (reference:
  * dbt/stripe/models/curated/invoices.sql:1-7 and every other model
  * config; semantics README.md:110-129) as a pure DataFrame transform:
  * rows from `updates` win over rows from `target` with the same key;
  * keys only in either side pass through. When several update rows
  * share a key, the highest `versionCol` wins (ties broken by source
  * priority, which is already deterministic per key because keys are
  * unique within each side in the reference's contract).
  *
  * Physical shape: ONE hash-partition shuffle of target ∪ updates on
  * the key columns, then a per-partition window dedupe — the same cost
  * profile as a shuffle-hash MERGE in a warehouse. At 100 TB the win
  * comes from `mergeWrite`: the merged result is written with dynamic
  * partition overwrite so only date partitions that actually received
  * updates are rewritten; untouched partitions are never read or
  * written. Combined with a high-water-mark filter on the updates side
  * (see Incremental.highWaterMark) a daily run touches only recent
  * partitions regardless of total table size.
  *
  * Idempotency contract (README.md:93-129): merge(merge(t,u),u) ==
  * merge(t,u) — covered by MergeSpec property tests.
  */
object Merge {

  private val PRIO = "_graft_src_prio"
  private val RN   = "_graft_rn"

  /** Schema-drift policy for mergeInto — the reference's dbt
    * `on_schema_change` knob (incremental models). */
  sealed trait SchemaChange
  /** Updates are conformed to the target's schema: extra update
    * columns are dropped, missing ones error (dbt's default). */
  case object IgnoreSchemaChange extends SchemaChange
  /** Additive evolution: new update columns join the output schema
    * (null for pre-existing rows); update rows missing a target
    * column carry null (dbt `on_schema_change='append_new_columns'`,
    * the policy that lets a 100 TB mart grow a column without a
    * rebuild). */
  case object AppendNewColumns extends SchemaChange

  /** Upsert `updates` into `target` by `keys`.
    *
    * @param versionCol optional column ordering rows within a key;
    *                   highest wins (e.g. a `_loaded_at` timestamp).
    *                   Updates always beat target rows at equal version.
    */
  def mergeInto(target: DataFrame, updates: DataFrame, keys: Seq[String],
                versionCol: Option[String] = None,
                onSchemaChange: SchemaChange = IgnoreSchemaChange): DataFrame = {
    require(keys.nonEmpty, "merge requires at least one key column")
    val unioned = onSchemaChange match {
      case IgnoreSchemaChange =>
        val cols = target.columns.toSeq
        target.select(cols.map(col): _*).withColumn(PRIO, lit(0))
          .unionByName(updates.select(cols.map(col): _*).withColumn(PRIO, lit(1)))
      case AppendNewColumns =>
        target.withColumn(PRIO, lit(0))
          .unionByName(updates.withColumn(PRIO, lit(1)),
            allowMissingColumns = true)
    }
    val ordering: Seq[Column] =
      versionCol.map(v => Seq(col(v).desc_nulls_last, col(PRIO).desc))
        .getOrElse(Seq(col(PRIO).desc))
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ordering: _*)
    unioned
      .withColumn(RN, row_number().over(w))
      .filter(col(RN) === 1)
      .drop(RN, PRIO)
  }

  /** Partition-pruned merge + persist: the O(delta) daily merge.
    *
    * 1. Collect the distinct partition values present in `updates` as
    *    partition-directory names (a handful of dates — driver-side
    *    list, not data).
    * 2. List the target's partition directories once (Hadoop FS, no
    *    Spark job) and read ONLY the touched ones that exist; when none
    *    exists no target data is read at all. The target schema the
    *    updates conform to comes from one parquet footer, read on the
    *    driver.
    * 3. Merge the slice with the updates and write the result straight
    *    to `path` with DYNAMIC partition overwrite, in one job: only the
    *    touched partition directories are replaced; everything else on
    *    disk is untouched bytes ([[Sinks.overwritePartitions]] says why
    *    reading and replacing the same partitions in one job is safe).
    *
    * Daily cost is therefore proportional to the updated partitions,
    * not the table: the property that keeps a 100 TB mart's daily run
    * constant-time. Rows are sorted within partitions by `clusterCols`
    * for parquet min/max data skipping (the reference's `cluster_by`,
    * invoice_line_items.sql:5-6).
    *
    * Precondition (same as any partitioned MERGE): a key's partition
    * value is stable — updates to a key arrive in the partition that
    * already holds it.
    *
    * @return the table's schema: its stored columns, then `partitionCol`
    *         typed as in `updates`, so callers can read it back without
    *         an inference job; None when `path` holds no table after the
    *         call (empty updates against a missing target write
    *         nothing).
    */
  def mergeWrite(spark: SparkSession, path: String,
                 updates: DataFrame, keys: Seq[String], partitionCol: String,
                 clusterCols: Seq[String] = Nil,
                 versionCol: Option[String] = None): Option[StructType] = {
    // the string cast is the value Spark's writer names a partition
    // directory after; NULL becomes __HIVE_DEFAULT_PARTITION__ (isin()
    // never matches NULL, so a value-filtered read would drop the
    // target's null-partition rows and overwrite them away)
    val touched = updates.select(col(partitionCol).cast("string")).distinct()
      .collect().map(r => Fs.partitionDirName(partitionCol, r.getString(0))).toSet
    val dirs = Fs.partitionDirs(spark, path, partitionCol)
    // a missing target is probed explicitly (Fs.partitionDirs); a read
    // failure on an EXISTING table propagates, or the merge would
    // silently replace touched partitions with updates-only
    val target = storedSchema(spark, dirs, partitionCol).map(stored =>
      readPartitions(spark, path, stored, dirs.filter(d => touched(d.getName)),
        partitionCol, updates.schema(partitionCol).dataType))
    val merged = mergeInto(target.getOrElse(updates.limit(0)), updates, keys, versionCol)
    if (touched.nonEmpty)
      Sinks.overwritePartitions(merged, path, partitionCol, clusterCols)
    if (touched.isEmpty && target.isEmpty) None
    else Some(StructType(merged.schema.filterNot(_.name == partitionCol) :+
      merged.schema(partitionCol)))
  }

  /** The row schema stored in `dirs`' parquet files, taken from one
    * data file's footer (Spark writes it under
    * `org.apache.spark.sql.parquet.row.metadata`; a file from another
    * writer falls back to inferring that one file), with
    * `partitionCol` appended as a STRING: partition-directory names
    * re-infer as the WRONG type for string values that look numeric
    * ('00123' → int 123, which would rewrite into a different
    * directory and duplicate every key), so they are read uninferred
    * and cast by [[readPartitions]]. None when no directory holds a
    * data file. */
  private def storedSchema(spark: SparkSession, dirs: Seq[Path],
                           partitionCol: String): Option[StructType] =
    dirs.iterator.flatMap(d => Fs.dataFiles(spark, d)).nextOption().map(_.getPath).map { file =>
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(file, spark.sessionState.newHadoopConf()))
      val json =
        try reader.getFooter.getFileMetaData.getKeyValueMetaData
          .get(ParquetReadSupport.SPARK_METADATA_KEY)
        finally reader.close()
      Option(json).map(j => DataType.fromJson(j).asInstanceOf[StructType])
        .getOrElse(spark.read.parquet(file.toString).schema)
        .add(partitionCol, StringType)
    }

  /** The rows of the partition directories `dirs` of the table at
    * `path`, read with the known `stored` schema ([[Fs.readParquet]]:
    * no inference or listing job), the partition column cast to
    * `partitionType` — deterministic for dates/ints, identity for
    * strings. No dirs → an empty frame and no read at all. */
  private def readPartitions(spark: SparkSession, path: String,
                             stored: StructType, dirs: Seq[Path],
                             partitionCol: String,
                             partitionType: DataType): DataFrame =
    Fs.readParquet(spark, path, dirs, stored)
      .withColumn(partitionCol, col(partitionCol).cast(partitionType))

  /** One [[deleteWrite]] run's outcome: partitions rewritten (still
    * holding survivors), partition directories removed outright
    * (every row deleted), and partitions never touched. */
  final case class DeleteStats(rewritten: Seq[String], removed: Seq[String],
                               untouched: Long)

  /** Targeted key deletion over a partitioned table — the
    * right-to-be-forgotten primitive (GDPR/CCPA erasure, takedown
    * propagation): remove every row matching `deleteKeys` and rewrite
    * ONLY the partitions that held matches. The reference's answer is
    * a full rebuild; at 100 TB the difference is rewriting the 3 date
    * partitions a user touched versus the whole table.
    *
    * Shape: one columnar probe scan (key + partition columns only —
    * column pruning makes this cheap) finds the affected partitions;
    * only those partition directories are re-read, anti-join the key
    * set (broadcast — an erasure batch is small; for bulk deletes run
    * several batches), and land in place via the one-job dynamic
    * overwrite [[mergeWrite]] uses. Dynamic overwrite only replaces
    * partitions PRESENT in the written data, so a partition whose
    * every row died would silently SURVIVE — exactly the failure an
    * erasure tool cannot have; those directories are deleted
    * explicitly (Hive-escaped names, NULL →
    * `__HIVE_DEFAULT_PARTITION__`), and the stats report them.
    *
    * Idempotent: re-running with the same keys finds no matches and
    * touches nothing.
    *
    * A zone map built over this table is STALE after the rewrite (the
    * rewritten partitions' file names changed — [[Layout.zoneMapRead]]
    * refuses on it); rebuild it in one call with
    * [[Layout.zoneMapRebuild]]. */
  def deleteWrite(spark: SparkSession, path: String,
                  deleteKeys: DataFrame, keyCols: Seq[String],
                  partitionCol: String,
                  clusterCols: Seq[String] = Nil): DeleteStats = {
    require(keyCols.nonEmpty, "deleteWrite needs at least one key column")
    val keys = deleteKeys.select(keyCols.map(col): _*).distinct()
    // partition census from the DIRECTORY LISTING, not a second table
    // scan — the same metadata the emptied-directory deletion below
    // relies on; the one probe scan is the only full data read
    val dirs = Fs.partitionDirs(spark, path, partitionCol)
    val stored = storedSchema(spark, dirs, partitionCol).getOrElse(
      throw new IllegalArgumentException(s"deleteWrite: no table at $path"))
    val touched = readPartitions(spark, path, stored, dirs, partitionCol, StringType)
      .join(broadcast(keys), keyCols, "left_semi")
      .select(col(partitionCol)).distinct()
      .collect().map(_.getString(0)).toSeq
    if (touched.isEmpty) return DeleteStats(Nil, Nil, dirs.size.toLong)
    val touchedDirs = touched.map(Fs.partitionDirName(partitionCol, _)).toSet
    val kept = readPartitions(spark, path, stored,
        dirs.filter(d => touchedDirs(d.getName)), partitionCol, StringType)
      .join(broadcast(keys), keyCols, "left_anti")
    // read before the overwrite replaces the files `kept` lists
    val keptParts = kept.select(col(partitionCol)).distinct()
      .collect().map(_.getString(0)).toSet
    if (keptParts.nonEmpty)
      Sinks.overwritePartitions(kept, path, partitionCol, clusterCols)
    // partitions whose every row died: dynamic overwrite never saw
    // them — remove their directories explicitly
    val emptied = touched.filterNot(keptParts)
    emptied.foreach(v =>
      Fs.deleteRecursively(spark, s"$path/${Fs.partitionDirName(partitionCol, v)}"))
    def nsort(xs: Seq[String]) = xs.sortBy(Option(_).getOrElse(""))
    DeleteStats(nsort(touched.filter(keptParts)), nsort(emptied),
      dirs.size - touched.size)
  }
}

/** High-water-mark incremental pattern (reference: the
  * `is_incremental()` scalar-subquery filters, invoices.sql:11-13,
  * and the extraction-side probe extract_stripe_data.py:43-59).
  */
object Incremental {
  /** `SELECT MAX(col) FROM df` as a driver-side scalar; None on empty
    * input (the reference defaults the extraction HWM to 0). One job,
    * one row to the driver — not a collect() of data. */
  def highWaterMark(df: DataFrame, c: String): Option[Any] = {
    val r = df.agg(max(col(c)).as("hwm")).head()
    if (r.isNullAt(0)) None else Some(r.get(0))
  }

  /** [[highWaterMark]] of a table's own partition column, read from
    * its directory listing instead of a scan: the greatest value, typed
    * as `dataType`, among the `partitionCol=value` directories at
    * `path` that hold a data file. NULL's directory never is the max;
    * None for a missing or empty table, as for an empty scan. No Spark
    * job. */
  def partitionHighWaterMark(spark: SparkSession, path: String,
                             partitionCol: String, dataType: DataType): Option[Any] = {
    val tz = spark.sessionState.conf.sessionLocalTimeZone
    val prefix = s"$partitionCol="
    val typed = Fs.partitionDirs(spark, path, partitionCol).flatMap { dir =>
      val raw = dir.getName.stripPrefix(prefix)
      if (raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) None
      else Some(Cast(Literal(ExternalCatalogUtils.unescapePathName(raw)),
        dataType, Some(tz)).eval() -> dir)
    }
    typed.sortBy(_._1)(PhysicalDataType.ordering(dataType).reverse)
      .collectFirst { case (v, dir) if Fs.dataFiles(spark, dir).nonEmpty =>
        CatalystTypeConverters.convertToScala(v, dataType) }
  }
}
