package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row}
import org.apache.spark.sql.functions.col

/** Write-side layout helpers: the reference's `partition_by` +
  * `cluster_by` storage contract (reference: invoice_line_items.sql:5-6
  * and every incremental model config; SURVEY §1.4).
  *
  * Partitioning gives read-side partition PRUNING (a filter on the
  * partition column never opens non-matching directories); the
  * within-partition sort gives data SKIPPING (parquet row-group
  * min/max stats become selective on the cluster keys — the same
  * intent as BigQuery clustering / Z-order without needing either).
  * At 100 TB these two decisions dominate scan cost for the
  * date-filtered access patterns every mart query uses.
  */
object Sinks {

  private val MaxRecordsPerFile = 5_000_000L

  /** The shared partition+cluster layout step: co-locate each
    * partition value, sort rows by the cluster keys, cap file size.
    * The snapshot write and the partition overwrite below (the one
    * write of Merge.mergeWrite and Merge.deleteWrite) both route
    * through here so the layout policy (including the
    * maxRecordsPerFile guard against one multi-GB file per hot
    * partition) lives in exactly one place. */
  private def partitionedWriter(df: DataFrame, partitionCol: String,
                                clusterCols: Seq[String],
                                maxRecordsPerFile: Long): DataFrameWriter[Row] = {
    val laid =
      if (clusterCols.nonEmpty)
        df.repartition(col(partitionCol))
          .sortWithinPartitions((partitionCol +: clusterCols).map(col): _*)
      else df
    laid.write
      .mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionCol)
  }

  /** Overwrite `df` at `path` partitioned by `partitionCol`, rows
    * sorted within each file by `clusterCols`. */
  def writePartitioned(df: DataFrame, path: String, partitionCol: String,
                       clusterCols: Seq[String] = Nil,
                       maxRecordsPerFile: Long = MaxRecordsPerFile): Unit =
    partitionedWriter(df, partitionCol, clusterCols, maxRecordsPerFile).parquet(path)

  /** Replace only the partitions of `path` that `df` holds rows for
    * (dynamic partition overwrite), same layout as writePartitioned;
    * every other partition directory keeps its files.
    *
    * `df` may read the very partitions it replaces: Spark's commit
    * protocol writes the job's files under
    * `path/.spark-staging-<jobId>` and swaps the touched directories
    * in at job commit, after every task has finished reading. A
    * failed job aborts and deletes that staging dir, leaving `path`
    * as it was (MergeSpec "a mergeWrite whose write job fails leaves
    * the target unchanged"). */
  private[graft] def overwritePartitions(df: DataFrame, path: String,
                                         partitionCol: String,
                                         clusterCols: Seq[String]): Unit =
    partitionedWriter(df, partitionCol, clusterCols, MaxRecordsPerFile)
      .option("partitionOverwriteMode", "dynamic")
      .parquet(path)

  /** NDJSON snapshot sink — the raw-zone overwrite write (reference:
    * extract_stripe_data.py:105-116, full overwrite per run,
    * README.md:102-105). */
  def writeNdjsonSnapshot(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** Bucketed catalog table: pre-hash-partition (and optionally
    * pre-sort) the data into `numBuckets` files per partition on the
    * join/aggregation key. Two tables bucketed the same way join with
    * NO exchange on either side — the shuffle is paid once at write
    * time and amortized over every subsequent join, the single biggest
    * lever for repeatedly-joined 100 TB fact tables. */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
                    numBuckets: Int, sortCols: Seq[String] = Nil): Unit = {
    require(bucketCols.nonEmpty, "bucketing requires at least one column")
    val w = df.write.mode("overwrite").format("parquet")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    val sorted =
      if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w
    sorted.saveAsTable(table)
  }
}
