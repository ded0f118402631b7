package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils

/** Filesystem probes through the Hadoop FileSystem API — the only way
  * an existence check works on every storage a cluster reads (HDFS,
  * S3A, GCS, local). `new java.io.File(path).exists()` is always false
  * for a remote URI, and catching *any* read exception as "table does
  * not exist" turns a transient IO failure into silent data loss (a
  * merge would overwrite touched partitions with updates-only). All
  * table-existence decisions in the engine route through here so only
  * genuine absence is treated as empty and every other failure
  * propagates loudly.
  */
object Fs {
  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  /** The directory name Spark's writer gives one value of a partition
    * column: `col=<escaped value>`, NULL as
    * `col=__HIVE_DEFAULT_PARTITION__`. */
  def partitionDirName(partitionCol: String, value: String): String =
    if (value == null) s"$partitionCol=${ExternalCatalogUtils.DEFAULT_PARTITION_NAME}"
    else s"$partitionCol=${ExternalCatalogUtils.escapePathName(value)}"

  /** The `partitionCol=...` directories directly under `root`, from one
    * listing call (no Spark job); none when `root` does not exist. */
  def partitionDirs(spark: SparkSession, root: String,
                    partitionCol: String): Seq[Path] = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.collect {
      case st if st.isDirectory && st.getPath.getName.startsWith(s"$partitionCol=") =>
        st.getPath
    }
  }

  /** The data files directly in `dir`: names starting with `_` or `.`
    * (commit markers, checksums, staging dirs) are not data, the rule
    * Spark's own file listing applies. */
  def dataFiles(spark: SparkSession, dir: Path): Seq[FileStatus] =
    dir.getFileSystem(spark.sessionState.newHadoopConf()).listStatus(dir).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))

  /** The partition directories `dirs` of the parquet table at `root`,
    * read with the known `schema`: no inference job, and no listing job
    * either — the directories' data files are listed here, one call per
    * directory, where Spark would list them in a Spark job once a read
    * names more than 32 directories (every daily mart read). No dirs →
    * an empty frame. */
  def readParquet(spark: SparkSession, root: String, dirs: Seq[Path],
                  schema: StructType): DataFrame =
    if (dirs.isEmpty) spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    else Bridge.listedParquet(spark, root,
      dirs.map(d => d -> dataFiles(spark, d).toArray), schema)

  /** Recursive delete (staging-dir cleanup); absent paths are a no-op. */
  def deleteRecursively(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) fs.delete(p, true)
  }
}
