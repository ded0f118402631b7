package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ catalyst-Expression bridge.
  *
  * Spark 4 split `Column` into the connect-agnostic sql-api (wrapping
  * a ColumnNode); the classic converter lives in
  * `org.apache.spark.sql.classic.ExpressionUtils`, which is
  * `private[sql]`. This object sits inside the `org.apache.spark.sql`
  * namespace purely to re-export those two conversions to the engine's
  * custom-expression wrappers (graft.functions.Sketches) — the normal
  * pattern for libraries that ship native Catalyst expressions.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Rewrap a DataFrame's physical RDD as a fresh leaf plan with
    * DEFAULT size statistics.
    *
    * `Dataset.localCheckpoint` truncates lineage but the resulting
    * LogicalRDD INHERITS the origin plan's size estimate. In an
    * iterative algorithm whose round r plan joins round r−1's
    * checkpoint several times, the inherited estimate compounds
    * (size_r ≈ size_{r−1}^k) and the optimizer's BigInteger stats
    * arithmetic grows doubly exponentially — measured as minutes of
    * pure BigInteger.multiply on a 40-round graph. Re-wrapping via
    * `internalCreateDataFrame` (zero-copy: the same InternalRow RDD)
    * resets the leaf to `spark.sql.defaultSizeInBytes`. */
  def freshLeaf(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val c = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    c.sparkSession.internalCreateDataFrame(c.queryExecution.toRdd, c.schema)
  }

  /** Release the block-manager blocks pinned by a `localCheckpoint`'d
    * DataFrame (plain or [[freshLeaf]]-wrapped).
    *
    * `Dataset.unpersist` only consults the CacheManager, which never
    * sees checkpoint RDDs — `localCheckpoint` persists the Dataset's
    * INTERNAL RDD directly, so its blocks stay pinned for the session
    * lifetime unless someone unpersists that RDD. In an iterative
    * operator (PageRank, connected components) every superseded
    * iteration is such a leak; across a long session they accumulate
    * into real block-manager pressure (round 8 measured an 8× bench
    * inflation on the heaviest shuffle query purely from accumulated
    * pinned blocks).
    *
    * The persisted RDD is found from the plan's `LogicalRDD` leaves:
    * for a plain localCheckpoint the leaf's RDD is the persisted one;
    * for a freshLeaf wrap it is a narrow derivation of it, so walk up
    * the (narrow, short) dependency chain to the first persisted
    * ancestor and stop there — everything above a checkpoint is
    * lineage the checkpoint already severed. Only call this on frames
    * this code checkpointed and no longer needs; a freed frame fails
    * loudly on re-execution (blocks gone), it does not recompute. */
  def unpersistCheckpoint(df: org.apache.spark.sql.DataFrame,
                          blocking: Boolean = false): Unit = {
    import org.apache.spark.rdd.RDD
    import org.apache.spark.storage.StorageLevel
    def free(r: RDD[_], depth: Int): Unit =
      if (depth < 8) {
        if (r.getStorageLevel != StorageLevel.NONE) { r.unpersist(blocking); () }
        else r.dependencies.foreach(dep => free(dep.rdd, depth + 1))
      }
    val c = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    c.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD => free(l.rdd, 0)
      case _ => ()
    }
  }

  /** Observed metrics (`df.observe`) collected from the EXECUTED plan,
    * surviving the adaptive-execution shapes `QueryExecution
    * .observedMetrics` loses:
    *
    *  - metrics inside materialized query stages (descends
    *    `QueryStageExec.plan`), and
    *  - metrics inside stages that AQE's empty-relation propagation
    *    replaced AFTER they ran: `EmptyRelationExec` retains its
    *    originating logical plan, whose `LogicalQueryStage` nodes still
    *    reference the executed physical stage — and therefore the
    *    accumulator that already aggregated the metric. Without this, a
    *    guard counter that observed "I dropped every row" vanishes
    *    precisely when everything was dropped (measured: Map() from
    *    `observedMetrics` while the metric's stage had run).
    *
    * Call after an action executed the DataFrame's own QueryExecution
    * (`collect`/`foreach`/`toLocalIterator`). */
  def observedMetrics(df: org.apache.spark.sql.DataFrame): Map[String, org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.execution.{CollectMetricsExec, EmptyRelationExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, LogicalQueryStage, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def goP(p: SparkPlan): Seq[(String, Row)] = {
      val here = p match {
        case c: CollectMetricsExec => Seq(c.name -> c.collectedMetrics)
        case _ => Seq.empty
      }
      val nested = p match {
        case a: AdaptiveSparkPlanExec => goP(a.executedPlan)
        case q: QueryStageExec => goP(q.plan)
        case r: ReusedExchangeExec => goP(r.child)
        case e: EmptyRelationExec => goL(e.logical)
        case i: InMemoryTableScanExec => goP(i.relation.cachedPlan)
        case _ => Seq.empty
      }
      here ++ nested ++ p.children.flatMap(goP) ++
        p.subqueries.flatMap(goP)
    }
    def goL(lp: LogicalPlan): Seq[(String, Row)] = lp.collect {
      case lqs: LogicalQueryStage => goP(lqs.physicalPlan)
    }.flatten
    val c = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    goP(c.queryExecution.executedPlan).toMap
  }

  /** Bounded Observation read (`getRowOrEmpty` is `private[sql]`):
    * None when the observed stage's metric never arrives — e.g. AQE
    * replaced the stage with an empty relation after it ran — where
    * `Observation.get` would wait forever. The short poll covers the
    * async listener-bus delivery gap in the normal case; callers keep
    * an exact fallback for None. */
  def observationRow(obs: org.apache.spark.sql.Observation,
                     timeoutMs: Long = 2000): Option[org.apache.spark.sql.Row] = {
    val deadline = System.nanoTime + timeoutMs * 1000000L
    var r = obs.getRowOrEmpty
    while (r.isEmpty && System.nanoTime < deadline) {
      Thread.sleep(25)
      r = obs.getRowOrEmpty
    }
    r
  }

  /** A 1-row/1-column DataFrame as a scalar-subquery Column — the form
    * expressions like `BloomFilterMightContain` require their filter
    * operand to take (constant or scalar subquery; a join-produced
    * column is rejected at analysis). This is exactly how Spark's own
    * InjectRuntimeFilter attaches a bloom build to a probe side. The
    * subquery body executes once per query (ReuseSubquery dedupes
    * canonically-equal instances across plan branches). */
  def scalarSubquery(df: org.apache.spark.sql.DataFrame): Column = {
    val c = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    column(org.apache.spark.sql.catalyst.expressions.ScalarSubquery(
      c.queryExecution.analyzed))
  }

  /** A parquet read over files the caller has already listed: `dirs`
    * are directories under `basePath`, each with its data files, read
    * with the known `schema` the way `spark.read.schema(schema)
    * .option("basePath", basePath).parquet(dirs...)` reads them, but
    * without Spark listing them again. Spark's own listing runs a Spark
    * job whenever a read names more directories than
    * `spark.sql.sources.parallelPartitionDiscovery.threshold`. The
    * listing is handed to the file index as a pre-filled status cache;
    * a refresh of the index drops it and lists afresh. */
  def listedParquet(spark: org.apache.spark.sql.SparkSession, basePath: String,
                    dirs: Seq[(org.apache.hadoop.fs.Path, Array[org.apache.hadoop.fs.FileStatus])],
                    schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val cache = new FileStatusCache {
      @volatile private var listed = dirs.toMap
      override def getLeafFiles(path: org.apache.hadoop.fs.Path) = listed.get(path)
      override def putLeafFiles(path: org.apache.hadoop.fs.Path,
                                files: Array[org.apache.hadoop.fs.FileStatus]): Unit = ()
      override def invalidateAll(): Unit = listed = Map.empty
    }
    val index = new InMemoryFileIndex(spark, dirs.map(_._1), Map("basePath" -> basePath),
      Some(schema), cache)
    val partitionSchema = index.partitionSchema
    val dataSchema = org.apache.spark.sql.types.StructType(
      schema.filterNot(f => partitionSchema.exists(_.name == f.name)))
    spark.baseRelationToDataFrame(HadoopFsRelation(index, partitionSchema,
      dataSchema.asNullable, None, new ParquetFileFormat, Map.empty)(spark))
  }
}
