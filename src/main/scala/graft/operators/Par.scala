package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col

/** Scale-adaptive parallelism repair for scan-side heavy compute.
  *
  * The expensive scan-side expressions (signature sketches, shingle
  * hashing, synthesized codec payloads) run BEFORE the first exchange,
  * so their parallelism is the scan's split count. A small input —
  * one parquet row group locally, one unsplittable file or one hot
  * partition on a cluster (guide §2.5 "input skew") — therefore runs
  * the whole expression serially while every other core idles.
  *
  * [[Par.widen]] repartitions by the row id ONLY when the input is
  * too small to have enough scan splits: on a healthy 100 TB scan
  * (thousands of splits) it is a no-op that adds NO exchange and
  * NEVER shuffles the raw payload; on a narrow scan it pays one small
  * shuffle of the not-yet-expanded input rows to buy full-width
  * compute for the expensive projection above it. Deterministic hash
  * partitioning (never round-robin): placement is reproducible under
  * task retry (SPARK-38388 class of bugs), and unique ids cannot
  * skew.
  *
  * The decision is METADATA-ONLY — Catalyst's size estimate vs what
  * the scan would split into — because probing `df.rdd` under AQE
  * executes upstream stages eagerly, and an exact answer is not
  * needed: a wrong guess costs one small exchange, never correctness.
  */
object Par {
  /** `df` repartitioned by `key` to the default parallelism iff its
    * estimated size yields fewer scan splits than the session's
    * parallelism — otherwise `df` unchanged (no exchange added). */
  def widen(df: DataFrame, key: Column): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    val splitBytes =
      math.max(1L, spark.sessionState.conf.filesMaxPartitionBytes)
    val estBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (estBytes > BigInt(splitBytes) * target) df
    else df.repartition(target, key)
  }

  /** [[widen]] keyed by a named column. */
  def widen(df: DataFrame, key: String): DataFrame = widen(df, col(key))

  /** Run independent eager actions (store builds, a pipeline layer's
    * models) concurrently and return their results in thunk order —
    * guide §2.6 "overlap independent jobs": Spark's scheduler runs
    * several jobs at once; actions are sequential only because the
    * caller invokes them sequentially. A store-building query fires
    * 60–130 tiny driver-bound jobs (measured at bench scale); when
    * two builds are independent, submitting them from separate
    * threads overlaps one build's driver-side stage scheduling with
    * the other's executor work, and on a cluster one build's
    * straggler tail back-fills with the next build's tasks. FIFO
    * scheduling (the default) gives the first thunk priority and
    * lets the rest use leftover capacity — exactly the back-fill
    * behaviour wanted.
    *
    * The pool is as wide as the call: one thread per thunk, shut down
    * on return. A single thunk runs on the caller's thread.
    *
    * Every thunk runs to completion even if a sibling fails (a store
    * write must not be abandoned mid-epoch by someone else's error —
    * torn-store repair is the crash contract, not the happy path);
    * the first failure in thunk order then propagates, whichever
    * failed first in time (ParSpec). */
  def all[T](thunks: (() => T)*): Seq[T] = {
    if (thunks.sizeIs <= 1) return thunks.map(_.apply())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(thunks.size)
    try {
      val fs = thunks.map { t =>
        pool.submit(new java.util.concurrent.Callable[T] {
          override def call(): T = t()
        })
      }
      val outcomes = fs.map { f =>
        try Right(f.get())
        catch { case e: java.util.concurrent.ExecutionException => Left(e.getCause) }
      }
      outcomes.foreach { case Left(e) => throw e; case _ => }
      outcomes.collect { case Right(v) => v }
    } finally pool.shutdown()
  }

  /** [[all]] for actions run for their effect. */
  def concurrently(thunks: (() => Unit)*): Unit = { all(thunks: _*); () }
}
