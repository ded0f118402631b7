package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, ScalaUDF}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.aggregate.ScalaAggregator
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** What the benchmark learns from Spark while a traced operation runs:
  * job, stage and task counters, executor time split, bytes and rows,
  * per-module attribution of stages by call site, the planning phases
  * of every query execution, the time the optimizer spends in the
  * engine's own Catalyst rules (`graft.plans`), and the executions whose
  * plans evaluate the engine's own expressions (`graft.functions`);
  * those two modules submit no jobs, so call sites cannot show them.
  * Registered only for the traced window and removed after it, so
  * untraced timings never pay for it. Every counter starts at 0, so a
  * key that is missing from `metrics` is a bug, not an idle layer. */
final class Probe(spark: SparkSession, modules: Map[String, String]) {
  import Probe._

  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.ArrayBuffer.empty[StageRec]
  private val openJobs = mutable.Map.empty[Int, (Long, Option[String])]
  private val stageJob = mutable.Map.empty[Int, Int]
  /** SQL execution id → module of the action that started it: the jobs
    * of an adaptive query run on other threads, whose call sites hold no
    * engine frame. */
  private val execModule = mutable.Map.empty[Long, Option[String]]
  private val c = mutable.LinkedHashMap.from(Counters.map(_ -> 0.0))
  private def add(k: String, v: Double): Unit = c(k) = c.getOrElse(k, 0.0) + v

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => Probe.this.synchronized {
        execModule(x.executionId) = attribute(x.details)
      }
      case _ =>
    }
    override def onJobStart(j: SparkListenerJobStart): Unit = Probe.this.synchronized {
      val exec = Option(j.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => execModule.get(id.toLong)).flatten
      val own = attribute(j.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse(""))
      openJobs(j.jobId) = (j.time, exec.orElse(own))
      j.stageIds.foreach(stageJob(_) = j.jobId)
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = Probe.this.synchronized {
      openJobs.remove(j.jobId).foreach { case (t0, module) =>
        jobs += JobRec(j.jobId, module, t0, j.time)
      }
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = Probe.this.synchronized {
      val i = s.stageInfo
      val t0 = i.submissionTime.getOrElse(0L)
      val t1 = i.completionTime.getOrElse(t0)
      stages += StageRec(i.stageId, stageJob.getOrElse(i.stageId, -1),
        i.name.takeWhile(_ != '\n'), attribute(i.details), t0, t1)
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = Probe.this.synchronized {
      add("spark.tasks", 1)
      if (!t.taskInfo.successful) add("spark.tasks_failed", 1)
      val m = t.taskMetrics
      if (m != null) {
        add("spark.executor_run_s", m.executorRunTime / 1e3)
        add("spark.executor_cpu_s", m.executorCpuTime / 1e9)
        add("spark.gc_s", m.jvmGCTime / 1e3)
        add("spark.task_deser_s", m.executorDeserializeTime / 1e3)
        val delay = t.taskInfo.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - t.taskInfo.gettingResultTime
        add("spark.scheduler_delay_s", math.max(0L, delay) / 1e3)
        add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("spark.input_bytes", m.inputMetrics.bytesRead.toDouble)
        add("spark.output_bytes", m.outputMetrics.bytesWritten.toDouble)
        add("spark.output_rows", m.outputMetrics.recordsWritten.toDouble)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      phases(qe, 0L)
    private def phases(qe: QueryExecution, durationNs: Long): Unit = Probe.this.synchronized {
      val p = qe.tracker.phases
      for ((phase, key) <- Seq("analysis" -> "queries.analysis_s",
          "optimization" -> "queries.optimization_s", "planning" -> "queries.planning_s"))
        add(key, p.get(phase).map(_.durationMs / 1e3).getOrElse(0.0))
      add("queries.execution_s", durationNs / 1e9)
      val rules = qe.tracker.rules.collect { case (name, r) if name.startsWith("graft.plans.") => r }
      add("plans.rule_s", rules.map(_.totalTimeNs).sum / 1e9)
      add("plans.rule_calls", rules.map(_.numInvocations).sum.toDouble)
      if (usesEngineFunctions(qe.optimizedPlan)) {
        add("functions.execs", 1)
        add("functions.exec_s", durationNs / 1e9)
      }
    }
  }

  /** Module of the innermost engine frame in a call-site stack. */
  private def attribute(details: String): Option[String] =
    details.linesIterator.collectFirst {
      case Frame(cls, file) if cls.startsWith("graft.") && modules.contains(file) =>
        val m = modules(file)
        if (m == "operators") s"operators.${file.stripSuffix(".scala")}" else m
    }

  /** Module of every job and stage. A job whose call site holds no engine
    * frame (the harness's own action on an engine-built frame) belongs
    * to the layer of the innermost harness span it started in; a stage
    * belongs to its job. */
  def modulesOf(layerAt: Double => String): (Map[Int, String], Map[Int, String]) = synchronized {
    val job = jobs.map(j => j.id -> j.module.getOrElse(layerAt(j.start.toDouble))).toMap
    val stage = stages.map(s => s.id -> job.get(s.job).orElse(s.module)
      .getOrElse(layerAt(s.start.toDouble))).toMap
    (job, stage)
  }

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq

  def start(): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    heapPools.foreach(_.resetPeakUsage())
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def stop(): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    c("jvm.heap_peak_mb") = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
  }

  /** Counters plus the per-module attribution, for a window of `wallS`
    * seconds of harness time. */
  def metrics(wallS: Double, layerAt: Double => String): Map[String, Double] = synchronized {
    val busy = unionMs(jobs.map(j => (j.start, j.end)).toSeq) / 1e3
    val (jobModule, stageModule) = modulesOf(layerAt)
    val byModule = mutable.Map.from(ModuleKeys.map(_ -> 0.0))
    def charge(k: String, v: Double): Unit = byModule(k) = byModule.getOrElse(k, 0.0) + v
    for (s <- stages) {
      val m = stageModule(s.id)
      charge(s"${m.takeWhile(_ != '.')}.stage_s", (s.end - s.start) / 1e3)
      if (m.contains('.')) charge(s"$m.stage_s", (s.end - s.start) / 1e3)
    }
    for (j <- jobs) charge(s"${jobModule(j.id).takeWhile(_ != '.')}.jobs", 1)
    c.toMap ++ byModule ++ Map(
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> stages.size.toDouble,
      "spark.job_busy_s" -> busy,
      "spark.driver_only_s" -> math.max(0.0, wallS - busy))
  }
}

object Probe {
  final case class JobRec(id: Int, module: Option[String], start: Long, end: Long)
  final case class StageRec(id: Int, job: Int, name: String, module: Option[String],
                            start: Long, end: Long)

  /** Counters of the listeners, reported even when nothing moved them. */
  val Counters: Seq[String] = Seq("spark.tasks", "spark.tasks_failed",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s", "spark.task_deser_s",
    "spark.scheduler_delay_s", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
    "spark.input_bytes", "spark.output_bytes", "spark.output_rows",
    "queries.analysis_s", "queries.optimization_s", "queries.planning_s",
    "queries.execution_s", "plans.rule_s", "plans.rule_calls",
    "functions.execs", "functions.exec_s")

  /** Call-site attribution keys of the modules that submit Spark jobs. */
  val ModuleKeys: Seq[String] =
    Seq("sources", "pipeline", "operators", "streaming", "queries")
      .flatMap(m => Seq(s"$m.stage_s", s"$m.jobs")) :+ "operators.Merge.stage_s"

  /** Whether a plan evaluates an expression, UDF or aggregator that the
    * engine's `graft.functions` module implements. */
  def usesEngineFunctions(plan: LogicalPlan): Boolean = {
    def engine(e: Expression): Boolean = {
      val impl: AnyRef = e match {
        case u: ScalaUDF => u.function
        case a: ScalaAggregator[_, _, _] => a.agg
        case other => other
      }
      impl.getClass.getName.startsWith("graft.functions.")
    }
    plan.exists(_.expressions.exists(_.exists(engine)))
  }

  private val Frame = """^\s*(?:at\s+)?([\w.$]+)\.[\w$<>]+\((\w+\.scala):\d+\).*""".r

  /** Total length of the union of [start, end) intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Source file name → engine module, from the checkout's source tree:
    * the first directory under `graft/`, `corpus` for CorpusDemo.scala,
    * `graft` for the other top-level files. */
  def moduleMap(srcRoot: java.io.File): Map[String, String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(srcRoot).filter(_.getName.endsWith(".scala")).map { f =>
      val rel = srcRoot.toPath.relativize(f.toPath)
      val module =
        if (rel.getNameCount > 1) rel.getName(0).toString
        else if (f.getName == "CorpusDemo.scala") "corpus"
        else "graft"
      f.getName -> module
    }.toMap
  }
}
