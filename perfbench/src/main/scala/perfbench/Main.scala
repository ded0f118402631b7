package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark run inside one JVM: set up, run the workload's
  * measured operation, check the outputs, and write the result file
  * that `run.py` turns into the reported metrics.
  *
  * The measured work is fixed, exactly one operation, so that what a
  * metric means does not depend on how fast the program is. A traced
  * run then repeats that operation three times on identical state:
  * untraced, under the probe and the span recorder, and untraced again.
  * The tracing overhead is the traced values minus the mean of the two
  * untraced ones around them, which cancels the JIT warm-up that still
  * goes on from one repetition to the next. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val spark = graft.GraftSession.getOrCreate()
    val run = new Run(spark, a("workload"), a("seed").toLong, a("trace") == "1",
      a("t0-ms").toLong, Probe.moduleMap(new File("src/main/scala/graft")))
    try {
      a("workload") match {
        case "revenue_daily" => Revenue.run(run, a("data"), a("work"), a("history").toInt)
        case "analyst_reads" => Analyst.run(run, a("data"), a("work"))
        case w => sys.error(s"unknown workload $w")
      }
      if (run.traced) run.trace.write(a("spans"))
      java.nio.file.Files.writeString(new File(a("out")).toPath, run.result)
    } finally spark.stop()
  }
}

/** Run state shared by the workloads: operation and failure counts,
  * the measured operation, and (traced runs only) the probe and the
  * spans. */
final class Run(val spark: SparkSession, val workload: String, val seed: Long,
                val traced: Boolean, t0Ms: Long, modules: Map[String, String]) {
  val probe = new Probe(spark, modules)
  val trace = new Trace(s"$workload-$seed")
  private var tracing = false

  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  var setupS = Double.NaN
  /** End-to-end values of the measured (first, untraced) operation. */
  var measured: Option[Map[String, Double]] = None
  val perLayer = mutable.LinkedHashMap.empty[String, Double]
  /** Values the determinism check compares across same-seed runs. */
  val checksums = mutable.LinkedHashMap.empty[String, Any]
  /** Values `run.py` checks against its own recomputation. */
  val expectations = mutable.LinkedHashMap.empty[String, Any]

  def now(): Double = System.nanoTime() / 1e9

  def timed[T](f: => T): (T, Double) = {
    val t0 = now()
    val r = f
    (r, now() - t0)
  }

  /** One operation of the workload: counted, and on an exception
    * counted as failed instead of aborting the run. */
  def op[T](name: String)(f: => T): Option[T] = {
    attempted += 1
    try Some(f)
    catch {
      case NonFatal(e) =>
        fail(s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        None
    }
  }

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) fail(s"$name: $detail")
  }

  private def fail(msg: String): Unit = {
    failed += 1
    failures += msg
    System.err.println(s"[perfbench] FAILED $msg")
  }

  /** Span around a call into `layer`; Spark work the harness itself
    * triggers inside it is charged to that layer. */
  def span[T](name: String, layer: String)(f: => T): T =
    if (tracing) trace.span(name, layer)(f) else f

  def setupDone(): Unit = setupS = System.currentTimeMillis() / 1e3 - t0Ms / 1e3

  def sweep(): Unit = graft.GraftSession.sweepPersistedRdds(spark)

  /** The measured work. `next(traced)` runs the workload's operation
    * once and returns its end-to-end values (None if it failed); every
    * call must start from the same state. The hooks run just before and
    * just after the traced operation, so that what they read stays out
    * of its counters. */
  def measure(next: Boolean => Option[Map[String, Double]],
              beforeTraced: () => Unit = () => (),
              afterTraced: () => Unit = () => ()): Unit = {
    measured = next(false)
    if (traced) {
      val before = next(false)
      beforeTraced()
      tracing = true
      probe.start()
      val (tracedOp, wall) = timed(trace.span(s"$workload op", "op")(next(true)))
      probe.stop()
      tracing = false
      trace.attachSpark(probe)
      perLayer ++= probe.metrics(wall, trace.layerAt)
      afterTraced()
      val after = next(false)
      for (b <- before; t <- tracedOp; a <- after; (k, v) <- t)
        perLayer(s"trace.overhead.$k") = v - (b(k) + a(k)) / 2
      for (k <- Seq("spark.jobs", "spark.tasks", "spark.output_rows"))
        checksums(k) = perLayer(k)
    }
  }

  def result: String = Out.value(mutable.LinkedHashMap[String, Any](
    "workload" -> workload, "seed" -> seed, "traced" -> traced,
    "master" -> spark.sparkContext.master,
    "setup_s" -> setupS, "op" -> measured.orNull, "per_layer" -> perLayer,
    "attempted" -> attempted, "failed" -> failed, "failures" -> failures,
    "checksums" -> checksums, "expect" -> expectations)) + "\n"
}
