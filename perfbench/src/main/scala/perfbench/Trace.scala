package perfbench

import scala.collection.mutable

/** In-memory spans around the harness's calls into each layer, written
  * out once at the end. Times are epoch milliseconds (fractional) so
  * that Spark's job and stage events, which carry epoch milliseconds,
  * nest under them by time containment. */
final class Trace(val runId: String) {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  private def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  def span[T](name: String, layer: String)(f: => T): T = {
    val id = spans.size
    spans += Span(id, name, layer, open.headOption.getOrElse(-1), nowMs, Double.NaN)
    open.push(id)
    try f
    finally {
      open.pop()
      spans(id) = spans(id).copy(end = nowMs)
    }
  }

  /** Record an interval measured elsewhere (a Spark job or stage) under
    * `parent`, or else under the innermost span that contains it. */
  private def attach(name: String, layer: String, start: Double, end: Double,
             parent: Option[Int] = None): Int = {
    val id = spans.size
    val p = parent.getOrElse(innermost(start, end))
    spans += Span(id, name, layer, p, start, end)
    id
  }

  private def innermost(start: Double, end: Double): Int =
    spans.filter(s => s.layer != "spark" && s.start <= start && end <= s.end)
      .sortBy(s => s.end - s.start).headOption.map(_.id).getOrElse(-1)

  /** Layer of the innermost harness span open at `t`. */
  def layerAt(t: Double): String = {
    val id = innermost(t, t)
    if (id < 0) "graft" else spans(id).layer
  }

  /** Add Spark's jobs (parented by containment) and stages (parented by
    * their job) from a probe, named with the module they are charged to. */
  def attachSpark(p: Probe): Unit = {
    val (jobModule, stageModule) = p.modulesOf(layerAt)
    val jobSpan = p.jobs.sortBy(_.start).map { j =>
      j.id -> attach(s"job ${j.id} ${jobModule(j.id)}", "spark", j.start.toDouble, j.end.toDouble)
    }.toMap
    p.stages.sortBy(_.start).foreach { s =>
      attach(s"stage ${s.id} ${s.name} ${stageModule(s.id)}", "spark",
        s.start.toDouble, s.end.toDouble,
        jobSpan.get(s.job).orElse(Some(innermost(s.start.toDouble, s.end.toDouble))))
    }
  }

  /** Self time of each span: its duration minus the part of it that its
    * children's intervals cover. */
  def selfMs: Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = Probe.unionMs(kids.getOrElse(s.id, Nil).map(k =>
        ((math.max(k.start, s.start) * 1e3).toLong, (math.min(k.end, s.end) * 1e3).toLong))
        .filter { case (a, b) => b > a }.toSeq) / 1e3
      s.id -> math.max(0.0, (s.end - s.start) - covered)
    }.toMap
  }

  def write(path: String): Unit = {
    val self = selfMs
    val rows = spans.map(s => mutable.LinkedHashMap[String, Any](
      "id" -> s.id, "run" -> runId, "name" -> s.name, "layer" -> s.layer,
      "parent" -> s.parent, "start_ms" -> s.start, "end_ms" -> s.end,
      "self_ms" -> self(s.id)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), Out.value(rows) + "\n")
  }
}

object Trace {
  final case class Span(id: Int, name: String, layer: String, parent: Int,
                        start: Double, end: Double)
}
