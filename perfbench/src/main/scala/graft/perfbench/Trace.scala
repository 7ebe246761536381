package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext

/** One timed call into a layer. `parent` is the id of the enclosing span
  * (-1 at the root); spans caused by the same operation share `op`. Times
  * are System.nanoTime values. */
final case class Span(id: Int, name: String, layer: String, parent: Int,
    op: Int, start: Long, end: Long, attrs: Map[String, Any])

/** In-memory span recorder. Spans are opened only around the benchmark's
  * own calls into the program's public functions; nothing inside the
  * program is instrumented. While a span is open its id is the Spark job
  * group, so the engine listener bills jobs, stages and tasks to it.
  * Single-threaded: the benchmark calls into the program from one thread. */
final class Tracer(sc: SparkContext, listener: Option[EngineListener]) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private val attrs = mutable.Map.empty[Int, mutable.Map[String, Any]]
  private var nextId = 0

  def enabled: Boolean = listener.isDefined

  def span[T](name: String, layer: String, op: Int)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack.push(id)
      sc.setJobGroup(s"span-$id", name)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.pop()
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"span-$p", name)
          case None => sc.clearJobGroup()
        }
        spans += Span(id, name, layer, parent, op, t0, t1,
          attrs.remove(id).map(_.toMap).getOrElse(Map.empty))
      }
    }

  def spanIf[T](on: Boolean, name: String, layer: String, op: Int)(body: => T): T =
    if (on) span(name, layer, op)(body) else body

  /** Attach a measured value to the innermost open span. */
  def note(key: String, value: Any): Unit =
    stack.headOption.foreach(id =>
      attrs.getOrElseUpdate(id, mutable.Map.empty)(key) = value)

  /** Detach the engine listener, run `body`, attach it again. */
  def paused[T](body: => T): T = listener match {
    case Some(l) =>
      org.apache.spark.perfbench.ListenerBus.waitUntilEmpty(sc)
      sc.removeSparkListener(l)
      try body finally sc.addSparkListener(l)
    case None => body
  }

  /** Every span recorded so far with the engine counts billed to it
    * (jobs started while it was the innermost open span), and the summed
    * counts of jobs outside any span (streaming micro-batches run under
    * their query's own job group), clearing all of it. */
  def drain(): (Seq[Map[String, Any]], Map[String, Any]) = {
    org.apache.spark.perfbench.ListenerBus.waitUntilEmpty(sc)
    val counts = listener.map(_.drain()).getOrElse(Map.empty)
    val other = new EngineCounts
    counts.foreach { case (g, c) =>
      if (!g.startsWith("span-")) {
        other.jobs += c.jobs; other.stages += c.stages; other.tasks += c.tasks
        other.shuffleWriteBytes += c.shuffleWriteBytes
        other.shuffleReadBytes += c.shuffleReadBytes
        other.spillBytes += c.spillBytes; other.gcMs += c.gcMs
        other.recordsRead += c.recordsRead; other.stageSkew ++= c.stageSkew
      }
    }
    val out = spans.toSeq.map { s =>
      Map("id" -> s.id, "name" -> s.name, "layer" -> s.layer,
        "parent" -> s.parent, "op" -> s.op, "start_ns" -> s.start,
        "end_ns" -> s.end, "attrs" -> s.attrs,
        "engine" -> counts.get(s"span-${s.id}").map(_.toMap).getOrElse(Map.empty))
    }
    spans.clear()
    (out, other.toMap)
  }
}
