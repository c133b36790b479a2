package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext

import graft.util.PhaseTimer

/** One recorded interval. `parent` is -1 for an operation's root span.
  * Spans the program itself timed (its PhaseTimer keys) carry
  * `derived = true`: their length is known, their position is not.
  */
final case class Span(id: Int, parent: Int, layer: String, name: String,
                      startNs: Long, endNs: Long, run: String, derived: Boolean) {
  def durNs: Long = endNs - startNs
}

/** Spans around the benchmark's calls into the program's layers, kept in
  * memory and written out when the run ends. Recording happens only
  * while [[active]] (one operation at a time, one client thread); an
  * inactive tracer runs the body and records nothing.
  *
  * The warehouse's own PhaseTimer keys (`wh.*`) are read as deltas over
  * each span and become derived `catalog` children, so a call that
  * reaches the catalog through another layer has that share taken out
  * of its self time. While a span is open, the Spark jobs the client
  * thread submits carry its name (see [[SparkRecorder]]).
  */
final class Tracer(run: String, sc: SparkContext) {
  private val spans = mutable.ArrayBuffer[Span]()
  private final class Frame(val id: Int, val pt0: Map[String, Double]) {
    val claimed = mutable.Map[String, Double]().withDefaultValue(0.0)
  }
  private var stack: List[Frame] = Nil
  var active = false

  def span[T](layer: String, name: String)(f: => T): T =
    if (!active) f
    else {
      val id = spans.size
      spans += null // placeholder keeps ids in start order
      val frame = new Frame(id, PhaseTimer.snapshot)
      val parent = stack.headOption.map(_.id).getOrElse(-1)
      stack = frame :: stack
      val outer = sc.getLocalProperty(SparkRecorder.SpanProperty)
      sc.setLocalProperty(SparkRecorder.SpanProperty, name)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        sc.setLocalProperty(SparkRecorder.SpanProperty, outer)
        stack = stack.tail
        spans(id) = Span(id, parent, layer, name, t0, t1, run, derived = false)
        val pt1 = PhaseTimer.snapshot
        Tracer.catalogPhases.foreach { case (key, child) =>
          val total = pt1.getOrElse(key, 0.0) - frame.pt0.getOrElse(key, 0.0)
          val own = total - frame.claimed(key)
          if (own > 0) {
            val ns = (own * 1e9).toLong
            spans += Span(spans.size, id, "catalog", child, t1 - ns, t1, run, derived = true)
          }
          stack.headOption.foreach(p => p.claimed(key) += total)
        }
      }
    }

  def all: Seq[Span] = spans.toSeq

  def spansOf(root: Int): Seq[Span] = {
    val ids = mutable.Set(root)
    spans.iterator.drop(root).filter { s =>
      val in = s.id == root || ids.contains(s.parent)
      if (in) ids += s.id
      in
    }.toSeq
  }

  /** Self time per layer over the given spans: each span's length minus
    * the part its children cover. Children of one parent run one after
    * another on the single client thread, so their lengths add up.
    */
  def selfTimes(ss: Seq[Span]): Map[String, Double] = {
    val childNs = ss.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.durNs).sum }
    ss.groupBy(_.layer).map { case (layer, xs) =>
      layer -> xs.map(s => math.max(0L, s.durNs - childNs.getOrElse(s.id, 0L))).sum / 1e9
    }
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}","name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"run":"${s.run}","derived":${s.derived}}"""
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ()
  }
}

object Tracer {
  /** The warehouse's exclusive PhaseTimer keys and the catalog span
    * each becomes. `wh.registry` and `wh.validate` fold into `other`.
    */
  val catalogPhases: Seq[(String, String)] = Seq(
    "wh.data" -> "catalog.data", "wh.stats" -> "catalog.stats",
    "wh.manifest" -> "catalog.manifest", "wh.commit" -> "catalog.commit",
    "wh.registry" -> "catalog.other", "wh.validate" -> "catalog.other")
}
