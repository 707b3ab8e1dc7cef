package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** The benchmark's clock: epoch ms with sub-ms digits, advancing with
  * `System.nanoTime`, so wall-clock steps do not move it. */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseEpochMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseEpochMs + (System.nanoTime() - baseNano) / 1e6
}

/** One span: a call into a layer, timed from the benchmark's side. The
  * layer is the name's prefix before the first dot. `key` ties the spans of
  * one batch or one query together. */
final case class Span(id: Long, name: String, startMs: Double, endMs: Double,
                      parent: Long, key: String) {
  def layer: String = name.takeWhile(_ != '.')
  def ms: Double = endMs - startMs
}

/** Spans held in memory for the run and written out at its end. */
final class Trace {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def add(name: String, startMs: Double, endMs: Double, parent: Long, key: String): Long = {
    val id = ids.incrementAndGet()
    spans.add(Span(id, name, startMs, endMs, parent, key))
    id
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per layer: each span's duration minus the part of it that
    * its children cover (children may overlap each other). */
  def selfMsByLayer: Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val ivs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered, curA, curB = 0.0
      var started = false
      ivs.foreach { case (a, b) =>
        if (!started) { curA = a; curB = b; started = true }
        else if (a <= curB) curB = math.max(curB, b)
        else { covered += curB - curA; curA = a; curB = b }
      }
      if (started) covered += curB - curA
      s.layer -> math.max(0.0, s.ms - covered)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  def toJson: String = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val self = selfMsByLayer.toSeq.sortBy(_._1)
      .map { case (l, ms) => s"${q(l)}: ${"%.3f".format(ms)}" }.mkString(", ")
    val rows = all.sortBy(_.startMs).map { s =>
      s"""{"id": ${s.id}, "name": ${q(s.name)}, "start_ms": ${"%.3f".format(s.startMs)}, """ +
      s""""end_ms": ${"%.3f".format(s.endMs)}, "parent": ${s.parent}, "key": ${q(s.key)}}"""
    }.mkString(",\n  ")
    s"""{"self_ms_by_layer": {$self},\n "spans": [\n  $rows\n ]}"""
  }
}
