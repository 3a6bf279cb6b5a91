package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Spans recorded by the benchmark around its calls into each layer. They
  * stay in memory and are written with the run's record. A disabled tracer
  * runs the body and records nothing. Progress reports arrive on Spark's
  * listener thread, so the span list is guarded by the tracer's lock.
  */
final class Tracer(var enabled: Boolean) {
  private val t0 = System.nanoTime()
  private val stack = scala.collection.mutable.Stack.empty[Int]
  val spans = ArrayBuffer.empty[Map[String, Any]]

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val (id, parent) = synchronized {
        val id = spans.length
        val parent = stack.headOption.getOrElse(-1)
        spans += Map.empty
        stack.push(id)
        (id, parent)
      }
      val start = System.nanoTime()
      try body
      finally synchronized {
        stack.pop()
        spans(id) = Map("id" -> id, "parent" -> parent, "name" -> name,
          "start_ms" -> (start - t0) / 1e6, "end_ms" -> (System.nanoTime() - t0) / 1e6)
      }
    }

  /** A span known only after the fact (a micro-batch from its progress
    * report), attached to the innermost open span.
    */
  def record(name: String, durationMs: Double, attrs: Map[String, Any]): Unit =
    if (enabled) synchronized {
      val end = (System.nanoTime() - t0) / 1e6
      spans += attrs ++ Map("id" -> spans.length,
        "parent" -> stack.headOption.getOrElse(-1), "name" -> name,
        "start_ms" -> (end - durationMs), "end_ms" -> end)
    }
}

object Stats {

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of an unweighted sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Quantile of a weighted sample: the smallest value whose cumulative
    * weight reaches `q` of the total.
    */
  def weightedQuantile(xs: Seq[(Double, Long)], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sortBy(_._1)
    val total = s.map(_._2).sum.toDouble
    var cum = 0L
    s.find { case (_, w) => cum += w; cum >= q * total }.getOrElse(s.last)._1
  }

  /** Total collection time of every JVM collector so far, in ms. */
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
}

/** Minimal JSON writer for the run record. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
