package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** One finished span: a call into a layer, timed by the benchmark around
  * the call. `parent` is -1 for a root. `counters` holds the Spark
  * counters accrued inside the span plus any counts the caller recorded
  * at the same boundary. Times are `System.nanoTime` values; `endWallMs`
  * is the wall clock at the end, comparable with scheduler timestamps. */
final case class SpanRec(
    id: Int,
    parent: Int,
    name: String,
    startNs: Long,
    endNs: Long,
    endWallMs: Long,
    spark: SparkCounters.Snapshot,
    counters: Map[String, Double]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder for one traced run. Spans nest by call
  * structure (layers are called from one thread). The recorder only
  * exists in traced iterations; untraced code calls [[Trace.span]] with
  * `None`, which runs the body and records nothing. */
final class Tracer(val runId: String, counters: Option[SparkCounters]) {
  private val done    = mutable.ArrayBuffer.empty[SpanRec]
  private val extra   = mutable.Map.empty[Int, mutable.Map[String, Double]]
  private var stack   = List.empty[Int]
  private var nextId  = 0

  def span[A](name: String)(body: => A): A = {
    val id     = nextId
    val parent = stack.headOption.getOrElse(-1)
    nextId += 1
    val before = counters.fold(SparkCounters.Empty)(_.snapshot())
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      val t1     = System.nanoTime()
      val wallMs = System.currentTimeMillis()
      stack = stack.tail
      val after = counters.fold(SparkCounters.Empty)(_.snapshot())
      val delta = after.since(before)
      done += SpanRec(id, parent, name, t0, t1, wallMs, delta,
        delta.totals ++ extra.remove(id).map(_.toMap).getOrElse(Map.empty))
    }
  }

  /** Records a count on the innermost open span. */
  def count(name: String, value: Double): Unit =
    stack.headOption.foreach(id => extra.getOrElseUpdate(id, mutable.Map.empty)(name) = value)

  def spans: Seq[SpanRec] = done.toSeq

  def named(name: String): Seq[SpanRec] = done.filter(_.name == name).toSeq

  def selfNs(s: SpanRec): Long =
    Stats.selfTime(s.startNs, s.endNs, done.filter(_.parent == s.id).map(c => (c.startNs, c.endNs)).toSeq)

  /** Appends one JSON line per span: name, start, end, parent, run id,
    * self time and counters. */
  def writeJsonl(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val lines = done.sortBy(_.id).map { s =>
      val cs = s.counters.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
      s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":${selfNs(s)},""" +
        s""""counters":{$cs}}"""
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
  }
}

object Trace {
  def span[A](t: Option[Tracer], name: String)(body: => A): A =
    t match {
      case Some(tr) => tr.span(name)(body)
      case None     => body
    }
}

/** The few JSON renderings the benchmark needs. */
object Json {
  /** A finite number with all its digits (JSON has no NaN or infinity). */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
}
