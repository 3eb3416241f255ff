package graftbench

import scala.collection.mutable
import scala.util.control.NonFatal

/** Times the benchmark's calls into the program and counts failures.
  *
  * A call that throws a non-fatal exception, or whose output check fails,
  * is a failed call; fatal errors are not caught. A failed call's
  * latency sample is +∞, so it lies beyond every tail. With a [[Tracer]],
  * each call is also a span.
  */
final class Harness(var tracer: Option[Tracer]) {
  var attempted = 0L
  var failed = 0L
  val errors: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  /** Run one call into the program; None when it failed. */
  def call[T](span: String, tag: String = "")(f: => T): Option[T] = {
    attempted += 1
    val id = tracer.map(_.openSpan(span, tag))
    val t0 = System.nanoTime()
    val r = try Some(f) catch {
      case NonFatal(e) =>
        fail(s"$span${if (tag.nonEmpty) s"[$tag]" else ""}: ${e.getClass.getName}: ${e.getMessage}")
        None
    } finally id.foreach(i => tracer.foreach(_.closeSpan(i)))
    val ms = (System.nanoTime() - t0) / 1e6
    sample(key(span, tag), if (r.isDefined) ms else Double.PositiveInfinity)
    r
  }

  /** An output check of an earlier call: a false or throwing check
    * counts that call as failed. */
  def check(what: String)(ok: => Boolean): Unit =
    try { if (!ok) fail(s"check $what: output differs from the model") } catch {
      case NonFatal(e) => fail(s"check $what threw ${e.getClass.getName}: ${e.getMessage}")
    }

  /** The benchmark's own Spark work (checks, measurements): traced runs
    * tag its jobs so they are not taken for unattributed program work. */
  def own[T](f: => T): T = tracer match {
    case Some(t) =>
      val id = t.openOwn()
      try f finally t.closeSpan(id)
    case None => f
  }

  private def fail(msg: String): Unit = {
    failed += 1
    if (errors.size < 20) errors += msg
    System.err.println(s"[graftbench] FAILED $msg")
  }

  def key(span: String, tag: String): String = if (tag.isEmpty) span else s"$span:$tag"

  def sample(key: String, ms: Double): Unit =
    samples.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += ms

  def samplesOf(key: String): Seq[Double] = samples.get(key).map(_.toSeq).getOrElse(Nil)
}
