package perfbench

import scala.collection.mutable

/** Client-side timing of every call the benchmark makes into a layer.
  *
  * Every call is timed, in wall time and in the CPU time of the JVM's
  * threads (the end-to-end metrics need the durations with tracing off
  * too). With tracing on, each call also becomes a span: name, start, end,
  * parent span and the run id, kept in memory and written out when the
  * run ends. The span name is also set as a Spark local property,
  * so the [[SparkProbe]] listener can attribute executor work to it. */
final class Trace(val enabled: Boolean, val runId: String,
    spark: org.apache.spark.sql.SparkSession) {
  import Trace._

  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var nextId = 0
  private val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private val cpuSamples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()

  /** Runs `f` as one call named `name`; its wall and CPU durations (ms)
    * are kept under that name when `f` returns normally. */
  def apply[A](name: String)(f: => A): A = {
    val parent = stack.headOption.map(_.id).getOrElse(-1)
    val cpu0 = Jvm.cpuNs
    val span = Span(nextId, parent, name, System.nanoTime(), 0L)
    nextId += 1
    if (enabled) {
      stack = span :: stack
      spark.sparkContext.setLocalProperty(SpanProperty, name)
    }
    var ok = false
    try {
      val r = f
      ok = true
      r
    } finally {
      val end = System.nanoTime()
      if (ok) {
        samples.getOrElseUpdate(name, mutable.ArrayBuffer()) += (end - span.start) / 1e6
        cpuSamples.getOrElseUpdate(name, mutable.ArrayBuffer()) += (Jvm.cpuNs - cpu0) / 1e6
      }
      if (enabled) {
        stack = stack.tail
        spans += span.copy(end = end)
        spark.sparkContext.setLocalProperty(SpanProperty, stack.headOption.map(_.name).orNull)
      }
    }
  }

  /** Durations (ms) of the successful calls named `name`, in call order. */
  def ms(name: String): Seq[Double] = samples.get(name).map(_.toSeq).getOrElse(Nil)
  def last(name: String): Double = ms(name).last
  /** CPU durations (ms) of the successful calls named `name`, in call order. */
  def cpuMs(name: String): Seq[Double] = cpuSamples.get(name).map(_.toSeq).getOrElse(Nil)

  /** Per span name: calls, total ms and self ms (duration minus the part
    * covered by child spans). */
  def selfTimes: Seq[(String, Int, Double, Double)] = {
    val childMs = mutable.Map[Int, Long]().withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childMs(s.parent) += s.end - s.start)
    spans.groupBy(_.name).toSeq.map { case (n, ss) =>
      val total = ss.map(s => s.end - s.start).sum
      val self = ss.map(s => s.end - s.start - childMs(s.id)).sum
      (n, ss.size, total / 1e6, self / 1e6)
    }.sortBy(-_._4)
  }

  def spanCount: Int = spans.size

  def writeSpans(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.sortBy(_.start).foreach { s =>
      sb ++= s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end}}"""
      sb += '\n'
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Trace {
  val SpanProperty = "perfbench.span"
  final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long)
}
