package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Executor-side work per span, from a SparkListener the benchmark owns.
  * Jobs carry the submitting call's span name as a local property (set by
  * [[Trace]]); stages and tasks are attributed through their job. Only
  * registered when tracing. */
final class SparkProbe extends SparkListener {
  final class Agg {
    var jobs = 0L
    var taskMs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var gcMs = 0L
  }
  private val aggs = mutable.Map[String, Agg]()
  private val stageSpan = mutable.Map[Int, String]()
  private val stageTasks = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  private var started = 0L
  private var ended = 0L
  @volatile private var lastEventNs = System.nanoTime()

  private def agg(span: String): Agg = aggs.getOrElseUpdate(span, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanProperty)))
      .getOrElse("(none)")
    agg(span).jobs += 1
    e.stageIds.foreach(stageSpan(_) = span)
    started += 1
    lastEventNs = System.nanoTime()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    ended += 1
    lastEventNs = System.nanoTime()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    lastEventNs = System.nanoTime()
    val m = e.taskMetrics
    if (m == null) return
    val a = agg(stageSpan.getOrElse(e.stageId, "(none)"))
    a.taskMs += m.executorRunTime
    a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    a.gcMs += m.jvmGCTime
    stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += e.taskInfo.duration
  }

  /** Waits (at most 5 s) until every started job has ended and the bus has
    * been quiet for 200 ms, so the totals include the last job's tasks. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    def settled = synchronized(started == ended) &&
      System.nanoTime() - lastEventNs > 200000000L
    while (!settled && System.nanoTime() < deadline) Thread.sleep(20)
  }

  /** Totals over the spans accepted by `in`: jobs, task ms, shuffle write
    * bytes, spill bytes, GC ms and the worst stage skew (max task time over
    * median, among stages with at least two tasks). */
  def totals(in: String => Boolean): (Long, Long, Long, Long, Long, Double) = synchronized {
    val sel = aggs.filter { case (k, _) => in(k) }.values
    val skew = stageTasks.collect {
      case (sid, ts) if ts.size >= 2 && stageSpan.get(sid).exists(in) =>
        val s = ts.sorted
        val med = Stats.median(s.map(_.toDouble).toSeq)
        if (med > 0) s.last / med else 1.0
    }
    (sel.map(_.jobs).sum, sel.map(_.taskMs).sum, sel.map(_.shuffleWriteBytes).sum,
      sel.map(_.spillBytes).sum, sel.map(_.gcMs).sum,
      if (skew.isEmpty) 1.0 else skew.max)
  }
}

/** Driver JVM counters: collector time and the peak of the heap pools. */
object Jvm {
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** CPU time (ns) of the JVM's live Java threads: the driver and the local
    * executors (the process-wide figure ticks in 10 ms steps). Time the
    * host steals from a virtual machine's processors is not in it. */
  def cpuNs: Long = threads.getThreadCpuTime(threads.getAllThreadIds).filter(_ > 0).sum

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  def resetPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}
