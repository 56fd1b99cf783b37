package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.storage.BlockId

import scala.collection.mutable

/** One timed interval around a layer call. `parent` is -1 for a root. */
final case class Span(id: Int, parent: Int, name: String, runId: String,
    iteration: Int, startNs: Long, endNs: Long) {
  def durationNs: Long = endNs - startNs
}

object Span {
  /**
   * Self time of every span: its duration minus the part of its interval
   * that its direct children cover (overlapping children counted once).
   */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach)
          else (sum + b - math.max(a, reach), b)
        }._1
      s.id -> (s.durationNs - covered)
    }.toMap
  }

  def toJson(s: Span, selfNs: Long): String =
    s"""{"run":"${s.runId}","iteration":${s.iteration},"id":${s.id},"parent":${s.parent},""" +
      s""""name":"${s.name}","start_ms":${s.startNs / 1e6},"end_ms":${s.endNs / 1e6},""" +
      s""""self_ms":${selfNs / 1e6}}"""
}

/** Task counters folded per span by [[TaskListener]]. */
final class SpanCounters {
  var jobs = 0
  var execCpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  val taskMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty
}

/**
 * Maps each Spark job to the span that started it (the id [[Tracer]] puts in
 * the driver thread's local properties) and folds each finished task's
 * metrics into that span's counters. Jobs started outside any span are
 * ignored.
 */
final class TaskListener extends SparkListener {
  private val stageSpan = scala.collection.concurrent.TrieMap.empty[Int, Int]
  val counters: scala.collection.concurrent.TrieMap[Int, SpanCounters] =
    scala.collection.concurrent.TrieMap.empty

  private def of(span: Int): SpanCounters = counters.getOrElseUpdate(span, new SpanCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .foreach { s =>
        val span = s.toInt
        of(span).synchronized { of(span).jobs += 1 }
        e.stageIds.foreach(stageSpan.put(_, span))
      }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    for (span <- stageSpan.get(e.stageId) if m != null) {
      val c = of(span)
      c.synchronized {
        c.execCpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
        c.outputBytes += m.outputMetrics.bytesWritten
        c.taskMs += e.taskInfo.duration
      }
    }
  }
}

/**
 * Follows the cached RDD blocks in block-manager memory through block
 * updates, and the peak of their total size since the last `resetPeak`.
 * Graft releases superseded superstep states asynchronously; following the
 * updates, rather than sampling, keeps the peak independent of that timing.
 */
final class StorageListener extends SparkListener {
  private val sizes = mutable.HashMap.empty[BlockId, Long]
  private var current = 0L
  private var peak = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val size = if (info.storageLevel.isValid) info.memSize else 0L
      current += size - sizes.getOrElse(info.blockId, 0L)
      if (size == 0) sizes.remove(info.blockId) else sizes(info.blockId) = size
      peak = math.max(peak, current)
    }
  }

  def resetPeak(): Unit = synchronized { peak = current }
  def peakBytes: Long = synchronized(peak)
}

/**
 * Records spans on the driver thread. With `enabled = false` a span only
 * runs its body, so untraced iterations pay nothing.
 */
final class Tracer(sc: SparkContext, val runId: String) {
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var nextId = 0
  private var stack: List[Int] = Nil
  var enabled = false
  var iteration = 0

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.setLocalProperty(Tracer.SpanProperty, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, name, runId, iteration, t0, System.nanoTime())
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanProperty, stack.headOption.map(_.toString).orNull)
      }
    }
}

object Tracer {
  val SpanProperty = "graftbench.span"
}
