package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded from outside the program, around the benchmark's calls
  * into `core`, `sources`, `examples` and `ops`. Disabled, a span is a
  * plain call; enabled, it keeps (name, parent, start, end) in memory. */
final class Tracer {
  final case class Span(name: String, parent: Int, startNs: Long, endNs: Long)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  var enabled = false

  def apply[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val idx = spans.size
      spans += Span(name, stack.headOption.getOrElse(-1), System.nanoTime(), 0L)
      stack = idx :: stack
      try f
      finally {
        stack = stack.tail
        spans(idx) = spans(idx).copy(endNs = System.nanoTime())
      }
    }

  /** Per span name: count, summed wall and summed self time (wall minus
    * the part its direct children cover; children run sequentially on
    * the driver thread, so their walls add). */
  def summary: Map[String, (Int, Double, Double)] = {
    val childWall = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childWall(s.parent) += s.endNs - s.startNs)
    spans.zipWithIndex.groupBy(_._1.name).map { case (name, ss) =>
      val wall = ss.map { case (s, _) => s.endNs - s.startNs }.sum
      val self = ss.map { case (s, i) => s.endNs - s.startNs - childWall(i) }.sum
      name -> ((ss.size, wall / 1e9, self / 1e9))
    }
  }

  def wall(name: String): Double = summary.get(name).map(_._2).getOrElse(0.0)
}

/** Engine counts from a `SparkListener`: jobs, stages, tasks, executor
  * time, shuffle, spill and output bytes, and job intervals for the
  * driver gap. */
final class EngineProbe extends SparkListener {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, shuffleWrite, shuffleRead, spill, outputBytes = 0L
  private val jobStart = mutable.Map.empty[Int, Long]
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1; jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      outputBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Wall time of `windows` (epoch ms) covered by no running job. */
  def uncoveredMs(windows: Seq[(Long, Long)]): Long = synchronized {
    val jobsSorted = jobIntervals.sortBy(_._1)
    windows.map { case (w0, w1) =>
      var covered = 0L
      var reach = w0
      jobsSorted.foreach { case (s, e) =>
        val (a, b) = (math.max(s, reach), math.min(e, w1))
        if (b > a) { covered += b - a; reach = b }
      }
      (w1 - w0) - covered
    }.sum
  }
}

/** Catalyst phase times of every executed query, from
  * `QueryExecution.tracker.phases` — the optimizer here runs with the
  * `plans` GraftExtensions rules installed. */
final class PlanProbe extends QueryExecutionListener {
  var queries = 0L
  val phaseMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    queries += 1
    qe.tracker.phases.foreach { case (phase, s) => phaseMs(phase) += s.durationMs }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** JVM and host readings: GC time, heap peak, CPU steal ticks, load. */
object Host {
  def gcMs(): Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.max(0L)).sum

  private def heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
    .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  def stealTicks(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).map(_.trim.split("\\s+")(8).toLong).getOrElse(-1L)
      finally src.close()
    } catch { case _: Exception => -1L }

  def loadAvg1m(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+")(0).toDouble finally src.close()
    } catch { case _: Exception => -1.0 }

  def maxHeapMb: Double = Runtime.getRuntime.maxMemory / 1048576.0

  /** Storage memory the session's block manager can hold. */
  def storageMemoryMb(spark: SparkSession): Double =
    spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum / 1048576.0
}

/** Minimal JSON rendering for the result lines. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case o => apply(o.toString)
  }
}
