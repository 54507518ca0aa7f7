package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer: `parent` is the id of the enclosing span
  * (-1 at top level); all spans of one traced run share `trace`. */
final case class Span(id: Int, trace: String, name: String, parent: Int,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Each span also becomes the Spark job group of
  * the jobs it starts, so the listener can attribute tasks to spans. Spans
  * are kept in memory and written out once, when the run ends. */
final class Tracer(sc: SparkContext, val trace: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil

  def span[T](name: String)(body: => T): T = {
    val id = spans.size
    val parent = stack.headOption.getOrElse(-1)
    spans += Span(id, trace, name, parent, System.nanoTime(), 0L)
    stack = id :: stack
    sc.setJobGroup(name, name)
    try body
    finally {
      spans(id) = spans(id).copy(endNs = System.nanoTime())
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(spans(p).name, spans(p).name)
        case None => sc.clearJobGroup()
      }
    }
  }

  def all: Seq[Span] = spans.toSeq

  /** A span's duration minus the part of it its direct children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  def toJson: String = spans.map { s =>
    s"""{"trace":"${s.trace}","id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${selfSeconds(s)}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Per job-group counters from task-end events. */
final class GroupStats {
  var jobs = 0L
  var tasks = 0L
  var busyMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** Listener behind the storage metric (always on) and the per-layer counts
  * (only when `full`). Block updates give the storage memory held by cached
  * RDD blocks; task ends give busy time, shuffle, spill and task intervals. */
final class BenchListener(full: Boolean) extends SparkListener {
  private val blockMem = mutable.HashMap.empty[String, Long]
  private var heldBytes = 0L
  @volatile private var peakBytes = 0L

  private val stageGroup = mutable.HashMap.empty[Int, String]
  val groups = mutable.HashMap.empty[String, GroupStats]
  /** (launch ms, finish ms, stage id, duration ms) per finished task. */
  val tasks = mutable.ArrayBuffer.empty[(Long, Long, Int, Long)]
  var jobs = 0L

  def resetPeak(): Unit = synchronized { peakBytes = heldBytes }
  def peakMb: Double = synchronized { peakBytes / 1048576.0 }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = s"${info.blockManagerId.executorId}/${info.blockId.name}"
      val now = if (info.storageLevel.isValid) info.memSize else 0L
      heldBytes += now - blockMem.getOrElse(key, 0L)
      if (now == 0L) blockMem.remove(key) else blockMem(key) = now
      if (heldBytes > peakBytes) peakBytes = heldBytes
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (full) synchronized {
    jobs += 1
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    val stats = groups.getOrElseUpdate(g, new GroupStats)
    stats.jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (full) synchronized {
    val g = groups.getOrElseUpdate(stageGroup.getOrElse(e.stageId, "none"), new GroupStats)
    g.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      g.busyMs += m.executorRunTime
      g.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      g.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
    tasks += ((e.taskInfo.launchTime, e.taskInfo.finishTime, e.stageId, e.taskInfo.duration))
  }

  /** Totals over every group: (jobs, tasks, busy ms, shuffle bytes, spill). */
  def totals: (Long, Long, Long, Long, Long) = synchronized {
    (jobs, groups.values.map(_.tasks).sum, groups.values.map(_.busyMs).sum,
      groups.values.map(_.shuffleWriteBytes).sum, groups.values.map(_.spillBytes).sum)
  }

  def taskCount: Int = synchronized { tasks.size }

  /** Tasks finished after index `from`, in a round's window. */
  def tasksSince(from: Int): Seq[(Long, Long, Int, Long)] = synchronized { tasks.drop(from).toSeq }
}

object Intervals {
  /** Length (ms) of the part of [lo, hi] covered by no interval. */
  def uncovered(lo: Long, hi: Long, intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var end = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > end) { covered += b - math.max(a, end); end = b }
      }
    (hi - lo) - covered
  }
}
