package perfbench

import org.apache.spark.scheduler._
import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

/** A span around one call into a graft module, recorded from the
  * benchmark's side of the call. Times are ms since JVM start. */
final case class Span(id: Int, name: String, start: Double, end: Double, parent: Int, op: Int) {
  def dur: Double = end - start
}

/** In-memory span recorder. Disabled, it only runs the body. */
final class Tracer(var enabled: Boolean, t0Nanos: Long) {
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  var op: Int = -1

  def nowMs: Double = (System.nanoTime() - t0Nanos) / 1e6

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val s = nowMs
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans += Span(id, name, s, nowMs, parent, op)
      }
    }

  /** Self time per span name: duration minus the time its direct
    * children cover (children of one span never overlap here: the
    * benchmark is one thread). */
  def selfTimes: Map[String, Double] = {
    val childCover = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.dur).sum }
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.dur - childCover.getOrElse(s.id, 0.0)).sum
    }
  }

  def writeJsonl(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.sortBy(_.id).foreach { s =>
      w.println(Json.obj(Seq("id" -> s.id, "name" -> s.name, "start_ms" -> s.start,
        "end_ms" -> s.end, "parent" -> s.parent, "op" -> s.op)))
    } finally w.close()
  }
}

/** Spark execution counters of one op (one job group). */
final class ExecCounters {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var shuffleRead, shuffleWrite, spill, input, inputRecords, output = 0L
  val jobSpans = ArrayBuffer.empty[(Long, Long)]

  /** Wall ms covered by the union of this op's job intervals. */
  def jobUnionMs: Long = unionMs(jobSpans.toSeq)

  /** Wall ms of the union of this op's job intervals that lies inside
    * [from, to] (epoch ms). */
  def jobUnionMs(from: Long, to: Long): Long =
    unionMs(jobSpans.toSeq.map { case (s, e) => (math.max(s, from), math.min(e, to)) }.filter { case (s, e) => s < e })

  private def unionMs(spans: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    spans.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    covered + (curE - curS)
  }
}

/** Attributes Spark events to the op whose job group is set while the
  * event's job runs. */
final class OpListener extends SparkListener {
  private val byGroup = TrieMap.empty[String, ExecCounters]
  private val stageGroup = TrieMap.empty[Int, String]
  private val jobStarts = TrieMap.empty[Int, (String, Long)]
  @volatile var blocksDropped = 0L

  def counters(group: String): ExecCounters = byGroup.getOrElseUpdate(group, new ExecCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
      counters(g).jobs += 1
      jobStarts.put(e.jobId, (g, e.time))
      e.stageIds.foreach(stageGroup.put(_, g))
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStarts.remove(e.jobId).foreach { case (g, t) => counters(g).jobSpans += ((t, e.time)) }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageGroup.get(e.stageInfo.stageId).foreach(counters(_).stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = counters(g)
      c.tasks += 1
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.input += m.inputMetrics.bytesRead
      c.inputRecords += m.inputMetrics.recordsRead
      c.output += m.outputMetrics.bytesWritten
    }

  // An RDD block whose new storage level is not in memory left memory:
  // evicted under memory pressure, or released by an unpersist.
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val i = e.blockUpdatedInfo
    if (i.blockId.isRDD && !i.storageLevel.useMemory) blocksDropped += 1
  }
}
