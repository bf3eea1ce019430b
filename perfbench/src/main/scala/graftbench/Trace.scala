package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Wall clock in epoch microseconds with nanoTime resolution, so spans
  * line up with Spark's epoch-millisecond task timestamps.
  */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseMs * 1000L + (System.nanoTime() - baseNs) / 1000L
}

/** One traced interval. `parent` is 0 for a root span; `tag` is the
  * op or micro-batch id all spans of one request share.
  */
final case class Span(id: Int, parent: Int, name: String, startUs: Long,
    endUs: Long, tag: String) {
  def durUs: Long = endUs - startUs
}

/** In-memory span recorder; written out once, when the run ends. A
  * disabled tracer records nothing and costs one branch per span.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1

  def span[T](name: String, parent: Int, tag: String)(body: Int => T): T =
    if (!enabled) body(0)
    else {
      val id = nextId; nextId += 1
      val t0 = Clock.nowUs
      try body(id)
      finally spans += Span(id, parent, name, t0, Clock.nowUs, tag)
    }

  def all: Seq[Span] = spans.toSeq

  /** Self time per span name: each span's duration minus the part its
    * direct children cover (children of one span never overlap here).
    */
  def selfUs: Map[String, Long] = {
    val childUs = spans.groupBy(_.parent).view.mapValues(_.map(_.durUs).sum).toMap
    spans.groupBy(_.name).view.mapValues(_.map(s =>
      math.max(0L, s.durUs - childUs.getOrElse(s.id, 0L))).sum).toMap
  }

  def dump(path: String): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      out.println(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_us":${s.startUs},"end_us":${s.endUs},"tag":"${s.tag}"}""")
    } finally out.close()
  }
}

/** Task-level counters of one job group (one benchmark op). */
final class GroupStats {
  var jobs, stages, tasks, failedTasks = 0L
  var runMs, gcMs, deserMs, waitMs = 0L
  var shuffleWrite, shuffleRead, spill, result, inBytes, inRecords = 0L
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)] // task launch/finish, epoch ms
  val jobStartMs = mutable.ArrayBuffer.empty[Long]

  /** Milliseconds of [fromMs, toMs] during which no task of this group
    * ran: driver-side time inside an execution.
    */
  def idleMs(fromMs: Long, toMs: Long): Long = {
    val clipped = intervals.iterator
      .map { case (a, b) => (math.max(a, fromMs), math.min(b, toMs)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var covered = 0L
    var curA = -1L; var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0L, (toMs - fromMs) - covered)
  }
}

/** Attributes Spark jobs, stages and task metrics to job groups. Each
  * benchmark op runs in its own group, so counters land on the op that
  * caused them.
  */
final class GroupListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageSubmitted = new ConcurrentHashMap[Int, Long]()
  private val groups = new ConcurrentHashMap[String, GroupStats]()
  /** Time spent inside this listener: the tracing's own cost. */
  @volatile var busyNs = 0L

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    f
    busyNs += System.nanoTime() - t0
  }

  def stats(group: String): GroupStats =
    groups.computeIfAbsent(group, _ => new GroupStats)

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val g = groupOf(e.properties)
    e.stageIds.foreach(stageGroup.put(_, g))
    val s = stats(g)
    s.synchronized { s.jobs += 1; s.jobStartMs += e.time }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
    stageSubmitted.put(e.stageInfo.stageId,
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val s = stats(stageGroup.getOrDefault(e.stageInfo.stageId, "none"))
    s.synchronized { s.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val s = stats(stageGroup.getOrDefault(e.stageId, "none"))
    val info = e.taskInfo
    val m = e.taskMetrics
    s.synchronized {
      s.tasks += 1
      if (!info.successful) s.failedTasks += 1
      s.intervals += ((info.launchTime, info.finishTime))
      val submitted = stageSubmitted.getOrDefault(e.stageId, info.launchTime)
      s.waitMs += math.max(0L, info.launchTime - submitted)
      if (m != null) {
        s.runMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.deserMs += m.executorDeserializeTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.result += m.resultSize
        s.inBytes += m.inputMetrics.bytesRead
        s.inRecords += m.inputMetrics.recordsRead
      }
    }
  }
}

/** Janino compilations, read from Spark's static codegen histogram.
  * The histogram keeps every sample until 1028 are recorded, so sums
  * of its values are exact for runs below that and approximate above.
  */
object Codegen {
  import org.apache.spark.metrics.source.CodegenMetrics
  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def compileMsTotal: Double =
    CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getValues.map(_.toDouble).sum
}
