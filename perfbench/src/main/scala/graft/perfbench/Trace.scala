package graft.perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** One traced interval. Spans of one op share `op`; `parent` is 0 for
 *  an op's root span. Times are epoch milliseconds with sub-ms digits. */
final case class Span(id: Long, parent: Long, op: String, name: String,
    startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

object Spans {

  /** Length of the union of `intervals`, each clipped to [lo, hi]. */
  def coveredMs(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    clipped.foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Self time of every span: its duration minus the part of it that
   *  its children cover (overlapping children count once). */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs))
      s.id -> (s.durMs - coveredMs(cs, s.startMs, s.endMs))
    }.toMap
  }

  /** The deepest span of `op` whose interval contains `t`: the span a
   *  Spark job started at `t` on the op's thread belongs under. */
  def innermost(spans: Seq[Span], op: String, t: Double): Option[Span] = {
    val depth = mutable.Map.empty[Long, Int]
    val byId = spans.map(s => s.id -> s).toMap
    def d(s: Span): Int = depth.getOrElseUpdate(s.id,
      byId.get(s.parent).map(p => d(p) + 1).getOrElse(0))
    spans.filter(s => s.op == op && s.startMs <= t && t <= s.endMs)
      .sortBy(s => -d(s)).headOption
  }
}

/** In-memory span recorder for the single client thread. Disabled, it
 *  only runs the body, so traced and untraced ops run the same code. */
final class Tracer {
  private val nano0 = System.nanoTime()
  private val wall0 = System.currentTimeMillis().toDouble
  private val buf = ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Long]
  private var nextId = 1L

  /** Wall clock in epoch ms on the monotonic clock, so benchmark spans
   *  and Spark listener timestamps share one time axis. */
  def nowMs: Double = wall0 + (System.nanoTime() - nano0) / 1e6

  def spans: Seq[Span] = buf.toSeq

  def add(s: Span): Unit = buf += s

  def freshId(): Long = { val i = nextId; nextId += 1; i }

  def span[T](enabled: Boolean, op: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = freshId()
      val parent = stack.headOption.getOrElse(0L)
      val t0 = nowMs
      stack.push(id)
      try body
      finally {
        stack.pop()
        buf += Span(id, parent, op, name, t0, nowMs)
      }
    }
}

/** Task-level totals for one op, summed over its jobs. */
final case class OpSpark(
    stages: Int, tasks: Int,
    taskCpuMs: Double, gcMs: Double,
    shuffleWriteBytes: Long, shuffleWriteRecords: Long, shuffleReadBytes: Long,
    spillBytes: Long, peakExecMemBytes: Long,
    inputBytes: Long, inputRecords: Long, outputBytes: Long,
    taskWaitMs: Double, taskSkew: Double,
    jobIntervals: Seq[(Double, Double)])

/**
 * Collects job, stage and task metrics for traced ops. Ops mark their
 * jobs with the Spark job group `<prefix><op id>`; jobs in other
 * groups (untraced ops, set-up, checks) are ignored. Events arrive on
 * Spark's listener bus thread; readers drain the bus first.
 */
final class OpListener(prefix: String) extends SparkListener {
  private final class StageRec(val op: String) {
    var submitMs = Double.NaN
    var endMs = Double.NaN
    val taskMs = ArrayBuffer.empty[Double]
    var waitMs = 0.0
    var cpuNs = 0L
    var gcMs = 0L
    var shW = 0L; var shWRec = 0L; var shR = 0L; var spill = 0L; var peak = 0L
    var inB = 0L; var inRec = 0L; var outB = 0L
  }
  private final class JobRec(val op: String, val startMs: Double, val stageIds: Seq[Int]) {
    var endMs = Double.NaN
  }
  private val jobs = mutable.Map.empty[Int, JobRec]
  private val stages = mutable.Map.empty[Int, StageRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group.filter(_.startsWith(prefix)).foreach { g =>
      val op = g.stripPrefix(prefix)
      jobs(e.jobId) = new JobRec(op, e.time.toDouble, e.stageIds)
      e.stageIds.foreach(s => stages(s) = new StageRec(op))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach { r =>
      e.stageInfo.submissionTime.foreach(t => r.submitMs = t.toDouble)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach { r =>
      e.stageInfo.submissionTime.foreach(t => r.submitMs = t.toDouble)
      e.stageInfo.completionTime.foreach(t => r.endMs = t.toDouble)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get(e.stageId).foreach { r =>
      val info = e.taskInfo
      r.taskMs += (info.finishTime - info.launchTime).toDouble
      if (!r.submitMs.isNaN) r.waitMs += math.max(0.0, info.launchTime - r.submitMs)
      val m = e.taskMetrics
      if (m != null) {
        r.cpuNs += m.executorCpuTime
        r.gcMs += m.jvmGCTime
        r.shW += m.shuffleWriteMetrics.bytesWritten
        r.shWRec += m.shuffleWriteMetrics.recordsWritten
        r.shR += m.shuffleReadMetrics.totalBytesRead
        r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        r.peak = math.max(r.peak, m.peakExecutionMemory)
        r.inB += m.inputMetrics.bytesRead
        r.inRec += m.inputMetrics.recordsRead
        r.outB += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Totals for `op`. Call after draining the listener bus. */
  def opStats(op: String): OpSpark = synchronized {
    val js = jobs.values.filter(_.op == op).toSeq
    val ss = stages.values.filter(_.op == op).toSeq.filter(_.taskMs.nonEmpty)
    val longest = if (ss.isEmpty) None
      else Some(ss.maxBy(s => if (s.endMs.isNaN) 0.0 else s.endMs - s.submitMs))
    val skew = longest.map { s =>
      val med = Stats.median(s.taskMs.toSeq)
      if (med > 0) s.taskMs.max / med else 1.0
    }.getOrElse(0.0)
    OpSpark(
      stages = ss.size, tasks = ss.map(_.taskMs.size).sum,
      taskCpuMs = ss.map(_.cpuNs).sum / 1e6, gcMs = ss.map(_.gcMs).sum.toDouble,
      shuffleWriteBytes = ss.map(_.shW).sum, shuffleWriteRecords = ss.map(_.shWRec).sum,
      shuffleReadBytes = ss.map(_.shR).sum, spillBytes = ss.map(_.spill).sum,
      peakExecMemBytes = if (ss.isEmpty) 0L else ss.map(_.peak).max,
      inputBytes = ss.map(_.inB).sum, inputRecords = ss.map(_.inRec).sum,
      outputBytes = ss.map(_.outB).sum,
      taskWaitMs = ss.map(_.waitMs).sum, taskSkew = skew,
      jobIntervals = js.filterNot(_.endMs.isNaN).map(j => (j.startMs, j.endMs)))
  }

  /** Job and stage spans of `op`, each job under the deepest benchmark
   *  span that contains its start, each stage under its job. */
  def spansFor(op: String, tracer: Tracer): Seq[Span] = synchronized {
    val own = tracer.spans
    jobs.toSeq.filter(_._2.op == op).sortBy(_._1).flatMap { case (jobId, j) =>
      val parent = Spans.innermost(own, op, j.startMs).map(_.id).getOrElse(0L)
      val jid = tracer.freshId()
      val end = if (j.endMs.isNaN) j.startMs else j.endMs
      val jobSpan = Span(jid, parent, op, s"job.$jobId", j.startMs, end)
      val stageSpans = j.stageIds.flatMap(sid => stages.get(sid).map(sid -> _))
        .filter { case (_, s) => !s.submitMs.isNaN && !s.endMs.isNaN }
        .map { case (sid, s) => Span(tracer.freshId(), jid, op, s"stage.$sid", s.submitMs, s.endMs) }
      jobSpan +: stageSpans
    }
  }

  /** Forget an op's records once they have been read. */
  def forget(op: String): Unit = synchronized {
    jobs.filterInPlace((_, j) => j.op != op)
    stages.filterInPlace((_, s) => s.op != op)
  }
}
