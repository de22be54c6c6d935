package graft.bench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine counters gathered by the traced run's three listeners. All
  * fields are cumulative; a [[Trace.window]] reads them before and after
  * a call (with the listener bus drained) and keeps the difference.
  */
object Counters {
  final case class Snap(
      jobs: Long, tasks: Long, cpuNs: Long, runMs: Long, inputBytes: Long,
      inputRecords: Long, outputBytes: Long, shuffleWriteBytes: Long,
      shuffleRecords: Long, spillBytes: Long, planMs: Double,
      batches: Long, triggerMs: Long, addBatchMs: Long, planningMs: Long,
      walCommitMs: Long, skews: Int) {
    def -(o: Snap): Snap = Snap(jobs - o.jobs, tasks - o.tasks, cpuNs - o.cpuNs,
      runMs - o.runMs, inputBytes - o.inputBytes, inputRecords - o.inputRecords,
      outputBytes - o.outputBytes, shuffleWriteBytes - o.shuffleWriteBytes,
      shuffleRecords - o.shuffleRecords, spillBytes - o.spillBytes,
      planMs - o.planMs, batches - o.batches, triggerMs - o.triggerMs,
      addBatchMs - o.addBatchMs, planningMs - o.planningMs,
      walCommitMs - o.walCommitMs, skews - o.skews)
    def +(o: Snap): Snap = Snap(jobs + o.jobs, tasks + o.tasks, cpuNs + o.cpuNs,
      runMs + o.runMs, inputBytes + o.inputBytes, inputRecords + o.inputRecords,
      outputBytes + o.outputBytes, shuffleWriteBytes + o.shuffleWriteBytes,
      shuffleRecords + o.shuffleRecords, spillBytes + o.spillBytes,
      planMs + o.planMs, batches + o.batches, triggerMs + o.triggerMs,
      addBatchMs + o.addBatchMs, planningMs + o.planningMs,
      walCommitMs + o.walCommitMs, skews + o.skews)
  }
  val Zero: Snap = Snap(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)

  private var cur = Zero
  /** worst max/median task time of each completed multi-task stage */
  val skews = mutable.ArrayBuffer[Double]()
  /** (start, end) epoch ms of every job and of every SQL execution */
  val jobSpans = mutable.ArrayBuffer[(Long, Long)]()
  val sqlSpans = mutable.ArrayBuffer[(Long, Long)]()
  private val jobStart = mutable.Map[Int, Long]()
  private val sqlStart = mutable.Map[Long, Long]()
  private val stageTasks = mutable.Map[(Int, Int), mutable.ArrayBuffer[Long]]()

  def snap: Snap = synchronized(cur.copy(skews = skews.size))
  private def add(f: Snap => Snap): Unit = synchronized { cur = f(cur) }

  class SparkCounters extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Counters.synchronized {
      jobStart(e.jobId) = e.time
      cur = cur.copy(jobs = cur.jobs + 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Counters.synchronized {
      jobStart.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Counters.synchronized {
      val m = e.taskMetrics
      if (m != null) cur = cur.copy(
        tasks = cur.tasks + 1,
        cpuNs = cur.cpuNs + m.executorCpuTime,
        runMs = cur.runMs + m.executorRunTime,
        inputBytes = cur.inputBytes + m.inputMetrics.bytesRead,
        inputRecords = cur.inputRecords + m.inputMetrics.recordsRead,
        outputBytes = cur.outputBytes + m.outputMetrics.bytesWritten,
        shuffleWriteBytes = cur.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        shuffleRecords = cur.shuffleRecords + m.shuffleWriteMetrics.recordsWritten,
        spillBytes = cur.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled)
      if (e.taskInfo != null)
        stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId),
          mutable.ArrayBuffer[Long]()) += e.taskInfo.duration
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Counters.synchronized {
      stageTasks.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber()))
        .filter(_.size >= 2).foreach { ts =>
          val s = ts.sorted
          skews += s.last.toDouble / math.max(1L, s(s.size / 2))
        }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Counters.synchronized(sqlStart(s.executionId) = s.time)
      case x: SparkListenerSQLExecutionEnd => Counters.synchronized {
        sqlStart.remove(x.executionId).foreach(s => sqlSpans += ((s, x.time)))
      }
      case _ =>
    }
  }

  class PlanCounters extends QueryExecutionListener {
    private def planMs(qe: QueryExecution): Double =
      Seq("analysis", "optimization", "planning")
        .flatMap(p => qe.tracker.phases.get(p)).map(_.durationMs.toDouble).sum
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      add(c => c.copy(planMs = c.planMs + planMs(qe)))
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      add(c => c.copy(planMs = c.planMs + planMs(qe)))
  }

  class StreamCounters extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      add(c => c.copy(batches = c.batches + 1,
        triggerMs = c.triggerMs + ms("triggerExecution"),
        addBatchMs = c.addBatchMs + ms("addBatch"),
        planningMs = c.planningMs + ms("queryPlanning"),
        walCommitMs = c.walCommitMs + ms("walCommit")))
    }
  }

  /** Session settings that install the three listeners. */
  val SessionConf: Seq[(String, String)] = Seq(
    "spark.extraListeners" -> classOf[SparkCounters].getName,
    "spark.sql.queryExecutionListeners" -> classOf[PlanCounters].getName,
    "spark.sql.streaming.streamingQueryListeners" -> classOf[StreamCounters].getName)
}

/** Spans recorded from the benchmark's own calls into the program: a
  * span per public-function call, with its parent and the request it
  * belongs to. Untraced, [[span]] and [[window]] just run their body.
  */
final class Trace(val enabled: Boolean) {
  import Trace.Span

  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  /** epoch milliseconds on the monotonic clock */
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var spark: SparkSession = _
  private val windows = mutable.Map[String, Counters.Snap]()
  private val skewRanges = mutable.Map[String, List[(Int, Int)]]()
  /** counters moved by [[excluded]] work while each window is open */
  private val openWindows = mutable.Map[String, Counters.Snap]()
  private var excludedSkews: List[(Int, Int)] = Nil
  /** time the traced run spends in its own bookkeeping */
  var overheadNs = 0L

  def attach(s: SparkSession): Unit = spark = s

  def span[T](name: String, req: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val start = nowMs
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, name, req, start, nowMs)
      }
    }

  /** A span recorded after the fact, e.g. from listener event times. */
  def addSpan(name: String, parent: Int, req: String, start: Double, end: Double): Unit = {
    spans += Span(nextId, parent, name, req, start, end)
    nextId += 1
  }

  private def drained(): Counters.Snap = {
    val t = System.nanoTime()
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    val s = Counters.snap
    overheadNs += System.nanoTime() - t
    s
  }

  /** Run `body` and add the engine counters it moved to window `name`,
    * less what [[excluded]] work inside it moved. Windows of one name do
    * not nest.
    */
  def window[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val before = drained()
      openWindows(name) = Counters.Zero
      val out = try body finally {
        val after = drained()
        val skipped = openWindows.remove(name).getOrElse(Counters.Zero)
        windows(name) = windows.getOrElse(name, Counters.Zero) + (after - before - skipped)
        skewRanges(name) = (before.skews, after.skews) :: skewRanges.getOrElse(name, Nil)
      }
      out
    }

  /** Run the benchmark's own `body` (work the untraced run does not do)
    * inside open windows without charging it to them: its counters and
    * stage skews leave every open window, and its wall time counts as
    * tracing overhead.
    */
  def excluded[T](body: => T): T =
    if (!enabled) body
    else {
      val t = System.nanoTime()
      val overheadBefore = overheadNs
      val before = drained()
      val out = try body finally {
        val after = drained()
        openWindows.keys.toList.foreach(w => openWindows(w) = openWindows(w) + (after - before))
        excludedSkews = (before.skews, after.skews) :: excludedSkews
        overheadNs = overheadBefore + (System.nanoTime() - t)
      }
      out
    }

  def counters(name: String): Counters.Snap = windows.getOrElse(name, Counters.Zero)

  /** Worst stage skew (max/median task time) inside window `name`. */
  def worstSkew(name: String): Double = {
    val all = Counters.synchronized(Counters.skews.toVector)
    def skipped(i: Int) = excludedSkews.exists { case (a, b) => i >= a && i < b }
    val in = skewRanges.getOrElse(name, Nil)
      .flatMap { case (a, b) => (a until b).filterNot(skipped).map(all) }
    if (in.isEmpty) 0.0 else in.max
  }

  /** Self time per span name, over the spans inside timed passes: a
    * span's duration minus the part its children cover.
    */
  def selfSeconds: Map[String, Double] = {
    val byId = spans.map(s => s.id -> s).toMap
    def inPass(s: Span): Boolean =
      s.name == "pass" || byId.get(s.parent).exists(inPass)
    val childMs = mutable.Map[Int, Double]().withDefaultValue(0.0)
    spans.foreach(s => if (s.parent >= 0) childMs(s.parent) += s.end - s.start)
    spans.filter(inPass).groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => (s.end - s.start - childMs(s.id)) / 1000.0).sum
    }
  }

  /** Wall seconds of the [start, end] intervals during which no Spark job ran. */
  def idleSeconds(intervals: Seq[(Double, Double)]): Double = {
    val jobs = Counters.synchronized(Counters.jobSpans.toList)
    intervals.map { case (a, b) =>
      val cover = jobs.map { case (s, e) => (math.max(a, s.toDouble), math.min(b, e.toDouble)) }
        .filter { case (s, e) => e > s }.sortBy(_._1)
      var busy = 0.0
      var reach = a
      cover.foreach { case (s, e) =>
        if (e > reach) { busy += e - math.max(s, reach); reach = e }
      }
      (b - a - busy) / 1000.0
    }.sum
  }

  /** One JSON object per span, written when the run ends. */
  def write(path: java.nio.file.Path): Unit = if (enabled) {
    val lines = spans.sortBy(_.start).map { s =>
      Json.write(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "request" -> s.req, "start_ms" -> s.start, "end_ms" -> s.end))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

object Trace {
  final case class Span(id: Int, parent: Int, name: String, req: String,
      start: Double, end: Double)
}
