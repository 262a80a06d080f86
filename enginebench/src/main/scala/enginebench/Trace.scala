package enginebench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable

/** One traced call into the engine: name, start, end, parent and run id.
  * Times are nanoseconds since the tracer started. */
final case class Span(id: Int, parent: Int, name: String, runId: String,
                      startNs: Long, var endNs: Long = -1L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Work Spark did for the jobs of one span, summed over their tasks. */
final class Work {
  var jobs = 0
  var stages = 0
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var spillBytes = 0L
  var shuffleWriteBytes = 0L
  val counters: mutable.Map[String, Long] = mutable.Map.empty.withDefaultValue(0L)

  def +=(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; cpuNs += o.cpuNs
    runMs += o.runMs; gcMs += o.gcMs; spillBytes += o.spillBytes
    shuffleWriteBytes += o.shuffleWriteBytes
    o.counters.foreach { case (k, v) => counters(k) += v }
  }
}

/** Records spans around the benchmark's calls into the engine, and
  * what Spark did inside each of them, from outside the engine: a
  * SparkListener attributes every job, with its stages and task
  * metrics, to the span that submitted it (a job carries the span id
  * as a local property of the submitting thread, which streaming
  * threads inherit); SQL execution events give each execution's wall
  * time and the shuffle exchanges of its final plan; a
  * StreamingQueryListener keeps micro-batch progress. Everything stays
  * in memory until [[writeSpans]].
  *
  * With `traced = false` no spans are opened and only the run-wide
  * task totals are kept, which the end-to-end CPU metric needs.
  */
final class Tracer(sc: SparkContext, val runId: String, var traced: Boolean)
    extends SparkListener {

  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  private val jobSpan = mutable.Map.empty[Int, Int]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val work = mutable.Map.empty[Int, Work] // span id -> work; -1 = outside spans
  private val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val stageCounters = mutable.Map.empty[Int, Long] // stage -> graft.turns
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val execSpan = mutable.Map.empty[Long, Int] // SQL execution id -> span
  private val execExchanges = mutable.Map.empty[Long, Int]
  private val execPlan = mutable.Map.empty[Long, String]
  private val execMs = mutable.Map.empty[Long, (Long, Long)] // start, end
  val progress: mutable.ArrayBuffer[StreamingQueryListener.QueryProgressEvent] =
    mutable.ArrayBuffer.empty

  val total = new Work

  sc.addSparkListener(this)

  /** Runs `body` inside a span named `name`; the span is the parent
    * of every span opened and every job submitted inside it. */
  def span[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      val s = Span(spans.size, stack.headOption.fold(-1)(_.id), name, runId,
        System.nanoTime() - t0)
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime() - t0
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Waits until the listeners have seen every event posted so far. */
  def drain(): Unit = org.apache.spark.enginebench.BusShim.drain(sc)

  /** Spans named `name`, in the order they were opened. */
  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Work of the span and every span nested in it. */
  def workUnder(s: Span): Work = synchronized {
    val w = new Work
    descendants(s).foreach(d => work.get(d.id).foreach(w += _))
    w
  }

  def exchangesUnder(s: Span): Int = synchronized {
    val ids = descendants(s).map(_.id).toSet
    execExchanges.collect { case (ex, n) if execSpan.get(ex).exists(ids) => n }.sum
  }

  /** Wall seconds of the SQL executions under `s` that write into
    * `path`, from the executions' own start and end events. */
  def writeSeconds(s: Span, path: String): Double = synchronized {
    val ids = descendants(s).map(_.id).toSet
    execMs.collect { case (ex, (t0, t1)) if execSpan.get(ex).exists(ids) &&
      execPlan.get(ex).exists(p => p.contains("InsertIntoHadoopFsRelationCommand") && p.contains(path)) =>
      (t1 - t0) / 1e3
    }.sum
  }

  /** Max over median task time in the stage under `s` that counted the
    * most `graft.turns`, i.e. the stage that ran the extraction kernel. */
  def kernelStageSkew(s: Span): Double = synchronized {
    val ids = descendants(s).map(_.id).toSet
    val stages = stageSpan.collect { case (st, sp) if ids(sp) && stageCounters.contains(st) => st }
    if (stages.isEmpty) Double.NaN
    else {
      val st = stages.maxBy(stageCounters)
      val ms = stageTaskMs(st).sorted
      ms.last.toDouble / math.max(1L, ms(ms.size / 2))
    }
  }

  /** Self time: the span's duration minus the part its children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id)
    s.seconds - kids.map(_.seconds).sum
  }

  private def descendants(s: Span): Seq[Span] = {
    val out = mutable.ArrayBuffer(s)
    var i = 0
    while (i < out.size) { out ++= spans.filter(_.parent == out(i).id); i += 1 }
    out.toSeq
  }

  /** Per span name: calls, total and self seconds, jobs and stages
    * attributed to the calls themselves (not to nested spans). */
  def summary: Seq[String] = synchronized {
    spans.groupBy(_.name).toSeq.sortBy(_._2.head.id).map { case (name, ss) =>
      val own = new Work
      ss.foreach(s => work.get(s.id).foreach(own += _))
      f"[trace] $name%-32s calls=${ss.size}%3d total_s=${ss.map(_.seconds).sum}%9.4f " +
        f"self_s=${ss.map(selfSeconds).sum}%9.4f jobs=${own.jobs}%4d stages=${own.stages}%4d"
    }
  }

  /** Writes every span as one JSON line. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      s"""{"run_id":"${s.runId}","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${selfSeconds(s)}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }

  // ── SparkListener ──────────────────────────────────────────────────

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val sp = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    jobSpan(e.jobId) = sp
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(ex => execSpan.getOrElseUpdate(ex.toLong, sp))
    e.stageIds.foreach(st => stageJob(st) = e.jobId)
    workOf(sp).jobs += 1
    total.jobs += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val sp = stageJob.get(e.stageInfo.stageId).flatMap(jobSpan.get).getOrElse(-1)
    stageSpan(e.stageInfo.stageId) = sp
    workOf(sp).stages += 1
    total.stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val sp = stageSpan.getOrElse(e.stageId, -1)
      for (w <- Seq(workOf(sp), total)) {
        w.cpuNs += m.executorCpuTime
        w.runMs += m.executorRunTime
        w.gcMs += m.jvmGCTime
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      }
      if (traced) {
        stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
        e.taskInfo.accumulables.foreach { a =>
          a.name.filter(_.startsWith("graft.")).foreach { n =>
            val v = a.update.collect { case l: java.lang.Long => l.longValue }.getOrElse(0L)
            workOf(sp).counters(n) += v
            if (n == "graft.turns") stageCounters(e.stageId) = stageCounters.getOrElse(e.stageId, 0L) + v
          }
        }
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if traced => synchronized {
      execPlan(s.executionId) = s.physicalPlanDescription
      execMs(s.executionId) = (s.time, s.time)
      execExchanges(s.executionId) = Tracer.exchanges(s.sparkPlanInfo)
    }
    case u: SparkListenerSQLAdaptiveExecutionUpdate if traced => synchronized {
      execExchanges(u.executionId) = Tracer.exchanges(u.sparkPlanInfo) // the re-planned plan
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      execMs.get(s.executionId).foreach { case (t0, _) => execMs(s.executionId) = (t0, s.time) }
    }
    case _ => ()
  }

  private def workOf(sp: Int): Work =
    if (!traced) Tracer.Discard else work.getOrElseUpdate(sp, new Work)

  // ── executed plans and streaming progress ──────────────────────────

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized(progress += e)
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  }
}

object Tracer {
  val SpanKey = "enginebench.span"
  private val Discard = new Work

  /** Shuffle exchanges in a plan; a broadcast exchange is not one. */
  def exchanges(p: SparkPlanInfo): Int =
    (if (p.nodeName == "Exchange") 1 else 0) + p.children.map(exchanges).sum
}
