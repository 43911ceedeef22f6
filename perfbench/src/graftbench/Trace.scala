package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans around the benchmark's calls into the engine, plus the Spark
  * and streaming listener data the spans are joined with. Tracing is off
  * unless [[on]] is set; a span while off only runs its body.
  *
  * All times are microseconds on one clock: wall-clock epoch time
  * advanced by `System.nanoTime`, so span bounds are precise and still
  * comparable with the millisecond epoch times of listener events.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000L

  @volatile var on = false
  val spans = ArrayBuffer[Stats.Span]()
  private var stack = List.empty[Int]

  /** Run `body` inside a span of `kind`. Jobs submitted by the body carry
    * the span id as a local property, so the listener can attribute them.
    */
  def span[T](kind: String)(body: => T): T =
    if (!on) body
    else {
      val id = spans.length
      val parent = stack.headOption.getOrElse(-1)
      spans += Stats.Span(id, parent, kind, nowUs, -1L)
      stack = id :: stack
      val sc = spark.sparkContext
      sc.setLocalProperty(SpanProperty, id.toString)
      try body
      finally {
        spans(id) = spans(id).copy(end = nowUs)
        stack = stack.tail
        sc.setLocalProperty(SpanProperty, stack.headOption.map(_.toString).orNull)
      }
    }

  val jobs = ArrayBuffer[JobRec]()
  val tasks = ArrayBuffer[TaskRec]()
  val stageSubmitUs = scala.collection.mutable.Map[Int, Long]()
  val progress = ArrayBuffer[ProgressRec]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
        .map(_.toInt).getOrElse(-1)
      jobs += JobRec(e.jobId, span, e.time * 1000L, -1L, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      val i = jobs.lastIndexWhere(_.jobId == e.jobId)
      if (i >= 0) jobs(i) = jobs(i).copy(end = e.time * 1000L)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      e.stageInfo.submissionTime.foreach(t => stageSubmitUs(e.stageInfo.stageId) = t * 1000L)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) tasks += TaskRec(e.stageId, e.taskInfo.launchTime * 1000L,
        e.taskInfo.finishTime * 1000L, m.executorRunTime, m.executorCpuTime,
        m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled + m.memoryBytesSpilled,
        m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten)
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        progress += ProgressRec(
          java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L,
          d("triggerExecution"), d("addBatch"), p.numInputRows)
      }
  }

  /** Deliver every queued listener event. */
  def drain(): Unit =
    org.apache.spark.sql.graftshim.StreamingFrameShim.drainListenerBus(spark)

  /** Listen and record spans for the duration of `body`. */
  def traced[T](body: => T): T = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    on = true
    try body
    finally {
      on = false
      drain()
      spark.sparkContext.removeSparkListener(sparkListener)
      spark.streams.removeListener(streamListener)
    }
  }

  // ------------------------------------------------------------ analysis

  /** Jobs of each span, its own and its descendants'. A job belongs to
    * the span whose id it carries: the innermost span open on the thread
    * that submitted it, or on the thread that started that thread.
    */
  lazy val jobsBySpan: Map[Int, Seq[JobRec]] = {
    val byId = spans.map(s => s.id -> s).toMap
    val out = scala.collection.mutable.Map[Int, ArrayBuffer[JobRec]]()
    jobs.filter(j => byId.contains(j.span)).foreach { j =>
      var s = j.span
      while (s >= 0) {
        out.getOrElseUpdate(s, ArrayBuffer()) += j
        s = byId(s).parent
      }
    }
    out.view.mapValues(_.toSeq).toMap
  }

  /** Tasks of each job. A stage listed by several jobs ran in the first. */
  lazy val tasksByJob: Map[Int, Seq[TaskRec]] = {
    val stageJob = jobs.flatMap(j => j.stageIds.map(_ -> j.jobId))
      .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    tasks.groupBy(t => stageJob.getOrElse(t.stageId, -1)).view.mapValues(_.toSeq).toMap
  }

  def spansOf(kind: String): Seq[Stats.Span] = spans.filter(s => s.kind == kind && s.end >= 0).toSeq

  def jobsOf(s: Stats.Span): Seq[JobRec] = jobsBySpan.getOrElse(s.id, Seq.empty)

  def tasksOf(s: Stats.Span): Seq[TaskRec] = jobsOf(s).flatMap(j => tasksByJob.getOrElse(j.jobId, Seq.empty))

  /** The standard five of a span kind: per span, medians of the times and
    * means of the counts.
    */
  def standardFive(kind: String): Seq[(String, Double)] = {
    val ss = spansOf(kind)
    def ms(us: Long): Double = us / 1000.0
    Seq(
      "wall_ms" -> Stats.median(ss.map(s => ms(s.duration))),
      "jobs" -> Stats.mean(ss.map(s => jobsOf(s).length.toDouble)),
      "driver_only_ms" -> Stats.median(ss.map(s =>
        ms(Stats.driverOnly(s.start, s.end, jobsOf(s).map(j => (j.start, j.endOr(s.end))))))),
      "exec_cpu_ms" -> Stats.median(ss.map(s => tasksOf(s).map(_.cpuNs).sum / 1e6)),
      "shuffle_bytes" -> Stats.mean(ss.map(s => tasksOf(s).map(_.shuffleWriteBytes).sum.toDouble)))
  }

  /** Streaming progress reports whose trigger started inside a span of `kind`. */
  def progressIn(kind: String): Seq[ProgressRec] = {
    val ss = spansOf(kind)
    progress.filter(p => ss.exists(s => s.start - 1000 <= p.startUs && p.startUs <= s.end)).toSeq
  }
}

object Tracer {
  val SpanProperty = "graftbench.span"

  final case class JobRec(jobId: Int, span: Int, start: Long, end: Long, stageIds: Seq[Int]) {
    def endOr(x: Long): Long = if (end < 0) x else end
  }
  final case class TaskRec(stageId: Int, launch: Long, finish: Long, runMs: Long,
      cpuNs: Long, shuffleWriteBytes: Long, spillBytes: Long, recordsRead: Long,
      bytesWritten: Long)
  final case class ProgressRec(startUs: Long, triggerMs: Long, addBatchMs: Long,
      inputRows: Long)
}
