package graftbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Whether a timed operation is a batch (pipeline run, table write,
  * dedup pass), a query (registered query, table read, search batch), or
  * table maintenance (OPTIMIZE, VACUUM), which only counts as an operation.
  */
sealed trait OpClass
case object Batch extends OpClass
case object Query extends OpClass
case object Maintenance extends OpClass

/** Samples and outcomes of the measured operations of one run. */
final class Recorder {
  final case class Sample(kind: String, cls: OpClass, ms: Double, traced: Boolean)
  val samples = ArrayBuffer[Sample]()
  var attempted = 0
  var failed = 0
  val failures = ArrayBuffer[String]()
  /** Input rows through batch operations, and the batch time they took. */
  var rows = 0L
  var rowsMs = 0.0

  def fail(what: String): Unit = {
    failed += 1
    if (failures.length < 20) failures += what
  }

  /** A whole-run check failed: every operation of the run counts as failed. */
  def failAll(what: String): Unit = {
    fail(what)
    failed = attempted
  }

  def ms(cls: OpClass, traced: Boolean): Seq[Double] =
    samples.filter(s => s.cls == cls && s.traced == traced).map(_.ms).toSeq
}

/** What every workload gives the runner. */
trait Workload {
  /** Write the warmup rounds' own seeded inputs into the work directory. */
  def generateWarm(): Unit
  /** Write the measured rounds' seeded inputs; runs beside the warmup. */
  def generate(): Unit
  /** Warmup round `i`, on inputs the measured rounds never see. Round 0
    * runs every operation kind once; later rounds repeat a cheaper subset
    * until their times level off.
    */
  def warmupRound(i: Int): Unit
  /** Measured round `i`: timed operations through [[Ctx.op]]. Returns
    * false when the workload has run out of generated input.
    */
  def round(i: Int): Boolean
  /** Rounds per cycle of the operation mix; measurement ends on a whole
    * cycle, so every run times the same mix.
    */
  val cycle: Int = 1
  /** Whole-run correctness checks after the measured rounds. */
  def finalCheck(): Unit
  /** Workload-specific per-layer metrics, from traced rounds. */
  def layerMetrics(): Seq[(String, Double)]
}

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    cores: Int, work: String, t0Ms: Long)

/** Shared state of one run. */
final class Ctx(val spark: SparkSession, val args: Args) {
  val rec = new Recorder
  val tracer = new Tracer(spark)
  def dir(name: String): String = s"${args.work}/$name"

  /** Time one operation, inside a span of `kind`. A throw counts as a
    * failed operation; its time is not sampled.
    */
  def op[T](kind: String, cls: OpClass)(body: => T): Option[T] = {
    rec.attempted += 1
    val t0 = System.nanoTime()
    try {
      val out = tracer.span(kind)(body)
      rec.samples += rec.Sample(kind, cls, (System.nanoTime() - t0) / 1e6, tracer.on)
      Some(out)
    } catch {
      case NonFatal(e) =>
        rec.fail(s"$kind threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  /** A correctness check of the operation just timed. */
  def check(ok: Boolean, what: => String): Unit = if (!ok) rec.fail(what)
}

object Main {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "peak_rss_mb" -> "MB", "ops_ok_ratio" -> "ratio",
    "batch_ms.p50" -> "ms", "batch_ms.tail" -> "ms",
    "query_ms.p50" -> "ms", "query_ms.tail" -> "ms",
    "rows_per_s" -> "1/s", "ops_per_s" -> "1/s")

  val SpanKinds: Seq[String] = Seq(
    "pipeline.excel_to_csv", "pipeline.load_table", "pipeline.call_query", "pipeline.cleanup",
    "streaming.merge_batch", "plans.delete", "plans.read_point", "plans.read_range",
    "plans.read_agg", "plans.optimize", "plans.vacuum",
    "llm.minhash", "llm.verify", "llm.cc", "llm.search")

  val StandardFive: Seq[(String, String)] = Seq("wall_ms" -> "ms", "jobs" -> "count",
    "driver_only_ms" -> "ms", "exec_cpu_ms" -> "ms", "shuffle_bytes" -> "bytes")

  /** Every per-layer metric with its unit. */
  val PerLayer: Seq[(String, String)] =
    SpanKinds.flatMap(k => StandardFive.map { case (m, u) => s"$k.$m" -> u }) ++ Seq(
      "plans.read_plan_ms" -> "ms", "plans.read_plan_jobs" -> "count",
      "streaming.batches" -> "count", "streaming.trigger_ms" -> "ms",
      "streaming.add_batch_ms" -> "ms", "streaming.lifecycle_ms" -> "ms",
      "layout.files_considered" -> "count", "layout.files_read" -> "count",
      "layout.rows_examined_per_row" -> "ratio",
      "versioned.commits" -> "count", "versioned.bytes_written_per_user_byte" -> "ratio",
      "versioned.live_files" -> "count", "versioned.bytes_on_disk_per_live_byte" -> "ratio",
      "maintenance.bytes_rewritten" -> "bytes",
      "llm.candidates_per_verified_pair" -> "ratio",
      "llm.search_rows_scored_per_query" -> "count", "llm.recall_at_k" -> "ratio",
      "spark.sched.delay_ms" -> "ms", "spark.exec.busy_share" -> "ratio",
      "spark.exec.gc_ms" -> "ms", "spark.exec.spill_bytes" -> "bytes",
      "spark.exec.task_skew" -> "ratio",
      "engine.session_ms" -> "ms", "bench.input_gen_ms" -> "ms", "bench.warmup_ms" -> "ms",
      "trace.overhead" -> "ratio")

  /** Warmup stops once a round is within this share of the one before. */
  val WarmupLevel = 0.15
  val WarmupMin = 6
  val WarmupMax = 8

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("cores").toInt, m("work"), m("t0-ms").toLong)
  }

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** CPU time the hypervisor gave to other guests, summed over this
    * machine's CPUs, in ticks of 1/100 s: the `steal` column of
    * `/proc/stat`. On a shared host it explains slow runs.
    */
  private def stealTicks(): Long = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().find(_.startsWith("cpu ")).map(_.trim.split("\\s+"))
      .filter(_.length > 8).map(_(8).toLong).getOrElse(0L)
    finally src.close()
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val s0 = System.nanoTime()
    val spark = graft.Engine.builder(a.cores.toString)
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = (System.nanoTime() - s0) / 1e6
    val code = try run(spark, a, sessionMs) finally spark.stop()
    System.out.flush()
    sys.exit(code)
  }

  private def run(spark: SparkSession, a: Args, sessionMs: Double): Int = {
    val ctx = new Ctx(spark, a)
    val w: Workload = a.workload match {
      case "adf_pipeline" => new AdfPipeline(ctx)
      case "lake_mixed" => new LakeMixed(ctx)
      case "llm_curation" => new LlmCuration(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // The measured rounds' inputs are generated on a second thread while
    // the warmup rounds run on their own inputs.
    val g0 = System.nanoTime()
    w.generateWarm()
    val warmGenMs = (System.nanoTime() - g0) / 1e6
    @volatile var genMs = 0.0
    @volatile var genError: Option[Throwable] = None
    val gen = new Thread(() => {
      val t = System.nanoTime()
      try w.generate() catch { case e: Throwable => genError = Some(e) }
      genMs = warmGenMs + (System.nanoTime() - t) / 1e6
    }, "input-gen")
    gen.start()

    val w0 = System.nanoTime()
    val warm = ArrayBuffer[Double]()
    def levelled: Boolean = warm.length >= WarmupMin &&
      math.abs(warm.last - warm(warm.length - 2)) <= WarmupLevel * warm(warm.length - 2)
    while (warm.length < WarmupMax && !levelled) {
      val t = System.nanoTime()
      w.warmupRound(warm.length)
      warm += (System.nanoTime() - t) / 1e6
    }
    val warmupMs = (System.nanoTime() - w0) / 1e6
    gen.join()
    genError.foreach(e => throw e)
    val setupS = (System.currentTimeMillis() - a.t0Ms) / 1000.0

    // Measured rounds, in whole units: a cycle, or in a traced run a traced
    // and an untraced cycle, so the ratio of their times is the tracing
    // overhead. Measurement ends on the unit boundary nearest `--seconds`,
    // judged by the last unit's length. Stopping at the first boundary past
    // it instead flips runs whose unit is about `--seconds` long between one
    // and two units, and the second unit runs further along the JIT's slope.
    val m0 = System.nanoTime()
    val steal0 = stealTicks()
    var i = 0
    var more = true
    var tracedGcMs = 0L
    def cycleOf(r: Int): Int = r / w.cycle
    val unit = w.cycle * (if (a.trace) 2 else 1)
    var unitStart = m0
    def goOn: Boolean = i % unit != 0 || i == 0 || {
      val now = System.nanoTime()
      val lastUnitS = (now - unitStart) / 1e9
      unitStart = now
      (now - m0) / 1e9 + lastUnitS / 2 < a.seconds
    }
    while (more && goOn) {
      if (a.trace && cycleOf(i) % 2 == 0) {
        val gc0 = gcMs()
        more = ctx.tracer.traced(w.round(i))
        tracedGcMs += gcMs() - gc0
      } else more = w.round(i)
      i += 1
    }
    val wallS = (System.nanoTime() - m0) / 1e9
    val measuredStealS = (stealTicks() - steal0) / 100.0
    w.finalCheck()

    val rec = ctx.rec
    val correct = rec.failed == 0
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) {
        val bt = Stats.tail(rec.ms(Batch, traced = false))
        val qt = Stats.tail(rec.ms(Query, traced = false))
        println(Json.obj("detail" -> Json.obj(
          "tails" -> Json.obj(
            "batch_ms.tail" -> tailJson(bt), "query_ms.tail" -> tailJson(qt)),
          "batch_samples_ms" -> rec.ms(Batch, traced = false),
          "query_samples_ms" -> rec.ms(Query, traced = false),
          "warmup_rounds_ms" -> warm.toSeq,
          "setup_ms" -> Json.obj("session" -> sessionMs, "input_gen" -> genMs,
            "warmup" -> warmupMs))))
        val values = Map(
          "setup_s" -> setupS,
          "peak_rss_mb" -> peakRssMb(),
          "ops_ok_ratio" -> (rec.attempted - rec.failed).toDouble / math.max(1, rec.attempted),
          "batch_ms.p50" -> Stats.median(rec.ms(Batch, traced = false)),
          "batch_ms.tail" -> bt.value,
          "query_ms.p50" -> Stats.median(rec.ms(Query, traced = false)),
          "query_ms.tail" -> qt.value,
          "rows_per_s" -> (if (rec.rowsMs > 0) rec.rows / (rec.rowsMs / 1000.0) else 0.0),
          "ops_per_s" -> (rec.attempted / wallS))
        EndToEnd.map { case (n, u) => (n, values(n), u) }
      } else {
        val tr = ctx.tracer
        val traced = rec.samples.filter(_.traced)
        val roots = tr.spans.filter(_.parent < 0).toSeq
        val tracedOps = math.max(1, roots.length)
        val allTasks = roots.flatMap(tr.tasksOf)
        val tracedWallMs = roots.map(_.duration / 1000.0).sum
        val skew = allTasks.groupBy(_.stageId).values.filter(_.length >= 2).map { ts =>
          val d = ts.map(t => (t.finish - t.launch).toDouble)
          d.max / math.max(1.0, Stats.median(d))
        }
        val values = scala.collection.mutable.Map[String, Double]()
        SpanKinds.foreach(k => tr.standardFive(k).foreach { case (m, v) => values(s"$k.$m") = v })
        values ++= w.layerMetrics()
        values ++= Seq(
          "spark.sched.delay_ms" -> allTasks.map(t =>
            (t.launch - tr.stageSubmitUs.getOrElse(t.stageId, t.launch)) / 1000.0)
            .filter(_ >= 0).sum / tracedOps,
          "spark.exec.busy_share" ->
            allTasks.map(_.runMs.toDouble).sum / math.max(1.0, a.cores * tracedWallMs),
          "spark.exec.gc_ms" -> tracedGcMs.toDouble / tracedOps,
          "spark.exec.spill_bytes" -> allTasks.map(_.spillBytes.toDouble).sum / tracedOps,
          "spark.exec.task_skew" -> (if (skew.isEmpty) 1.0 else skew.max),
          "engine.session_ms" -> sessionMs, "bench.input_gen_ms" -> genMs,
          "bench.warmup_ms" -> warmupMs,
          "trace.overhead" -> overhead(rec))
        val spans = tr.spans.toSeq
        val selfMs = spans.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, ss) =>
          k -> Stats.median(ss.map(s => Stats.selfTime(s, spans) / 1000.0)) }
        println(Json.obj("detail" -> Json.obj(
          "traced_ops" -> traced.length, "untraced_ops" -> (rec.samples.length - traced.length),
          "spans" -> spans.length, "jobs" -> tr.jobs.length, "tasks" -> tr.tasks.length,
          "self_ms" -> Json.obj(selfMs: _*))))
        PerLayer.map { case (n, u) => (n, values.getOrElse(n, 0.0), u) }
      }

    println(Json.obj("machine" -> Json.obj(
      "nproc" -> Runtime.getRuntime.availableProcessors, "cores" -> a.cores,
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark" -> spark.version, "java" -> System.getProperty("java.version"),
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "rounds" -> i, "measured_s" -> wallS, "steal_s" -> measuredStealS)))
    if (rec.failures.nonEmpty)
      println(Json.obj("failures" -> rec.failures.toSeq))
    println(Json.obj(
      "correct" -> correct, "attempted" -> rec.attempted, "failed" -> rec.failed,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj("value" -> v, "unit" -> u) }: _*)))
    if (correct) 0 else 1
  }

  private def tailJson(t: Stats.Tail): Json.Raw = Json.obj(
    "percentile" -> t.percentile, "samples" -> t.n, "beyond" -> t.beyond)

  /** Traced over untraced time: per operation kind, the median of each,
    * weighted by the kind's operation count.
    */
  def overhead(rec: Recorder): Double = {
    val byKind = rec.samples.groupBy(_.kind).values.flatMap { ss =>
      val t = ss.filter(_.traced).map(_.ms).toSeq
      val u = ss.filterNot(_.traced).map(_.ms).toSeq
      if (t.isEmpty || u.isEmpty) None
      else Some((ss.length * Stats.median(t), ss.length * Stats.median(u)))
    }
    if (byKind.isEmpty) 1.0 else byKind.map(_._1).sum / byKind.map(_._2).sum
  }
}

/** Minimal JSON rendering for the result lines. */
object Json {
  final case class Raw(text: String) {
    override def toString: String = text
  }

  def obj(kvs: (String, Any)*): Raw =
    Raw(kvs.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}"))

  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  private def value(v: Any): String = v match {
    case r: Raw => r.text
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
}
