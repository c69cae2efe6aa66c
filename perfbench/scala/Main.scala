package graftbench

import java.io.{File, PrintWriter}
import scala.collection.mutable.ArrayBuffer
import core.{ByteLM, LangId, Scrub, TextStats}
import guards.QualityPipeline
import org.apache.spark.sql.SparkSession
import pipeline.{QualityFilterJob, Sessions}

final case class Config(workload: String, seed: Long, seconds: Double,
    trace: Boolean, work: String, results: String,
    pins: String, tiny: Boolean, host: Map[String, String])

object Config {
  def parse(args: Array[String]): Config = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Config(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("results"),
      need("pins"), kv.get("scale").contains("tiny"),
      kv.collect { case (k, v) if k.startsWith("host.") => k.drop(5) -> v })
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest percentile with at least ten samples above it, and its value. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.size < 11) None
    else {
      val s = xs.sorted
      val idx = s.size - 11
      Some((100.0 * (idx + 1) / s.size, s(idx)))
    }

  /** Length covered by the union of intervals. */
  def unionLength(ivs: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    ivs.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}

/** Metric names and units; BENCHMARK.json lists the same. */
object Catalog {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "cold_pass_s" -> "s",
    "pass_s" -> "s",
    "turns_per_s" -> "turns/s",
    "step_p50_ms" -> "ms",
    "peak_rss_mb" -> "MB")

  val perLayer: Seq[(String, String)] = Seq(
    "core.stats_ns_per_turn" -> "ns",
    "core.langid_ns_per_turn" -> "ns",
    "core.ppl_ns_per_turn" -> "ns",
    "core.scrub_ns_per_turn" -> "ns",
    "guards.window_s" -> "s",
    "guards.score_s" -> "s",
    "guards.cpu_us_per_turn" -> "us",
    "guards.kernel_share" -> "ratio",
    "pipeline.job_s" -> "s",
    "pipeline.kept_share" -> "ratio",
    "stage.jobs" -> "count",
    "stage.stages" -> "count",
    "stage.tasks" -> "count",
    "stage.executor_cpu_s" -> "s",
    "stage.executor_run_s" -> "s",
    "stage.gc_s" -> "s",
    "stage.shuffle_write_bytes" -> "bytes",
    "stage.shuffle_read_bytes" -> "bytes",
    "stage.spill_bytes" -> "bytes",
    "stage.input_bytes" -> "bytes",
    "stage.output_bytes" -> "bytes",
    "stage.task_skew" -> "ratio",
    "stage.core_utilization" -> "ratio",
    "stage.failed_tasks" -> "count",
    "phase.construct_s" -> "s",
    "phase.plan_s" -> "s",
    "phase.execute_s" -> "s",
    "phase.driver_gap_s" -> "s",
    "phase.codegen_compiles" -> "count",
    "phase.codegen_compile_ms" -> "ms",
    "phase.warmup_s" -> "s",
    "streaming.add_batch_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms",
    "streaming.offset_commit_ms" -> "ms",
    "streaming.jobs_per_batch" -> "count",
    "streaming.source_rows_per_turn" -> "ratio",
    "operators.history_bytes" -> "bytes",
    "operators.bloom_bytes" -> "bytes",
    "operators.accepted_share" -> "ratio")
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}

/** Runs a body, then hands back the Spark jobs and stages it ran (traced
  * runs only; the listener bus is drained first).
  */
final class Drain(spark: SparkSession, on: Boolean, listener: StageListener) {
  def apply[T](body: => T): (T, Seq[JobAgg], Seq[StageAgg]) = {
    val r = body
    if (on) {
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      val (j, s) = listener.take()
      (r, j, s)
    } else (r, Nil, Nil)
  }
}

object Main {
  /** Input staging repeats in one run; set-up time is their median. */
  final val StagingReps = 3
  /** Fewest steady passes a run measures, whatever `--seconds` says. */
  final val MinSteady = 1
  final val Cores = 4

  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val cfg = Config.parse(args)
    new File(cfg.work).mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"graftbench-${cfg.workload}")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(cfg.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(cfg.work, "warehouse").getPath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Sessions.tune(spark)
    val sessionS = (Clock.nowMs - jvmStartMs) / 1e3
    val code = try run(spark, cfg, sessionS) finally spark.stop()
    sys.exit(code)
  }

  private def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def codegen: (Long, Double) = (
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e6)

  private def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** A pass and, in traced runs, its stage-layer sums. */
  final case class Timed(out: PassOut, stage: Option[StageSums])

  def run(spark: SparkSession, cfg: Config, sessionS: Double): Int = {
    val tracer = new Tracer(cfg.trace)
    val stageL = new StageListener
    val progL = new ProgressListener
    if (cfg.trace) {
      spark.sparkContext.addSparkListener(stageL)
      spark.streams.addListener(progL)
    }
    val ctx = new Ctx(spark, cfg, tracer)
    val w = Workload(ctx)
    val drained = new Drain(spark, cfg.trace, stageL)

    val staging = (StagingReps - 1 to 0 by -1).map { rep =>
      time(tracer.span("setup.stage")(w.stage(rep)))._2
    }
    val setupS = sessionS + Stats.median(staging)
    val calibPre = graft.HostCalib.calibrate()
    drained(())

    def timedPass(i: Int, label: String): Timed = {
      val a = Clock.nowMs
      val (out, jobs, stages) = drained(tracer.span(label)(w.pass(i)))
      val b = Clock.nowMs
      recordSparkSpans(tracer, jobs, stages)
      if (!cfg.trace) Timed(out, None)
      else {
        progL.take().foreach { p =>
          val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
          tracer.record("streaming.micro_batch", "batch", start, start + p.batchDuration)
        }
        Timed(out, Some(StageSums.of(jobs, stages, out.wallS, a, b, Cores)))
      }
    }

    val cg0 = codegen
    val cold = timedPass(0, "pass.cold")
    val cg1 = codegen
    val warm = (1 to w.warmupPasses).map(i => timedPass(i, "pass.warmup"))
    val steady = ArrayBuffer.empty[Timed]
    var measured = 0.0
    while (measured < cfg.seconds || steady.size < MinSteady) {
      val p = timedPass(1 + warm.size + steady.size, "pass.steady")
      steady += p
      measured += p.out.wallS
    }

    val checks =
      try tracer.span("checks")(w.checks())
      catch {
        case t: Throwable =>
          System.err.println(s"graftbench: output checks failed: $t")
          Seq(s"${cfg.workload}.checks" -> false)
      }
    val calibPost = graft.HostCalib.calibrate()

    val passes = (cold +: warm) ++ steady
    val attempted = passes.map(_.out.attempted).sum + checks.size
    val failed = passes.map(_.out.failed).sum + checks.count(!_._2)
    val steadyWall = steady.map(_.out.wallS).toSeq
    val steps = steady.flatMap(_.out.stepsMs).toSeq
    val e2e: Map[String, Double] = Map(
      "setup_s" -> setupS,
      "cold_pass_s" -> cold.out.wallS,
      "pass_s" -> Stats.median(steadyWall),
      "turns_per_s" -> w.turns / Stats.median(steadyWall),
      "step_p50_ms" -> Stats.median(steps),
      "peak_rss_mb" -> peakRssMb)

    val layers: Map[String, Double] =
      if (!cfg.trace) Map.empty
      else perLayer(spark, ctx, w, cold, steady.toSeq, cg1._1 - cg0._1, cg1._2 - cg0._2, drained)

    val metrics = if (cfg.trace) Catalog.perLayer else Catalog.endToEnd
    val values = metrics.map { case (n, u) =>
      n -> (if (cfg.trace) layers.getOrElse(n, 0.0) else e2e(n), u)
    }
    val correct = failed == 0 && checks.forall(_._2)

    val tag = s"${cfg.workload}_seed${cfg.seed}_trace${if (cfg.trace) 1 else 0}"
    new File(cfg.results).mkdirs()
    val spansFile = new File(cfg.results, s"spans_$tag.json")
    if (cfg.trace) writeSpans(spansFile, tracer, cfg)
    val tailStep = Stats.tail(steps)
    val record = Json.obj(Seq(
      "workload" -> Json.str(cfg.workload),
      "seed" -> cfg.seed.toString,
      "trace" -> cfg.trace.toString,
      "seconds" -> Json.num(cfg.seconds),
      "scale" -> Json.str(if (cfg.tiny) "tiny" else "full"),
      "host" -> Json.obj((cfg.host.toSeq.sorted.map { case (k, v) => k -> Json.str(v) }) ++ Seq(
        "calib_pre_s" -> Json.num(calibPre),
        "calib_post_s" -> Json.num(calibPost),
        "jvm" -> Json.str(System.getProperty("java.vm.name") + " " + System.getProperty("java.runtime.version")),
        "spark" -> Json.str(spark.version),
        "cores" -> Cores.toString)),
      "correct" -> correct.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "failed_share" -> Json.num(failed.toDouble / attempted),
      "checks" -> Json.obj(checks.map { case (n, ok) => n -> ok.toString }),
      "counts" -> Json.obj(w.counts.toSeq.sorted.map { case (k, v) => k -> v.toString }),
      "end_to_end" -> Json.obj(e2e.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "per_layer" -> Json.obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "fields" -> Json.obj(Seq(
        "turns" -> w.turns.toString,
        "session_s" -> Json.num(sessionS),
        "staging_s" -> Json.arr(staging.map(Json.num)),
        "cold_pass_s" -> Json.num(cold.out.wallS),
        "warmup_pass_s" -> Json.arr(warm.map(t => Json.num(t.out.wallS))),
        "steady_pass_s" -> Json.arr(steadyWall.map(Json.num)),
        "steps" -> steps.size.toString,
        "step_tail_pct" -> Json.num(tailStep.map(_._1).getOrElse(Double.NaN)),
        "step_tail_ms" -> Json.num(tailStep.map(_._2).getOrElse(Double.NaN)))),
      "spans_file" -> (if (cfg.trace) Json.str(spansFile.getName) else "null")))
    val recordFile = new File(cfg.results, s"record_$tag.json")
    val pw = new PrintWriter(recordFile, "UTF-8")
    try pw.println(record) finally pw.close()

    checks.filterNot(_._2).foreach { case (n, _) => System.err.println(s"graftbench: check failed: $n") }
    println(s"graftbench record ${recordFile.getPath}")
    println(Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(values.map { case (n, (v, u)) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
    0
  }

  private def recordSparkSpans(tracer: Tracer, jobs: Seq[JobAgg], stages: Seq[StageAgg]): Unit =
    if (tracer.enabled) {
      val byStage = stages.map(s => s.stageId -> s).toMap
      jobs.foreach { j =>
        val jid = tracer.record("spark.job", "job", j.startMs, if (j.endMs > 0) j.endMs else j.startMs)
        j.stageIds.flatMap(byStage.get).filter(_.endMs > 0).foreach { s =>
          tracer.record("spark.stage", "stage", s.submitMs, s.endMs, parent = jid)
        }
      }
    }

  private def writeSpans(f: File, tracer: Tracer, cfg: Config): Unit = {
    val spans = tracer.all
    val self = Trace.selfTimeMs(spans)
    val runId = s"${cfg.workload}-${cfg.seed}-${System.currentTimeMillis()}"
    val pw = new PrintWriter(f, "UTF-8")
    try pw.println(Json.obj(Seq(
      "run_id" -> Json.str(runId),
      "workload" -> Json.str(cfg.workload),
      "seed" -> cfg.seed.toString,
      "self_time_ms" -> Json.obj(self.toSeq.sortBy(-_._2).map { case (k, v) => k -> Json.num(v) }),
      "spans" -> Json.arr(spans.map(s => Json.obj(Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString,
        "run_id" -> Json.str(runId),
        "name" -> Json.str(s.name), "kind" -> Json.str(s.kind),
        "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs))))))))
    finally pw.close()
  }

  /** The traced run's per-layer figures. Stage and phase figures are
    * medians over the steady passes; the `core`, `guards` and (outside
    * filter_job) `pipeline` calls run here, after the passes.
    */
  private def perLayer(spark: SparkSession, ctx: Ctx, w: Workload,
      cold: Timed, steady: Seq[Timed], compiles: Long, compileMs: Double,
      drained: Drain): Map[String, Double] = {
    val tracer = ctx.tracer
    val m = scala.collection.mutable.Map.empty[String, Double]
    def med(f: Timed => Double) = Stats.median(steady.map(f))
    def stageMed(f: StageSums => Double) = med(t => f(t.stage.get))
    m ++= Seq(
      "stage.jobs" -> stageMed(_.jobs),
      "stage.stages" -> stageMed(_.stages),
      "stage.tasks" -> stageMed(_.tasks),
      "stage.executor_cpu_s" -> stageMed(_.cpuS),
      "stage.executor_run_s" -> stageMed(_.runS),
      "stage.gc_s" -> stageMed(_.gcS),
      "stage.shuffle_write_bytes" -> stageMed(_.shuffleWrite.toDouble),
      "stage.shuffle_read_bytes" -> stageMed(_.shuffleRead.toDouble),
      "stage.spill_bytes" -> stageMed(_.spill.toDouble),
      "stage.input_bytes" -> stageMed(_.input.toDouble),
      "stage.output_bytes" -> stageMed(_.output.toDouble),
      "stage.task_skew" -> stageMed(_.skew),
      "stage.core_utilization" -> stageMed(_.utilization),
      "stage.failed_tasks" -> steady.map(_.stage.get.failedTasks).sum.toDouble,
      "phase.driver_gap_s" -> stageMed(_.driverGapS),
      "phase.codegen_compiles" -> compiles.toDouble,
      "phase.codegen_compile_ms" -> compileMs,
      "phase.warmup_s" -> (cold.out.wallS - med(_.out.wallS)))
    steady.flatMap(_.out.layers.keys).distinct.filter(_.startsWith("streaming."))
      .foreach(k => m(k) = med(_.out.layers.getOrElse(k, 0.0)))

    w match {
      case s: StreamIngest =>
        m("streaming.jobs_per_batch") =
          med(t => t.stage.get.jobs / math.max(1.0, t.out.layers.getOrElse("streaming.batches", 0.0)))
        m("streaming.source_rows_per_turn") =
          med(_.out.layers.getOrElse("streaming.source_rows", 0.0)) / math.max(1L, s.turns)
        val (hist, bloom) = s.stateBytes
        m("operators.history_bytes") = hist.toDouble
        m("operators.bloom_bytes") = bloom.toDouble
        m("operators.accepted_share") = s.acceptedRows.toDouble / math.max(1L, s.turns)
      case _ =>
    }

    // core: single-threaded kernel calls on a fixed sample of the workload's texts
    val texts = w.store.read(spark).toDF()
      .orderBy("conv_id", "turn_idx").select("text").limit(2000)
      .collect().map(r => if (r.isNullAt(0)) "" else r.getString(0))
    var sink = 0L
    def kernel(name: String)(f: String => Long): Double = tracer.span(s"core.$name") {
      var i = 0
      while (i < texts.length) { sink += f(texts(i)); i += 1 }
      Stats.median((1 to 5).map { _ =>
        val t0 = System.nanoTime()
        var j = 0
        while (j < texts.length) { sink += f(texts(j)); j += 1 }
        (System.nanoTime() - t0).toDouble / texts.length
      })
    }
    m("core.stats_ns_per_turn") = kernel("stats")(t => TextStats.stats(t).cp.toLong)
    m("core.langid_ns_per_turn") = kernel("langid")(t => LangId.model.score(t)._1.length.toLong)
    m("core.ppl_ns_per_turn") = kernel("ppl")(t => ByteLM.model.perplexity(t).toLong)
    m("core.scrub_ns_per_turn") = kernel("scrub")(t => Scrub(t).length.toLong)
    if (sink == 42L) System.err.println("")

    // guards: the label path's two public halves, forced on the workload's turns
    val turnsDf = w.store.read(spark).toDF()
    val nTurns = turnsDf.count().toDouble
    val (_, winS) = time(tracer.span("guards.withWindow") {
      QualityPipeline.withWindow(turnsDf).queryExecution.toRdd.count()
    })
    drained(()) // the score call's stages are read on their own
    val (phases, _, scoreStages) = drained(tracer.span("guards.score") {
      val a = System.nanoTime()
      val df = QualityPipeline.select(QualityPipeline.score(turnsDf))
      val b = System.nanoTime()
      df.queryExecution.executedPlan
      val c = System.nanoTime()
      df.queryExecution.toRdd.count()
      val d = System.nanoTime()
      ((b - a) / 1e9, (c - b) / 1e9, (d - c) / 1e9)
    })
    val (construct, plan, execute) = phases
    m("guards.window_s") = winS
    m("guards.score_s") = construct + plan + execute
    val cpuUs = scoreStages.map(_.cpuNs).sum / 1e3 / math.max(1.0, nTurns)
    m("guards.cpu_us_per_turn") = cpuUs
    val kernelUs = Seq("stats", "langid", "ppl", "scrub").map(k => m(s"core.${k}_ns_per_turn")).sum / 1e3
    m("guards.kernel_share") = if (cpuUs > 0) kernelUs / cpuUs else 0.0
    m("phase.construct_s") = construct
    m("phase.plan_s") = plan
    m("phase.execute_s") = execute

    // pipeline: the production job over the workload's turns
    w match {
      case _: FilterJob =>
        m("pipeline.job_s") = med(_.out.wallS)
        m("pipeline.kept_share") =
          med(t => t.out.layers.getOrElse("kept", 0.0) / math.max(1.0, t.out.layers.getOrElse("in", 0.0)))
      case _ =>
        val out = ctx.path("layer_job")
        val (r, s) = time(tracer.span("pipeline.QualityFilterJob.run") {
          QualityFilterJob.run(spark, w.store, out, "bench-layer")
        })
        m("pipeline.job_s") = s
        m("pipeline.kept_share") = r.turnsKept.toDouble / math.max(1L, r.turnsIn)
    }
    m.toMap
  }
}
