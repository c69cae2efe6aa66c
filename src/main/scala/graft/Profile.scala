package graft

import scala.collection.mutable
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, GraftSqlShim, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions.{col, xxhash64}
import org.json4s.JsonAST.JObject
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}
import pipeline.Sessions

/** Layer-by-layer profile of named driver queries: one cold rep, then
  * `reps` warm reps, each forced with `queryExecution.toRdd.count()` (the
  * forcing graft.Bench uses). Every rep emits one JSON line joining plan
  * facts (construction time, `queryExecution.tracker` phases, codegen
  * compiles) with runtime facts from one SparkListener (jobs, the driver
  * gap no job covers, and per stage: wall, task time, CPU, GC, shuffle,
  * spill, max/median task time). `explain` emits each query's formatted
  * plan and runs no job; `hash` adds one untimed run's order-insensitive
  * content hash, computed executor-side.
  *
  * runMain graft.Profile [--explain] [--hash] <query>...
  * env: SPARK_GRAFT_SF_DIR (fixture tier directory), SPARK_GRAFT_CPUS,
  * SPARK_GRAFT_REPS (warm reps, default 3)
  */
object Profile {
  private final class StageSums(val id: Int) {
    var name = ""
    var ops = Seq.empty[String]
    var wallMs = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }

  /** Jobs and stages since the last `take`; read only after the bus drained. */
  private final class Recorder extends SparkListener {
    private val jobs = mutable.Map.empty[Int, (Long, Long)]
    private val stages = mutable.Map.empty[Int, StageSums]
    private var tasks = 0L

    private def stage(id: Int) = stages.getOrElseUpdate(id, new StageSums(id))

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs(e.jobId) = (e.time, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach { case (start, _) => jobs(e.jobId) = (start, e.time) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val info = e.stageInfo
      val s = stage(info.stageId)
      s.name = info.name
      s.ops = info.rddInfos.sortBy(_.id).flatMap(_.scope.map(_.name)).distinct
      s.wallMs += (for (a <- info.submissionTime; b <- info.completionTime) yield b - a)
        .getOrElse(0L)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val s = stage(e.stageId)
      tasks += 1
      s.taskMs += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

    def take(): (Seq[(Long, Long)], Seq[StageSums], Long) = synchronized {
      val out = (jobs.values.toSeq, stages.values.toSeq.sortBy(_.id), tasks)
      jobs.clear(); stages.clear(); tasks = 0
      out
    }
  }

  /** Length of [from, to] covered by at least one interval. */
  private def covered(ivs: Seq[(Long, Long)], from: Long, to: Long): Long =
    ivs.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft((0L, from)) { case ((sum, reach), (a, b)) =>
        if (b <= reach) (sum, reach) else (sum + b - math.max(a, reach), b)
      }._1

  /** To three decimals: milliseconds for the `_s` fields. */
  private def round3(x: Double): Double = math.rint(x * 1e3) / 1e3

  private def codegen: (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  private def stageJson(s: StageSums): JObject = {
    val sorted = s.taskMs.sorted
    def at(i: Int) = if (sorted.isEmpty) 0.0 else round3(sorted(i) / 1e3)
    ("id" -> s.id) ~ ("name" -> s.name) ~ ("ops" -> s.ops) ~
      ("wall_s" -> round3(s.wallMs / 1e3)) ~ ("tasks" -> s.taskMs.size) ~
      ("run_s" -> round3(s.runMs / 1e3)) ~ ("cpu_s" -> round3(s.cpuNs / 1e9)) ~
      ("gc_s" -> round3(s.gcMs / 1e3)) ~
      ("shuffle_read_bytes" -> s.shuffleRead) ~ ("shuffle_write_bytes" -> s.shuffleWrite) ~
      ("spill_bytes" -> s.spill) ~
      ("task_max_s" -> at(sorted.size - 1)) ~ ("task_p50_s" -> at((sorted.size - 1) / 2))
  }

  /** One timed rep of `query`: construction plus forcing, as a JSON line. */
  private def rep(spark: SparkSession, rec: Recorder, query: String,
      build: () => DataFrame, i: Int): String = {
    GraftSqlShim.drainListenerBus(spark.sparkContext)
    rec.take() // drop the previous query's untimed hash run
    val (compiles0, compileNs0) = codegen
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val df = build()
    val t1 = System.nanoTime()
    val rows = df.queryExecution.toRdd.count()
    val t2 = System.nanoTime()
    val endMs = System.currentTimeMillis()
    val (compiles1, compileNs1) = codegen
    GraftSqlShim.drainListenerBus(spark.sparkContext)
    val (jobs, stages, tasks) = rec.take()
    val wall = (t2 - t0) / 1e9
    val gap = math.max(0.0, wall - covered(jobs, startMs, endMs) / 1e3)
    compact(render(
      ("query" -> query) ~ ("rep" -> i) ~ ("cold" -> (i == 0)) ~ ("rows" -> rows) ~
        ("wall_s" -> round3(wall)) ~ ("construct_s" -> round3((t1 - t0) / 1e9)) ~
        ("phases_ms" -> df.queryExecution.tracker.phases.map { case (k, p) => k -> p.durationMs }) ~
        ("codegen_compiles" -> (compiles1 - compiles0)) ~
        ("codegen_compile_ms" -> round3((compileNs1 - compileNs0) / 1e6)) ~
        ("jobs" -> jobs.size) ~ ("stages" -> stages.size) ~ ("tasks" -> tasks) ~
        ("driver_gap_s" -> round3(gap)) ~ ("per_stage" -> stages.map(stageJson))))
  }

  /** Order-insensitive content hash: the wrapping sum of every row's
    * xxhash64 over its JSON form, summed on the executors.
    */
  def contentHash(df: DataFrame): (Long, String) = {
    val (n, h) = df.toJSON.select(xxhash64(col("value"))).queryExecution.toRdd
      .map(_.getLong(0))
      .aggregate((0L, 0L))({ case ((c, s), x) => (c + 1, s + x) },
        { case ((c1, s1), (c2, s2)) => (c1 + c2, s1 + s2) })
    (n, f"$h%016x")
  }

  /** Profiles `names` on `spark`, handing each output line to `emit`. The
    * listener is registered for this call only.
    */
  def run(spark: SparkSession, sfDir: String, names: Seq[String], reps: Int,
      explain: Boolean = false, hash: Boolean = false,
      emit: String => Unit = println): Unit = {
    val fns = names.map(n => n -> SparkEntry.queries.getOrElse(n,
      throw new IllegalArgumentException(s"unknown query $n")))
    if (explain) fns.foreach { case (n, fn) =>
      emit(s"== $n ==\n" + fn(spark, sfDir).queryExecution
        .explainString(ExplainMode.fromString("formatted")))
    }
    else {
      val rec = new Recorder
      spark.sparkContext.addSparkListener(rec)
      try fns.foreach { case (n, fn) =>
        (0 to reps).foreach(i => emit(rep(spark, rec, n, () => fn(spark, sfDir), i)))
        if (hash) {
          val (rows, h) = contentHash(fn(spark, sfDir))
          emit(compact(render(("query" -> n) ~ ("rows" -> rows) ~ ("hash" -> h))))
        }
      } finally spark.sparkContext.removeSparkListener(rec)
    }
  }

  def main(args: Array[String]): Unit = {
    val (flags, names) = args.toSeq.partition(_.startsWith("--"))
    require(names.nonEmpty && flags.forall(Set("--explain", "--hash")),
      "usage: Profile [--explain] [--hash] <query>...")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("SPARK_GRAFT_SF_DIR must name a fixture tier directory"))
    val reps = sys.env.get("SPARK_GRAFT_REPS").fold(3)(v => v.toIntOption.filter(_ >= 0)
      .getOrElse(sys.error(s"SPARK_GRAFT_REPS must be a non-negative integer, got '$v'")))
    val spark = Sessions.local("graft-profile")
    try run(spark, sfDir, names, reps, flags.contains("--explain"), flags.contains("--hash"))
    finally spark.stop()
  }
}
