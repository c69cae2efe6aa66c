package graftbench

import java.io.File
import java.nio.file.Files
import core.{Lcg, OracleEvaluator, SynthGen, Turn}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import pipeline.{ParquetStore, QualityFilterJob, TranscriptStore}

/** What one pass did. `stepsMs` are the units a caller waits on inside the
  * pass: the job run, or each micro-batch. `layers` holds the pass's own
  * per-layer figures.
  */
final case class PassOut(wallS: Double, stepsMs: Seq[Double], attempted: Int,
    failed: Int, layers: Map[String, Double] = Map.empty)

final class Ctx(val spark: SparkSession, val cfg: Config, val tracer: Tracer) {
  def path(rel: String): String = new File(cfg.work, rel).getPath

  /** Counts pinned for this workload, scale and seed (key -> value). */
  val pins: Map[String, Long] = {
    val scale = if (cfg.tiny) "tiny" else "full"
    val src = scala.io.Source.fromFile(cfg.pins, "UTF-8")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).collect {
        case Array(w, sc, seed, k, v) if w == cfg.workload && sc == scale && seed == cfg.seed.toString =>
          k -> v.toLong
      }.toMap
    finally src.close()
  }

  /** (name, passed) for each pinned key, against what the run measured. */
  def pinChecks(measured: Map[String, Long]): Seq[(String, Boolean)] =
    pins.toSeq.sorted.map { case (k, v) => s"${cfg.workload}.pinned_$k" -> measured.get(k).contains(v) }
}

trait Workload {
  /** Writes the inputs; called several times, the last call's inputs are used. */
  def stage(rep: Int): Unit
  /** Input turns one pass processes. */
  def turns: Long
  def pass(i: Int): PassOut
  /** Passes after the cold one that still warm the JIT: run, checked and
    * counted, but kept out of the steady figures.
    */
  def warmupPasses: Int
  /** Output checks on the last pass, as (name, passed). */
  def checks(): Seq[(String, Boolean)]
  /** Output counts of the last pass that must not move (valid after `checks`). */
  def counts: Map[String, Long]
  /** The workload's own turns, for the per-layer calls of a traced run. */
  def store: TranscriptStore
}

object Workload {
  def apply(ctx: Ctx): Workload = ctx.cfg.workload match {
    case "filter_job" => new FilterJob(ctx)
    case "stream_ingest" => new StreamIngest(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** One pass's failure is counted, never thrown: the run goes on. */
  def guarded(what: String)(body: => Unit): Boolean =
    try { body; true }
    catch {
      case t: Throwable =>
        System.err.println(s"graftbench: $what failed: $t")
        false
    }
}

/** Seeded synthetic inputs. The seed picks where in `SynthGen`'s ordinal
  * space the conversations come from; ordinal 0, the planted
  * mega-conversation, is always included once.
  */
object Inputs {
  /** First ordinal of the seed's range for one input. */
  def start(seed: Long, salt: Long): Long =
    1L + java.lang.Math.floorMod(Lcg.mix(seed, salt), 90000000L)

  /** End of the ordinal range from `start` holding at least `turns` turns, and its turn count. */
  def rangeFrom(start: Long, turns: Long, target: Long): (Long, Long) = {
    var end = start
    var acc = 0L
    while (acc < turns) { acc += SynthGen.convTurns(end, target); end += 1 }
    (end, acc)
  }

  def turnsOf(ordinal: Long, target: Long): Seq[Turn] =
    SynthGen.genConv(ordinal, target).map(_.toTurn)
}

/** The production job, `QualityFilterJob.run` with its defaults, over a
  * seeded parquet corpus written during set-up.
  */
final class FilterJob(ctx: Ctx) extends Workload {
  import ctx.spark.implicits._
  private val spark = ctx.spark
  private val target = if (ctx.cfg.tiny) 4000L else 50000L
  private val input = ctx.path("filter_input")
  private var generated = 0L
  private var lastOut: String = null
  private var lastResult: QualityFilterJob.Result = null

  val store: TranscriptStore = ParquetStore(input)
  def turns: Long = generated
  // a few large jobs per pass: the second pass already reads within a few
  // percent of later ones
  def warmupPasses: Int = 0

  def stage(rep: Int): Unit = {
    val t = target
    val mega = SynthGen.megaTurns(t)
    val start = Inputs.start(ctx.cfg.seed, 11L)
    val (end, acc) = Inputs.rangeFrom(start, t - mega, t)
    val dir = if (rep == 0) input else s"$input.rep$rep"
    spark.range(start, end, 1, 4).union(spark.range(0, 1, 1, 1)).as[Long]
      .flatMap(o => Inputs.turnsOf(o, t))
      .write.mode("overwrite").parquet(dir)
    if (rep != 0) Workload.deleteTree(new File(dir))
    generated = acc + mega
  }

  def pass(i: Int): PassOut = {
    val out = ctx.path(s"filter_out/$i")
    val t0 = System.nanoTime()
    var r: QualityFilterJob.Result = null
    val ok = Workload.guarded(s"filter_job pass $i") {
      r = ctx.tracer.span("pipeline.QualityFilterJob.run") {
        QualityFilterJob.run(spark, store, out, s"bench-$i")
      }
    }
    val wall = Workload.seconds(t0)
    val good = ok && r.turnsIn == generated
    if (lastOut != null) Workload.deleteTree(new File(lastOut))
    lastOut = out
    lastResult = r
    PassOut(wall, Seq(wall * 1e3), 1, if (good) 0 else 1,
      if (r != null) Map("kept" -> r.turnsKept.toDouble, "in" -> r.turnsIn.toDouble) else Map.empty)
  }

  /** Output checks on the last pass. Three logical partitions are recomputed
    * by the Spark-free oracle: keep flags and byte-exact scrubbed text.
    */
  def checks(): Seq[(String, Boolean)] = {
    val r = lastResult
    if (r == null) return Seq("filter_job.result" -> false)
    val kept = spark.read.parquet(s"$lastOut/kept")
    val totals = spark.read.parquet(s"$lastOut/metrics").filter(col("rule") === "_total")
      .agg(sum("turns_in"), sum("turns_kept")).head()
    val oracleOk = Workload.guarded("filter_job oracle check") {
      val n = QualityFilterJob.LogicalPartitions
      // the mega-conversation's partition and the two lowest others present
      val mega = guards.expr.Scorers.convPartId(
        org.apache.spark.unsafe.types.UTF8String.fromString(SynthGen.genConv(0L, 1L).head.conv_id), n)
      val withPart = store.read(spark).toDF().withColumn("_p", guards.expr.ScoreFns.convPartId(col("conv_id"), n))
      val oracleParts = mega +: withPart.filter(col("_p") =!= mega).select("_p").distinct()
        .orderBy("_p").limit(2).as[Int].collect().toSeq
      val in = withPart.filter(col("_p").isin(oracleParts: _*)).drop("_p").as[Turn].collect().toSeq
      val want = OracleEvaluator.evaluate(in).filter(_.keep)
        .map(s => (s.conv_id, s.turn_idx, s.scrubbed_text)).sorted
      val got = kept.filter(col("part_id").isin(oracleParts: _*))
        .select("conv_id", "turn_idx", "scrubbed_text").as[(String, Int, String)]
        .collect().toSeq.sorted
      require(in.nonEmpty && want == got,
        s"oracle mismatch: ${want.size} expected kept rows, ${got.size} written")
    }
    Seq(
      "filter_job.turns_in_equals_generated" -> (r.turnsIn == generated),
      "filter_job.kept_rows_equal_turns_kept" -> (kept.count() == r.turnsKept),
      "filter_job.metrics_totals_agree" ->
        (!totals.isNullAt(0) && totals.getLong(0) == r.turnsIn && totals.getLong(1) == r.turnsKept),
      "filter_job.oracle_partitions" -> oracleOk) ++ ctx.pinChecks(counts)
  }

  def counts: Map[String, Long] =
    if (lastResult == null) Map.empty
    else Map("turns_in" -> lastResult.turnsIn, "turns_kept" -> lastResult.turnsKept)
}

/** One Structured Streaming query drains seeded parquet files, one file per
  * micro-batch: readTurns → statelessScore → filter(keep) → dedupNewTexts.
  * Each file after the first re-delivers about 10% of the previous file's
  * rows, as an at-least-once source would.
  */
final class StreamIngest(ctx: Ctx) extends Workload {
  import ctx.spark.implicits._
  private val spark = ctx.spark
  private val nFiles = 3
  private val perFile = if (ctx.cfg.tiny) 300L else 2500L
  private val input = ctx.path("stream_input")
  private var staged = 0L
  private var lastOut: String = null
  private var lastState: String = null
  private var lastAccepted = -1L

  val store: TranscriptStore = ParquetStore(input)
  def turns: Long = staged
  // ~50 small jobs per pass: the second pass still reads 5-15% slower than
  // later ones
  def warmupPasses: Int = 1

  def stage(rep: Int): Unit = {
    val target = nFiles * perFile
    val mega = SynthGen.megaTurns(target)
    // consecutive ordinal slices, one per file
    val slices = (0 until nFiles).scanLeft((0L, Inputs.start(ctx.cfg.seed, 29L))) {
      case ((_, from), _) => (from, Inputs.rangeFrom(from, perFile, target)._1)
    }.tail
    // (file, ordinal, re-delivered?) — file i re-sends a hashed tenth of file i-1
    val plan = (0 until nFiles).flatMap { i =>
      val (s, e) = slices(i)
      val fresh = (s until e).map(o => (i, o, false))
      val again = if (i == 0) Seq((0, 0L, false))
        else (slices(i - 1)._1 until slices(i - 1)._2).map(o => (i, o, true))
      fresh ++ again
    }
    val n = nFiles
    val rdd = spark.sparkContext.parallelize(plan, n)
      .map(p => (p._1, p))
      .partitionBy(new org.apache.spark.HashPartitioner(n))
      .flatMap { case (_, (_, o, redeliver)) =>
        Inputs.turnsOf(o, target).filter(t =>
          !redeliver || java.lang.Math.floorMod((t.conv_id + "#" + t.turn_idx).hashCode, 10) == 0)
      }
    val tmp = ctx.path(s"stream_tmp$rep")
    spark.createDataset(rdd).write.mode("overwrite").parquet(tmp)
    val parts = new File(tmp).listFiles.filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    require(parts.length == nFiles, s"staged ${parts.length} files, wanted $nFiles")
    val dst = new File(if (rep == 0) input else ctx.path(s"stream_input.rep$rep"))
    Workload.deleteTree(dst)
    dst.mkdirs()
    val base = System.currentTimeMillis() - 3600000L
    parts.zipWithIndex.foreach { case (f, i) =>
      val to = new File(dst, f"batch-$i%03d.parquet")
      Files.move(f.toPath, to.toPath)
      to.setLastModified(base + i * 1000L)
    }
    Workload.deleteTree(new File(tmp))
    staged = spark.read.schema(TranscriptStore.turnSchema).parquet(dst.getPath).count()
    if (rep != 0) Workload.deleteTree(dst)
  }

  def pass(i: Int): PassOut = {
    val base = ctx.path(s"stream_out/$i")
    val (out, state) = (s"$base/accepted", s"$base/state")
    val t0 = System.nanoTime()
    var progress = Seq.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
    val ok = Workload.guarded(s"stream_ingest pass $i") {
      val scored = streaming.TranscriptStream.statelessScore(
        streaming.TranscriptStream.readTurns(spark, input)).filter(col("keep"))
      val q = streaming.TranscriptStream.dedupNewTexts(scored, out, state, expectedItems = staged)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$base/checkpoint")
        .start()
      try q.awaitTermination() finally q.stop()
      q.exception.foreach(e => throw e)
      progress = q.recentProgress.toSeq.filter(_.numInputRows > 0)
    }
    val wall = Workload.seconds(t0)
    val batches = progress.map(_.batchDuration.toDouble)
    if (lastOut != null) Workload.deleteTree(new File(lastOut).getParentFile)
    lastOut = out
    lastState = state
    def dur(k: String) = progress.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0))
    PassOut(wall, batches, 1 + nFiles,
      (if (ok) 0 else 1) + math.max(0, nFiles - batches.size),
      Map(
        "streaming.add_batch_ms" -> Stats.median(dur("addBatch")),
        "streaming.query_planning_ms" -> Stats.median(dur("queryPlanning")),
        "streaming.offset_commit_ms" -> Stats.median(dur("walCommit").zip(dur("commitOffsets")).map { case (a, b) => a + b }),
        "streaming.batches" -> progress.size.toDouble,
        "streaming.source_rows" -> progress.map(_.numInputRows.toDouble).sum))
  }

  def stateBytes: (Long, Long) = {
    def size(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(size).sum).getOrElse(0L)
      else if (f.getName.endsWith(".parquet")) f.length else 0L
    (size(new File(lastOut)), new File(lastState, "history.bloom").length)
  }

  def acceptedRows: Long = lastAccepted

  /** Output checks on the last pass; also fixes `acceptedRows`. */
  def checks(): Seq[(String, Boolean)] = {
    if (lastOut == null || !new File(lastOut).exists) return Seq("stream_ingest.result" -> false)
    val acc = spark.read.parquet(lastOut).select("text")
    lastAccepted = acc.count()
    // distinct kept texts of the staged files, computed in batch mode
    val want = streaming.TranscriptStream.statelessScore(
      spark.read.schema(TranscriptStore.turnSchema).parquet(input))
      .filter(col("keep") && col("text").isNotNull).select("text").distinct()
    Seq(
      "stream_ingest.accepted_texts_distinct" -> (acc.distinct().count() == lastAccepted),
      "stream_ingest.accepted_equals_distinct_kept" ->
        (want.count() == lastAccepted && acc.except(want).isEmpty && want.except(acc).isEmpty)) ++
      ctx.pinChecks(counts)
  }

  def counts: Map[String, Long] = Map("staged" -> staged, "accepted" -> lastAccepted)
}
