package pipeline

import guards.QualityPipeline
import guards.expr.ScoreFns
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The production job (SURVEY.md §4.1): read → resume-filter → window →
  * salted score → rules → fork into filtered-output sink + per-partition
  * lineage/rule-hit metrics sink → commit manifest.
  *
  * Scale design (BASELINE.json:6), three exchanges:
  * - window by conv_id: locality for the lag/row_number rules. It computes
  *   ONLY the O(1)/row lag columns, so a mega-conversation never makes the
  *   expensive scoring a straggler.
  * - salted spread on (conv_id, turn_idx): scoring (exactly once) runs
  *   spread across every core; per-turn rules no longer need conv locality
  *   because the window context is already attached to the row.
  * - rebalance of the kept rows by part_id: each logical resume partition
  *   `pmod(murmur3_32(conv_id), 256)` is written by one task, so a run
  *   writes one file per partition (not tasks × 256) until a partition
  *   outgrows the AQE advisory size, which AQE then splits.
  * Logical partitions are decoupled from shuffle parallelism (SURVEY.md
  * §8.6), so restart granularity is stable across cluster sizes.
  */
object QualityFilterJob {
  final val LogicalPartitions = 256

  final case class Result(
      runId: String,
      processedPartitions: Seq[Int],
      skippedPartitions: Seq[Int],
      turnsIn: Long,
      turnsKept: Long,
      wallMs: Long)

  def metricsSchemaCols: Seq[String] =
    Seq("run_id", "partition_id", "rule", "hits", "turns_in", "turns_kept",
      "bytes_in", "wall_ms")

  /** End-to-end run with idempotent partition-granular resume. */
  def run(
      spark: SparkSession,
      store: TranscriptStore,
      outDir: String,
      runId: String,
      inputSnapshot: String = "synth@seed42",
      configSha: String = "rulespec-v1"): Result = {
    val t0 = System.nanoTime()
    // dynamic partition overwrite (per-WRITE option on each partitioned
    // sink below, never a session conf — which would silently change
    // overwrite semantics for every later job on the shared session):
    // re-running a partition replaces exactly that partition's files
    // (idempotence); untouched partitions survive.
    val committed: Set[Int] = Manifest.read(outDir) match {
      case Some(m) if m.inputSnapshot == inputSnapshot && m.configSha == configSha =>
        m.committed
      case _ => Set.empty
    }

    val turns = store.read(spark).toDF()
      .withColumn("part_id", ScoreFns.convPartId(col("conv_id"), LogicalPartitions))
    // resume filter BEFORE any heavy work; partitions are sets of whole
    // conversations so dropping them never breaks window locality
    val pending =
      if (committed.isEmpty) turns
      else turns.filter(!col("part_id").isin(committed.toSeq: _*))

    val scored = QualityPipeline.scorePostWindow(QualityPipeline.withWindow(pending)
      .repartition(col("conv_id"), col("turn_idx")))
    // ---- SINGLE pass: the kept-output write is the only job over the
    // scored corpus; per-partition lineage/rule metrics and the commit
    // stats ride the salted scoring stage via observe() (PartitionMetricsAgg),
    // so the corpus is scored exactly once — no persist, no re-scan. Only
    // the projected kept rows cross the part_id rebalance to the writer.
    val obs = org.apache.spark.sql.Observation(s"qfj-$runId")
    scored
      .observe(obs, guards.expr.PartitionMetricsAgg(
        col("part_id"), col("keep"), col("text"), col("rule_hits")).as("pm"))
      .filter(col("keep"))
      .select(col("part_id"), col("conv_id"), col("turn_idx"), col("role"),
        col("scrubbed_text"), col("tool"), col("ts"), col("lang"),
        col("lang_conf"), col("ppl"))
      .hint("rebalance", col("part_id"))
      .write.mode(SaveMode.Overwrite).partitionBy("part_id")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(s"$outDir/kept")

    val flat: Map[String, Long] = obs.get("pm") match {
      case m: scala.collection.Map[_, _] =>
        m.map { case (k, v) => k.toString -> v.asInstanceOf[Long] }.toMap
      case other => sys.error(s"unexpected observe result: $other")
    }
    val perPart = guards.expr.PartitionMetricsAgg.parse(flat)

    // ---- sink 2: metrics table built driver-side from the observed map
    // (≤ 256 partitions × ≤ 16 entries — trivially small), same layout as
    // before: per-(partition, rule) hit rows plus a _total row
    val wallMsSoFar = (System.nanoTime() - t0) / 1000000L
    val metricRows = perPart.toSeq.sortBy(_._1).flatMap {
      case (pid, (in, kept, bytes, rules)) =>
        rules.toSeq.sortBy(_._1).map { case (rule, hits) =>
          (runId, pid, rule, hits, in, kept, bytes, wallMsSoFar)
        } :+ ((runId, pid, "_total", in - kept, in, kept, bytes, wallMsSoFar))
    }
    import spark.implicits._
    val metricsPath = new org.apache.hadoop.fs.Path(s"$outDir/metrics")
    val fs = metricsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (metricRows.nonEmpty) {
      // a zero-work run on a fresh dir may have left a root-level empty
      // marker file; remove it so partition discovery never sees a mixed
      // root-file/partition-dir layout
      if (fs.exists(metricsPath))
        fs.listStatus(metricsPath)
          .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
          .foreach(s => fs.delete(s.getPath, false))
      metricRows.toDF(metricsSchemaCols: _*)
        .write.mode(SaveMode.Overwrite).partitionBy("partition_id")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(s"$outDir/metrics")
    } else if (!fs.exists(metricsPath)) {
      // zero rows processed on a fresh dir: still create the metrics path
      // (an empty typed table) so downstream readers never hit missing-path;
      // when prior metrics exist they are left untouched
      metricRows.toDF(metricsSchemaCols: _*)
        .write.mode(SaveMode.Overwrite).parquet(s"$outDir/metrics")
    }

    // ---- commit: all pending partitions that produced rows
    val processed = perPart.keys.toSeq.sorted
    val turnsIn = perPart.values.map(_._1).sum
    val turnsKept = perPart.values.map(_._2).sum
    Manifest.write(outDir, Manifest(runId, inputSnapshot, configSha,
      committed ++ processed))
    Result(runId, processed, committed.toSeq.sorted, turnsIn, turnsKept,
      (System.nanoTime() - t0) / 1000000L)
  }
}
