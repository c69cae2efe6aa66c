package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import pipeline.{Manifest, QualityFilterJob, SynthStore}
import scala.jdk.CollectionConverters._

/** Suite (f) of SURVEY.md §6.3: idempotent partition-granular resume.
  * Simulates a run killed after k partition commits by tampering a
  * completed run's on-disk state (manifest minus some ids + their output
  * dirs deleted), then asserts the re-run processes exactly the missing
  * partitions and the final output is identical to an uninterrupted run.
  */
class ResumeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val Target = 2000L

  private def deleteRec(p: Path): Unit = {
    if (Files.isDirectory(p))
      Files.list(p).forEach(deleteRec(_))
    Files.deleteIfExists(p)
  }

  private def keptRows(dir: String): Set[String] =
    spark.read.parquet(s"$dir/kept")
      .select(concat_ws("§", col("conv_id"), col("turn_idx"), col("scrubbed_text"),
        col("part_id")))
      .collect().map(_.getString(0)).toSet

  /** Simulates a kill after half the commits: the manifest keeps the first
    * half of `res`'s partitions, the other half loses its output dirs.
    * Returns (committed, lost).
    */
  private def loseLastHalf(dir: String, res: QualityFilterJob.Result): (Seq[Int], Seq[Int]) = {
    val all = res.processedPartitions
    val (committed, lost) = all.splitAt(all.size / 2)
    Manifest.write(dir, Manifest.read(dir).get.copy(committed = committed.toSet))
    lost.foreach { pid =>
      deleteRec(Paths.get(s"$dir/kept/part_id=$pid"))
      deleteRec(Paths.get(s"$dir/metrics/partition_id=$pid"))
    }
    (committed, lost)
  }

  /** Number of parquet data files in each `kept/part_id=*` directory. */
  private def keptFilesPerPart(dir: String): Map[String, Int] = {
    def list(p: Path): Seq[Path] = {
      val s = Files.list(p)
      try s.iterator().asScala.toList finally s.close()
    }
    list(Paths.get(s"$dir/kept"))
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("part_id="))
      .map(d => d.getFileName.toString -> list(d).count { f =>
        val n = f.getFileName.toString
        n.startsWith("part-") && n.endsWith(".parquet")
      }).toMap
  }

  test("full run, kill-after-k-commits, resumed run: identical output, no reprocessing") {
    val dirA = Files.createTempDirectory("graft_resume_a").toString
    val dirB = Files.createTempDirectory("graft_resume_b").toString
    try {
      val store = SynthStore(Target)
      val resA = QualityFilterJob.run(spark, store, dirA, "runA")
      assert(resA.turnsIn > 0 && resA.turnsKept > 0)
      assert(resA.processedPartitions.nonEmpty && resA.skippedPartitions.isEmpty)

      // run B fully, then tamper: pretend the last half never committed
      val (committed, lost) =
        loseLastHalf(dirB, QualityFilterJob.run(spark, store, dirB, "runB"))

      val resB2 = QualityFilterJob.run(spark, store, dirB, "runB2")
      assert(resB2.processedPartitions.toSet == lost.toSet,
        s"reprocessed ${resB2.processedPartitions} expected $lost")
      assert(resB2.skippedPartitions.toSet == committed.toSet)
      assert(keptRows(dirB) == keptRows(dirA), "resumed output differs from uninterrupted run")

      // idempotence: a third run with everything committed is a no-op
      val resB3 = QualityFilterJob.run(spark, store, dirB, "runB3")
      assert(resB3.processedPartitions.isEmpty)
      assert(keptRows(dirB) == keptRows(dirA))
    } finally {
      deleteRec(Paths.get(dirA))
      deleteRec(Paths.get(dirB))
    }
  }

  test("kept layout: one file per logical partition, fresh and resumed") {
    // without AQE coalescing every shuffle partition is its own write task,
    // so a part_id spread over several tasks would show as several files
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val prior = spark.conf.getOption(key)
    val dirA = Files.createTempDirectory("graft_layout_a").toString
    val dirB = Files.createTempDirectory("graft_layout_b").toString
    try {
      spark.conf.set(key, "false")
      val store = SynthStore(Target)
      val resA = QualityFilterJob.run(spark, store, dirA, "layoutA")
      val filesA = keptFilesPerPart(dirA)
      assert(filesA.nonEmpty && filesA.keySet.subsetOf(
        resA.processedPartitions.map(p => s"part_id=$p").toSet), filesA.toString)
      assert(filesA.values.forall(_ == 1), s"fresh run: $filesA")

      val (_, lost) =
        loseLastHalf(dirB, QualityFilterJob.run(spark, store, dirB, "layoutB"))
      val resB = QualityFilterJob.run(spark, store, dirB, "layoutB2")
      assert(resB.processedPartitions.toSet == lost.toSet)
      val filesB = keptFilesPerPart(dirB)
      assert(filesB.keySet == filesA.keySet)
      assert(filesB.values.forall(_ == 1), s"resumed run: $filesB")
      assert(keptRows(dirB) == keptRows(dirA), "resumed output differs from uninterrupted run")
    } finally {
      prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      deleteRec(Paths.get(dirA))
      deleteRec(Paths.get(dirB))
    }
  }

  test("metrics table: per-(partition, rule) rows plus _total per partition") {
    val dir = Files.createTempDirectory("graft_metrics").toString
    try {
      QualityFilterJob.run(spark, SynthStore(Target), dir, "runM")
      val m = spark.read.parquet(s"$dir/metrics")
      val cols = m.columns.toSet
      assert(QualityFilterJob.metricsSchemaCols.toSet.subsetOf(cols), cols.toString)
      val parts = m.select("partition_id").distinct().count()
      val totals = m.filter(col("rule") === "_total").count()
      assert(totals == parts, s"$totals _total rows for $parts partitions")
      // hits on _total == dropped turns
      val agg = m.filter(col("rule") === "_total")
        .agg(sum("turns_in"), sum("turns_kept"), sum("hits")).head()
      assert(agg.getLong(0) - agg.getLong(1) == agg.getLong(2))
    } finally deleteRec(Paths.get(dir))
  }

  test("zero-work run on a fresh dir still creates a readable empty metrics table") {
    // every partition already committed upstream ⇒ the run processes zero
    // rows; downstream readers must still find $dir/metrics (empty, typed)
    val dir = Files.createTempDirectory("graft_metrics_empty").toString
    try {
      Manifest.write(dir, Manifest("pre", "synth@seed42", "rulespec-v1",
        (0 until QualityFilterJob.LogicalPartitions).toSet))
      val res = QualityFilterJob.run(spark, SynthStore(Target), dir, "runE")
      assert(res.processedPartitions.isEmpty && res.turnsIn == 0)
      val m = spark.read.parquet(s"$dir/metrics")
      assert(m.count() == 0)
      assert(QualityFilterJob.metricsSchemaCols.toSet.subsetOf(m.columns.toSet))
    } finally deleteRec(Paths.get(dir))
  }

  test("manifest round-trips") {
    val m = Manifest("r1", "snap", "sha", Set(3, 1, 2))
    assert(Manifest.parse(Manifest.render(m)) == m)
    assert(Manifest.parse(Manifest.render(m.copy(committed = Set.empty))).committed.isEmpty)
  }
}
