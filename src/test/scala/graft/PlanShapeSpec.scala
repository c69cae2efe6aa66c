package graft

import guards.QualityPipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite
import pipeline.SynthStore

/** Physical-plan regression net for the design invariants the engine's
  * 100 TB story rests on (SURVEY.md §5): exchange counts on the label
  * paths, parquet predicate pushdown / column pruning, and "no cartesian
  * product ever sneaks into a non-cross query". These held by inspection
  * (graft.Profile --explain); this spec makes a plan regression fail CI.
  */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  /** Exchange-count assertions need concrete (non-adaptive) plans; AQE is
    * re-disabled per block because some query closures call Sessions.tune,
    * which turns it back on for the shared session.
    */
  private def withoutAqe[T](f: => T): T = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try f finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  private def shuffles(df: DataFrame): Seq[SparkPlan] =
    df.queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e }

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("clustered label path: ZERO exchanges end to end") {
    withoutAqe {
      val scored = QualityPipeline.scoreClustered(spark,
        SynthStore(2000L).read(spark).toDF())
      val ex = shuffles(QualityPipeline.select(scored))
      assert(ex.isEmpty,
        s"clustered path gained ${ex.size} exchange(s):\n${ex.mkString("\n")}")
    }
  }

  test("score() auto-detects the conv-clustered generator: ZERO exchanges") {
    withoutAqe {
      val scored = QualityPipeline.score(SynthStore(2000L).read(spark).toDF())
      val ex = shuffles(QualityPipeline.select(scored))
      assert(ex.isEmpty,
        s"generator-sourced score() must take the zero-shuffle clustered " +
          s"path, got ${ex.size} exchange(s):\n${ex.mkString("\n")}")
    }
  }

  test("window label path: exactly ONE exchange (the conv_id window hash)") {
    withoutAqe {
      // scorePostWindow(withWindow(..)) is the generic window formulation
      // score() falls back to for any non-generator plan
      val scored = QualityPipeline.scorePostWindow(
        QualityPipeline.withWindow(SynthStore(2000L).read(spark).toDF()))
      val ex = shuffles(QualityPipeline.select(scored))
      assert(ex.size == 1,
        s"label path must shuffle exactly once, got ${ex.size}:\n${ex.mkString("\n")}")
      assert(ex.head.outputPartitioning.toString.contains("conv_id"),
        s"the single exchange is not the conv_id window hash: ${ex.head}")
    }
  }

  test("sorted label exports: exactly ONE exchange (the range sort)") {
    withoutAqe {
      // the unwrapped q_pipeline_labels / q_pipeline_mp compositions:
      // clustered windowing + checkpoint replaced the conv_id window hash
      // exchange, so only the global sort's range exchange remains
      Seq(SparkEntry.labelsPipeline(spark, sf), SparkEntry.mpPipeline(spark, sf))
        .foreach { df =>
          val ex = shuffles(df)
          assert(ex.size == 1,
            s"sorted export must shuffle exactly once, got ${ex.size}:\n${ex.mkString("\n")}")
          assert(ex.head.outputPartitioning.toString.contains("rangepartitioning"),
            s"the single exchange is not the range sort: ${ex.head}")
        }
    }
  }

  test("score() on any non-generator plan falls back to the window path") {
    withoutAqe {
      // a repartition by conv_id preserves conv grouping but is NOT the
      // bare generator chain — detection must NOT fire (the plan keeps a
      // shuffle; labels equality under repartitioning is asserted in
      // PipelineConformanceSpec)
      val scored = QualityPipeline.score(
        SynthStore(2000L).read(spark).toDF()
          .repartition(5, org.apache.spark.sql.functions.col("conv_id")))
      assert(shuffles(QualityPipeline.select(scored)).nonEmpty,
        "repartitioned input must use the generic window path")
    }
  }

  test("filtered parquet scans push predicates down to the reader") {
    // q_join_range filters events on event_type = 'purchase' — that must
    // reach the parquet scan, not run post-scan
    val txt = formatted(SparkEntry.queries("q_join_range")(spark, sf))
    assert(txt.contains("PushedFilters") && txt.contains("EqualTo(event_type,purchase)"),
      s"event_type filter not pushed:\n$txt")
  }

  test("projection-only scans prune to the referenced columns") {
    // q_dedup_first touches only (doc_id, text); a scan that also reads
    // the other document columns would move ~2x the bytes at corpus scale
    val txt = formatted(SparkEntry.queries("q_dedup_first")(spark, sf))
    val readSchemas = txt.linesIterator.filter(_.contains("ReadSchema")).toList
    assert(readSchemas.nonEmpty, s"no ReadSchema in:\n$txt")
    assert(readSchemas.forall(l => !l.contains("n_chars") && !l.contains("source")),
      s"documents scan reads unused columns:\n${readSchemas.mkString("\n")}")
  }

  test("iterative queries construct and plan lazily: zero Spark jobs before first action") {
    // q_dedup_groups / q_dedup_lines / q_dedup_lines_nl / q_dedup_inc_near
    // run convergence loops or cap-bounded collects — LazyFrame must defer
    // ALL of that to first action, so an explain-only sweep is free
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Seq("q_dedup_groups", "q_dedup_lines", "q_dedup_lines_nl",
        "q_dedup_inc_near", "q_bm25", "q_curate_e2e",
        "q_pipeline_labels", "q_pipeline_mp").foreach { q =>
        // force full planning, not just construction
        SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan
      }
      // listener delivery is async: run ONE sentinel job and wait for ITS
      // event — events are delivered in order, so once the sentinel has
      // arrived, any job started during planning would already be counted
      spark.sparkContext.parallelize(1 to 1, 1).count()
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (jobs.get() < 1 && System.nanoTime() < deadline) Thread.sleep(10)
      assert(jobs.get() == 1,
        s"${jobs.get() - 1} Spark job(s) ran during lazy-query planning")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("LazyFrame defers the thunk to first action and checks the declared schema") {
    import org.apache.spark.sql.functions.lit
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    var ran = false
    val good = LazyFrame(spark,
      StructType(Seq(StructField("x", LongType)))) {
      ran = true
      spark.range(3).select(org.apache.spark.sql.functions.col("id").as("x"))
    }
    assert(!ran, "thunk must not run at construction")
    good.queryExecution.executedPlan // planning alone must not run it either
    assert(!ran, "thunk must not run at planning")
    assert(good.count() == 3 && ran)
    // a thunk whose schema diverges from the declaration fails loudly at
    // first action (InternalRow consumption is positional — a silent
    // mismatch would mis-read columns)
    val bad = LazyFrame(spark,
      StructType(Seq(StructField("x", LongType)))) {
      spark.range(3).select(lit("s").as("x"))
    }
    val e = intercept[Exception] { bad.count() }
    // the failure may surface raw (driver-side getPartitions) or wrapped;
    // either way the LazyFrame contract message must be the cause
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("LazyFrame")), messages(e).mkString("; "))
  }

  test("bm25's raw plan: no cartesian; NLJs are only the one-row scalar attaches") {
    // q_bm25 is LazyFrame-wrapped (its inner plan is opaque to the sweep
    // below), so the unwrapped operator frame is audited directly: the
    // lazy N/avgdl fold must appear as ≤2 one-row broadcast NLJs (idf and
    // the scored projection), never a CartesianProduct
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
    val txt = formatted(
      operators.TextAnalysis.bm25Scores(docs, Seq("spark", "data")))
    assert(!txt.contains("CartesianProduct"), txt)
    // formatted mode lists each node twice (tree + detail); count the
    // detail headers "(n) BroadcastNestedLoopJoin" so each node counts once
    val bnlj = txt.linesIterator
      .count(_.trim.matches("\\(\\d+\\) BroadcastNestedLoopJoin.*"))
    assert(bnlj <= 2, s"expected at most 2 one-row scalar-attach NLJs, got $bnlj:\n$txt")
  }

  test("curation composition's raw plan: no cartesian; NLJ only the one-row mixing normalization") {
    // q_curate_e2e is LazyFrame-wrapped (opaque to the sweep below); audit
    // the unwrapped composition. Building it runs the detection-phase
    // collects (smoke tier, cheap); the FINAL composed plan must contain
    // no cartesian and at most the mixing plan's one-row broadcast-NLJ
    // normalization.
    val txt = formatted(SparkEntry.curatePipeline(spark, sf))
    assert(!txt.contains("CartesianProduct"), txt)
    // the mixing plan's ONE-ROW normalization NLJ is planned twice because
    // the mixed frame feeds both sides of the final chunk-count join (no
    // subtree reuse without an exchange) — 2 one-row NLJs, nothing else
    val bnlj = txt.linesIterator
      .count(_.trim.matches("\\(\\d+\\) BroadcastNestedLoopJoin.*"))
    assert(bnlj <= 2, s"expected only the 1-row mixing-normalization NLJs, got $bnlj:\n$txt")
  }

  test("no CartesianProduct outside the explicit cross-join demo") {
    // sweep EVERY driver-contract query's plan; a cartesian product that
    // appears anywhere else is a planning regression that would be fatal
    // at scale. BroadcastNestedLoopJoin is tolerated only where a non-equi
    // broadcast join is the intended design (brute-force/IVF ANN probe,
    // the cross-join demo itself, and the ONE-ROW broadcast totals that
    // normalize the mixing plan and the DSIR weight table — a 1-row
    // broadcast NLJ is the cheapest possible way to attach a scalar).
    val bnljAllowed = Set("q_join_cross", "q_knn_brute", "q_knn_ivf",
      "q_mix_plan", "q_dsir", "q_drift")
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val txt = formatted(fn(spark, sf))
        val cart = txt.contains("CartesianProduct") && name != "q_join_cross"
        val bnlj = txt.contains("BroadcastNestedLoopJoin") && !bnljAllowed(name)
        (if (cart) Seq(s"$name: CartesianProduct") else Nil) ++
          (if (bnlj) Seq(s"$name: BroadcastNestedLoopJoin") else Nil)
    }
    assert(offenders.isEmpty, s"unexpected join plans:\n${offenders.mkString("\n")}")
  }
}
