package graft

import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.ListenerBusProbe
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftSqlShim
import org.apache.spark.sql.functions.col
import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

class ProfileSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  /** q_pipeline_labels reads no fixture file: it generates the SynthGen
    * corpus sized by the tier's name (`SparkEntry.synthTurns`, 1,000 turns
    * at sf0.001), and q_curate_e2e defers its parquet reads to first action.
    */
  private val sf = "sf0.001"
  private val labels = "q_pipeline_labels"

  private def profile(names: Seq[String], reps: Int = 2, explain: Boolean = false,
      hash: Boolean = false): Seq[String] = {
    val out = ArrayBuffer.empty[String]
    Profile.run(spark, sf, names, reps, explain, hash, out += _)
    out.toSeq
  }

  private def jobsStartedBy(f: => Unit): Int = {
    val n = new AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(counter)
    try f finally {
      GraftSqlShim.drainListenerBus(spark.sparkContext)
      spark.sparkContext.removeSparkListener(counter)
    }
    n.get
  }

  private val lineFields = Seq("query", "rep", "cold", "rows", "wall_s", "construct_s",
    "phases_ms", "codegen_compiles", "codegen_compile_ms", "jobs", "stages", "tasks",
    "driver_gap_s", "per_stage")
  private val stageFields = Seq("id", "name", "wall_s", "tasks", "run_s", "cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "task_max_s", "task_p50_s")

  test("cold plus 2 warm reps: one complete JSON line each, listener removed") {
    // counted after a first query: the session registers its own
    // execution listener on the bus at first use
    val rows = SparkEntry.queries(labels)(spark, sf).queryExecution.toRdd.count()
    val listeners = ListenerBusProbe.listenerCount(spark.sparkContext)
    val lines = profile(Seq(labels))
    assert(ListenerBusProbe.listenerCount(spark.sparkContext) == listeners)
    assert(lines.size == 3)
    lines.map(parse(_)).zipWithIndex.foreach { case (j, i) =>
      lineFields.foreach(f => assert(j \ f != JNothing, s"rep $i lacks $f"))
      assert(j \ "query" == JString(labels))
      assert(j \ "rep" == JInt(i))
      assert(j \ "cold" == JBool(i == 0))
      assert(j \ "rows" == JInt(rows))
      val stages = (j \ "per_stage").children
      stages.foreach(s => stageFields.foreach(f => assert(s \ f != JNothing, s"stage lacks $f")))
      assert(stages.size == (j \ "stages").asInstanceOf[JInt].num)
      assert(stages.map(s => (s \ "tasks").asInstanceOf[JInt].num).sum ==
        (j \ "tasks").asInstanceOf[JInt].num)
      assert((j \ "jobs").asInstanceOf[JInt].num > 0)
    }
  }

  test("--explain prints formatted plans and starts no Spark job") {
    var lines = Seq.empty[String]
    val jobs = jobsStartedBy {
      lines = profile(Seq(labels, "q_curate_e2e"), explain = true)
    }
    assert(jobs == 0)
    assert(lines.size == 2 && lines.forall(_.contains("== Physical Plan ==")))
  }

  test("content hash ignores row order and sees content") {
    val df = SparkEntry.queries(labels)(spark, sf)
    val h = Profile.contentHash(df)
    assert(Profile.contentHash(df.orderBy(col("turn_idx").desc, col("conv_id").desc)) == h)
    assert(Profile.contentHash(df.filter(col("keep"))) != h)
  }

  test("--hash does not depend on the shuffle partition count") {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    def hashAt(n: Int): (JValue, JValue) = {
      spark.conf.set(key, n.toString)
      val j = parse(profile(Seq(labels), reps = 0, hash = true).last)
      (j \ "rows", j \ "hash")
    }
    try {
      val one = hashAt(1)
      assert(one._2.isInstanceOf[JString])
      assert(hashAt(4) == one)
    } finally spark.conf.set(key, prev)
  }
}
