package pipeline

import org.apache.spark.sql.SparkSession

/** Runtime session tuning for the scale path (SURVEY.md §5 O7/O8/O11), and
  * the one local session the standalone tools share.
  */
object Sessions {
  /** Only runtime-settable confs — the driver owns its session's creation. */
  def tune(spark: SparkSession): Unit = {
    val set = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      // AQE fixes join/agg skew at runtime; compute skew from
      // mega-conversations is handled by the salted repartition in
      // QualityFilterJob (AQE cannot re-split an opaque compute stage)
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> (32L * 1024 * 1024).toString)
    set.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  /** `local[n]` with n shuffle partitions, n = SPARK_GRAFT_CPUS or else the
    * JVM's available processors; UTC, no UI, then `tune`.
    */
  def local(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    tune(spark)
    spark
  }
}
