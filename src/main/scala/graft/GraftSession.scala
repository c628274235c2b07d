package graft

import org.apache.spark.sql.SparkSession

/** Engine entry point and the one place a SparkSession is built: the
  * engine's native expressions and [[graft.plans.NanosFilterRule]]
  * (registered once, through [[graft.plans.GraftSparkExtensions.install]])
  * plus the scale-tuned defaults used throughout — AQE with skew-join
  * handling on, UTC, bounded shuffle parallelism, no UI, and Spark
  * scratch under the per-process [[Scratch]] root.
  */
object GraftSession {
  /** Local cores for the mains: `SPARK_GRAFT_CPUS`, default 4 (the
    * Bench/Verify contract value). A value that is not a positive
    * integer falls back to the default instead of failing the run. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .flatMap(s => scala.util.Try(s.trim.toInt).toOption)
    .filter(_ >= 1).getOrElse(4)

  def build(master: String = "local[*]",
            shufflePartitions: Int = 32,
            appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // spill/broadcast files under the per-process root, reclaimed on
      // exit or by the next run's sweepStale (a dead run once left
      // 37 GB of blockmgr files in /tmp); SPARK_LOCAL_DIRS, when set,
      // still takes precedence
      .config("spark.local.dir", Scratch.sparkLocalDir)
      .getOrCreate()
    graft.plans.GraftSparkExtensions.install(spark)
    spark
  }
}
