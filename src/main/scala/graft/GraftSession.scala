package graft

import org.apache.spark.sql.SparkSession

/** The one way to build a graft SparkSession. Every main and the test
  * session start from the same conf, so the session that is verified is
  * the session that is measured; a caller names only what differs (its
  * master and extra confs). Engine confs (`spark.graft.*`) need no code:
  * `SparkConf` loads every `-Dspark.*` JVM system property. */
object GraftSession {
  /** Cores for the default `local[n]` master and the shuffle partition
    * count: `SPARK_GRAFT_CPUS`, else the host's processors. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  val commonConf: Map[String, String] = Map(
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    // events.ts is TIMESTAMP(NANOS) parquet — read as long, normalized to
    // a timestamp in graft.model.Tables
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // iterative operators emit many AQE plan events; bound the cost of
    // stringifying plans (driver-side CPU, not execution)
    "spark.sql.maxPlanStringLength" -> "32768",
    "spark.ui.enabled" -> "false",
    // the SQL status store retains up to 1000 executions INCLUDING their
    // plan graphs; across a ~300-query suite that is GBs of old-gen garbage
    // and late queries go GC-bound. A batch driver retains almost nothing.
    "spark.sql.ui.retainedExecutions" -> "2",
    "spark.ui.retainedJobs" -> "100",
    "spark.ui.retainedStages" -> "100",
    "spark.ui.retainedTasks" -> "1000",
    // ContextCleaner drains broadcast/checkpoint blocks only after a driver
    // GC; the default 30 min interval is longer than a whole suite
    "spark.cleaner.periodicGC.interval" -> "2min")

  /** A session with [[commonConf]] overridden by `conf`, log level WARN. */
  def create(master: String = s"local[$cpus]",
             conf: Map[String, String] = Map.empty): SparkSession = {
    val spark = (commonConf ++ conf)
      .foldLeft(SparkSession.builder().master(master)) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
