package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender

/** The approximate kNN rows ship small tasks and print short plans. Each
  * row runs through `SparkEntry.queries` at sf0.001; the spec fails on any
  * `Broadcasting large task binary` WARN from the `DAGScheduler` (Spark
  * logs it past ~1 MB) and on an executed plan string of 32,768 chars or
  * more (the cap `GraftSession` sets for plan strings): each row's re-rank
  * or proxy is one `graft_dot` node, and `q_knn_pq`'s ADC proxy holds its
  * lookup table as one literal. `ssspPath`'s distributed walk also ships a
  * large binary (its runtime bloom filter); that is not a kNN row and is
  * not covered here. */
class KnnPlanSizeSpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"
  private val planCap = 32768

  private val largeBinaries = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val appender = new AbstractAppender("graft-large-task-binary", null, null, true, null) {
    override def append(e: LogEvent): Unit = {
      val m = e.getMessage.getFormattedMessage
      if (e.getLoggerName == "org.apache.spark.scheduler.DAGScheduler" &&
          m != null && m.startsWith("Broadcasting large task binary"))
        largeBinaries.add(m)
    }
  }
  private def rootConfig =
    LogManager.getContext(false).asInstanceOf[LoggerContext].getConfiguration
      .getLoggerConfig(LogManager.ROOT_LOGGER_NAME)

  override protected def beforeAll(): Unit = {
    super.beforeAll()
    appender.start()
    rootConfig.addAppender(appender, Level.WARN, null)
    LogManager.getContext(false).asInstanceOf[LoggerContext].updateLoggers()
  }

  override protected def afterAll(): Unit = {
    rootConfig.removeAppender(appender.getName)
    LogManager.getContext(false).asInstanceOf[LoggerContext].updateLoggers()
    appender.stop()
    super.afterAll()
  }

  Seq("q_knn_approx", "q_knn_ivf", "q_knn_quantized", "q_knn_pq").foreach { q =>
    test(s"$q: no large task binary, executed plan under $planCap chars") {
      largeBinaries.clear()
      val df = SparkEntry.queries(q)(spark, sfDir)
      assert(df.collect().nonEmpty, s"$q returned no rows")
      assert(largeBinaries.isEmpty, s"$q: ${largeBinaries.toArray.mkString("; ")}")
      val len = df.queryExecution.executedPlan.toString.length
      assert(len < planCap, s"$q: executed plan is $len chars")
    }
  }
}
