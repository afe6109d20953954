package graft

import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session).
  * Every suite also arms the codegen tripwire: an `ERROR CodeGenerator`
  * logged during the suite (janino failing a huge generated method →
  * silent interpreted fallback) aborts the suite — a fixture plan that
  * outgrows codegen must be split, not silently slow. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  private var codegenBaseline = 0L

  override protected def beforeAll(): Unit = {
    super.beforeAll()
    spark // force session init (installs log4j config)
    CodegenTripwire.install()
    codegenBaseline = CodegenTripwire.errors
  }

  /** Runs `call` and asserts it left no cached Dataset behind: leaves cut
    * with localCheckpoint are freed by Spark's ContextCleaner, while a
    * persist() or cache() nothing undoes stays cached for the whole
    * session. */
  def leakFree[T](call: => T): T = {
    spark.catalog.clearCache() // entries other suites left are not this call's
    val out = call
    assert(spark.sharedState.cacheManager.isEmpty, "the call left a cached Dataset")
    out
  }

  /** Number of Spark jobs started while `body` runs. The bus is drained
    * before the listener is added (earlier work's events are not the
    * body's) and again before the count is read. */
  def jobsDuring(body: => Any): Int = {
    val sc = spark.sparkContext
    ListenerBus.drain(sc)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    }
    sc.addSparkListener(listener)
    try { body; ListenerBus.drain(sc); jobs.get }
    finally sc.removeSparkListener(listener)
  }

  override protected def afterAll(): Unit = {
    val n = CodegenTripwire.errors - codegenBaseline
    if (n > 0) throw new IllegalStateException(
      s"$suiteName: $n ERROR CodeGenerator event(s) during this suite — " +
        "a plan silently fell back to interpreted execution. Samples:\n" +
        CodegenTripwire.sampleMessages.mkString("\n"))
    super.afterAll()
  }
}

object SparkSpec {
  lazy val session: SparkSession =
    // fixed local[4] whatever the host. Plan strings stay uncapped: specs
    // measure and grep them (WriteChainSpec's plan-growth sizes, the
    // optimizedPlan.toString checks in PlannerSpec and WcoSpec, one of them
    // that an operator is absent), and a truncated string could pass them
    // vacuously.
    GraftSession.create("local[4]", Map(
      "spark.app.name" -> "graft-test",
      "spark.sql.shuffle.partitions" -> "4",
      SQLConf.MAX_PLAN_STRING_LENGTH.key -> SQLConf.MAX_PLAN_STRING_LENGTH.defaultValueString,
      // FAIR so ConcurrencySpec's per-thread scheduler pools are real
      // (under FIFO the pool local property is a no-op); with no
      // allocation file every pool gets default weight — serial suites
      // see FIFO-identical behavior
      "spark.scheduler.mode" -> "FAIR"))
}
