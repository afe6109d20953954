package graft.algo

import org.apache.spark.sql.DataFrame

/** Audit hook for [[graft.Plans]] and PlanShapeSpec: iterative kernels
  * offer each round's PRE-CHECKPOINT DataFrame here so the per-round plan
  * shape can be dumped and audited. Without it the shape is invisible —
  * every distributed loop round ends in a localCheckpoint, so the final
  * plan PLANS.md sees collapses to `Scan ExistingRDD → ...` and pins
  * nothing about the loop.
  *
  * Round 2 is the canonical capture: its inputs are themselves round-1
  * leaves, so the captured plan is exactly ONE round's operators over
  * checkpointed leaves. Disabled outside [[capturing]] — the only
  * per-round cost is a volatile read and an int compare. */
object RoundCapture {
  @volatile private var sink:
    java.util.concurrent.ConcurrentHashMap[String, DataFrame] = null

  private val TargetRound = 2

  /** Called by iterative kernels once per round, BEFORE the round-ending
    * checkpoint (or, for loops that do not checkpoint every round, on the
    * round's result frame). No-op unless inside [[capturing]]. */
  private[graft] def offer(kernel: String, round: Int, df: DataFrame): Unit = {
    val s = sink
    if (s != null && round == TargetRound) s.putIfAbsent(kernel, df)
  }

  /** Run `body` with capture enabled; returns kernel → round-2 frame for
    * every instrumented loop `body` exercised. Not reentrant (Plans is
    * single-threaded). */
  def capturing[T](body: => T): Map[String, DataFrame] = {
    val s = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
    sink = s
    try {
      body
      import scala.jdk.CollectionConverters._
      s.asScala.toMap
    } finally sink = null
  }
}
