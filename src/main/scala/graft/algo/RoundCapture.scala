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
  * checkpointed leaves. Round 1 is kept too, for a loop whose audited
  * input reaches its fixed point in round 1; the caller names the round
  * it audits. Disabled outside [[capturing]] — the only per-round cost is
  * a volatile read and an int compare. */
object RoundCapture {
  @volatile private var sink:
    java.util.concurrent.ConcurrentHashMap[(String, Int), DataFrame] = null

  private val TargetRound = 2

  /** Called by [[Rounds]] once per round, BEFORE the round-ending
    * checkpoint. No-op unless inside [[capturing]]. */
  private[graft] def offer(kernel: String, round: Int, df: DataFrame): Unit = {
    val s = sink
    if (s != null && round <= TargetRound) s.putIfAbsent((kernel, round), df)
  }

  /** Run `body` with capture enabled; returns (kernel, round) → frame for
    * rounds 1 and 2 of every instrumented loop `body` exercised. Not
    * reentrant (Plans is single-threaded). */
  def capturing[T](body: => T): Map[(String, Int), DataFrame] = {
    val s = new java.util.concurrent.ConcurrentHashMap[(String, Int), DataFrame]()
    sink = s
    try {
      body
      import scala.jdk.CollectionConverters._
      s.asScala.toMap
    } finally sink = null
  }
}
