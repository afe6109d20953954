package graft.algo

import org.apache.spark.sql.DataFrame

/** The round driver of the distributed graph loops in [[Algorithms]] — a
  * Pregelix-style superstep (a join of the vertex state with its messages,
  * then a group-by combine) whose physical skeleton lives here, not in each
  * algorithm. A caller writes only round r's frame; the driver owns
  *  - the round counter and the round cap,
  *  - [[RoundCapture.offer]] of the frame, before the cut,
  *  - the cut: an eager `localCheckpoint`, so N rounds never build an
  *    N-deep plan and round r+1 reads round r's leaf,
  *  - the one halting probe: an emptiness test on the leaf. The final
  *    round is never probed, since its answer changes nothing.
  *
  * Leaves are not unpersisted here. The frontier loops keep every earlier
  * leaf inside lazy unions (BFS distances, betweenness levels, the
  * bidirectional-BFS visited set), and a local-checkpoint block cannot be
  * recomputed once freed, so leaves are left to Spark's ContextCleaner,
  * which drops each once nothing references it. */
private[graft] object Rounds {

  /** Runs rounds 1..`maxRounds`; round r builds its frame from the previous
    * round's leaf (`init` for round 1). With `halt`, the loop stops after
    * the first round whose `halt(leaf)` has no row. Returns the last leaf,
    * or `init` when `maxRounds` < 1. */
  def fold(kernel: String, maxRounds: Int, init: DataFrame,
           halt: Option[DataFrame => DataFrame] = None)(
      round: (Int, DataFrame) => DataFrame): DataFrame = {
    var leaf = init
    var r = 0
    var more = true
    while (more && r < maxRounds) {
      r += 1
      leaf = cut(kernel, r, round(r, leaf))
      more = r < maxRounds && halt.forall(h => !isEmpty(h(leaf)))
    }
    leaf
  }

  /** Frontier loop: level 0 is `seed`, and each round expands the levels
    * so far into the next level. The loop stops at the first empty level,
    * which is dropped, or after `maxRounds` levels. Returns the levels,
    * seed first. */
  def levels(kernel: String, maxRounds: Int, seed: DataFrame)(
      expand: IndexedSeq[DataFrame] => DataFrame): IndexedSeq[DataFrame] = {
    var lv = Vector(seed)
    var r = 0
    var more = true
    while (more && r < maxRounds) {
      r += 1
      val next = cut(kernel, r, expand(lv))
      more = r == maxRounds || !isEmpty(next)
      if (more) lv :+= next
    }
    lv
  }

  private def cut(kernel: String, r: Int, frame: DataFrame): DataFrame = {
    RoundCapture.offer(kernel, r, frame)
    frame.localCheckpoint(true)
  }

  /** The one halting probe. `Dataset.isEmpty` took 1 Spark job on a
    * 4-partition leaf whether empty or not, `limit(1).count()` took 2, and
    * a count or sum reads every row. */
  private def isEmpty(leaf: DataFrame): Boolean = leaf.isEmpty
}
