package graft

import graft.algo.RoundCapture

/** The plan-shape guards `graft.Plans` enforces when it regenerates
  * PLANS.md, run on every test pass: the node2vec walk plan holds no
  * unpartitioned Window, and no audited round body of an iterative kernel
  * holds a Window, a CartesianProduct or a non-scalar cross join. Like
  * Plans, every case pins the distributed formulations with
  * `spark.graft.algo.localSizeBytes=0` (at sf0.001 the gated kernels would
  * otherwise run in-task and the plan would be one opaque mapPartitions). */
class PlanShapeSpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"

  private def distributed[T](body: => T): T = {
    spark.conf.set("spark.graft.algo.localSizeBytes", "0")
    try body finally spark.conf.unset("spark.graft.algo.localSizeBytes")
  }

  test("q_node2vec_walks: every Window is partitioned by the walker") {
    val bad = distributed {
      Plans.shapeViolations(SparkEntry.queries("q_node2vec_walks")(spark, sfDir), roundBody = false)
    }
    assert(bad.isEmpty, s"q_node2vec_walks contains ${bad.mkString(", ")}")
  }

  Plans.roundPicks.foreach { case (query, kernel, _) =>
    test(s"round body of $kernel (via $query): no Window, CartesianProduct or non-scalar cross join") {
      val bad = distributed {
        val caps = RoundCapture.capturing(SparkEntry.queries(query)(spark, sfDir))
        assert(caps.contains(kernel), s"no round-2 capture for '$kernel' via $query")
        Plans.shapeViolations(caps(kernel), roundBody = true)
      }
      assert(bad.isEmpty, s"round body of '$kernel' contains ${bad.mkString(", ")}")
    }
  }
}
