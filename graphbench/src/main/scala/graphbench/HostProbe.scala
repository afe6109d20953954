package graphbench

/** A fixed piece of single-threaded integer work (xorshift steps with a
  * data-dependent branch) whose duration tracks how fast the host runs at
  * the moment. On a shared host the speed of a core drifts by up to 1.5x
  * within minutes with what other tenants run; of the probes tried (this
  * one, random reads over a table larger than a core's caches, and both on
  * every core at once), this one's median over a run accounted for the
  * most of the run-to-run spread of the workloads' times.
  *
  * The harness times it on the client thread before every statement, while
  * no Spark job runs, and never inside a statement's timed window. It runs
  * no engine code, so a change to the engine cannot change it.
  */
object HostProbe {
  @volatile private var sink = 0L

  /** Seconds one probe takes. */
  def seconds(): Double = {
    val t0 = System.nanoTime()
    var x = 1L
    var i = 0
    while (i < 1500000) {
      x ^= x << 13
      x ^= x >>> 7
      x ^= x << 17
      if ((x & 3) == 0) x += i else x -= 1
      i += 1
    }
    sink = x
    (System.nanoTime() - t0) / 1e9
  }
}
