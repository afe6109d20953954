package graphbench

import java.io.{File, PrintWriter}
import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import graft.SparkEntry
import graft.model.GraphLoader
import org.apache.spark.graphbench.ListenerBus
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Closed-loop workload runner: one client thread issues one catalog
  * statement at a time against a `local[nproc]` session.
  *
  * Set-up (reported as `setup_s`) covers the JVM and session start, the
  * TPC-H graph load and one untimed warm-up execution of every statement.
  * The timed part then runs passes over the workload, each in an order
  * drawn from the seed, until `--seconds` have passed (at least two). Each
  * execution is timed from the catalog call until the collected rows are
  * back; its result is serialized outside that window for the oracle check.
  * Before each execution, outside its window, [[HostProbe]] samples how
  * fast the host runs.
  *
  * With `--trace 1` passes alternate between untraced and traced, so the
  * tracing overhead is measured in the same JVM; per-layer counters and
  * spans come from the traced passes only.
  *
  * Writes into `--out`: `execs.jsonl` (one line per execution), `run.json`
  * (set-up and JVM figures), `oracle_sql.json`, `results/` (each distinct
  * canonical result) and, when tracing, `spans.jsonl`.
  */
object Harness {
  val PhaseProp = "graphbench.phase"

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val data = opt("data")
    val out = new File(opt("out"))
    val stmts = Workloads.all.getOrElse(workload,
      sys.error(s"unknown workload $workload; known: ${Workloads.all.keys.mkString(", ")}"))

    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.graphx.pregel.checkpointInterval", "10")
      .config("spark.sql.maxPlanStringLength", "32768")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "2")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.local.dir", new File(out, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(out, "warehouse").getPath)
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")

    val catalog = SparkEntry.queries
    val oracles = SparkEntry.oracleSql
    val mvRoot = new File(System.getProperty("java.io.tmpdir"), "graft_mv")
    val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val jit = ManagementFactory.getCompilationMXBean
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    def gcMs(): Long = gcs.map(_.getCollectionTime).sum
    // Heap occupancy right after every collection, young ones included, as
    // (GC start in ms of JVM uptime, bytes summed over the heap pools).
    val afterGc = mutable.ArrayBuffer.empty[(Long, Long)]
    val gcListener = new NotificationListener {
      def handleNotification(n: Notification, handback: AnyRef): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val gc = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
          val used = gc.getMemoryUsageAfterGc.asScala.collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          afterGc.synchronized(afterGc += ((gc.getStartTime, used)))
        }
    }
    gcs.foreach(_.asInstanceOf[NotificationEmitter].addNotificationListener(gcListener, null, null))
    def mvState(): (Int, Long) = {
      val dirs = Option(mvRoot.listFiles()).getOrElse(Array.empty[File]).filter(_.isDirectory)
      def bytes(f: File): Long =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).map(bytes).sum else f.length()
      (dirs.length, dirs.map(bytes).sum)
    }

    val load0 = System.nanoTime()
    GraphLoader.tpch(spark, data)
    val loadS = (System.nanoTime() - load0) / 1e9

    val resultsDir = new File(out, "results")
    resultsDir.mkdirs()
    val resultIds = scala.collection.mutable.HashMap.empty[(String, String), String]
    val execLog = new PrintWriter(new File(out, "execs.jsonl"))
    val tracer = new Tracer
    var execId = 0

    /** Runs one statement; returns its JSON log line. */
    def execute(name: String, phase: String, pass: Int, traced: Boolean): String = {
      val id = execId
      execId += 1
      val probeS = HostProbe.seconds()
      val counters = if (traced) tracer.begin(id) else null
      val mv0 = if (traced) mvState() else null
      val gc0 = gcMs()
      val cpu0 = os.getProcessCpuTime
      val jit0 = jit.getTotalCompilationTime
      val wall0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var buildNs = 0L
      var df: DataFrame = null
      var cols: Array[String] = null
      var rows: Array[org.apache.spark.sql.Row] = null
      var error: String = null
      try {
        val fn = catalog.getOrElse(name, throw new NoSuchElementException(s"$name is not in the catalog"))
        sc.setLocalProperty(PhaseProp, "build")
        df = fn(spark, data)
        buildNs = System.nanoTime() - t0
        sc.setLocalProperty(PhaseProp, "collect")
        rows = df.collect()
        cols = df.columns
      } catch {
        case e: Throwable => error = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
      } finally sc.setLocalProperty(PhaseProp, null)
      val wallNs = System.nanoTime() - t0
      val cpuNs = os.getProcessCpuTime - cpu0
      val jitS = (jit.getTotalCompilationTime - jit0) / 1e3
      val wall1 = System.currentTimeMillis()
      val gcS = (gcMs() - gc0) / 1e3

      var result = "null"
      if (error == null) {
        val canon = ResultJson(cols, rows)
        val key = (name, canon)
        val rid = resultIds.getOrElseUpdate(key, {
          val r = s"$name.${resultIds.count(_._1._1 == name)}"
          val w = new PrintWriter(new File(resultsDir, s"$r.json"))
          try w.write(canon) finally w.close()
          r
        })
        result = "\"" + rid + "\""
      }
      val base = f"""{"exec":$id,"stmt":"$name","phase":"$phase","pass":$pass,"traced":$traced,""" +
        f""""wall_s":${wallNs / 1e9}%.6f,"build_s":${buildNs / 1e9}%.6f,"cpu_s":${cpuNs / 1e9}%.6f,"jit_s":$jitS%.3f,""" +
        f""""gc_s":$gcS%.3f,"probe_s":$probeS%.6f,"rows":${if (rows == null) 0 else rows.length},"result":$result,""" +
        s""""error":${if (error == null) "null" else ResultJson.value(error)}"""
      if (!traced) base + "}"
      else {
        ListenerBus.drain(sc)
        tracer.end()
        val mv1 = mvState()
        val c = counters
        tracer.spans += Span.json(id, s"s$id", null, "statement", wall0, wall1, s""","stmt":"$name"""")
        tracer.spans += Span.json(id, s"s$id.build", s"s$id", "build", wall0, wall0 + buildNs / 1000000)
        tracer.spans += Span.json(id, s"s$id.collect", s"s$id", "collect", wall0 + buildNs / 1000000, wall1)
        val phases =
          if (df == null) Map.empty[String, Double]
          else df.queryExecution.tracker.phases.map { case (k, p) =>
            tracer.spans += Span.json(id, s"s$id.$k", s"s$id.collect", s"catalyst.$k", p.startTimeMs, p.endTimeMs)
            k -> p.durationMs / 1e3
          }
        val driverOnlyS = (wall1 - wall0 - c.stageCoveredMs(wall0, wall1)) / 1e3
        base + f""","analysis_s":${phases.getOrElse("analysis", 0.0)}%.4f""" +
          f""","optimization_s":${phases.getOrElse("optimization", 0.0)}%.4f""" +
          f""","planning_s":${phases.getOrElse("planning", 0.0)}%.4f""" +
          s""","jobs":${c.jobs},"build_jobs":${c.buildJobs},"stages":${c.stages},"tasks":${c.tasks}""" +
          f""","driver_only_s":$driverOnlyS%.4f,"task_run_s":${c.taskRunMs / 1e3}%.4f""" +
          f""","task_cpu_s":${c.taskCpuNs / 1e9}%.4f,"single_task_stage_s":${c.singleTaskStageMs / 1e3}%.4f""" +
          s""","shuffle_read_bytes":${c.shuffleReadBytes},"shuffle_write_bytes":${c.shuffleWriteBytes}""" +
          s""","spill_bytes":${c.spillBytes},"input_bytes":${c.inputBytes}""" +
          s""","mv_builds":${mv1._1 - mv0._1},"mv_bytes":${mv1._2 - mv0._2}}"""
      }
    }

    val runtime = ManagementFactory.getRuntimeMXBean
    stmts.foreach(n => execLog.println(execute(n, "warmup", -1, traced = false)))
    val (setupMvBuilds, setupMvBytes) = mvState()
    System.gc()
    val setupS = (System.currentTimeMillis() - runtime.getStartTime) / 1e3

    if (trace) sc.addSparkListener(tracer)
    val rng = new scala.util.Random(seed)
    val timedFromMs = runtime.getUptime
    // Whole passes until `--seconds` have passed, so a run's length does not
    // grow with how slow the host is, and every statement has as many timed
    // executions as the others. Tracing alternates by pass.
    val timedUntil = System.nanoTime() + (seconds * 1e9).toLong
    var passes = 0
    while (passes < 2 || System.nanoTime() < timedUntil) {
      val pass = passes
      passes += 1
      val traced = trace && pass % 2 == 1
      rng.shuffle(stmts).foreach(n => execLog.println(execute(n, "timed", pass, traced)))
      // Full GCs between passes let the context cleaner drop the pass's
      // broadcast and checkpoint blocks, so every pass starts from the
      // same heap.
      System.gc()
      Thread.sleep(50)
      System.gc()
    }
    val timedToMs = runtime.getUptime
    execLog.close()
    Thread.sleep(200) // GC notifications arrive on their own thread
    val heapPeakBytes: Long = afterGc.synchronized {
      afterGc.collect { case (t, used) if t >= timedFromMs && t <= timedToMs => used }.maxOption.getOrElse(0L)
    }
    val heapPeakMb = heapPeakBytes / 1048576.0
    if (trace) {
      sc.removeSparkListener(tracer)
      val w = new PrintWriter(new File(out, "spans.jsonl"))
      try tracer.spans.foreach(w.println) finally w.close()
    }

    val sqlJson = stmts.distinct.map(n => s"${ResultJson.value(n)}:${oracles.get(n).map(ResultJson.value).getOrElse("null")}")
    val w = new PrintWriter(new File(out, "oracle_sql.json"))
    try w.write(sqlJson.mkString("{", ",", "}")) finally w.close()

    val run = new PrintWriter(new File(out, "run.json"))
    try run.write(
      f"""{"setup_s":$setupS%.4f,"load_s":$loadS%.4f,"setup_mv_builds":$setupMvBuilds,""" +
      f""""setup_mv_bytes":$setupMvBytes,"heap_live_peak_mb":$heapPeakMb%.3f,"passes":$passes,"cores":$cores}""")
    finally run.close()
    spark.stop()
  }
}
