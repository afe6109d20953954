package graft.algo

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag
import scala.reflect.runtime.universe.TypeTag

/** In-task graph kernels for stats-gated small inputs.
  *
  * The distributed loops in [[Algorithms]] pay ~2 Spark jobs per iteration
  * (eager checkpoint + action); on a graph that fits in ONE task that fixed
  * scheduling cost dominates the actual compute by 10-50x. Exactly like a
  * broadcast-join decision, the gate reads the optimizer's size estimate
  * (free — no job) and routes small inputs to the classic array kernel.
  * The first call over an edge projection runs it in a single
  * `mapPartitions` task that scans the edges — nothing is collected to the
  * driver, and the result is a regular DataFrame. A later call over the
  * same file-backed projection in local mode (a resident hit, see
  * [[inTask]]) runs the kernel on the calling thread over the view already
  * in this JVM and returns up to 10,000 rows as a local relation: no Spark
  * job. Large inputs keep
  * the shuffle-join formulation unchanged; the gate never counts a big
  * input (no extra pass over 100 TB — the size estimate alone rejects it).
  *
  * The reference runs ALL of these as single-node CSR kernels
  * (`crates/samyama-graph-algorithms/src`), so below the threshold
  * this is the same-shape execution with identical semantics, not a
  * capability downgrade; above it the distributed path is the only one
  * that exists.
  *
  * Every kernel here replicates its distributed twin's OBSERVABLE semantics
  * bit-for-bit on integer outputs (wcc/cdlp/bfs/mst/varlength, maxFlow on
  * integer capacities) and to summation-order ULPs on floating outputs
  * (pagerank/sssp — absorbed by the catalog's 4-6 decimal rounding, same
  * slack the DuckDB oracles rely on). Differential specs in
  * LocalKernelsSpec enforce this against the distributed implementations
  * on random graphs.
  *
  * The same route and resident store serve the exact k-NN kernel of
  * [[graft.vector.VectorSearch.knnExactFor]]: [[routed]] drains either a
  * graph view or a vector block ([[Resident]]), so a repeated vector
  * search over the same files runs no job either.
  *
  * Two pieces own how a small graph is laid out in memory, so no kernel
  * does: ONE in-task entry, [[inTask]], hands a kernel the interned base
  * [[GraphView]] of its edge projection (src, dst, and a weight or an edge
  * id) — sorted unique vertex ids and int edge arrays, interned once per
  * JVM and kept resident — with an optional tagged stream of start and
  * target ids; ONE shaper, [[view]], derives the views kernels read
  * (self-loops, canonical order, dedup, extra ids) by int passes, memoized
  * on the base view like its CSR rows.
  */
object LocalKernels {

  /** Route to the in-task kernel? Three tiers, capped by [[Linear]]:
    * below `localSizeBytes` (default 64 MB) by plan estimate → local with
    * zero extra work (the estimate is conservative: without CBO a Filter
    * reports its child's full size). In the gray zone up to 2 GB spend ONE
    * cheap count job and accept up to 4M edges (≈ 64 MB of id pairs
    * in-task). Past THAT, a DENSE tier: up to 32M edges (≈ 0.5 GB of
    * primitive arrays) IF the vertex count stays under 1M (one extra
    * approx-distinct pass over the already-checkpointed leaf) —
    * per-iteration kernel work is O(V + E) but the distributed twin pays
    * per-round vertex-sized SHUFFLES, so a dense small-vertex graph (the
    * co-purchase shape: sf1 = 12M edges over 200k nodes) wins in-task 3-4×
    * (sf1 cdlp 58.7 s → 17.4 s, bit-identical output) while a large-vertex
    * graph of the same edge count (6.4M-node HITS projection: single-task
    * CSR build + 6.4M-row result from one task) correctly stays
    * distributed. Past the dense tier: distributed, and never counted.
    * `localSizeBytes=0` disables the local path entirely (used by specs
    * and the soak harness to pin the distributed formulation). */
  def isSmall(df: DataFrame): Boolean = gate(df)._2

  /** The in-task size threshold `spark.graft.algo.localSizeBytes` (default
    * 64 MB; `<= 0` disables every in-task route). One reader for the
    * kernel gate here and the Cypher final-sort route in the Translator. */
  def localSizeBytes(spark: SparkSession): Long =
    spark.conf.get("spark.graft.algo.localSizeBytes", (64L << 20).toString).toLong

  /** One set of [[gate]] tier caps: the estimate-only tier (`sizeBytes`,
    * `localSizeBytes` when None), the count tier (`countBytes` estimate,
    * `maxEdges` rows) and the dense tier (`maxEdgesDense` rows over at
    * most `maxNodesDense` vertices; a dense cap below `maxEdges` turns the
    * tier off). Constants, not confs: specs pass scaled-down caps. */
  private[graft] final case class Caps(sizeBytes: Option[Long], countBytes: Long,
                                       maxEdges: Long, maxEdgesDense: Long,
                                       maxNodesDense: Long)

  /** Caps for the O(V + E)-per-round kernels (see [[isSmall]]). */
  private[graft] val Linear = Caps(None, 2L << 30, 4000000L, 32000000L, 1000000L)

  /** Caps for SUPERLINEAR kernels (triangle counting / lcc are O(m^1.5)
    * intersection work, not O(m) passes): a graph can be byte-small yet
    * compute-heavy — the sf0.1 co-purchase graph is 1.3M edges over 2k
    * nodes (avg degree ~1300), where the single-task intersection loses to
    * the 32-way distributed plan. Much tighter caps: 1 MB fast tier /
    * 200k-edge count tier (200k^1.5 ≈ 10^8 merge steps ≈ 0.1 s in-task),
    * no dense tier. The count tier stops at a 64 MB estimate: a 200k-edge
    * cap is ~3 MB of id pairs, so a larger estimate cannot pass the count
    * — rejecting on the estimate alone avoids a pure-overhead
    * materialize+count on every large-side call (the r6 q_lcc regression).
    * `localSizeBytes=0` turns this gate off too. */
  private[graft] val Superlinear = Caps(Some(1L << 20), 64L << 20, 200000L, 0L, 0L)

  /** The estimate tier alone: no count, no dense tier, so the gate never
    * runs a job while a frame is built (the exact k-NN route). */
  private[graft] val Estimate = Caps(None, 0L, 0L, 0L, 0L)

  /** Like [[isSmall]] but when the gray zone forces a count, the input is
    * localCheckpointed FIRST and the (possibly materialized) frame is
    * returned for downstream use — an expensive derived input (e.g. a
    * self-join edge projection) is computed once, shared by the count and
    * whichever execution path wins, instead of twice. */
  private[graft] def gate(df: DataFrame, caps: Caps = Linear): (DataFrame, Boolean) = {
    val base = localSizeBytes(df.sparkSession)
    if (base <= 0L) return (df, false)
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est <= BigInt(caps.sizeBytes.getOrElse(base))) (df, true)
    else if (est > BigInt(caps.countBytes)) (df, false)
    else {
      val leaf = df.localCheckpoint(true)
      val m = leaf.count()
      if (m <= caps.maxEdges) (leaf, true)
      else if (m > caps.maxEdgesDense) (leaf, false)
      else {
        // one partial-combined pass over the leaf (±5% HLL is plenty:
        // the threshold only picks an execution strategy, both paths
        // are differentially pinned equal) — endpoints by position,
        // matching every gated call's (src, dst[, ...]) layout
        val c = leaf.columns
        val v = leaf.select(explode(array(col(c(0)), col(c(1)))).as("__v"))
          .agg(approx_count_distinct(col("__v")).as("__n"))
          .first().getLong(0)
        (leaf, v <= caps.maxNodesDense)
      }
    }
  }

  // ---- the resident store and the routes over it -------------------------
  //
  // Every in-task kernel runs through [[routed]]: on a miss ONE task scans
  // the kernel's input projection and drains it into a [[Resident]] value
  // (a graph kernel's base [[GraphView]] — see [[inTask]] — or a kNN
  // kernel's vector block, see [[graft.vector.VectorSearch]]) that it hands
  // to the kernel. In local mode the store keeps that value resident (as
  // the reference keeps its CSR and its in-memory vector index) keyed by
  // (canonicalized projection plan, input files + len + mtime) —
  // file-backed plans only, so literal or RDD-backed inputs (mutated
  // graphs, checkpoints) never false-hit. The task that drained the value
  // PUTs it, the driver LOOKS IT UP before planning anything: in local[n]
  // they share the JVM, so a later kernel over the same input skips the
  // scan and the drain, reuses the shaped views and CSRs memoized on a
  // view, and without a side stream runs no job at all. On a multi-JVM
  // cluster the driver never sees executor entries, so no key is computed
  // and every call scans — correct, just not resident. One LRU for both
  // kinds, bounded by one budget: the edge entries a view holds, memoized
  // ones included, and the elements a vector block holds.
  // Measured worth (4-core host, sf0.01): with the cache off
  // graph_analytics fell from 6.10 to 3.37 statements/s and cypher_read
  // from 4.72 to 4.17; without the CSR memo it runs 7.90, not 8.67.

  /** Growable primitive-long buffer (no boxing inside the task). */
  private final class Longs(initial: Int = 1 << 12) {
    private[this] var a = new Array[Long](initial)
    var n = 0
    def +=(v: Long): Unit = {
      if (n == a.length) a = java.util.Arrays.copyOf(a, n << 1)
      a(n) = v; n += 1
    }
    def toArray: Array[Long] = java.util.Arrays.copyOf(a, n)
  }

  private final class Ints(initial: Int = 1 << 12) {
    private[this] var a = new Array[Int](initial)
    var n = 0
    def +=(v: Int): Unit = {
      if (n == a.length) a = java.util.Arrays.copyOf(a, n << 1)
      a(n) = v; n += 1
    }
    def apply(i: Int): Int = a(i)
    def result(): Array[Int] = java.util.Arrays.copyOf(a, n)
  }

  /** The side stream's start ids (tag 1) and target ids (tag 2). */
  private final case class Side(starts: Array[Long], targets: Array[Long])

  /** A value the resident store holds: a graph kernel's base [[GraphView]]
    * or a kNN kernel's vector block. `rows` is its weight against the one
    * budget — edge entries, or vector elements. */
  private[graft] trait Resident { def rows: Long }

  private[this] val resident =
    new java.util.LinkedHashMap[String, Resident](8, 0.75f, true)
  private val ResidentRowBudget = 32L * 1000 * 1000

  /** The entry under `key`, when there is one of type `V`. */
  private def residentLookup[V <: Resident : ClassTag](key: String): Option[V] =
    resident.synchronized(resident.get(key)) match {
      case v: V => Some(v)
      case _ => None
    }

  /** Called only with a local-mode key ([[cacheKey]] computes none on a
    * multi-JVM cluster, where a store would be dead weight in executor
    * heaps). Entries grow as kernels memoize on them: each store re-sums
    * them. */
  private def residentStore(key: String, v: Resident): Unit = resident.synchronized {
    if (!resident.containsKey(key)) {
      resident.put(key, v)
      var rows = resident.values.asScala.map(_.rows).sum
      val it = resident.entrySet().iterator()
      while (rows > ResidentRowBudget && resident.size() > 1 && it.hasNext) {
        val x = it.next()
        if (!x.getKey.equals(key)) { rows -= x.getValue.rows; it.remove() }
      }
    }
  }

  /** The resident base view of a projected edge frame, if one is held. */
  private[graft] def residentView(proj: DataFrame): Option[GraphView] =
    cacheKey(proj).flatMap(residentLookup[GraphView])

  /** Resident-store key of a kernel's input projection, or None on a
    * multi-JVM cluster and when the plan isn't purely file-backed
    * (LocalRelation / LogicalRDD leaves have data-invisible canonical
    * forms — never cache those). */
  private def cacheKey(df: DataFrame): Option[String] = {
    if (!df.sparkSession.sparkContext.isLocal) return None
    val leaves = df.queryExecution.optimizedPlan.collectLeaves()
    val fileBacked = leaves.nonEmpty && leaves.forall { l =>
      val n = l.getClass.getSimpleName
      n == "LogicalRelation" || n == "DataSourceV2Relation"
    }
    if (!fileBacked) None
    else {
      // every input must be a stat-able LOCAL file: the length+mtime pair
      // is the staleness guard, and for a remote scheme (s3a://, hdfs://)
      // java.io.File stats nothing — a silent ":0:0" would mean in-place
      // overwrites never invalidate the entry. Remote inputs: no caching.
      val files = df.inputFiles.sorted.map { p =>
        val f =
          try new java.io.File(new java.net.URI(p))
          catch { case _: Exception => new java.io.File(p) }
        if (!f.isFile) null else s"$p:${f.length}:${f.lastModified}"
      }
      if (files.isEmpty || files.contains(null)) None
      else {
        val md = java.security.MessageDigest.getInstance("MD5")
        val s = df.queryExecution.optimizedPlan.canonicalized.toString() +
          "\n" + files.mkString("\n")
        Some(java.util.Base64.getEncoder.encodeToString(md.digest(s.getBytes("UTF-8"))))
      }
    }
  }

  // Pin registry for hits that still run a task: a side-stream hit pins
  // the view, a hit with more than [[DriverRows]] rows pins the rows the
  // kernel computed on the driver. The task's plan captures a small
  // HANDLE (a serializable long wrapper), not the pinned value (capturing
  // it would serialize up to the full row budget into every task binary).
  // The registry maps token → (WeakReference(handle), value): the plan's
  // closure strongly references the handle, so the pinned value stays
  // resolvable for EXACTLY the lifetime of the returned DataFrame — a
  // hit-path plan executed arbitrarily late, or more than once (show()
  // then count(), a stage retry), can never lose it to eviction; once the
  // DataFrame is GC'd the weak ref clears and the entry is purged on the
  // next pin() (a fixed-size FIFO of pins could age a live plan's pin out
  // and turn a cache eviction into a query error — the hit-path plan's
  // leaf is the side stream or a 1-row range, so there is no recompute
  // fallback). A pinned view is the resident store's, so a live pin costs
  // one map entry, not a second copy; while pins are live a view can
  // outlast the resident LRU budget — that is the point (they are
  // reachable through user-held DataFrames regardless). Hits only happen
  // in local mode (gated in [[cacheKey]]), where driver and task share the
  // JVM.
  private final class PinHandle(val token: Long) extends Serializable
  private final case class PinEntry(
    handle: java.lang.ref.WeakReference[PinHandle], value: AnyRef)
  private[this] val pinned = new java.util.HashMap[java.lang.Long, PinEntry]()
  private[this] val pinSeq = new java.util.concurrent.atomic.AtomicLong()
  private def pin(v: AnyRef): PinHandle = pinned.synchronized {
    val it = pinned.values().iterator()
    while (it.hasNext) if (it.next().handle.get() == null) it.remove()
    val h = new PinHandle(pinSeq.incrementAndGet())
    pinned.put(h.token, PinEntry(new java.lang.ref.WeakReference(h), v))
    h
  }
  private def pinValue(t: Long): AnyRef =
    pinned.synchronized(Option(pinned.get(t)).map(_.value).orNull)
  private def pinGet(t: Long, key: String): GraphView = pinValue(t) match {
    case g: GraphView => g
    case _ => residentLookup[GraphView](key).getOrElse( // GC-race belt-and-braces
      throw new IllegalStateException(
        s"resident-cache pin $t was garbage-collected and entry $key " +
          "was evicted before the kernel task ran"))
  }

  /** The most rows a resident hit returns as a local relation. Catalyst
    * copies a local relation's row sequence in every expression
    * transform, and a plan that does not fold it ships the rows to tasks,
    * so past ~10k rows one task over pinned rows is cheaper: at sf0.1,
    * `q_cypher_call_louvain` (165k rows) took 0.83 s as a local relation
    * against 0.20 s in a task, and `q_cypher_call_wcc` (16k rows) 0.127 s
    * against 0.092 s. Every graph_analytics row at sf0.01 returns at most
    * 5.5k rows. */
  private val DriverRows = 10000

  /** Run `body` over the [[Resident]] value `drain` builds from the rows
    * of `proj`, the kernel's input projection; the result's columns are
    * `names`. A miss runs `drain` and `body` in one task over `proj`'s rows
    * — behind a one-partition shuffle, or with `narrow` (a projection with
    * no shuffle of its own) in the task that scans it, one job — and, when
    * `proj` has a [[cacheKey]], keeps the value resident. A
    * resident hit (the same file-backed projection was drained before in
    * this JVM, local mode only) runs no scan: `body` runs HERE, on the
    * calling thread, so a kernel failure surfaces from this call, not from
    * an action on the result; up to [[DriverRows]] rows come back as a
    * local relation, which a collect reads with no job, and more ride one
    * task that reads them from a pin. */
  private[graft] def routed[V <: Resident : ClassTag, T <: Product : TypeTag](
      proj: DataFrame, names: Seq[String], narrow: Boolean = false)(drain: Iterator[Row] => V)(
      body: V => Iterator[T]): DataFrame = {
    val spark = proj.sparkSession
    implicit val enc: Encoder[T] = Encoders.product[T]
    val key = cacheKey(proj)
    key.flatMap(residentLookup[V]) match {
      case Some(v) =>
        val out = body(v).toVector
        if (out.length <= DriverRows) spark.createDataset(out).toDF(names: _*)
        else {
          val h = pin(out)
          spark.range(0, 1, 1, 1).mapPartitions { _ =>
            pinValue(h.token) match {
              case rows: Vector[T @unchecked] => rows.iterator
              case _ => throw new IllegalStateException(
                s"resident-cache pin ${h.token} was released before the kernel task ran")
            }
          }.toDF(names: _*)
        }
      case None =>
        (if (narrow) proj.coalesce(1) else proj.repartition(1)).mapPartitions { it =>
          val v = drain(it)
          key.foreach(residentStore(_, v))
          body(v)
        }.toDF(names: _*)
    }
  }

  private val NoSide = Side(Array.empty, Array.empty)

  /** [[routed]] for a graph kernel: `body` gets the base view of `proj`'s
    * edges — columns src and dst (longs) and an optional third column, a
    * double weight or a long edge id — and, when `side` is given, its
    * (id, tag) rows. With a side stream a hit runs `body` in one task over
    * the side stream alone, the view read from a pin, and a miss scans the
    * edges and the side stream tagged in one stream. */
  private def inTask[T <: Product : TypeTag](proj: DataFrame, names: Seq[String],
                                            side: DataFrame = null)
                                           (body: (GraphView, Side) => Iterator[T]): DataFrame = {
    val third = proj.schema.fields.lift(2).map(_.dataType)
    val weighted = third.contains(DoubleType)
    val withEid = third.contains(LongType)
    if (side == null) return routed(proj, names)(drain(_, -1, weighted, withEid)._1)(body(_, NoSide))
    implicit val enc: Encoder[T] = Encoders.product[T]
    val key = cacheKey(proj)
    key.flatMap(residentLookup[GraphView]) match {
      case Some(g) =>
        val h = pin(g); val k = key.get
        side.repartition(1).mapPartitions { it =>
          body(pinGet(h.token, k), drain(it, 1, false, false)._2)
        }.toDF(names: _*)
      case None =>
        // edges tagged 0 and side ids in one stream: (id, 0, [0], tag)
        val tagAt = proj.columns.length
        val fill = proj.schema.fields.toSeq.tail.map(f => lit(0).cast(f.dataType))
        proj.toDF(proj.columns.indices.map(i => s"_c$i"): _*).withColumn("_tag", lit(0))
          .unionAll(side.select(col("id") +: fill :+ col("tag"): _*))
          .repartition(1).mapPartitions { it =>
            val (g, s) = drain(it, tagAt, weighted, withEid)
            key.foreach(residentStore(_, g))
            body(g, s)
          }.toDF(names: _*)
    }
  }

  /** One task's rows as a base view and [[Side]]. With `tagAt` < 0 every
    * row is an edge; otherwise column `tagAt` is the tag: 0 an edge, 1 a
    * start id and 2 a target id, the id in the first column. */
  private def drain(it: Iterator[Row], tagAt: Int,
                    weighted: Boolean, withEid: Boolean): (GraphView, Side) = {
    val src = new Longs(); val dst = new Longs(); val eid = new Longs()
    val w = mutable.ArrayBuilder.make[Double]
    val starts = new Longs(16); val targets = new Longs(16)
    it.foreach { r =>
      val t = if (tagAt < 0) 0 else r.getInt(tagAt)
      if (t == 0) {
        src += r.getLong(0); dst += r.getLong(1)
        if (weighted) w += r.getDouble(2) else if (withEid) eid += r.getLong(2)
      } else if (t == 1) starts += r.getLong(0)
      else targets += r.getLong(0)
    }
    (build(src.toArray, dst.toArray, if (weighted) w.result() else null,
       if (withEid) eid.toArray else null),
     Side(starts.toArray, targets.toArray))
  }

  /** The side stream of [[inTask]]: distinct start ids tagged 1 and, when
    * given, distinct target ids tagged 2. */
  private def tagged(starts: DataFrame, startCol: String,
                     targets: Option[(DataFrame, String)] = None): DataFrame = {
    def ids(df: DataFrame, c: String, tag: Int): DataFrame =
      df.select(col(c).cast("long").as("id"), lit(tag).as("tag")).distinct()
    targets.foldLeft(ids(starts, startCol, 1)) { case (s, (t, tc)) => s.unionAll(ids(t, tc, 2)) }
  }

  /** The (src, dst) projection most kernels read. */
  private[graft] def pairs(edges: DataFrame, a: String = "src", b: String = "dst"): DataFrame =
    edges.select(col(a).cast("long"), col(b).cast("long"))

  /** The (src, dst, weight) projection of the shortest-path kernels. */
  private def weights(edges: DataFrame): DataFrame =
    edges.select(col("src").cast("long"), col("dst").cast("long"),
      coalesce(col("weight"), lit(1.0)).cast("double"))

  // ---- the graph view ---------------------------------------------------

  /** The in-task graph: vertex ids sorted and unique — dense index order is
    * id order, so an id tie-break is an index compare, and a lookup is a
    * binary search — and an edge list over dense indexes with an optional
    * aligned weight or edge id; a base view ([[build]]) keeps input order.
    * Resident views are SHARED by concurrent local[n] tasks, so no kernel
    * writes into a view's arrays or a [[Csr]] from [[out]] ([[triangleSum]]
    * sorts rows of its own); shaped views and CSRs are memoized on it. */
  private[graft] final class GraphView(val ids: Array[Long], val src: Array[Int],
      val dst: Array[Int], val weight: Array[Double], val eid: Array[Long]) extends Resident {
    def n: Int = ids.length
    def m: Int = src.length
    /** Dense index of `id`, or -1 when it is not a vertex. */
    def idx(id: Long): Int = {
      val i = java.util.Arrays.binarySearch(ids, id)
      if (i < 0) -1 else i
    }
    private[this] val memo = new java.util.concurrent.ConcurrentHashMap[Any, AnyRef]()
    /** `make`, computed once per `key` however many tasks ask at once. */
    private[LocalKernels] def memoized[A <: AnyRef](key: Any)(make: => A): A =
      memo.computeIfAbsent(key, (_: Any) => make).asInstanceOf[A]
    /** Out-rows of the edges, or of the edges in both directions (`sym`). */
    def out(sym: Boolean = false, withPos: Boolean = false): Csr =
      memoized(("out", sym, withPos)) {
        if (sym) new Csr(n, src ++ dst, dst ++ src, withPos)
        else new Csr(n, src, dst, withPos)
      }
    /** Edge entries held: this view's, its memoized views' and CSRs'. */
    def rows: Long = memo.values.asScala.foldLeft(m.toLong) {
      case (r, v: GraphView) => r + v.rows
      case (r, c: Csr) => r + c.tgt.length
      case (r, _) => r
    }
  }

  /** Compressed rows of the edges `from(k) → to(k)` over `n` vertices,
    * edge order kept within a row. `pos` (when asked) holds each entry's
    * edge index k, so a per-edge payload reads aligned. */
  private[graft] final class Csr(val n: Int, from: Array[Int], to: Array[Int], withPos: Boolean) {
    val off = new Array[Int](n + 1)
    val tgt = new Array[Int](from.length)
    val pos: Array[Int] = if (withPos) new Array[Int](from.length) else null
    locally {
      var k = 0
      while (k < from.length) { off(from(k) + 1) += 1; k += 1 }
      var i = 0
      while (i < n) { off(i + 1) += off(i); i += 1 }
      val cur = java.util.Arrays.copyOf(off, n)
      k = 0
      while (k < from.length) {
        val s = from(k); val c = cur(s)
        tgt(c) = to(k)
        if (withPos) pos(c) = k
        cur(s) = c + 1; k += 1
      }
    }
  }

  /** The base view of raw edges, in input order (`weight` and `eid` may be
    * null) — the one interner. Ids get dense indexes by first appearance
    * (LongMap: O(1), no boxing), renumbered by sorting the distinct ids —
    * O(n log n) on vertices, not endpoints. */
  private[graft] def build(src: Array[Long], dst: Array[Long],
                           weight: Array[Double] = null, eid: Array[Long] = null): GraphView = {
    val first = mutable.LongMap.empty[Int]
    val seen = new Longs()
    def intern(v: Long): Int = first.getOrElseUpdate(v, { seen += v; seen.n - 1 })
    val si = new Array[Int](src.length); val di = new Array[Int](src.length)
    var k = 0
    while (k < src.length) { si(k) = intern(src(k)); di(k) = intern(dst(k)); k += 1 }
    val byFirst = seen.toArray
    val ids = byFirst.clone()
    java.util.Arrays.sort(ids)
    val rank = byFirst.map(java.util.Arrays.binarySearch(ids, _))
    k = 0
    while (k < si.length) { si(k) = rank(si(k)); di(k) = rank(di(k)); k += 1 }
    new GraphView(ids, si, di, weight, eid)
  }

  /** `base` shaped for a kernel, memoized on it. Edges keep input order
    * unless shaped: `loops = false` drops self-loops and every vertex they
    * leave without an edge; `canonical` orders each edge (min, max); `dedup`
    * keeps each distinct (src, dst) once, in (src, dst) order, with the
    * smallest weight below Double.MaxValue (a pair with none is dropped —
    * mst's Kruskal rule — but its endpoints stay vertices); `extra` ids are
    * vertices even without an edge. Int passes only, as index order is id
    * order; edge ids survive all but dedup. */
  private[graft] def view(base: GraphView, loops: Boolean = true, canonical: Boolean = false,
                          dedup: Boolean = false, extra: Seq[Long] = Nil): GraphView = {
    val g = if (loops && !canonical && !dedup) base
            else base.memoized(("view", loops, canonical, dedup))(shape(base, loops, canonical, dedup))
    val add = extra.filter(g.idx(_) < 0)
    if (add.isEmpty) g else onto(g, uniqueSorted(g.ids ++ add))
  }

  /** `g`'s edges over `ids`, a sorted superset of the ids they touch: each
    * index moves to its id's place in `ids`. */
  private def onto(g: GraphView, ids: Array[Long]): GraphView = {
    val at = g.ids.map(java.util.Arrays.binarySearch(ids, _))
    new GraphView(ids, g.src.map(at(_)), g.dst.map(at(_)), g.weight, g.eid)
  }

  private def shape(b: GraphView, loops: Boolean, canonical: Boolean, dedup: Boolean): GraphView = {
    val g = if (loops) b else {
      val ks = Array.range(0, b.m).filter(k => b.src(k) != b.dst(k))
      val live = new Array[Boolean](b.n)
      ks.foreach { k => live(b.src(k)) = true; live(b.dst(k)) = true }
      def pick[A: ClassTag](a: Array[A]): Array[A] = if (a == null) null else ks.map(a(_))
      onto(new GraphView(b.ids, pick(b.src), pick(b.dst), pick(b.weight), pick(b.eid)),
        Array.range(0, b.n).filter(live(_)).map(b.ids(_)))
    }
    val (si, di, w) = (g.src, g.dst, g.weight)
    val lo = if (canonical) Array.tabulate(g.m)(k => math.min(si(k), di(k))) else si
    val hi = if (canonical) Array.tabulate(g.m)(k => math.max(si(k), di(k))) else di
    if (!dedup) new GraphView(g.ids, lo, hi, w, g.eid)
    else {
      // pack → sort → unique (a boxed HashSet measured ~µs per insert)
      val keys = Array.tabulate(g.m)(k => (lo(k).toLong << 32) | hi(k))
      val uk = uniqueSorted(keys.clone())
      val minW = if (w == null) null else {
        val mw = Array.fill(uk.length)(Double.MaxValue)
        keys.indices.foreach { k =>
          val p = java.util.Arrays.binarySearch(uk, keys(k))
          if (w(k) < mw(p)) mw(p) = w(k)
        }
        mw
      }
      val ps = Array.range(0, uk.length).filter(p => minW == null || minW(p) < Double.MaxValue)
      new GraphView(g.ids, ps.map(p => (uk(p) >>> 32).toInt), ps.map(p => uk(p).toInt),
        if (minW == null) null else ps.map(minW(_)), null)
    }
  }

  /** Sort + unique in place; returns the deduped prefix copy. */
  private def uniqueSorted(ks: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(ks)
    var m = 0; var i = 0
    while (i < ks.length) {
      if (i == 0 || ks(i) != ks(i - 1)) { ks(m) = ks(i); m += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(ks, m)
  }

  private def round4(x: Double): Double =
    math.signum(x) * math.floor(math.abs(x) * 1e4 + 0.5) / 1e4

  // ---- kernels ----------------------------------------------------------

  /** Damped power iteration with dangling-mass redistribution. */
  def pageRank(edges: DataFrame, iterations: Int, damping: Double): DataFrame =
    ranks(pairs(edges), Nil, iterations, damping)

  /** Weighted PageRank: rank flows along each out-edge in proportion to its
    * weight; weight ≤ 0 edges are dropped (not an edge). */
  def pageRankWeighted(edges: DataFrame, iterations: Int, damping: Double): DataFrame =
    ranks(edges.select(col("src").cast("long"), col("dst").cast("long"),
      col("weight").cast("double")).filter(col("weight") > 0), Nil, iterations, damping)

  /** Personalized PageRank: teleport AND dangling mass go to the seed set,
    * non-seed restart is zero. */
  def personalizedPageRank(edges: DataFrame, seeds: Seq[Long],
                           iterations: Int, damping: Double): DataFrame =
    ranks(pairs(edges), seeds.distinct, iterations, damping)

  /** The in-task PageRank — [[Algorithms.pageRankRounds]] term for term: a
    * vertex sends rank·w(e)/W(v) along each out-edge (w = 1.0 unweighted,
    * W(v) its out-weight, dangling = W(v) of zero), and rank' =
    * teleport((1−d)/nt) + d·(recv + teleport(dmass/nt)), where teleport is
    * the identity, or zero off `seeds` when personalized, and nt counts the
    * vertices, or the seeds. */
  private def ranks(proj: DataFrame, seeds: Seq[Long],
                    iterations: Int, damping: Double): DataFrame =
    inTask(proj, Seq("id", "rank")) { (g, _) =>
      val (n, m, si, di) = (g.n, g.m, g.src, g.dst)
      val w = if (g.weight != null) g.weight else Array.fill(m)(1.0)
      val outW = new Array[Double](n)
      var k = 0
      while (k < m) { outW(si(k)) += w(k); k += 1 }
      val onSeed = new Array[Boolean](n)
      if (seeds.isEmpty) java.util.Arrays.fill(onSeed, true)
      else seeds.foreach { s => val i = g.idx(s); if (i >= 0) onSeed(i) = true }
      val nt = if (seeds.isEmpty) n.toDouble else seeds.size.toDouble
      def teleport(i: Int, x: Double): Double = if (onSeed(i)) x else 0.0
      var rank = Array.tabulate(n)(i => teleport(i, 1.0 / nt))
      var iter = 0
      while (iter < iterations) {
        var dmass = 0.0
        var i = 0
        while (i < n) { if (outW(i) == 0.0) dmass += rank(i); i += 1 }
        val recv = new Array[Double](n)
        k = 0
        while (k < m) { recv(di(k)) += (rank(si(k)) / outW(si(k))) * w(k); k += 1 }
        val nr = new Array[Double](n)
        i = 0
        while (i < n) {
          nr(i) = teleport(i, (1 - damping) / nt) + damping * (recv(i) + teleport(i, dmass / nt))
          i += 1
        }
        rank = nr; iter += 1
      }
      Iterator.range(0, n).map(i => (g.ids(i), rank(i)))
    }

  /** Shared in-task truncated directed BFS from one seed over a CSR.
    * Returns (dist array (-1 unreached), level order list) with seed at
    * dist 0, truncated at `radius`. */
  private def bfsFrom(seed: Int, adj: Csr, radius: Int): (Array[Int], Array[Int]) = {
    val (off, tgt) = (adj.off, adj.tgt)
    val dist = Array.fill(adj.n)(-1)
    dist(seed) = 0
    val order = new Ints()
    var frontier = List(seed)
    var d = 0
    while (frontier.nonEmpty && d < radius) {
      var nf: List[Int] = Nil
      frontier.foreach { u =>
        var k = off(u)
        while (k < off(u + 1)) {
          val w = tgt(k)
          if (dist(w) < 0) { dist(w) = d + 1; order += w; nf ::= w }
          k += 1
        }
      }
      frontier = nf
      d += 1
    }
    (dist, order.result())
  }

  /** One truncated directed BFS per distinct seed; `stat` folds the
    * distances of the nodes it reached, in BFS order, seed excluded. An
    * absent or isolated seed reaches none. */
  private def seedSweep[T <: Product : TypeTag](edges: DataFrame, seeds: Seq[Long],
      radius: Int, names: Seq[String])(stat: (Long, Array[Int]) => T): DataFrame = {
    val sd = seeds.distinct
    inTask(pairs(edges), names) { (g, _) =>
      val adj = g.out()
      sd.iterator.map { s =>
        val seed = g.idx(s)
        if (seed < 0) stat(s, Array.emptyIntArray)
        else { val (dist, order) = bfsFrom(seed, adj, radius); stat(s, order.map(dist(_))) }
      }
    }
  }

  /** Truncated harmonic centrality — same semantics as
    * [[Algorithms.harmonicCentrality]]'s distributed multi-source BFS:
    * directed, seed excluded, exact within radius; absent/isolated seeds
    * return (seed, 0, 0.0). */
  def harmonicCentrality(edges: DataFrame, seeds: Seq[Long], radius: Int): DataFrame =
    seedSweep(edges, seeds, radius, Seq("seed", "n_reached", "harmonic")) { (s, ds) =>
      var h = 0.0
      ds.foreach(d => h += 1.0 / d)
      (s, ds.length.toLong, round4(h))
    }

  /** Truncated closeness + eccentricity — same semantics as
    * [[Algorithms.closenessCentrality]]. */
  def closenessCentrality(edges: DataFrame, seeds: Seq[Long], radius: Int): DataFrame =
    seedSweep(edges, seeds, radius,
        Seq("seed", "n_reached", "closeness", "eccentricity")) { (s, ds) =>
      val c = ds.length
      val cl = if (c == 0) 0.0 else c.toDouble / ds.foldLeft(0L)(_ + _)
      (s, c.toLong, round4(cl), if (c == 0) 0 else ds.max)
    }

  /** Sampled-source Brandes betweenness — same semantics as
    * [[Algorithms.betweennessCentrality]]'s distributed loop: directed,
    * edges deduped, σ over ≤maxDepth-hop shortest paths (exact integers in
    * FP, so identical to the distributed hash aggregate), endpoints
    * excluded structurally; every node reached at dist ≥ 1 by any seed
    * emits a row (deepest-level nodes carry δ = 0), bc rounded to 4. */
  def betweennessCentrality(edges: DataFrame, seeds: Seq[Long], maxDepth: Int): DataFrame = {
    val sd = seeds.distinct
    inTask(pairs(edges), Seq("id", "bc")) { (base, _) =>
      val g = view(base, dedup = true)
      val n = g.n
      val adj = g.out()
      val (off, tgt) = (adj.off, adj.tgt)
      val bc = new Array[Double](n)
      val emit = new Array[Boolean](n)
      sd.foreach { s =>
        val seed = g.idx(s)
        if (seed >= 0) {
          val (dist, order) = bfsFrom(seed, adj, maxDepth)
          val sigma = new Array[Double](n)
          sigma(seed) = 1.0
          // forward σ: order is level-sorted, so pushing seed then each
          // node in order completes σ(w) = Σ σ(v) over DAG edges before
          // w itself is pushed
          def push(u: Int): Unit = {
            var k = off(u)
            while (k < off(u + 1)) {
              val w = tgt(k)
              if (dist(w) == dist(u) + 1) sigma(w) += sigma(u)
              k += 1
            }
          }
          push(seed)
          var i = 0
          while (i < order.length) { push(order(i)); i += 1 }
          // backward δ: reverse level order; deepest level δ = 0
          val delta = new Array[Double](n)
          i = order.length - 1
          while (i >= 0) {
            val v = order(i)
            var k = off(v)
            while (k < off(v + 1)) {
              val w = tgt(k)
              if (dist(w) == dist(v) + 1)
                delta(v) += sigma(v) / sigma(w) * (1.0 + delta(w))
              k += 1
            }
            bc(v) += delta(v); emit(v) = true
            i -= 1
          }
        }
      }
      Iterator.range(0, n).filter(emit).map(i => (g.ids(i), round4(bc(i))))
    }
  }

  /** HITS hubs & authorities — same half-step updates and L1
    * normalization as [[Algorithms.hits]]'s distributed loop (edges
    * deduped first, matching its distinct). */
  def hits(edges: DataFrame, iterations: Int): DataFrame =
    inTask(pairs(edges), Seq("id", "hub", "auth")) { (base, _) =>
      val g = view(base, dedup = true)
      val (n, m, si, di) = (g.n, g.m, g.src, g.dst)
      var hub = Array.fill(n)(1.0)
      var auth = new Array[Double](n)
      var iter = 0
      while (iter < iterations) {
        val ar = new Array[Double](n)
        var k = 0
        while (k < m) { ar(di(k)) += hub(si(k)); k += 1 }
        var s = 0.0; var i = 0
        while (i < n) { s += ar(i); i += 1 }
        i = 0; while (i < n) { ar(i) /= s; i += 1 }
        auth = ar
        val hr = new Array[Double](n)
        k = 0
        while (k < m) { hr(si(k)) += auth(di(k)); k += 1 }
        s = 0.0; i = 0
        while (i < n) { s += hr(i); i += 1 }
        i = 0; while (i < n) { hr(i) /= s; i += 1 }
        hub = hr
        iter += 1
      }
      Iterator.range(0, n).map(i => (g.ids(i), hub(i), auth(i)))
    }

  /** Synchronous label propagation, both directions incident (duplicates
    * kept), argmax frequency with min-label tie-break — the exact
    * per-round rule of [[Algorithms.cdlp]]. */
  def cdlp(edges: DataFrame, iterations: Int): DataFrame =
    inTask(pairs(edges), Seq("id", "label")) { (g, _) =>
      val n = g.n
      // undirected incidence: every input edge makes each endpoint a
      // label donor of the other
      val adj = g.out(sym = true)
      val (off, nbr) = (adj.off, adj.tgt)
      // labels as DENSE vertex indices (a label is always some vertex's
      // id), counted in a flat int array + touched list — the same no-map
      // idiom as the Louvain rounds: a per-vertex mutable.LongMap counter
      // measured tens of µs per update on id-valued keys, and clear() per
      // vertex re-walks the map's backing arrays; the flat counter resets
      // only the touched entries. Max frequency, then smallest label: the
      // smaller index is the smaller id.
      var lbl = Array.tabulate(n)(identity)
      val cnt = new Array[Int](n)
      val touched = new Ints()
      var r = 0
      while (r < iterations) {
        val next = new Array[Int](n)
        var v = 0
        while (v < n) {
          touched.n = 0
          var k = off(v)
          while (k < off(v + 1)) {
            val li = lbl(nbr(k))
            if (cnt(li) == 0) touched += li
            cnt(li) += 1
            k += 1
          }
          var bestI = lbl(v); var bestF = 0
          var t = 0
          while (t < touched.n) {
            val li = touched(t); val f = cnt(li)
            if (f > bestF || (f == bestF && li < bestI)) { bestI = li; bestF = f }
            t += 1
          }
          t = 0
          while (t < touched.n) { cnt(touched(t)) = 0; t += 1 }
          next(v) = bestI
          v += 1
        }
        lbl = next; r += 1
      }
      Iterator.range(0, n).map(i => (g.ids(i), g.ids(lbl(i))))
    }

  /** Connected components, component = min vertex id — union-find with the
    * smaller ROOT kept as root, which is exactly the fixpoint of
    * [[Algorithms.wcc]]'s min-label propagation. */
  def wcc(edges: DataFrame): DataFrame =
    inTask(pairs(edges), Seq("id", "component")) { (g, _) =>
      val p = Array.tabulate(g.n)(identity)
      def find(x0: Int): Int = {
        var x = x0
        while (p(x) != x) { p(x) = p(p(x)); x = p(x) }
        x
      }
      var k = 0
      while (k < g.m) {
        val a = find(g.src(k)); val b = find(g.dst(k))
        if (a < b) p(b) = a else if (b < a) p(a) = b
        k += 1
      }
      Iterator.range(0, g.n).map(i => (g.ids(i), g.ids(find(i))))
    }

  /** Strongly connected components — iterative Tarjan over the view's CSR,
    * one pass, exact (no iteration bound). Component label = min external
    * id in the SCC, the same labeling the distributed coloring SCC
    * ([[Algorithms.sccDistributed]]) gives once its phases finish;
    * LocalKernelsSpec is the differential check. */
  def scc(edges: DataFrame): DataFrame =
    inTask(pairs(edges), Seq("id", "component")) { (g, _) =>
      val n = g.n
      val csr = g.out()
      val (off, adj) = (csr.off, csr.tgt)
      val index = Array.fill(n)(-1)
      val low = new Array[Int](n)
      val onStack = new Array[Boolean](n)
      val tarjan = new Array[Int](n); var tn = 0          // Tarjan's SCC stack
      val dfsNode = new Array[Int](n)                      // explicit DFS stack
      val dfsEdge = new Array[Int](n)
      val compMin = new Array[Int](n)                      // min index (= min id) per node's SCC
      var idx = 0
      var v = 0
      while (v < n) {
        if (index(v) == -1) {
          var top = 0
          dfsNode(0) = v; dfsEdge(0) = off(v)
          index(v) = idx; low(v) = idx; idx += 1
          tarjan(tn) = v; tn += 1; onStack(v) = true
          while (top >= 0) {
            val u = dfsNode(top)
            val ei = dfsEdge(top)
            if (ei < off(u + 1)) {
              dfsEdge(top) = ei + 1
              val w = adj(ei)
              if (index(w) == -1) {
                index(w) = idx; low(w) = idx; idx += 1
                tarjan(tn) = w; tn += 1; onStack(w) = true
                top += 1; dfsNode(top) = w; dfsEdge(top) = off(w)
              } else if (onStack(w) && index(w) < low(u)) low(u) = index(w)
            } else {
              top -= 1
              if (top >= 0) {
                val p = dfsNode(top)
                if (low(u) < low(p)) low(p) = low(u)
              }
              if (low(u) == index(u)) {
                // pop the SCC rooted at u; label every member with its min
                var mn = Int.MaxValue
                var i = tn - 1
                var done = false
                while (!done) {
                  val m = tarjan(i)
                  if (m < mn) mn = m
                  if (m == u) done = true else i -= 1
                }
                while (tn > i) {
                  tn -= 1
                  val m = tarjan(tn)
                  onStack(m) = false
                  compMin(m) = mn
                }
              }
            }
          }
        }
        v += 1
      }
      Iterator.range(0, n).map(i => (g.ids(i), g.ids(compMin(i))))
    }

  /** Synchronous fixed-round k-core peel — mirrors
    * [[Algorithms.kCoreDistributed]] exactly: symmetrize+dedup+drop self
    * loops, then `rounds` rounds each removing ALL nodes with degree < k
    * at once; returns (id, deg) for nodes with a surviving edge. */
  def kCore(edges: DataFrame, k: Int, rounds: Int): DataFrame =
    inTask(pairs(edges), Seq("id", "deg")) { (base, _) =>
      val g = view(base, loops = false, canonical = true, dedup = true)
      val (n, si, di) = (g.n, g.src, g.dst)
      val alive = Array.fill(n)(true)
      val deg = new Array[Int](n)
      def degrees(): Unit = {
        java.util.Arrays.fill(deg, 0)
        var i = 0
        while (i < si.length) {
          if (alive(si(i)) && alive(di(i))) { deg(si(i)) += 1; deg(di(i)) += 1 }
          i += 1
        }
      }
      // a round that drops nobody is the fixed point: the rest are no-ops
      var r = 0
      var dropped = true
      while (dropped && r < rounds) {
        degrees()
        dropped = false
        var v = 0
        while (v < n) {
          if (alive(v) && deg(v) < k) { alive(v) = false; dropped = true }
          v += 1
        }
        r += 1
      }
      degrees() // final degrees over the surviving edge set
      Iterator.range(0, n).filter(v => alive(v) && deg(v) > 0)
        .map(v => (g.ids(v), deg(v).toLong))
    }

  /** Layered BFS over out-edges, depth capped at maxIter, source always
    * present at dist 0 — mirrors [[Algorithms.bfs]]. */
  def bfs(edges: DataFrame, source: Long, maxIter: Int): DataFrame =
    inTask(pairs(edges), Seq("id", "dist")) { (base, _) =>
      val g = view(base, extra = Seq(source)) // present even with no incident edges
      val (dist, _) = bfsFrom(g.idx(source), g.out(), maxIter)
      Iterator.range(0, g.n).filter(dist(_) >= 0).map(i => (g.ids(i), dist(i)))
    }

  /** In-task twin of [[Algorithms.bidirectionalBfs]] — per distinct pair
    * one depth-capped UNDIRECTED BFS from src (meet-in-the-middle buys
    * nothing inside one task: a plain BFS to maxDepth is one O(V+E) pass).
    * Output contract matches the distributed meet exactly: one
    * (src, dst, dist) row per pair whose true undirected distance is
    * ≤ maxDepth; a degenerate (x, x) pair is distance 0 even when x has
    * no edges (the distributed seeds both sides at dist 0 before any
    * expansion, so they "meet" immediately); self-loop edges are dropped
    * like the distributed symmetrization's a != b filter. */
  def bidirBfs(edges: DataFrame, pairs: Seq[(Long, Long)], maxDepth: Int): DataFrame = {
    val pd = pairs.distinct
    inTask(this.pairs(edges), Seq("src", "dst", "dist")) { (base, _) =>
      val g = view(base, loops = false)
      val adj = g.out(sym = true)
      // one bfsFrom per DISTINCT source: k pairs sharing a source answer
      // from the same dist array instead of paying k traversals.
      // Degenerate (s, s) pairs keep their unconditional emit — including
      // sources absent from the edge set.
      pd.groupBy(_._1).toSeq.sortBy(_._1).iterator.flatMap { case (s, grp) =>
        val degenerate = grp.collect { case (a, b) if a == b => (a, b, 0L) }
        // targets absent from the edge set can never be reached: resolve
        // them first and skip the O(V + E) traversal when none remain
        val targets = grp.collect { case (a, b) if a != b && g.idx(b) >= 0 => (b, g.idx(b)) }
        val si = g.idx(s)
        val resolved =
          if (si < 0 || targets.isEmpty) Nil
          else {
            val (dist, _) = bfsFrom(si, adj, maxDepth)
            targets.collect { case (t, ti) if dist(ti) >= 0 => (s, t, dist(ti).toLong) }
          }
        degenerate.iterator ++ resolved.iterator
      }
    }
  }

  private val Inf = Double.MaxValue

  /** Synchronous (round-based) Bellman-Ford from `src`: `rounds` rounds at
    * most, or to the fixpoint, each relaxing against the PREVIOUS round's
    * distances — the bounded relaxation of [[Algorithms.sssp]], so the
    * states after a capped round count match too. Unreached is [[Inf]]. */
  private def bellmanFord(g: GraphView, src: Int, rounds: Int): Array[Double] = {
    val (si, di, w) = (g.src, g.dst, g.weight)
    var dist = Array.fill(g.n)(Inf)
    dist(src) = 0.0
    var r = 0
    var changed = true
    while (changed && r < rounds) {
      changed = false
      val nd = dist.clone()
      var k = 0
      while (k < si.length) {
        val ds = dist(si(k))
        if (ds != Inf) {
          val cand = ds + w(k)
          if (cand < nd(di(k))) { nd(di(k)) = cand; changed = true }
        }
        k += 1
      }
      dist = nd; r += 1
    }
    dist
  }

  /** Weighted single-source distances, `maxIter` rounds or fixpoint — see
    * [[bellmanFord]]. Emits reachable vertices only; source always present
    * at 0.0. */
  def sssp(edges: DataFrame, source: Long, maxIter: Int): DataFrame =
    inTask(weights(edges), Seq("id", "dist")) { (base, _) =>
      val g = view(base, extra = Seq(source))
      val dist = bellmanFord(g, g.idx(source), maxIter)
      Iterator.range(0, g.n).filter(dist(_) != Inf).map(i => (g.ids(i), dist(i)))
    }

  /** Full weighted shortest PATH in one task — solve + parent derivation +
    * backward walk, the in-task twin of [[Algorithms.ssspPath]]'s
    * 16-sequential-join reconstruction. The distance solve is the same
    * synchronous Bellman-Ford as [[sssp]] (identical double additions, so
    * the exact-FP parent equality below matches the distributed parent
    * join bit-for-bit); parent(v) = min ORIGINAL-id u with
    * dist(u) + w(u,v) == dist(v), v != source; the walk follows parents
    * target→source for at most `maxHops` hops. Emits (pos, id, dist) with
    * pos counted from the TARGET, unrounded — [[Algorithms.ssspPath]]
    * applies the shared rounding/order. Same all-or-nothing completeness
    * contract as the distributed certificate: a walk whose terminal row is
    * not the source at dist 0 (unreachable target, path longer than
    * maxHops) returns NOTHING, never a silent prefix. Caller pre-filters
    * weight > 0 like the distributed path (a zero-weight cycle would make
    * the parent relation cyclic); with w > 0 the walk strictly decreases
    * dist and must terminate. */
  def ssspPath(edges: DataFrame, source: Long, target: Long, maxHops: Int): DataFrame =
    inTask(weights(edges), Seq("pos", "id", "dist")) { (base, _) =>
      val g = view(base, extra = Seq(source))
      val src = g.idx(source)
      val dist = bellmanFord(g, src, maxHops * 2) // same cap as the distributed solve
      // parent(v) = min id u with dist(u) + w == dist(v) — exact FP:
      // dist(v) was literally produced by one of these same additions
      val parent = Array.fill(g.n)(-1)
      var k = 0
      while (k < g.m) {
        val u = g.src(k); val v = g.dst(k)
        if (v != src && dist(u) != Inf && dist(u) + g.weight(k) == dist(v) &&
            (parent(v) < 0 || u < parent(v))) parent(v) = u
        k += 1
      }
      val tgt = g.idx(target)
      if (tgt < 0 || dist(tgt) == Inf) Iterator.empty
      else {
        val walk = mutable.ArrayBuffer((0, g.ids(tgt), dist(tgt)))
        var cur = tgt; var pos = 0
        while (cur != src && parent(cur) >= 0 && pos < maxHops) {
          cur = parent(cur); pos += 1
          walk += ((pos, g.ids(cur), dist(cur)))
        }
        val (_, lastId, lastD) = walk.last
        if (lastId == source && lastD == 0.0) walk.iterator else Iterator.empty
      }
    }

  // ---- Louvain ----------------------------------------------------------

  /** One level of Louvain local moves — the in-task twin of
    * [[Algorithms.louvainMovesDistributed]]; [[louvain]] at one level. */
  def louvainMoves(edges: DataFrame, rounds: Int): DataFrame = louvain(edges, rounds, 1)

  /** Multi-level Louvain — the in-task twin of [[Algorithms.louvain]]:
    * level-1 local moves over the DISTINCT (a, b) pairs with a != b (both
    * orientations kept, as the distributed distinct keeps them), then per
    * level one contraction (community-pair counts, least/greatest
    * canonicalization, intra edges as self-loops) and local moves over the
    * contracted graph, with the node→top-level mapping composed at the end.
    * Level 1 is the weighted rounds at weight 1.0. Every weight is a pair
    * COUNT (an integer-valued double) and every product stays below 2^53
    * under the gate's 32M-edge cap, so the score arithmetic is EXACT and
    * summation-order-free: labels are bit-identical to the distributed
    * twin's (LocalKernelsSpec differentials). */
  def louvain(edges: DataFrame, rounds: Int, levels: Int): DataFrame =
    inTask(pairs(edges, "a", "b"), Seq("id", "community")) { (base, _) =>
      val g = view(base, loops = false, dedup = true)
      val n = g.n
      val adj = g.out(sym = true)
      val ones = Array.fill(adj.tgt.length)(1.0)
      val deg = Array.tabulate(n)(v => (adj.off(v + 1) - adj.off(v)).toDouble)
      var comm = louvainRounds(adj, ones, deg, g.ids, 2.0 * g.m, rounds)
      var lvl = 2
      while (lvl <= levels) {
        // contraction over the DISTINCT pair set: (least, greatest) of the
        // endpoint community LABELS, weight = pair count. Counting is SORT
        // + run-length over packed (loIdx, hiIdx) keys: a mutable.LongMap
        // counter measured ~30 µs/update on exactly these packed small-int
        // keys (4.4 s for 150k pairs on the PLACED projection); one
        // Arrays.sort does the same dedup+count in ~10 ms.
        val lo = new Array[Long](g.m); val hi = new Array[Long](g.m)
        var k = 0
        while (k < g.m) {
          val la = g.ids(comm(g.src(k))); val lb = g.ids(comm(g.dst(k)))
          lo(k) = math.min(la, lb); hi(k) = math.max(la, lb)
          k += 1
        }
        val c = build(lo, hi)
        val pks = Array.tabulate(c.m)(k => (c.src(k).toLong << 32) | c.dst(k))
        java.util.Arrays.sort(pks)
        // split self-loops (deg += 2w, no sym edge) from real edges,
        // consuming sorted runs as (pair, count)
        val sb = new Ints(); val db = new Ints()
        val wb = mutable.ArrayBuilder.make[Double]
        val deg2 = new Array[Double](c.n)
        var m2w = 0.0
        var p = 0
        while (p < pks.length) {
          val key = pks(p)
          var q = p + 1
          while (q < pks.length && pks(q) == key) q += 1
          val a = (key >>> 32).toInt; val b = key.toInt
          val w = (q - p).toDouble
          m2w += w
          if (a == b) deg2(a) += w * 2
          else {
            sb += a; db += b; wb += w
            sb += b; db += a; wb += w
            deg2(a) += w; deg2(b) += w
          }
          p = q
        }
        val adj2 = new Csr(c.n, sb.result(), db.result(), withPos = true)
        val w2 = wb.result()
        val up = louvainRounds(adj2, adj2.pos.map(w2(_)), deg2, c.ids, 2.0 * m2w, rounds)
        // compose: my community's label → its contracted node → that
        // node's community label → the level-1 vertex carrying it
        val prev = comm
        comm = Array.tabulate(n)(i => g.idx(c.ids(up(c.idx(g.ids(prev(i)))))))
        lvl += 1
      }
      Iterator.range(0, n).map(i => (g.ids(i), g.ids(comm(i))))
    }

  /** Synchronous weighted local-move rounds, term for term the
    * distributed rule: all scores against the PREVIOUS round's assignment,
    * k = weight to the community, d = the vertex's weighted degree, score
    * `k − (d·dcx)/m2` with dcx = dc−d for the current community, argmax by
    * (score, then smaller community label — the smaller index, ids being
    * sorted), and the (id + round) parity move rule. `w` is aligned with
    * `adj`'s entries. */
  private def louvainRounds(adj: Csr, w: Array[Double], deg: Array[Double],
                            ids: Array[Long], m2: Double, rounds: Int): Array[Int] = {
    val (n, off, nbr) = (adj.n, adj.off, adj.tgt)
    var comm = Array.tabulate(n)(identity)
    val dc = new Array[Double](n)
    val cnt = new Array[Double](n)
    val seen = new Array[Boolean](n)
    val touched = new Ints()
    var r = 1
    while (r <= rounds) {
      java.util.Arrays.fill(dc, 0.0)
      var i = 0
      while (i < n) { dc(comm(i)) += deg(i); i += 1 }
      val next = new Array[Int](n)
      var v = 0
      while (v < n) {
        if (java.lang.Math.floorMod(ids(v) + r, 2L) != 0L) next(v) = comm(v)
        else {
          touched.n = 0
          var k = off(v)
          while (k < off(v + 1)) {
            val c = comm(nbr(k))
            if (!seen(c)) { seen(c) = true; touched += c }
            cnt(c) += w(k)
            k += 1
          }
          val cur = comm(v); val d = deg(v)
          if (!seen(cur)) { seen(cur) = true; touched += cur } // k = 0 candidate
          var bestC = -1; var bestScore = 0.0
          var t = 0
          while (t < touched.n) {
            val c = touched(t)
            val dcx = if (c == cur) dc(c) - d else dc(c)
            val score = cnt(c) - (d * dcx) / m2
            if (bestC < 0 || score > bestScore || (score == bestScore && c < bestC)) {
              bestC = c; bestScore = score
            }
            t += 1
          }
          t = 0
          while (t < touched.n) { cnt(touched(t)) = 0.0; seen(touched(t)) = false; t += 1 }
          next(v) = bestC
        }
        v += 1
      }
      comm = next
      r += 1
    }
    comm
  }

  /** Kruskal over the canonicalized (min,max,min-weight) edge set with the
    * (w,a,b) total order — the forest is unique under that order, so the
    * output edge set is identical to [[Algorithms.mst]]'s Borůvka. */
  def mst(edges: DataFrame): DataFrame = {
    val proj = edges.select(
      least(col("src"), col("dst")).cast("long"),
      greatest(col("src"), col("dst")).cast("long"),
      coalesce(col("weight"), lit(1.0)).cast("double"))
    inTask(proj, Seq("a", "b", "w")) { (base, _) =>
      val g = view(base, loops = false, dedup = true)
      val w = g.weight
      // (w, a, b) order as one packed sort: the deduped edges are in (a, b)
      // order, so (rank of w, edge index) sorts them; a weight's rank comes
      // from its order-preserving bits (Double.compare order, as the
      // (w, a, b) tuple ordering compares)
      def bits(x: Double): Long = {
        val b = java.lang.Double.doubleToLongBits(x)
        b ^ ((b >> 63) & Long.MaxValue)
      }
      val wk = w.map(bits)
      val byW = uniqueSorted(wk.clone())
      val order = Array.tabulate(g.m)(k => (java.util.Arrays.binarySearch(byW, wk(k)).toLong << 32) | k)
      java.util.Arrays.sort(order)
      val p = Array.tabulate(g.n)(identity)
      def find(x0: Int): Int = {
        var x = x0
        while (p(x) != x) { p(x) = p(p(x)); x = p(x) }
        x
      }
      order.iterator.flatMap { o =>
        val k = o.toInt
        val ra = find(g.src(k)); val rb = find(g.dst(k))
        if (ra != rb) { p(ra) = rb; Iterator.single((g.ids(g.src(k)), g.ids(g.dst(k)), w(k))) }
        else Iterator.empty
      }
    }
  }

  /** Max flow by Edmonds-Karp in one task — the in-task twin of
    * [[Algorithms.maxFlow]]'s distributed loop, over the same residual: one
    * slot per ordered vertex pair, parallel arcs' capacities (`cap`, null =
    * 1) summed, and a zero-capacity reverse slot for every arc. Each
    * augmentation takes a BFS-shortest path through slots with more than
    * 1e-9 to spare. Emits one row (max_flow); 0 when the source is the sink
    * or either is not a vertex. */
  def maxFlow(edges: DataFrame, source: Long, sink: Long): DataFrame = {
    val proj = edges.select(col("src").cast("long"), col("dst").cast("long"),
      coalesce(col("cap"), lit(1.0)).cast("double"))
    inTask(proj, Seq("max_flow")) { (g, _) =>
      // slot keys (u << 32 | v), sorted unique, so slot p is entry p of
      // the out-rows
      val fwd = Array.tabulate(g.m)(k => (g.src(k).toLong << 32) | g.dst(k))
      val keys = uniqueSorted(fwd ++ Array.tabulate(g.m)(k => (g.dst(k).toLong << 32) | g.src(k)))
      def head(p: Int): Int = (keys(p) >>> 32).toInt
      val adj = new Csr(g.n, Array.tabulate(keys.length)(head), keys.map(_.toInt), false)
      val rev = Array.tabulate(keys.length)(p =>
        java.util.Arrays.binarySearch(keys, (adj.tgt(p).toLong << 32) | head(p)))
      val spare = new Array[Double](keys.length)
      var k = 0
      while (k < g.m) { spare(java.util.Arrays.binarySearch(keys, fwd(k))) += g.weight(k); k += 1 }
      val s = g.idx(source); val t = g.idx(sink)
      // via(v): the slot that reached v in this BFS; -1 unreached, and
      // Int.MaxValue at the source
      val via = new Array[Int](g.n)
      val queue = new Array[Int](g.n)
      def augmentingPath(): Boolean = {
        java.util.Arrays.fill(via, -1)
        via(s) = Int.MaxValue
        queue(0) = s
        var qh = 0; var qt = 1
        while (qh < qt && via(t) < 0) {
          val u = queue(qh); qh += 1
          var p = adj.off(u)
          while (p < adj.off(u + 1)) {
            val v = adj.tgt(p)
            if (via(v) < 0 && spare(p) > 1e-9) { via(v) = p; queue(qt) = v; qt += 1 }
            p += 1
          }
        }
        via(t) >= 0
      }
      var total = 0.0
      if (s >= 0 && t >= 0 && s != t) while (augmentingPath()) {
        var f = Double.MaxValue
        var v = t
        while (v != s) { f = math.min(f, spare(via(v))); v = head(via(v)) }
        v = t
        while (v != s) { val p = via(v); spare(p) -= f; spare(rev(p)) += f; v = head(p) }
        total += f
      }
      Iterator.single(Tuple1(total))
    }
  }

  // ---- traversals -------------------------------------------------------

  /** Multi-source BFS emitting (start, node, hops) for hops in
    * [minHops, maxHops] with per-start first-reach dedup — the exact row
    * set of `Traversals.varLengthExpand`. Starts ride into the task as
    * tagged rows (no driver collect). */
  def varLengthExpand(edges: DataFrame, starts: DataFrame, startCol: String,
                      minHops: Int, maxHops: Int): DataFrame =
    inTask(pairs(edges), Seq("start", "node", "hops"), tagged(starts, startCol)) { (g, side) =>
      val adj = g.out()
      val (off, tgt) = (adj.off, adj.tgt)
      val seenAt = new Array[Int](g.n) // visit stamp per start (1-based)
      Iterator.range(0, side.starts.length).flatMap { s =>
        val startId = side.starts(s)
        val stamp = s + 1
        val out = mutable.ArrayBuffer.empty[(Long, Long, Int)]
        if (minHops == 0) out += ((startId, startId, 0))
        val sIdx = g.idx(startId) // -1: not an edge endpoint, no hops ≥ 1 rows
        if (sIdx >= 0) {
          seenAt(sIdx) = stamp
          var frontier = Array(sIdx)
          var h = 1
          while (frontier.nonEmpty && h <= maxHops) {
            val next = new Ints(16)
            var i = 0
            while (i < frontier.length) {
              val v = frontier(i)
              var k = off(v)
              while (k < off(v + 1)) {
                val w = tgt(k)
                if (seenAt(w) != stamp) {
                  seenAt(w) = stamp
                  next += w
                  if (h >= minHops) out += ((startId, g.ids(w), h))
                }
                k += 1
              }
              i += 1
            }
            frontier = next.result()
            h += 1
          }
        }
        out.iterator
      }
    }

  /** Lexicographic compare of long arrays (Spark's array ordering:
    * element-wise, shorter strict prefix sorts first). */
  private def cmpLongs(a: Array[Long], b: Array[Long]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val c = java.lang.Long.compare(a(i), b(i))
      if (c != 0) return c
      i += 1
    }
    Integer.compare(a.length, b.length)
  }

  /** Witness-path BFS — the exact row set of
    * [[graft.operators.Traversals.pathExpandDistributed]]: per
    * (start, node) the lexicographically-smallest (node-seq, edge-seq)
    * among BFS min-depth paths, or with `allPaths` every distinct min-depth
    * node sequence (min edge-id witness per sequence). With targets
    * (`shortestPath((a)-[*]-(b))` with BOTH endpoints constrained) it emits
    * ONLY rows landing on a target and STOPS each start's BFS at the depth
    * where every target has been reached — an unbounded `*` never explores
    * past the last target's BFS depth. Starts and targets ride in as
    * tagged rows. */
  private[graft] def pathExpand(edges: DataFrame, starts: DataFrame, startCol: String,
                         minHops: Int, maxHops: Int, allPaths: Boolean,
                         targets: Option[(DataFrame, String)] = None): DataFrame = {
    val hasId = edges.columns.contains("id")
    val eidCol = if (hasId) col("id").cast("long") else lit(-1L)
    val proj = edges.select(col("src").cast("long"), col("dst").cast("long"), eidCol.as("eid"))
    val constrained = targets.isDefined
    inTask(proj, Seq("start", "node", "path", "epath", "hops"),
      tagged(starts, startCol, targets)) { (g, side) =>
      val eids = g.eid // the base view keeps input order: edge k is row k
      // rows over edge INDICES so parallel edges keep their own eid
      val adj = g.out(withPos = true)
      val (off, eIdx) = (adj.off, adj.pos)
      // the target set, resolved once: ids absent from the graph are
      // unreachable and simply never satisfied — the loop then ends at
      // frontier exhaustion
      val targetIds = if (constrained) side.targets.sorted else null
      val isTarget = new Array[Boolean](g.n)
      var nTargets = 0
      if (constrained) targetIds.foreach { t =>
        val i = g.idx(t)
        if (i >= 0 && !isTarget(i)) { isTarget(i) = true; nTargets += 1 }
      }
      def lands(w: Int): Boolean = !constrained || isTarget(w)
      val seenAt = new Array[Int](g.n)

      Iterator.range(0, side.starts.length).flatMap { s =>
        val startId = side.starts(s)
        val stamp = s + 1
        val out = mutable.ArrayBuffer.empty[(Long, Long, Seq[Long], Seq[Long], Int)]
        if (minHops == 0 &&
            (!constrained || java.util.Arrays.binarySearch(targetIds, startId) >= 0))
          out += ((startId, startId, Seq(startId), Seq.empty[Long], 0))
        val sIdx = g.idx(startId)
        if (sIdx >= 0) {
          // targets left to reach from THIS start; 0 => stop the BFS
          var remain =
            if (!constrained) Int.MaxValue
            else nTargets - (if (isTarget(sIdx)) 1 else 0)
          seenAt(sIdx) = stamp
          // frontier rows: (nodeIdx, node-seq, edge-seq); paths mode keeps
          // one row per node, allPaths one per distinct node-seq
          var frontier = mutable.ArrayBuffer((sIdx, Array(startId), Array.empty[Long]))
          var h = 1
          while (frontier.nonEmpty && h <= maxHops) {
            // per (node, node-seq): min edge-seq; paths mode additionally
            // collapses to min (node-seq, edge-seq) per node afterwards
            val best = mutable.HashMap.empty[(Int, Seq[Long]), (Array[Long], Array[Long])]
            frontier.foreach { case (u, p, ep) =>
              var j = off(u)
              while (j < off(u + 1)) {
                val ke = eIdx(j)
                val w = g.dst(ke)
                if (seenAt(w) != stamp) {
                  val np = p :+ g.ids(w)
                  val nep = if (hasId) ep :+ eids(ke) else ep
                  val key = (w, np.toSeq)
                  best.get(key) match {
                    case Some((_, oldEp)) if cmpLongs(nep, oldEp) >= 0 => ()
                    case _ => best.update(key, (np, nep))
                  }
                }
                j += 1
              }
            }
            val entries0 = best.iterator.map { case ((w, _), (p, ep)) => (w, p, ep) }.toArray
            val entries =
              if (allPaths) entries0
              else { // one witness per node: min (node-seq, edge-seq)
                val perNode = mutable.HashMap.empty[Int, (Array[Long], Array[Long])]
                entries0.foreach { case (w, p, ep) =>
                  perNode.get(w) match {
                    case Some((op, oep)) =>
                      val c = cmpLongs(p, op)
                      if (c < 0 || (c == 0 && cmpLongs(ep, oep) < 0)) perNode.update(w, (p, ep))
                    case None => perNode.update(w, (p, ep))
                  }
                }
                perNode.iterator.map { case (w, (p, ep)) => (w, p, ep) }.toArray
              }
            if (entries.isEmpty) frontier = mutable.ArrayBuffer.empty
            else {
              entries.foreach { case (w, _, _) =>
                if (seenAt(w) != stamp) {
                  seenAt(w) = stamp
                  if (constrained && isTarget(w)) remain -= 1
                }
              }
              if (h >= minHops)
                entries.foreach { case (w, p, ep) =>
                  if (lands(w)) out += ((startId, g.ids(w), p.toSeq, ep.toSeq, h))
                }
              // every target reached: deeper levels can only add LONGER
              // paths to them — stop this start's BFS here
              frontier = if (remain <= 0) mutable.ArrayBuffer.empty
                         else mutable.ArrayBuffer.from(entries)
              h += 1
            }
          }
        }
        out.iterator
      }
    }
  }

  // ---- triangles --------------------------------------------------------

  /** Degree-oriented common-neighbor triangle total — replicates
    * [[Algorithms.triangleCount]] including multigraph quirks (duplicate
    * input rows orient and count per row; the common-neighbor set is
    * DISTINCT values, as `array_intersect` dedups). One-row result. */
  def triangleCount(undirected: DataFrame): DataFrame =
    inTask(pairs(undirected, "a", "b"), Seq("triangles")) { (g, _) =>
      Iterator.single(Tuple1(triangleSum(g)._1))
    }

  /** Per-vertex triangles + clustering coefficient — replicates
    * [[Algorithms.lcc]]'s corner attribution. */
  def lcc(undirected: DataFrame): DataFrame =
    inTask(pairs(undirected, "a", "b"), Seq("id", "deg", "triangles", "lcc")) { (g, _) =>
      val (_, deg, tri) = triangleSum(g)
      Iterator.range(0, g.n).map { i =>
        val d = deg(i).toLong
        val t = tri(i)
        val l = if (d >= 2) t * 2.0 / (d * (d - 1)) else 0.0
        (g.ids(i), d, t, l)
      }
    }

  /** Forward triangle pass, shared by [[triangleCount]] and [[lcc]]. Dense
    * index order is id order, so the (deg, id) orientation tie-break is a
    * plain int compare. Each row is oriented from its lower (deg, id)
    * endpoint u to the other endpoint h, and the out-neighbours adj⁺(u)
    * form u's CSR segment, sorted with `Arrays.sort`. Per u, adj⁺(u) is
    * stamped once in an int mark array; each row (u, h) then counts the
    * marked DISTINCT members w of adj⁺(h), each closing one triangle
    * (u, h, w): the total, u and h gain the count, every w gains 1.
    *
    * Keeps [[Algorithms.triangleCount]]'s multigraph semantics exactly:
    * duplicate input rows orient and count per row (a run of equal h in
    * u's segment is counted once and weighted by its length), common
    * neighbours are distinct values (as `array_intersect` dedups), and deg
    * counts duplicate rows. Returns (total, deg, per-vertex triangles), the
    * arrays indexed by dense id. */
  private def triangleSum(g: GraphView): (Long, Array[Int], Array[Long]) = {
    val (n, m, ia, ib) = (g.n, g.m, g.src, g.dst)
    val deg = new Array[Int](n)
    var k = 0
    while (k < m) { deg(ia(k)) += 1; deg(ib(k)) += 1; k += 1 }
    val los = new Array[Int](m); val his = new Array[Int](m)
    k = 0
    while (k < m) {
      val x = ia(k); val y = ib(k)
      if (deg(x) < deg(y) || (deg(x) == deg(y) && x < y)) { los(k) = x; his(k) = y }
      else { los(k) = y; his(k) = x }
      k += 1
    }
    val fwd = new Csr(n, los, his, withPos = false)
    val (off, adj) = (fwd.off, fwd.tgt)
    var u = 0
    while (u < n) { java.util.Arrays.sort(adj, off(u), off(u + 1)); u += 1 }
    val mark = new Array[Int](n) // mark(w) == u + 1 iff w ∈ adj⁺(u)
    val tri = new Array[Long](n)
    var total = 0L
    u = 0
    while (u < n) {
      val stamp = u + 1
      var i = off(u)
      while (i < off(u + 1)) { mark(adj(i)) = stamp; i += 1 }
      i = off(u)
      while (i < off(u + 1)) {
        val h = adj(i)
        var rows = 1
        while (i + rows < off(u + 1) && adj(i + rows) == h) rows += 1
        var nw = 0L
        var last = -1
        var j = off(h)
        while (j < off(h + 1)) {
          val w = adj(j)
          if (w != last && mark(w) == stamp) { nw += 1; tri(w) += rows }
          last = w
          j += 1
        }
        nw *= rows
        tri(u) += nw; tri(h) += nw; total += nw
        i += rows
      }
      u += 1
    }
    (total, deg, tri)
  }
}
