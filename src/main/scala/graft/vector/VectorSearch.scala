package graft.vector

import graft.algo.LocalKernels
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Divide, EvalMode, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Vector similarity search (reference: HNSW indexes, `src/vector/index.rs:71-258`,
  * `VectorSearchOperator` `operator.rs:4645-4736`).
  *
  * Spark-first re-expression: HNSW is a pointer-chasing in-memory structure
  * that does not distribute; the equivalent capabilities are
  *  - exact k-NN: a scan + top-k (TakeOrderedAndProject) — the oracle path;
  *    [[knnExactFor]] runs small local-mode inputs as an in-task top-k
  *    kernel ([[knnTopK]]) whose vector block stays resident, like the
  *    reference's in-memory index, so a repeated search runs no job;
  *  - approximate at scale: random-hyperplane LSH bucketing (cosine) so the
  *    candidate join touches a small fraction of the corpus, then exact
  *    re-ranking.
  *
  * Every column dot product is the native `graft_dot` expression
  * ([[graft.functions.DotProduct]]): one codegen'd tree node for any
  * dimension, installed by [[graft.GraftExtensions]] on every
  * [[graft.GraftSession]]. A session built without those extensions fails
  * at analysis with an unresolved `graft_dot`. The typed kernels share the
  * array primitives [[arrayDot]], [[planeBits]] and [[lloyd]].
  */
object VectorSearch {

  /** dot(a,b) in double precision over numeric array columns: elements
    * widen to double and accumulate left-to-right (the DuckDB oracles'
    * association); a null element or a length mismatch gives null. */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Element count of the vector column, from one row — for what needs the
    * dimension up front (LSH hyperplanes, the broadcast budget). */
  def detectDim(df: DataFrame, vecCol: String): Int = {
    val r = df.select(size(col(vecCol))).limit(1).collect()
    if (r.isEmpty) 0 else r(0).getInt(0)
  }

  /** The typed kernels' dot product: `a(k) * b(k)` summed left-to-right
    * over `a`'s length, the same order as `graft_dot`. */
  def arrayDot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var k = 0
    while (k < a.length) { s += a(k) * b(k); k += 1 }
    s
  }

  /** Sign-LSH code of `v` under one table of hyperplanes: bit i is set iff
    * `planes(i) · v >= 0`. */
  def planeBits(v: Array[Double], planes: Array[Array[Double]]): Long = {
    var b = 0L; var i = 0
    while (i < planes.length) {
      if (arrayDot(planes(i), v) >= 0) b |= 1L << i
      i += 1
    }
    b
  }

  /** Group-wise embedding centroids, L2-renormalized — cluster
    * representatives / mean pooling (the reduction behind centroid-based
    * dedup reps and IVF coarse quantizers). Returned LONG-format
    * (group, dim, value) rather than as arrays: the unnested shape is what
    * downstream joins want, and each cell is a scalar an external engine
    * can reproduce bit-comparably.
    *
    * Plan shape: posexplode → ONE hash aggregate on (group, dim) — the
    * partial-aggregate (map-side combine) does the heavy reduction before
    * the shuffle, so shuffle volume is #groups×dim, not #vectors×dim; the
    * per-group norm is a second tiny aggregate joined back (broadcast at
    * any realistic group count). Values widen float→double before
    * averaging. */
  def groupCentroids(emb: DataFrame, groupCol: Column, vecCol: String,
                     roundTo: Int = 6): DataFrame = {
    val exploded = emb
      .select(groupCol.as("grp"), posexplode(col(vecCol).cast("array<double>")).as(Seq("dim", "x")))
    val c = exploded.groupBy(col("grp"), col("dim")).agg(avg(col("x")).as("m"))
    val n = c.groupBy(col("grp")).agg(sqrt(sum(col("m") * col("m"))).as("nrm"))
    c.join(broadcast(n), "grp")
      .select(col("grp"), col("dim").cast("long").as("dim"),
        graft.functions.CypherFunctions.roundC(col("m") / col("nrm"), roundTo).as("value"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication = k-means over the embedding space, then near-duplicate
    * marking WITHIN each cluster only — the clustering bounds the pairwise
    * candidate set to Σ cluster_size², never corpus². A pair straddling
    * two clusters is missed by construction; that recall trade-off is the
    * method (both engines run the identical algorithm, so results stay
    * comparable).
    *
    * Deterministic spherical Lloyd: initial centroids are the `k` smallest
    * ids; assignment is argmax cosine (ties to the smaller cluster id);
    * the update is the per-cluster mean — cosine is scale-invariant, so
    * renormalizing the mean is unnecessary. Empty clusters drop out.
    *
    * Scale shape: per iteration, assignment is a BROADCAST of the k×dim
    * centroid table against the vector scan (map-side argmax via one
    * struct-max aggregate) and the update is the groupCentroids hash
    * aggregate — shuffle ∝ k×dim, vectors never collected; the in-cluster
    * pair join shuffles on the cluster id. Duplicate rule: a vector is a
    * dup if a SMALLER-id member of its cluster is within `tau` cosine
    * (keep-first, matching the q_dedup_* family). Returns
    * (idCol, cluster, is_dup). */
  def semDedup(emb: DataFrame, idCol: String, vecCol: String,
               k: Int, iters: Int, tau: Double): DataFrame = {
    require(k > 0 && iters >= 0, "k positive, iters non-negative")
    val v = emb.select(col(idCol).as("__id"),
      col(vecCol).cast("array<double>").as("__e")).localCheckpoint(true)
    var cents = v.orderBy(col("__id")).limit(k)
      .select((row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("__id"))) - 1)
        .as("__cl"), col("__e").as("__ce"))
      .localCheckpoint(true)
    // argmax cosine as ONE struct-max aggregate (score, then -cluster so
    // equal scores pick the smaller cluster id) — no per-vector window
    def assign(c: DataFrame): DataFrame = v.crossJoin(broadcast(c))
      .withColumn("__s", cosine(col("__e"), col("__ce")))
      .groupBy(col("__id"))
      .agg(max(struct(col("__s"), (-col("__cl")).as("__nc"))).as("__m"))
      .select(col("__id"), (-col("__m.__nc")).cast("int").as("__cl"))
      .join(v, "__id")
    for (_ <- 1 to iters) {
      val a = assign(cents)
      // centroid cells rounded to 9 decimals: double summation order is
      // engine/partition-dependent, and an unquantized ~1e-15 cell drift
      // could flip an argmax near a boundary — 1e-9 quantization is far
      // above the noise and far below any real cluster margin
      cents = a.select(col("__cl"),
        posexplode(col("__e")).as(Seq("__dim", "__x")))
        .groupBy(col("__cl"), col("__dim"))
        .agg(graft.functions.CypherFunctions.roundC(avg(col("__x")), 9).as("__m"))
        .groupBy(col("__cl"))
        .agg(transform(array_sort(collect_list(struct(col("__dim"), col("__m")))),
          s => s.getField("__m")).as("__ce"))
        .localCheckpoint(true)
    }
    val fin = assign(cents).localCheckpoint(true) // both pair-join sides
    val dups = fin.select(col("__cl"), col("__id").as("__i"), col("__e").as("__ea"))
      .join(fin.select(col("__cl"), col("__id").as("__j"), col("__e").as("__eb")),
        "__cl")
      .filter(col("__j") < col("__i"))
      .filter(cosine(col("__ea"), col("__eb")) >= tau)
      .select(col("__i")).distinct().withColumn("__d", lit(true))
    fin.select(col("__id"), col("__cl"))
      .join(dups, col("__id") === col("__i"), "left")
      .select(col("__id").as(idCol), col("__cl").as("cluster"),
        coalesce(col("__d"), lit(false)).as("is_dup"))
  }

  /** Exact top-k by cosine to a literal query vector.
    * `ORDER BY score DESC LIMIT k` compiles to TakeOrderedAndProject —
    * a single scan, no global sort, per-partition heaps at scale. A corpus
    * vector whose length differs from the query's scores null and sorts
    * after every scored row. */
  def knnExact(emb: DataFrame, idCol: String, vecCol: String,
               query: Seq[Float], k: Int): DataFrame = {
    val q = typedlit(query)
    emb.select(col(idCol), cosine(col(vecCol), q).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** Exact top-k where the query vectors are the rows of another DataFrame
    * (every query row scores against every corpus row, as a cross join
    * would; the catalog passes one row). The result is what
    * `emb.crossJoin(q).select(id, cosine).orderBy(score desc, id).limit(k)`
    * returns, and on a multi-JVM cluster, with the in-task routes off
    * (`spark.graft.algo.localSizeBytes <= 0`), past that size estimate,
    * for a non-long id or a vector that is not an array of floats or
    * doubles it is that plan, the query rows broadcast.
    *
    * Otherwise it is the in-task kernel [[knnTopK]], routed like the graph
    * kernels ([[LocalKernels.routed]]) over a tagged union of the corpus
    * projection (id, vector) and the query projection (vector): a first
    * call runs it in one task that scans both, with no broadcast, and a
    * later call over the same file-backed inputs in this JVM (a resident
    * hit) runs it here, on the calling thread, and returns its at most `k`
    * rows, ordered, as a local relation, so a collect runs no job. Neither
    * route runs a job while the frame is built. A hit that meets a zero
    * norm under ANSI returns the plan, which raises when it runs. */
  def knnExactFor(emb: DataFrame, idCol: String, vecCol: String,
                  queryDf: DataFrame, queryVecCol: String, k: Int): DataFrame = {
    def plan: DataFrame = {
      val q = broadcast(queryDf.select(col(queryVecCol).as("_qv")))
      emb.crossJoin(q)
        .select(col(idCol), cosine(col(vecCol), col("_qv")).as("score"))
        .orderBy(col("score").desc, col(idCol).asc)
        .limit(k)
    }
    def typeOf(df: DataFrame, c: String) = df.schema.fields.find(_.name == c).map(_.dataType)
    def isVec(t: Option[DataType]) = t.exists {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    val spark = emb.sparkSession
    if (k < 0 || !spark.sparkContext.isLocal || !typeOf(emb, idCol).contains(LongType) ||
        !isVec(typeOf(emb, vecCol)) || !isVec(typeOf(queryDf, queryVecCol))) return plan
    val both = emb.select(col(idCol), col(vecCol).cast("array<double>"), lit(0))
      .unionAll(queryDf.select(lit(null).cast("long"), col(queryVecCol).cast("array<double>"), lit(1)))
    if (!LocalKernels.gate(both, LocalKernels.Estimate)._2) return plan
    val ansi = spark.conf.get(SQLConf.ANSI_ENABLED.key).toBoolean
    try LocalKernels.routed(both, Seq(idCol, "score"), narrow = true)(knnBlock)(knnTopK(_, k, ansi))
    catch { case _: ArithmeticException => plan }
  }

  /** The corpus and the query vectors of one exact k-NN, as the resident
    * store holds them: corpus ids (`idNull` marks a null id) with their
    * vectors and L2 norms, and the query vectors with theirs. A vector that
    * is null or holds a null element is null here: it scores null against
    * anything, as `graft_dot` makes it. */
  private final class KnnBlock(val ids: Array[Long], val idNull: Array[Boolean],
      val vecs: Array[Array[Double]], val queries: Array[Array[Double]]) extends LocalKernels.Resident {
    private def norm(v: Array[Double]) = if (v == null) Double.NaN else math.sqrt(arrayDot(v, v))
    val norms: Array[Double] = vecs.map(norm)
    val qNorms: Array[Double] = queries.map(norm)
    val rows: Long = (vecs.iterator ++ queries.iterator).map(v => if (v == null) 1L else v.length + 1L).sum
  }

  /** [[knnExactFor]]'s union rows — (id, vector, tag), tag 0 a corpus row
    * and 1 a query row — as a [[KnnBlock]]. */
  private def knnBlock(it: Iterator[Row]): KnnBlock = {
    val ids = mutable.ArrayBuilder.make[Long]; val idNull = mutable.ArrayBuilder.make[Boolean]
    val vecs = mutable.ArrayBuilder.make[Array[Double]]; val queries = mutable.ArrayBuilder.make[Array[Double]]
    it.foreach { r =>
      val v = if (r.isNullAt(1)) null else {
        val xs = r.getSeq[java.lang.Double](1)
        if (xs.contains(null)) null else xs.iterator.map(_.doubleValue).toArray
      }
      if (r.getInt(2) == 1) queries += v
      else {
        idNull += r.isNullAt(0); ids += (if (r.isNullAt(0)) 0L else r.getLong(0)); vecs += v
      }
    }
    new KnnBlock(ids.result(), idNull.result(), vecs.result(), queries.result())
  }

  /** One candidate row of the top-k: an id and a score, either null. */
  private final case class Scored(id: Long, idNull: Boolean, score: Double, scoreNull: Boolean)

  /** The plan's order: score DESC NULLS LAST (NaN largest, -0.0 = 0.0),
    * then id ASC NULLS FIRST. */
  private val ScoredOrder: Ordering[Scored] = (x, y) => {
    val s =
      if (x.scoreNull || y.scoreNull) java.lang.Boolean.compare(x.scoreNull, y.scoreNull)
      else if (x.score == y.score) 0
      else java.lang.Double.compare(y.score, x.score)
    if (s != 0) s
    else if (x.idNull || y.idNull) java.lang.Boolean.compare(y.idNull, x.idNull)
    else java.lang.Long.compare(x.id, y.id)
  }

  /** The `k` best (corpus, query) pairs of `b` in [[ScoredOrder]], each
    * scored as the plan's cosine: `arrayDot(a, q) / (|a| * |q|)`, null for
    * a null vector or a length mismatch. A zero denominator goes through
    * Spark's own `Divide`, so it raises `DIVIDE_BY_ZERO` under ANSI
    * (`ansi`) and is null otherwise. A bounded heap keeps the `k` best. */
  private def knnTopK(b: KnnBlock, k: Int, ansi: Boolean): Iterator[(Option[Long], Option[Double])] = {
    val mode = if (ansi) EvalMode.ANSI else EvalMode.LEGACY
    val worstFirst = new java.util.PriorityQueue[Scored](math.min(k, 1 << 10) + 1, ScoredOrder.reverse)
    for (j <- b.queries.indices; i <- b.vecs.indices) {
      val (a, q) = (b.vecs(i), b.queries(j))
      val score: java.lang.Double =
        if (a == null || q == null || a.length != q.length) null
        else {
          val num = arrayDot(a, q); val den = b.norms(i) * b.qNorms(j)
          if (den != 0.0) num / den
          else Divide(Literal(num), Literal(den), mode).eval().asInstanceOf[java.lang.Double]
        }
      val c = Scored(b.ids(i), b.idNull(i), if (score == null) 0.0 else score, score == null)
      if (worstFirst.size < k) worstFirst.add(c)
      else if (k > 0 && ScoredOrder.lt(c, worstFirst.peek())) { worstFirst.poll(); worstFirst.add(c) }
    }
    worstFirst.asScala.toVector.sorted(ScoredOrder).iterator.map { c =>
      (if (c.idNull) None else Some(c.id), if (c.scoreNull) None else Some(c.score))
    }
  }

  /** Hard-negative mining for retrieval/embedding training: for each anchor
    * vector, the top-`k` most-similar corpus vectors BELOW `posThreshold`
    * cosine — the classic "hard but not positive" band (≥ threshold is
    * presumed a duplicate/positive and excluded, as is the anchor itself).
    *
    * Scale shape: the anchor set is k-bounded (training pipelines mine per
    * anchor batch), so anchors collect like query vectors (bounded rows —
    * the established seed pattern); each anchor is one corpus scan with
    * the cosine and a distributed TakeOrdered top-k; the
    * per-anchor rank window runs over the k-row result, never the corpus.
    * Returns (anchor_id, neg_id, score(raw), rank) for rank 1..k. */
  def hardNegatives(emb: DataFrame, idCol: String, vecCol: String,
                    anchorIds: Seq[Long], k: Int,
                    posThreshold: Double): DataFrame = {
    require(anchorIds.nonEmpty && k > 0, "anchorIds nonempty, k positive")
    val anchors = emb.filter(col(idCol).isin(anchorIds: _*))
      .select(col(idCol), col(vecCol)).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    // a silent empty result would read as "no negatives found" — a missing
    // anchor id is caller error, fail loudly
    require(anchors.length == anchorIds.distinct.length,
      s"anchor ids not found in corpus: " +
        s"${anchorIds.distinct.toSet -- anchors.map(_._1).toSet}")
    anchors.toSeq.sortBy(_._1).map { case (aid, av) =>
      val q = typedlit(av)
      emb.filter(col(idCol) =!= aid)
        .select(col(idCol).as("neg_id"), cosine(col(vecCol), q).as("score"))
        .filter(col("score") < posThreshold)
        .orderBy(col("score").desc, col("neg_id")).limit(k)
        .withColumn("anchor_id", lit(aid))
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("anchor_id"))
            .orderBy(col("score").desc, col("neg_id"))))
        .select(col("anchor_id"), col("neg_id"), col("score"), col("rank"))
    }.reduce(_ unionAll _)
  }

  /** Per-dimension [min, max] of the embedding corpus in ONE aggregate pass
    * (2·dim agg columns — partial/final planned by Catalyst, no shuffle
    * beyond the single-row combine). */
  def quantizeMinMax(emb: DataFrame, vecCol: String, dim: Int): (Array[Double], Array[Double]) = {
    val aggs = (1 to dim).flatMap(i => Seq(
      min(element_at(col(vecCol), i).cast("double")),
      max(element_at(col(vecCol), i).cast("double"))))
    val r = emb.agg(aggs.head, aggs.tail: _*).collect()(0)
    (Array.tabulate(dim)(j => r.getDouble(2 * j)),
      Array.tabulate(dim)(j => r.getDouble(2 * j + 1)))
  }

  @inline private def quantizeScalar(x: Double, mn: Double, mx: Double): Int =
    if (mx > mn) math.round((x - mn) / (mx - mn) * 254.0).toInt - 127 else 0

  /** Int8 scalar quantization: code_i = round((x_i − min_i)/(max_i − min_i)
    * · 254) − 127 ∈ [−127, 127]. The STORED artifact at scale: an
    * `array<tinyint>` column is 4× smaller than float32 vectors, so the
    * candidate-generation scan reads a quarter of the bytes (and the codes
    * table column-prunes away the full vectors entirely). */
  def quantizedCodes(emb: DataFrame, idCol: String, vecCol: String,
                     mins: Array[Double], maxs: Array[Double]): DataFrame = {
    val dim = mins.length
    val codes = array((0 until dim).map { j =>
      val e = element_at(col(vecCol), j + 1).cast("double")
      if (maxs(j) > mins(j))
        (round((e - lit(mins(j))) / lit(maxs(j) - mins(j)) * 254.0).cast("int") - 127).cast("tinyint")
      else lit(0).cast("tinyint")
    }: _*)
    emb.select(col(idCol), codes.as("codes"))
  }

  /** Quantized ANN: rank by the int8 code dot-product proxy over the CODES
    * table only (a quarter of the scan bytes; TakeOrderedAndProject top-C),
    * then join the C winners back to the float vectors (broadcast — C ids)
    * and re-rank exactly. With generous C the exact top-k is recovered —
    * q_knn_quantized pins that against the exact-kNN oracle. */
  def knnQuantized(emb: DataFrame, idCol: String, vecCol: String,
                   query: Seq[Float], k: Int, candidates: Int = 100): DataFrame = {
    val dim = query.length
    val (mins, maxs) = quantizeMinMax(emb, vecCol, dim)
    val codesDf = quantizedCodes(emb, idCol, vecCol, mins, maxs)
    val qCodes = Array.tabulate(dim)(j => quantizeScalar(query(j).toDouble, mins(j), maxs(j)))
    // a sum of products of small integers: exact in a double
    val topC = codesDf.select(col(idCol), dot(col("codes"), typedlit(qCodes)).as("qscore"))
      .orderBy(col("qscore").desc, col(idCol).asc)
      .limit(candidates)
    emb.join(broadcast(topC.select(idCol)), idCol)
      .select(col(idCol), cosine(col(vecCol), typedlit(query)).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** Deterministic random hyperplanes for sign-LSH (seeded — reproducible
    * across runs and engines). */
  def hyperplanes(dim: Int, numBits: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(numBits)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Per-row sign-LSH buckets for ALL tables in one typed-kernel pass
    * ([[planeBits]] per table), eagerly checkpointed. Columns: idCol, vecCol
    * (float→double widened), `_buckets` array<long> indexed by table. At
    * 100 TB this table is written out partitioned by (table, bucket) so a
    * probe reads only matching partitions. */
  def lshBucketed(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
                  numBits: Int = 12, numTables: Int = 4, seed: Long = 42L): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val planesAll = (0 until numTables).map(t => hyperplanes(dim, numBits, seed + t)).toArray
    val bc = spark.sparkContext.broadcast(planesAll)
    emb.select(col(idCol).cast("long").as("_kid"), col(vecCol).cast("array<double>").as("_kv"))
      .as[(Long, Seq[Double])]
      .map { case (id, vSeq) =>
        val v = vSeq.toArray
        (id, vSeq, bc.value.map(planeBits(v, _)).toSeq)
      }
      .toDF(idCol, vecCol, "_buckets")
      .localCheckpoint(true)
  }

  /** The query vector's bucket per table (driver-side, same plane math). */
  def queryBuckets(query: Seq[Float], numBits: Int, numTables: Int,
                   seed: Long): Seq[Long] = {
    val qArr = query.map(_.toDouble).toArray
    (0 until numTables).map(t => planeBits(qArr, hyperplanes(qArr.length, numBits, seed + t)))
  }

  /** ANN sign-LSH sizing, unified with the dedup sizing (r11 verdict task:
    * ONE sizing function for dedup + ANN): code length from the SAME
    * occupancy rule ([[graft.dedup.Dedup.lshBits]]) with buckets widened to
    * ~max(8, 2k) rows so one probe scans O(k) candidates per table, and the
    * table count solved ([[graft.dedup.Dedup.lshTables]]) for per-neighbor
    * miss ≤ `targetMiss` at the design cosine `simFloor`. Retrieval below
    * the high-similarity regime should prefer IVF/PQ (whose cost does not
    * degrade with the similarity cutoff) — same guidance as lshAutoParams. */
  def annAutoParams(n: Long, k: Int, simFloor: Double = 0.9,
                    targetMiss: Double = 0.1): (Int, Int) = {
    val bits = graft.dedup.Dedup.lshBits(n,
      bucket = math.max(8, 2 * k), minBits = 4)
    (bits, math.max(2, graft.dedup.Dedup.lshTables(bits, simFloor, targetMiss)))
  }

  /** Approximate k-NN over a pre-bucketed corpus (see lshBucketed):
    * candidates collide with the query in ANY table; exact re-rank. */
  def knnApproxBucketed(bucketed: DataFrame, idCol: String, vecCol: String,
                        query: Seq[Float], k: Int, numBits: Int = 12,
                        numTables: Int = 4, seed: Long = 42L): DataFrame = {
    val qb = queryBuckets(query, numBits, numTables, seed)
    val cond = qb.zipWithIndex
      .map { case (b, t) => element_at(col("_buckets"), t + 1) === lit(b) }
      .reduce(_ || _)
    knnExact(bucketed.filter(cond), idCol, vecCol, query, k)
  }

  /** Approximate k-NN: restrict the scan to the query's LSH bucket(s) across
    * `numTables` independent hash tables, then exact re-rank. One-shot form
    * of lshBucketed + knnApproxBucketed (batch callers bucket once). */
  def knnApprox(emb: DataFrame, idCol: String, vecCol: String, query: Seq[Float],
                k: Int, numBits: Int = 12, numTables: Int = 4,
                seed: Long = 42L): DataFrame =
    knnApproxBucketed(lshBucketed(emb, idCol, vecCol, query.length, numBits, numTables, seed),
      idCol, vecCol, query, k, numBits, numTables, seed)

  /** IVF-style two-level search: assign vectors to nprobe nearest of
    * `centroids` (small, broadcast), scan only those cells. Centroids come
    * from a cheap sample + k-means (driver-side Lloyd on a sample — the
    * centroid set is tiny; the heavy assignment pass is distributed). */
  def kmeansCentroids(emb: DataFrame, vecCol: String, kCells: Int, dim: Int,
                      iters: Int = 5, sampleN: Int = 2000, seed: Long = 42L): Array[Array[Double]] = {
    val sample = emb.select(col(vecCol)).limit(sampleN).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    lloyd(sample, kCells, iters, seed)
  }

  /** Driver-side Lloyd k-means over a small sample: `k` seeded random
    * points start, each round assigns every point to its nearest center
    * (L2, ties to the lower index) and moves each center to its members'
    * mean; a center with no members stays put. */
  def lloyd(points: Array[Array[Double]], k: Int, iters: Int,
            seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    var cents = rnd.shuffle(points.toVector).take(math.min(k, points.length)).toArray
    for (_ <- 1 to iters) {
      val assign = points.groupBy(v => cents.indices.minBy(i => l2(v, cents(i))))
      cents = cents.indices.map(i =>
        assign.get(i).map(vs => vs.transpose.map(_.sum / vs.length))
          .getOrElse(cents(i))).toArray
    }
    cents
  }

  /** Squared L2 distance over `a`'s length. */
  private def sqDist(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  private def l2(a: Array[Double], b: Array[Double]): Double = math.sqrt(sqDist(a, b))

  /** Assign each vector to its nearest centroid in one typed-kernel pass
    * (eager checkpoint) — the IVF cell table. At 100 TB this is written out
    * partitioned by cell. */
  def ivfAssigned(emb: DataFrame, idCol: String, vecCol: String,
                  centroids: Array[Array[Double]]): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(centroids)
    emb.select(col(idCol).cast("long").as("_kid"), col(vecCol).cast("array<double>").as("_kv"))
      .as[(Long, Seq[Double])]
      .map { case (id, vSeq) =>
        val v = vSeq.toArray
        val cs = bc.value
        var best = 0; var bestD = Double.MaxValue
        var i = 0
        while (i < cs.length) {
          val d = sqDist(cs(i), v)
          if (d < bestD) { bestD = d; best = i }
          i += 1
        }
        (id, vSeq, best)
      }
      .toDF(idCol, vecCol, "_cell")
      .localCheckpoint(true)
  }

  /** IVF probe over a pre-assigned corpus: scan only the nprobe nearest
    * cells, exact re-rank. */
  def knnIvfAssigned(assigned: DataFrame, idCol: String, vecCol: String,
                     query: Seq[Float], k: Int, centroids: Array[Array[Double]],
                     nprobe: Int = 3): DataFrame = {
    val qArr = query.map(_.toDouble).toArray
    val probes = centroids.indices.sortBy(i => l2(qArr, centroids(i))).take(nprobe).toSet
    knnExact(assigned.filter(col("_cell").isin(probes.toSeq: _*)), idCol, vecCol, query, k)
  }

  /** One-shot IVF search (batch callers assign once via ivfAssigned). */
  def knnIvf(emb: DataFrame, idCol: String, vecCol: String, query: Seq[Float],
             k: Int, centroids: Array[Array[Double]], nprobe: Int = 3): DataFrame =
    knnIvfAssigned(ivfAssigned(emb, idCol, vecCol, centroids),
      idCol, vecCol, query, k, centroids, nprobe)

  // ---- product quantization (Jégou et al., TPAMI 2011) -------------------

  /** PQ codebooks: split the dim into `m` subspaces and run per-subspace
    * k-means (`k` codes each) over a deterministic sample. Returns
    * [m][k][dim/m]. Training is driver-side over a BOUNDED sample (like
    * [[kmeansCentroids]]); encoding/scoring below are distributed. */
  def pqCodebooks(emb: DataFrame, vecCol: String, dim: Int, m: Int,
                  k: Int = 16, iters: Int = 5, sampleN: Int = 2000,
                  seed: Long = 42L): Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val dsub = dim / m
    val sample = emb.select(col(vecCol)).limit(sampleN).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    Array.tabulate(m) { s =>
      lloyd(sample.map(v => java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub)),
        k, iters, seed + s)
    }
  }

  /** PQ-encode the corpus in one typed-kernel pass: codes(s) = argmin over
    * the subspace-s codebook. The STORED artifact is (id, m tinyint codes)
    * — at m=16 over 64-d float32 that is a 16× smaller scan than the
    * vectors, and the codes table column-prunes the vectors away
    * entirely. */
  def pqEncoded(emb: DataFrame, idCol: String, vecCol: String,
                books: Array[Array[Array[Double]]]): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(books)
    val m = books.length
    emb.select(col(idCol).cast("long").as("_kid"),
        col(vecCol).cast("array<double>").as("_kv"))
      .as[(Long, Seq[Double])]
      .map { case (id, vSeq) =>
        val v = vSeq.toArray
        val bks = bc.value
        val dsub = v.length / m
        val codes = new Array[Int](m)
        var s = 0
        while (s < m) {
          val cb = bks(s)
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < cb.length) {
            val ctr = cb(c); var d = 0.0; var j = 0
            while (j < dsub) {
              val x = v(s * dsub + j) - ctr(j); d += x * x; j += 1
            }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          codes(s) = best
          s += 1
        }
        (id, codes.toSeq)
      }
      .toDF(idCol, "codes")
      .withColumn("codes", col("codes").cast("array<tinyint>"))
      .localCheckpoint(true)
  }

  /** PQ-ADC search: the per-query lookup table lut(s)(c) = q_s · book(s)(c)
    * is a tiny literal array, held once in the plan; the approximate dot
    * sums the code-th entry of each subspace's slice over the CODES column
    * (no vector bytes touched), the top C winners join back to the float
    * vectors (broadcast — C ids) and re-rank exactly. Generous C recovers the exact top-k — q_knn_pq pins
    * that against the exact-kNN oracle; RecallSpec floors the no-re-rank
    * ADC recall. */
  def knnPqEncoded(encoded: DataFrame, emb: DataFrame, idCol: String,
                   vecCol: String, query: Seq[Float], k: Int,
                   books: Array[Array[Array[Double]]],
                   candidates: Int = 100): DataFrame = {
    val m = books.length
    val kCodes = books(0).length
    val dsub = query.length / m
    val qArr = query.map(_.toDouble).toArray
    val lutFlat = (0 until m).flatMap { s =>
      val qs = java.util.Arrays.copyOfRange(qArr, s * dsub, (s + 1) * dsub)
      books(s).map(arrayDot(qs, _))
    }
    // one literal: the codes gather their lut entries and sum left to right
    val lut = typedlit(lutFlat)
    val proxy = aggregate(
      transform(col("codes"), (c, s) => element_at(lut, s * kCodes + c.cast("int") + 1)),
      lit(0.0), _ + _)
    val topC = encoded.select(col(idCol), proxy.as("_adc"))
      .orderBy(col("_adc").desc, col(idCol).asc)
      .limit(candidates)
    emb.join(broadcast(topC.select(idCol)), idCol)
      .select(col(idCol), cosine(col(vecCol), typedlit(query)).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** One-shot PQ search (batch callers train/encode once). */
  def knnPq(emb: DataFrame, idCol: String, vecCol: String, query: Seq[Float],
            k: Int, m: Int = 16, candidates: Int = 100): DataFrame = {
    val dim = query.length
    val books = pqCodebooks(emb, vecCol, dim, m)
    knnPqEncoded(pqEncoded(emb, idCol, vecCol, books), emb, idCol, vecCol,
      query, k, books, candidates)
  }
}
