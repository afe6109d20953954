package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Materialize an N×-scaled copy of a testdata fixture directory for the
  * full-catalog soak (`graft.Soak` covers 13 kernels; this feeds the whole
  * 269-query catalog + DuckDB oracles at N× data).
  *
  * Scaling is SIMILARITY-PRESERVING, like Soak's:
  *   - fact tables union N key-offset copies; every FK gets the SAME
  *     per-copy offset, so the joined graph is N disjoint isomorphic
  *     components (offsets stay inside GraphLoader's fixed id spaces:
  *     custkey < OrderOff, orderkey*8 < PartOff-LineOff, ...).
  *   - dimension tables (region, nation) stay unscaled — copies share
  *     them, the realistic star-schema shape.
  *   - document text gets a per-copy keyed alphabet permutation (bijective
  *     on shingle space: within-copy Jaccard exact, copies mutually
  *     disjoint at ANY n — an N× dedup input is a real N× problem, not an
  *     N²-pair blowup).
  *   - embeddings get a per-copy dimension sign-flip (within-copy cosine
  *     exact, copies decorrelated).
  *   - events offset event_id and user_id (sessions stay per-user
  *     disjoint); timestamps are shared, so window density rises N× —
  *     the honest stream-at-scale shape.
  *
  * Usage: ScaleData <srcDir> <dstDir> [n=10]
  */
object ScaleData {
  // must stay << GraphLoader.OrderOff / the *8 line-id packing
  val CopyOff = 200000L

  /** Per-copy bijective alphabet for document-text decorrelation: copy 0
    * is the identity; copy k>0 is a Fisher–Yates permutation of the 26
    * letters keyed by a splitmix64 stream seeded with k. A plain rotation
    * has only 26 distinct values, so copies 26 apart were EXACT text
    * duplicates — the same fixture-defect class as the embedding flip
    * patterns (few distinct values ⇒ far-apart copies collide, planting
    * true dup pairs the 1× corpus doesn't have). A keyed permutation draws
    * from 26! states, so any two copies stay disjoint at any n. */
  private[graft] def copyAlphabet(k: Int): String = {
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    if (k == 0) alpha
    else {
      var h = k.toLong
      def next(): Long = {
        h += 0x9E3779B97F4A7C15L
        var z = h
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        z ^ (z >>> 31)
      }
      val arr = alpha.toCharArray
      var i = arr.length - 1
      while (i > 0) {
        val j = java.lang.Long.remainderUnsigned(next(), (i + 1).toLong).toInt
        val t = arr(i); arr(i) = arr(j); arr(j) = t
        i -= 1
      }
      new String(arr)
    }
  }

  def main(args: Array[String]): Unit = {
    val src = args(0); val dst = args(1)
    val n = if (args.length > 2) args(2).toInt else 10
    require(n * CopyOff < graft.model.GraphLoader.OrderOff,
      s"copy offset overflows the order id space at n=$n")
    val spark = GraftSession.create()
    scaleDir(spark, src, dst, n)
    println(s"scaled $src -> $dst x$n")
  }

  def scaleDir(spark: SparkSession, src: String, dst: String, n: Int): Unit = {
    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")
    def copies(df: DataFrame)(f: Int => DataFrame => DataFrame): DataFrame =
      (0 until n).map(k => f(k)(df)).reduce(_ unionAll _)
    def off(k: Int, cols: String*): DataFrame => DataFrame = df =>
      cols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(k * CopyOff)))

    // dimensions shared by all copies
    write(read("region"), "region")
    write(read("nation"), "nation")

    write(copies(read("customer"))(k => off(k, "c_custkey")), "customer")
    write(copies(read("supplier"))(k => off(k, "s_suppkey")), "supplier")
    write(copies(read("part"))(k => off(k, "p_partkey")), "part")
    write(copies(read("orders"))(k => off(k, "o_orderkey", "o_custkey")), "orders")
    write(copies(read("lineitem"))(
      k => off(k, "l_orderkey", "l_partkey", "l_suppkey")), "lineitem")
    write(copies(read("events"))(k => off(k, "event_id", "user_id")), "events")

    val alpha = "abcdefghijklmnopqrstuvwxyz"
    write(copies(read("documents")) { k => df =>
      val perm = copyAlphabet(k)
      df.withColumn("doc_id", col("doc_id") + lit(k * CopyOff))
        .withColumn("text", translate(col("text"),
          alpha + alpha.toUpperCase, perm + perm.toUpperCase))
    }, "documents")

    write(copies(read("embeddings")) { k => df =>
      // flip sign on dimensions by a splitmix64(k) bit pattern: within-copy
      // dot products are exact (signs cancel), and any two copies differ in
      // ~32 of 64 dims so cross-copy cosine ≈ 0. (A k-bit pattern with few
      // distinct values would make far-apart copies exact duplicates —
      // planting true near-dup pairs the 1× corpus doesn't have.)
      var h = k.toLong + 0x9E3779B97F4A7C15L
      h = (h ^ (h >>> 30)) * 0xBF58476D1CE4E5B9L
      h = (h ^ (h >>> 27)) * 0x94D049BB133111EBL
      h = h ^ (h >>> 31)
      val pat = h
      val flips = typedlit((0 until 64).map(b =>
        if (((pat >>> b) & 1L) == 1L) -1.0f else 1.0f))
      df.withColumn("vec_id", col("vec_id") + lit(k * CopyOff))
        .withColumn("embedding", transform(col("embedding"),
          (x, i) => x * element_at(flips, (i % 64 + 1).cast("int"))))
    }, "embeddings")
  }
}
