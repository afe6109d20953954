package graft

import graft.vector.VectorSearch
import org.apache.spark.sql.functions._

/** ANN recall characterization — the reference measures HNSW recall/QPS in
  * `benches/vector_benchmark.rs`; here each approximate path (sign-LSH,
  * IVF, int8-quantized prefilter) is measured as recall@10 against the
  * exact top-10 over the driver's embeddings fixture, with a hard floor.
  * The self-hit contracts elsewhere prove mechanics; this pins QUALITY. */
class RecallSpec extends SparkSpec {

  private val K = 10
  private val NQ = 20
  private lazy val emb = {
    val df = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    df.localCheckpoint(true)
  }
  private lazy val dim =
    emb.select(size(col("embedding"))).head().getInt(0)
  private lazy val queries: Array[(Long, Seq[Float])] =
    emb.filter(col("vec_id") < NQ).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("vec_id").collect().map(_.getLong(0)).toSet

  private def recall(approx: Seq[Float] => org.apache.spark.sql.DataFrame): Double = {
    val per = queries.map { case (_, v) =>
      val exact = ids(VectorSearch.knnExact(emb, "vec_id", "embedding", v, K))
      val got = ids(approx(v))
      exact.intersect(got).size.toDouble / exact.size
    }
    per.sum / per.length
  }

  test("sign-LSH multi-table recall@10 >= 0.9") {
    // bucket once, probe per query — the q_knn_approx shape
    // k=10 on a 500-vector corpus needs candidate sets ~10x larger than the
    // k=1 self-hit config (12 bits x 4 tables): shorter codes -> bigger
    // buckets, more tables -> more independent chances. 4 bits x 16 tables
    // = ~16-31 candidates/table, union ~40% of the corpus scanned -- the
    // recall/scan-fraction dial the reference tunes on its HNSW ef knob.
    val bucketed = VectorSearch.lshBucketed(emb, "vec_id", "embedding", dim,
      numBits = 4, numTables = 16).localCheckpoint(true)
    val r = recall(v => VectorSearch.knnApproxBucketed(
      bucketed, "vec_id", "embedding", v, K, numBits = 4, numTables = 16))
    info(f"LSH recall@10 = $r%.3f (4 bits x 16 tables)")
    assert(r >= 0.9, f"LSH recall@10 $r%.3f below 0.9 floor")
  }

  test("IVF recall@10 >= 0.9") {
    // The synthetic fixture is near-uniform on the unit sphere (weak
    // neighbor structure), so IVF recall tracks the scanned fraction with
    // only a small locality bonus — sweep (cells, nprobe): 16/8 -> 0.80,
    // 16/10 -> 0.905, 16/12 -> 0.95, 32/24 -> 0.97. Pin 16 cells /
    // nprobe=10 (~62% scanned) as the >=0.9 operating point; clustered
    // real corpora reach the same recall at far smaller nprobe.
    val centroids = VectorSearch.kmeansCentroids(emb, "embedding", kCells = 16, dim)
    val assigned = VectorSearch.ivfAssigned(emb, "vec_id", "embedding", centroids)
    val r = recall(v => VectorSearch.knnIvfAssigned(
      assigned, "vec_id", "embedding", v, K, centroids, nprobe = 10))
    info(f"IVF recall@10 = $r%.3f (16 cells, nprobe=10)")
    assert(r >= 0.9, f"IVF recall@10 $r%.3f below 0.9 floor")
  }

  test("int8-quantized prefilter recall@10 >= 0.9") {
    val r = recall(v => VectorSearch.knnQuantized(
      emb, "vec_id", "embedding", v, K, candidates = 100))
    info(f"int8 recall@10 = $r%.3f (C=100 re-rank)")
    assert(r >= 0.9, f"int8 recall@10 $r%.3f below 0.9 floor")
  }

  test("PQ-ADC recall@10: >= 0.9 with C=100 re-rank, >= 0.5 raw ADC") {
    // train + encode ONCE; probe per query (the q_knn_pq shape)
    val books = VectorSearch.pqCodebooks(emb, "embedding", dim, m = 16)
    val encoded = VectorSearch.pqEncoded(emb, "vec_id", "embedding", books)
    val rerank = recall(v => VectorSearch.knnPqEncoded(
      encoded, emb, "vec_id", "embedding", v, K, books, candidates = 100))
    info(f"PQ recall@10 = $rerank%.3f (m=16, C=100 re-rank)")
    assert(rerank >= 0.9, f"PQ re-rank recall@10 $rerank%.3f below 0.9 floor")
    // raw ADC (no re-rank): what the 16-byte codes alone buy — the quality
    // the first-stage scan delivers before any float vector is touched
    val raw = recall(v => VectorSearch.knnPqEncoded(
      encoded, emb, "vec_id", "embedding", v, K, books, candidates = K))
    info(f"PQ raw-ADC recall@10 = $raw%.3f (m=16, no re-rank)")
    assert(raw >= 0.5, f"PQ raw-ADC recall@10 $raw%.3f below 0.5 floor")
  }
}
