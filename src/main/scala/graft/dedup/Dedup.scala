package graft.dedup

import graft.vector.VectorSearch
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Not present in the reference (it is a graph OLTP engine) — added as the
  * beyond-parity data-pipeline surface. All variants follow the same scale
  * discipline: candidate generation must never be O(n²) on the full corpus —
  * exact dedup is a hash aggregate, MinHash/SimHash bucket with LSH bands so
  * the verification join only sees colliding candidates, and n-gram Jaccard
  * joins on shared shingles (inverted-index join), optionally dropping
  * stop-shingles above a document-frequency cap.
  */
object Dedup {

  /** Distinct word k-gram shingles from a pre-split words-array column —
    * built-in HOFs only (sequence/transform/slice), codegen'd. Takes the
    * words COLUMN (not the raw text) so the split isn't re-evaluated per
    * lambda element (no CSE inside HOF lambdas). */
  def wordShinglesFromWords(words: Column, k: Int): Column =
    when(size(words) >= k,
      array_distinct(transform(sequence(lit(1), size(words) - (k - 1)),
        i => array_join(slice(words, i, lit(k)), " "))))
      .otherwise(array())

  /** (docId, shingle) rows for a corpus: split once into a projected column,
    * then explode the shingle array. */
  def docShingles(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    docs.select(col(idCol).as("doc"), split(col(textCol), " ").as("__words"))
      .select(col("doc"), explode(wordShinglesFromWords(col("__words"), k)).as("s"))

  /** Exact duplicate groups: canonical doc kept = min id per normalized-text
    * hash. Returns (id, keep_id, text_hash). A plain hash aggregate — one
    * shuffle, fully scalable. */
  def exactDupGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val h = md5(col(textCol))
    val w = Window.partitionBy(col("text_hash"))
    docs.select(col(idCol), h.as("text_hash"))
      .withColumn("keep_id", min(col(idCol)).over(w))
      .withColumn("group_size", count(lit(1)).over(w))
  }

  /** Exact dedup: keep one row per distinct text (the min-id row). */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    exactDupGroups(docs, idCol, textCol)
      .filter(col(idCol) === col("keep_id"))
      .select(col(idCol), col("text_hash"))

  /** Canonical-form ("fuzzy-exact") dedup — the cheap normalization pass a
    * corpus pipeline runs between byte-exact dedup and the near-dup
    * methods: lowercase, map every char outside [a-z0-9 ] to a space,
    * collapse space runs, trim; the min-id document per canonical form is
    * the keeper. Catches case / punctuation / whitespace mirror copies
    * that byte-exact dedup misses, at exactly one codegen'd projection +
    * one hash aggregate (bounded by DISTINCT canonical forms — mirror-copy
    * skew collapses map-side) + one join back on the canonical key.
    * Returns (idCol, n_dups, keep) for every input document. */
  def canonicalDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val canon = trim(regexp_replace(regexp_replace(lower(col(textCol)),
      "[^a-z0-9 ]", " "), " +", " "))
    val keyed = docs.select(col(idCol), md5(canon).as("__c"))
    val groups = keyed.groupBy(col("__c"))
      .agg(count(lit(1)).as("n_dups"), min(col(idCol)).as("__keep"))
    keyed.join(groups, "__c")
      .select(col(idCol), col("n_dups"), (col(idCol) === col("__keep")).as("keep"))
  }

  /** Exact n-gram Jaccard similarity for all candidate pairs sharing at least
    * one k-word shingle (inverted-index self-join — the oracle-checkable
    * ground truth for the approximate methods below).
    *
    * @param maxDocFreq drop shingles appearing in more than this many docs
    *                   (stop-shingle cap — bounds the self-join fan-out at scale;
    *                   pass Int.MaxValue for exact semantics on small corpora)
    */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String, k: Int,
                   threshold: Double, maxDocFreq: Int = Int.MaxValue): DataFrame = {
    val sh0 = docShingles(docs, idCol, textCol, k)
    val sh =
      if (maxDocFreq == Int.MaxValue) sh0
      else {
        val w = Window.partitionBy(col("s"))
        sh0.withColumn("df", count(lit(1)).over(w)).filter(col("df") <= maxDocFreq).drop("df")
      }
    val sizes = sh.groupBy(col("doc")).agg(count(lit(1)).as("n"))
    val a = sh.as("a"); val b = sh.as("b")
    val inter = a.join(b, col("a.s") === col("b.s") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("i"), col("b.doc").as("j"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc").as("i"), col("n").as("ni")), Seq("i"))
      .join(sizes.select(col("doc").as("j"), col("n").as("nj")), Seq("j"))
      .select(col("i"), col("j"),
        (col("inter").cast("double") / (col("ni") + col("nj") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Incremental ingestion near-dup gate: for every document of an incoming
    * `batch`, find its best n-gram-Jaccard match in the existing `corpus`
    * (≥ `threshold`) — the "is this new crawl snapshot already in the
    * corpus" check an ingestion pipeline runs BEFORE admitting documents,
    * asymmetric by design: batch×corpus only, never corpus×corpus (the
    * corpus was already deduped when it was admitted).
    *
    * Scale shape: inverted-index join on the shingle key (shuffle ∝
    * shingle stream, never all-pairs), `maxDocFreq` stop-shingle cap on
    * the CORPUS side bounding fan-out, best-match per batch doc as ONE
    * hash aggregate over a composite min-key (no window). Returns every
    * batch doc: (idCol, is_dup, match_id, jaccard) with nulls when no
    * corpus doc clears the threshold. */
  def incrementalNearDups(batch: DataFrame, corpus: DataFrame, idCol: String,
                          textCol: String, k: Int, threshold: Double,
                          maxDocFreq: Int = Int.MaxValue): DataFrame = {
    val bs = docShingles(batch, idCol, textCol, k)
    val cs0 = docShingles(corpus, idCol, textCol, k)
    val cs =
      if (maxDocFreq == Int.MaxValue) cs0
      else {
        val w = Window.partitionBy(col("s"))
        cs0.withColumn("df", count(lit(1)).over(w))
          .filter(col("df") <= maxDocFreq).drop("df")
      }
    val bn = bs.groupBy(col("doc")).agg(count(lit(1)).as("nb"))
    val cn = cs.groupBy(col("doc")).agg(count(lit(1)).as("nc"))
    val inter = bs.as("b").join(cs.as("c"), col("b.s") === col("c.s"))
      .groupBy(col("b.doc").as("i"), col("c.doc").as("j"))
      .agg(count(lit(1)).as("inter"))
    val jac = inter
      .join(bn.select(col("doc").as("i"), col("nb")), Seq("i"))
      .join(cn.select(col("doc").as("j"), col("nc")), Seq("j"))
      .select(col("i"), col("j"),
        (col("inter").cast("double") / (col("nb") + col("nc") - col("inter")))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
    // best match = min composite key (−jaccard, corpus id): highest
    // similarity, ties to the smallest id — one aggregate, no window
    val best = jac
      .groupBy(col("i"))
      .agg(min(struct((-col("jaccard")).as("nj"), col("j").as("m"))).as("__k"))
      .select(col("i"), col("__k.m").as("match_id"),
        (-col("__k.nj")).as("jaccard"))
    batch.select(col(idCol))
      .join(best.withColumnRenamed("i", idCol), Seq(idCol), "left")
      .select(col(idCol), col("match_id").isNotNull.as("is_dup"),
        col("match_id"), col("jaccard"))
  }

  /** Benchmark decontamination: flag corpus documents sharing word k-gram
    * shingles with a (small) probe/eval set — the train-test contamination
    * check every training-data pipeline runs before a corpus ships.
    *
    * Scale shape: the probe side is an eval benchmark — thousands of rows,
    * not billions — so its shingle set is BROADCAST and the 100 TB corpus
    * side never shuffles for the match; the only shuffle is the per-
    * (doc, probe) hit aggregation, which is partial-aggregated map-side.
    * Self-pairs (a probe matching itself when probes are drawn from the
    * corpus) are excluded by id.
    *
    * Returns (doc, probe, n_hits, contaminated) for every pair sharing at
    * least `minHits` shingles; `contaminated` flags pairs at or above
    * `flagHits`. */
  def contaminationReport(corpus: DataFrame, probes: DataFrame, idCol: String,
                          textCol: String, k: Int, minHits: Int = 1,
                          flagHits: Int = 3): DataFrame = {
    val corpusSh = docShingles(corpus, idCol, textCol, k)
    val probeSh = docShingles(probes, idCol, textCol, k)
      .select(col("doc").as("probe"), col("s"))
    corpusSh.join(broadcast(probeSh), Seq("s"))
      .filter(col("doc") =!= col("probe"))
      .groupBy(col("doc"), col("probe"))
      .agg(count(lit(1)).as("n_hits"))
      .filter(col("n_hits") >= minHits)
      .withColumn("contaminated", col("n_hits") >= flagHits)
  }

  /** MinHash signatures: numHashes independent min-hash values per doc over
    * its shingle set, using seeded murmur3 (`hash(seed, shingle)`).
    * Returns (doc, sig: array<int>). */
  def minHashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        k: Int, numHashes: Int): DataFrame = {
    val sh = docShingles(docs, idCol, textCol, k)
    val mins = (0 until numHashes).map(i => min(hash(lit(i), col("s"))).as(s"h$i"))
    sh.groupBy(col("doc")).agg(mins.head, mins.tail: _*)
      .select(col("doc"), array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** MinHash+LSH near-duplicate pairs: band the signature (bands × rowsPerBand
    * = numHashes), bucket-join docs agreeing on any full band, then verify
    * with the estimated Jaccard = fraction of agreeing minhashes.
    * Only colliding candidates are ever paired — no quadratic blow-up. */
  def minHashLshPairs(docs: DataFrame, idCol: String, textCol: String, k: Int,
                      numHashes: Int, bands: Int, threshold: Double): DataFrame =
    minHashLshPairsFromSig(
      minHashSignatures(docs, idCol, textCol, k, numHashes).localCheckpoint(true),
      numHashes, bands, threshold)

  /** Pair generation from a precomputed (doc, sig) signature table — the
    * signature index is a deterministic per-corpus derivation, so callers
    * can materialize it once (SharedMv) and amortize it across queries,
    * the same way a production dedup pipeline maintains the signature
    * table next to the corpus. */
  def minHashLshPairsFromSig(sig: DataFrame, numHashes: Int, bands: Int,
                             threshold: Double): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    // The banded self-join and the (i, j) dedup move ONLY narrow keys
    // (doc, band, bucket) — the 64-int signature arrays are re-attached
    // AFTER dedup by two joins against the |docs|-sized signature table
    // (guide §2.3: shuffle keys and metadata, attach payloads once). The
    // previous form carried `sig` on both sides of the self-join and
    // through the dedup exchange: bands× the array bytes through every
    // shuffle, and on dense graphs (co-purchase neighbor sets) the
    // pre-dedup candidate volume multiplies that again.
    val banded = sig.select(col("doc"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => hash(slice(col("sig"), b * r + 1, lit(r)), b))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    val a = banded.as("a"); val b = banded.as("b")
    val cand = a.join(b, col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") && col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("i"), col("b.doc").as("j"))
      .dropDuplicates("i", "j")
    cand
      .join(sig.select(col("doc").as("i"), col("sig").as("si")), Seq("i"))
      .join(sig.select(col("doc").as("j"), col("sig").as("sj")), Seq("j"))
      .select(col("i"), col("j"),
        (size(filter(zip_with(col("si"), col("sj"), (x, y) => x === y), b => b))
          .cast("double") / numHashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** 32-bit SimHash fingerprint per doc: each token votes ±1 on each bit of
    * murmur3(token); fingerprint bit b is set iff the weighted sum is > 0. */
  def simHash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = docs.select(col(idCol).as("doc"),
      explode(split(col(textCol), "\\s+")).as("t"))
      .withColumn("h", hash(col("t")))
    val bitSums = (0 until 32).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$b"))
    val agg = tok.groupBy(col("doc")).agg(bitSums.head, bitSums.tail: _*)
    val fp = (0 until 32).map(b =>
      when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _)
    agg.select(col("doc"), fp.as("simhash"))
  }

  /** SimHash near-dup pairs with Hamming distance <= maxHamming, via 8
    * 4-bit-band join — pigeonhole: a pair at distance <= 7 differs in at most
    * 7 of the 8 nibbles, so it MUST agree on >= 1 band. (4 byte-bands would
    * only guarantee distance <= 3; the band count is sized to the maxHamming
    * the API accepts.) */
  def simHashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 7, s"8-band pigeonhole guarantees recall only for hamming <= 7, got $maxHamming")
    val fp = simHash(docs, idCol, textCol).localCheckpoint(true)
    val banded = fp.select(col("doc"), col("simhash"),
      posexplode(array((0 until 8).map(i =>
        shiftright(col("simhash"), i * 4).bitwiseAND(0xF)): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "nibble")
    val a = banded.as("a"); val b = banded.as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.nibble") === col("b.nibble") &&
        col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("i"), col("b.doc").as("j"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .dropDuplicates("i", "j")
      .filter(col("hamming") <= maxHamming)
  }

  /** Near-duplicate CLUSTERING: the last step of a real dedup pipeline.
    * Candidate pairs (from any of the generators above — exact Jaccard,
    * MinHash-LSH, SimHash, embedding-LSH) are treated as undirected edges
    * and closed transitively into clusters (connected components), because
    * near-duplication is not transitive pairwise: A~B and B~C must collapse
    * into ONE group even when A~C falls below the threshold, or the corpus
    * keeps two of the three copies.
    *
    * Returns one row per input doc: (idCol, cluster, canonical) where
    * cluster = min doc id in the component (docs in no pair are their own
    * singleton cluster) and canonical marks the kept representative. Any
    * other keep-policy (longest doc, best quality score) is one join +
    * window away from this frame.
    *
    * Scale: the component step is [[graft.algo.Algorithms.wcc]] — min-label
    * propagation over the PAIR edges only (candidate pairs are sparse by
    * construction; the corpus itself never enters the iteration), with the
    * small-input in-task union-find gate. The final assignment is one
    * broadcast-or-shuffle left join against the corpus ids. */
  def nearDupClusters(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    // Cut the pair set to a materialized leaf BEFORE iterating: (a) pair
    // generation is an expensive multi-join pipeline that must run once,
    // not once per wcc round; (b) its join-multiplied size ESTIMATE is
    // wildly above the actual sparse pair count, which would misroute the
    // wcc gate to the distributed loop for a kilobyte-sized edge set (the
    // same lesson as MST's canonical-edge-set gate). localCheckpoint stays
    // on the executors — nothing collects to the driver at any scale.
    val edges = pairs.select(col("i").cast("long").as("src"), col("j").cast("long").as("dst"))
      .localCheckpoint(true)
    val comp = graft.algo.Algorithms.wcc(edges) // (id, component = min id)
    docs.select(col(idCol))
      .join(comp.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("component"), col(idCol)).as("cluster"))
      .withColumn("canonical", col(idCol) === col("cluster"))
  }

  /** Leakage-free train/val split: hash the near-dup CLUSTER id, not the
    * document id, so every member of a near-duplicate cluster lands in the
    * same split — the classic eval-contamination failure mode (a val doc's
    * near-dup in train) is impossible by construction. Uses the same
    * deterministic multiplicative-hash keep-rule as
    * [[graft.text.TextAnalysis.sampleKeep]] (no RNG, oracle-rederivable).
    * Scale: clustering cost is [[nearDupClusters]]; the split itself is a
    * codegen'd projection. Returns (idCol, cluster, split). */
  def leakageFreeSplit(docs: DataFrame, idCol: String, pairs: DataFrame,
                       trainPct: Int): DataFrame = {
    require(trainPct > 0 && trainPct < 100, s"trainPct in (0,100), got $trainPct")
    nearDupClusters(docs, idCol, pairs)
      .select(col(idCol), col("cluster"),
        when(graft.text.TextAnalysis.sampleKeep(col("cluster"), lit(trainPct)),
          lit("train")).otherwise(lit("val")).as("split"))
  }

  /** Embedding cosine near-duplicate pairs above `threshold`.
    *
    * `lshBits = 0` → exact all-pairs (the oracle path; O(n²), small corpora
    * only). `lshBits > 0` → multi-table sign-LSH: `lshTables` independent
    * hyperplane sets; a pair is a candidate iff it collides in ANY table's
    * bucket, then candidates are verified with the exact cosine. Recall for
    * a pair with bit-agreement probability p is 1-(1-p^bits)^tables — size
    * (bits, tables) to the similarity regime (fewer bits + more tables for
    * lower-cosine targets). Candidate generation touches only colliding
    * pairs; the full cross join never happens. */
  def embeddingNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                            threshold: Double, lshBits: Int = 0, dim0: Int = 0,
                            seed: Long = 42L, lshTables: Int = 1): DataFrame =
    if (lshBits <= 0) {
      emb.select(col(idCol).as("i"), col(vecCol).as("va"))
        .join(emb.select(col(idCol).as("j"), col(vecCol).as("vb")), col("i") < col("j"))
        .select(col("i"), col("j"), VectorSearch.cosine(col("va"), col("vb")).as("cosine"))
        .filter(col("cosine") >= threshold)
    } else {
      val dim = if (dim0 > 0) dim0 else VectorSearch.detectDim(emb, vecCol)
      val withB = embeddingBuckets(emb, idCol, vecCol, lshBits, dim, seed,
        lshTables).localCheckpoint(true)
      embeddingNearDupPairsFromBuckets(withB, idCol, vecCol, threshold, dim)
    }

  /** Corpus-size-adaptive sign-LSH sizing: (bits, tables) for a corpus of
    * `n` vectors targeting per-pair miss ≤ `targetMiss` at cosine
    * `threshold`.
    *
    * Fixed bits are quadratic at scale: candidate volume is
    * Σ_buckets(size²) ≈ n²·T/2^bits, so a 10× corpus does 100× the
    * verify work. Growing bits with log2(n) keeps the expected bucket
    * size constant, and solving tables from the recall target
    * (miss = (1-p^bits)^tables, p = 1 - acos(threshold)/π) restores the
    * per-pair guarantee — total candidate work then scales as the classic
    * LSH sub-quadratic n^(1+ρ), ρ = ln(p_near)/ln(p_random) ≈ 0.22 at
    * threshold 0.9, instead of n². (The reference's HNSW, by contrast,
    * uses fixed constants — m=16, ef_construction=200 at
    * `src/vector/index.rs:159-165` — which is exactly the
    * fixed-parameters-at-scale shape this function exists to avoid.)
    *
    * Guarded to the high-similarity regime (threshold ≥ 0.8): sign-LSH
    * collision probability p = 1 - θ/π decays fast below cosine ~0.8, and
    * the solved table count explodes (p^bits ≈ 6e-5 at threshold 0.4 /
    * n=10M ⇒ ~220k tables — an absurd hashing cost). Near-dup detection is
    * a high-similarity problem (the catalog uses ≥0.9); lower-similarity
    * retrieval belongs to IVF/PQ in [[graft.vector.VectorSearch]], whose
    * cost does not degrade with the similarity cutoff. */
  def lshAutoParams(n: Long, threshold: Double,
                    targetMiss: Double = 1e-6): (Int, Int) = {
    require(threshold >= 0.8,
      s"lshAutoParams is for the near-dup regime (threshold >= 0.8, got " +
      s"$threshold): below it the solved table count explodes — use " +
      s"IVF/PQ retrieval for lower-similarity search")
    val bits = lshBits(n)
    (bits, lshTables(bits, threshold, targetMiss))
  }

  /** Occupancy-driven sign-LSH code length — the ONE bits rule shared by
    * near-dup dedup and ANN ([[graft.vector.VectorSearch.annAutoParams]]):
    * buckets of ~`bucket` rows per table at any corpus size (code length
    * grows with log2(n), so probe cost stays O(bucket) per table at 100 TB).
    * Defaults reproduce the near-dup sizing exactly: bucket 2^3, floor 8. */
  def lshBits(n: Long, bucket: Int = 8, minBits: Int = 8): Int =
    math.max(minBits,
      (math.log(math.max(2L, n).toDouble) / math.log(2.0)).ceil.toInt -
        (math.log(bucket.toDouble) / math.log(2.0)).round.toInt)

  /** Table count solved for per-item miss ≤ `targetMiss` at design cosine
    * `sim`: P[miss all tables] = (1 - p^bits)^tables with p = 1 - θ/π. */
  def lshTables(bits: Int, sim: Double, targetMiss: Double): Int = {
    val p = 1.0 - math.acos(math.min(1.0, sim)) / math.Pi
    math.max(1, (math.log(targetMiss) / math.log1p(-math.pow(p, bits))).ceil.toInt)
  }

  /** Sign-LSH bucket assignments for a corpus: (id, vec, norm, per-table
    * buckets). A deterministic per-corpus derivation — callers can
    * materialize it once (SharedMv / checkpoint) and amortize across
    * queries, the production vector-index shape (the reference's
    * VectorIndexManager persists its index the same way).
    *
    * Implemented as a typed kernel: tables×bits plane dots per row are a
    * dense matrix multiply, a primitive loop ([[VectorSearch.planeBits]])
    * of microseconds per row. Vector values widen float→double and the
    * norm accumulates left-to-right, matching `graft_dot`. */
  def embeddingBuckets(emb: DataFrame, idCol: String, vecCol: String,
                       lshBits: Int, dim0: Int = 0, seed: Long = 42L,
                       lshTables: Int = 1): DataFrame = {
    val dim = if (dim0 > 0) dim0 else VectorSearch.detectDim(emb, vecCol)
    val spark = emb.sparkSession
    import spark.implicits._
    val planesAll: Array[Array[Array[Double]]] =
      (0 until lshTables).map(t => VectorSearch.hyperplanes(dim, lshBits, seed + t)).toArray
    val bc = spark.sparkContext.broadcast(planesAll)
    emb
      .select(col(idCol).cast("long").as("_kid"), col(vecCol).cast("array<double>").as("_kv"))
      .as[(Long, Seq[Double])]
      .map { case (id, vSeq) =>
        val v = vSeq.toArray
        val tbs = bc.value.iterator.zipWithIndex
          .map { case (planes, t) => (t, VectorSearch.planeBits(v, planes)) }.toSeq
        (id, vSeq, math.sqrt(VectorSearch.arrayDot(v, v)), tbs)
      }
      .toDF(idCol, vecCol, "_n", "_tbs")
  }

  /** Candidate generation + exact re-rank from a precomputed bucket table
    * (see [[embeddingBuckets]]). */
  def embeddingNearDupPairsFromBuckets(withB: DataFrame, idCol: String,
                                       vecCol: String, threshold: Double,
                                       dim: Int): DataFrame = {
        val spark = withB.sparkSession
        import spark.implicits._
        // candidate generation joins IDS ONLY: a pair colliding in k of the
        // tables produces k rows into the dedup, and carrying two dim-width
        // vectors per candidate row through that shuffle was the dominant
        // cost of this operator in round 2 — shuffle (i, j) longs instead,
        // dedup, then join the vectors back on (the n-sized, not n²-sized,
        // side) for the exact re-rank
        val banded = withB.select(col(idCol).as("_bid"), explode(col("_tbs")).as("_tb"))
        val cand = banded.select(col("_bid").as("i"), col("_tb"))
          .join(banded.select(col("_bid").as("j"), col("_tb").as("_tb2")),
            col("_tb") === col("_tb2") && col("i") < col("j"))
          .select(col("i"), col("j"))
          .dropDuplicates("i", "j")
        // Exact re-rank as a typed kernel over a broadcast id→(vector, norm)
        // map: the corpus-vector side is the build side a stats-aware planner
        // would broadcast anyway (n·d·8 B — the same memory class as a
        // broadcast-hash-join table). Past the broadcast budget, fall back
        // to shuffle joins + the column cosine.
        val nRows = withB.count()
        if (nRows * dim <= 6L * 1000 * 1000) { // ~50 MB of doubles
          val vecMap: Map[Long, (Array[Double], Double)] = withB
            .select(col(idCol).cast("long"), col(vecCol), col("_n"))
            .as[(Long, Seq[Double], Double)]
            .collect().map { case (id, v, nn) => id -> (v.toArray, nn) }.toMap
          val bcV = spark.sparkContext.broadcast(vecMap)
          cand.select(col("i").cast("long"), col("j").cast("long")).as[(Long, Long)]
            .map { case (i, j) =>
              val (va, na) = bcV.value(i)
              val (vb, nb) = bcV.value(j)
              (i, j, VectorSearch.arrayDot(va, vb) / (na * nb))
            }
            .toDF("i", "j", "cosine")
            .filter(col("cosine") >= threshold)
        } else {
          // past the driver-map budget the vector table is by definition too
          // big to broadcast — NO broadcast hints here: shuffle joins on the
          // candidate ids (AQE may still pick a broadcast if stats allow)
          cand
            .join(withB.select(col(idCol).as("i"), col(vecCol).as("va")), Seq("i"))
            .join(withB.select(col(idCol).as("j"), col(vecCol).as("vb")), Seq("j"))
            .select(col("i"), col("j"), VectorSearch.cosine(col("va"), col("vb")).as("cosine"))
            .filter(col("cosine") >= threshold)
        }
  }

  /** Exact all-pairs embedding near-dup as a BLOCKED matrix kernel — the
    * scale-true formulation of the exact path (vs the row-pair join above,
    * which shuffles O(n²) rows each carrying two vectors). Rows are hashed
    * into blocks of ~blockSize vectors; blocks join pairwise (bx <= by), so
    * the shuffle moves O(B²) block-pair rows = n²·d/blockSize numbers —
    * blockSize× less data movement — and the blockSize² dot products per
    * block pair run as a tight primitive loop inside one task. n² rows are
    * never formed in the plan; only pairs passing the threshold are emitted.
    * Exact all-pairs is inherently O(n²) COMPUTE — blocking is the standard
    * distributed-gramian shape that makes the movement and the inner loop
    * efficient. (mapPartitions-class typed kernel: genuine per-partition
    * imperative logic, the documented exception to functions-not-UDFs.)
    * Numerics match the Catalyst path bit-for-bit: float→double widening,
    * dot and norm accumulated left-to-right, cosine = dot/(na·nb).
    * Returns (i, j, cosine) with i < j. */
  def embeddingNearDupPairsBlocked(emb: DataFrame, idCol: String, vecCol: String,
                                   threshold: Double, blockSize: Int = 1024): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val rows = emb.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val n = rows.count()
    val numBlocks = math.max(1L, (n + blockSize - 1) / blockSize).toInt
    val blocks = rows
      .withColumn("blk", pmod(hash(col("id")), lit(numBlocks)).cast("long"))
      .groupBy("blk").agg(collect_list(struct(col("id"), col("v"))).as("rows"))
      .localCheckpoint(true) // both sides of the block join read this once
    val pairs = blocks.as("x").join(blocks.as("y"), col("x.blk") <= col("y.blk"))
      .select(col("x.blk").as("bx"), col("x.rows").as("rx"),
        col("y.blk").as("by"), col("y.rows").as("ry"))
      .as[(Long, Seq[(Long, Seq[Double])], Long, Seq[(Long, Seq[Double])])]
    pairs.flatMap { case (bx, rxS, by, ryS) =>
      val rx = rxS.iterator.map { case (i, v) => (i, v.toArray) }.toArray
      val ry = if (bx == by) rx else ryS.iterator.map { case (j, v) => (j, v.toArray) }.toArray
      def norms(a: Array[(Long, Array[Double])]): Array[Double] =
        a.map { case (_, v) => math.sqrt(VectorSearch.arrayDot(v, v)) }
      val nx = norms(rx)
      val ny = if (bx == by) nx else norms(ry)
      val out = Seq.newBuilder[(Long, Long, Double)]
      var a = 0
      while (a < rx.length) {
        val (ia, va) = rx(a)
        var b = 0
        while (b < ry.length) {
          val (jb, vb) = ry(b)
          if (bx != by || ia < jb) { // same-block pairs once; cross-block all
            val cos = VectorSearch.arrayDot(va, vb) / (nx(a) * ny(b))
            if (cos >= threshold) out += ((math.min(ia, jb), math.max(ia, jb), cos))
          }
          b += 1
        }
        a += 1
      }
      out.result()
    }.toDF("i", "j", "cosine")
  }
}
