package graft

import graft.dedup.Dedup
import graft.text.TextAnalysis
import org.apache.spark.sql.functions._

/** Leakage-free split, CCNet perplexity buckets, token-budget allocation. */
class PipelineOpsSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "the quick brown fox jumps over the lazy dog again and again tonight"),
    (3L, "completely different content about spark query engines and columnar execution"),
    (4L, "the quick brown fox jumps over the lazy dog again and again today")
  ).toDF("doc_id", "text")

  test("interval join: grid cells == naive range predicate, boundary and cross-cell cases") {
    // spans chosen to cross cell boundaries (w=10), touch exactly at an
    // endpoint (closed semantics), and sit far apart
    val a = Seq((1L, 0L, 25L), (2L, 30L, 30L), (3L, 100L, 110L))
      .toDF("id", "s", "e")
    val b = Seq((10L, 20L, 40L), (11L, 30L, 35L), (12L, 111L, 120L), (13L, 5L, 9L))
      .toDF("id", "s", "e")
    val got = graft.operators.IntervalJoin.overlap(
        a, b, ("id", "s", "e"), ("id", "s", "e"), cellWidth = 10L)
      .select(col("a_id"), col("b_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // naive: 1x[0,25] meets 10x[20,40] and 13x[5,9]; 2x[30,30] touches
    // 10x[20,40] and 11x[30,35]; 3x[100,110] does NOT meet 12x[111,120]
    assert(got == Set((1L, 10L), (1L, 13L), (2L, 10L), (2L, 11L)), s"got $got")
    // each pair appears exactly once despite multi-cell overlaps
    val rows = graft.operators.IntervalJoin.overlap(
        a, b, ("id", "s", "e"), ("id", "s", "e"), cellWidth = 10L).count()
    assert(rows == 4L, s"pair attributed to more than one cell: $rows rows")
    // the auto cell (8 x p50 length) returns the SAME pairs — output is
    // cellWidth-independent by construction
    val auto = graft.operators.IntervalJoin.overlap(
        a, b, ("id", "s", "e"), ("id", "s", "e"))
      .select(col("a_id"), col("b_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == got, s"auto cell changed the output: $auto")
    // derived width: lengths are (25, 0, 10 | 20, 5, 9, 4) -> p50 = 9or10, x8
    val w = graft.operators.IntervalJoin.autoCellWidth(
      a, b, ("id", "s", "e"), ("id", "s", "e"))
    assert(w >= 72L && w <= 80L, s"auto width off the 8 x p50 rule: $w")
  }

  test("heavy hitters: exact over a high-cardinality tail, MG pruning never drops a hitter") {
    // 1 hot key (~12.7%), one sub-threshold key (~3%), 10k unique fillers:
    // with minShare 0.05 → k=40, each partition's MG summary holds ≤40 of
    // the 10k+ distinct keys, yet the exact recount returns precisely the
    // one qualifying key with its exact count
    val rows = Seq.fill(1500)("hot") ++ Seq.fill(350)("warm") ++
      (1 to 10000).map(i => s"u$i")
    val got = graft.operators.HeavyHitters
      .heavyHitters(rows.toDF("token"), "token", 0.05)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("hot", 1500L)), s"got $got")
  }

  test("salted join == plain join, hot key spread across salts") {
    // 100 rows of one hot key + 10 cold rows
    val big = ((1 to 100).map(i => (7L, i.toLong)) ++
      (1 to 10).map(i => (i.toLong + 100, i.toLong))).toDF("k", "v")
    val small = Seq((7L, "hot"), (101L, "c1"), (105L, "c5")).toDF("k", "tag")
    val salted = graft.operators.SkewJoin.saltedJoin(big, small, "k", 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    val plain = big.join(small, Seq("k"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    assert(salted.toSeq == plain.toSeq)
    assert(salted.length == 102)
  }

  test("leakage-free split: near-dup cluster members share one split") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5)
    val out = Dedup.leakageFreeSplit(docs, "doc_id", pairs, 90)
      .select("doc_id", "cluster", "split")
      .as[(Long, Long, String)].collect().map(r => r._1 -> r).toMap
    // 1, 2, 4 are one near-dup cluster — identical split by construction
    assert(out(1L)._2 == out(2L)._2 && out(1L)._2 == out(4L)._2)
    assert(out(1L)._3 == out(2L)._3 && out(1L)._3 == out(4L)._3)
    // the split value is the documented hash rule on the CLUSTER id
    out.values.foreach { case (_, c, s) =>
      val expect = if ((c * 2654435761L) % 100 < 90) "train" else "val"
      assert(s == expect, s"cluster $c: got $s")
    }
  }

  test("incremental dedup: batch probes corpus only, best match wins") {
    // corpus: 1, 2 (near-dups of each other), 3; batch: 10 (dup of 1/2), 11 (novel)
    val corpus = docs.filter(col("doc_id") =!= 4L)
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again today"),
      (11L, "totally novel content that matches nothing in the existing corpus")
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalNearDups(batch, corpus, "doc_id", "text", 3, 0.5)
      .select("doc_id", "is_dup", "match_id")
      .as[(Long, Boolean, Option[Long])].collect().map(r => r._1 -> r).toMap
    assert(out(10L)._2 && out(10L)._3.contains(1L),
      s"doc 10 should match corpus doc 1 (exact dup, ties to min id): ${out(10L)}")
    assert(!out(11L)._2 && out(11L)._3.isEmpty)
    // corpus-internal near-dup pair (1,2) must NOT appear — output is batch rows only
    assert(out.keySet == Set(10L, 11L))
  }

  test("perplexity buckets: repeated text heads, singleton bigrams tail") {
    val corpus = Seq(
      // 6 docs of one repeated sentence -> every bigram is corpus-frequent
      (1L, "alpha beta gamma delta", "en"), (2L, "alpha beta gamma delta", "en"),
      (3L, "alpha beta gamma delta", "en"), (4L, "alpha beta gamma delta", "en"),
      (5L, "alpha beta gamma delta epsilon", "en"),
      (6L, "alpha beta gamma delta zeta", "en"),
      // unique-vocabulary docs -> unit bigram probabilities differ
      (7L, "unique seven words that appear nowhere else here", "en"),
      (8L, "another entirely distinct set of rare tokens", "en"),
      (9L, "solo", "en") // one token, no bigrams -> null ppl -> tail
    ).toDF("doc_id", "text", "lang")
    val out = TextAnalysis.perplexityBuckets(corpus, "doc_id", "text", "lang")
      .select("doc_id", "bucket").as[(Long, String)].collect().toMap
    assert(out(9L) == "tail", "no-bigram doc must bucket tail")
    assert(out(1L) == "head", s"repeated doc bucketed ${out(1L)}")
    assert(Set("head", "middle", "tail").subsetOf(out.values.toSet) ||
      out.values.toSet.subsetOf(Set("head", "middle", "tail")))
  }

  test("contamination stream op: distinct-shingle hits, self-pairs excluded") {
    // batch-mode run of the stream transform (the twin design: identical
    // plan on a readStream source — q_streaming_decontaminate proves that
    // end-to-end against the oracle)
    val corpus = Seq(
      (1L, "a b c d e f"),          // shares shingles with probe 50
      (2L, "x y z w v u"),          // disjoint
      (50L, "a b c d e f")          // the probe itself (self-pair excluded)
    ).toDF("doc_id", "text")
    val probes = corpus.filter(col("doc_id") === 50L)
    val out = graft.streaming.EventStream
      .contaminationStream(corpus, probes, "doc_id", "text", 3, minHits = 1, flagHits = 3)
      .select("doc_id", "probe_id", "n_hits", "contaminated")
      .as[(Long, Long, Long, Boolean)].collect()
    // doc 1 shares all four 3-shingles of "a b c d e f" -> contaminated
    assert(out.toSeq == Seq((1L, 50L, 4L, true)),
      s"expected one contaminated row for doc 1, got ${out.toSeq}")
  }

  test("hard negatives: self and presumed positives excluded, rank by cosine") {
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)),
      (1L, Seq(0.999f, 0.04f, 0.0f)), // cos ~0.999 >= 0.98 -> presumed positive
      (2L, Seq(0.9f, 0.43f, 0.0f)),   // cos ~0.902 -> hardest negative
      (3L, Seq(0.0f, 1.0f, 0.0f)),    // cos 0 -> easy
      (4L, Seq(0.7f, 0.71f, 0.0f))    // cos ~0.702 -> second
    ).toDF("vec_id", "embedding")
    val out = graft.vector.VectorSearch
      .hardNegatives(emb, "vec_id", "embedding", Seq(0L), 2, 0.98)
      .select("anchor_id", "neg_id", "rank").as[(Long, Long, Int)].collect()
    assert(out.forall(_._1 == 0L))
    assert(!out.exists(r => r._2 == 0L || r._2 == 1L),
      "anchor itself and the >=0.98 near-positive must be excluded")
    assert(out.sortBy(_._3).map(_._2).toSeq == Seq(2L, 4L))
  }

  test("knnExactFor: building the frame runs no job, rows match the literal-query top-k") {
    val rnd = new scala.util.Random(5)
    val emb = Seq.tabulate(40)(i => (i.toLong, Seq.fill(8)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    // a ragged corpus against a 4-d query: the 5-d and the 2-d vector score
    // null and sort after every scored row
    val ragged = Seq((1L, Seq(1.0f, 0.0f, 0.0f, 0.0f, 5.0f)), (2L, Seq(1.0f, 0.0f)),
      (3L, Seq(0.0f, 1.0f, 0.0f, 0.0f)), (4L, Seq(1.0f, 1.0f, 0.0f, 0.0f)),
      (7L, Seq(1.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), round(col("score"), 9)).collect().map(_.toString).toSeq
    Seq(emb, ragged).foreach { corpus =>
      val q = corpus.filter(col("vec_id") === 7L)
      var knn: org.apache.spark.sql.DataFrame = null
      // the native graft_dot cosine needs no dimension, so no detectDim job
      assert(jobsDuring {
        knn = graft.vector.VectorSearch.knnExactFor(corpus, "vec_id", "embedding", q, "embedding", 5)
      } == 0)
      val qv = q.select("embedding").as[Seq[Float]].head()
      val want = graft.vector.VectorSearch.knnExact(corpus, "vec_id", "embedding", qv, 5)
      assert(rows(knn) == rows(want))
      assert(rows(knn).head.startsWith("[7,"), "the query vector is its own nearest")
    }
    assert(rows(graft.vector.VectorSearch.knnExact(ragged, "vec_id", "embedding",
      Seq(1.0f, 0.0f, 0.0f, 0.0f), 5)) ==
      Seq("[7,1.0]", "[4,0.707106781]", "[3,0.0]", "[1,null]", "[2,null]"))
  }

  test("token budget: shares sum to 1; sub-linear alpha boosts small strata") {
    val corpus = Seq.tabulate(40)(i =>
      (i.toLong, ("w " * (if (i < 4) 200 else 10)).trim,
        if (i < 4) "big" else "small")).toDF("doc_id", "text", "src")
    val out = TextAnalysis.mixTokenBudget(corpus, "doc_id", "text", "src", 0.5, 10000L)
      .select("src", "n_tokens", "temp_share", "alloc_tokens", "epochs")
      .as[(String, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(math.abs(out.values.map(_._3).sum - 1.0) < 1e-3)
    // big: 800 tokens, small: 360 — at alpha .5 the small stratum's share
    // (.4014) must exceed its raw token share (.3103)
    val rawSmall = out("small")._2.toDouble / (out("small")._2 + out("big")._2)
    assert(out("small")._3 > rawSmall)
    // epochs = alloc / tokens
    out.values.foreach { case (_, n, _, alloc, ep) =>
      assert(math.abs(ep - alloc / n) < 1e-3)
    }
  }

  test("weighted sample: ES keys match the twin, exactly k, zero-weight excluded") {
    import graft.text.TextAnalysis
    val rows = (1L to 60L).map(i => (i, if (i % 7 == 0) 0L else i % 13 + 1))
    val df = rows.toDF("id", "w")
    val got = TextAnalysis.weightedSample(df, "id", col("w"), 10)
      .as[(Long, Double, Double, Boolean)].collect().map(r => r._1 -> r).toMap
    // in-memory twin of the key formula + top-k rule
    def key(id: Long, w: Long): Double = {
      val u = (((id % 1000000007L) * 2654435761L) % 1000000L + 0.5) / 1000000.0
      BigDecimal(math.log(u) / w).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val eligible = rows.filter(_._2 > 0)
    assert(got.size == eligible.size, "zero-weight rows must be ineligible")
    eligible.foreach { case (id, w) =>
      assert(math.abs(got(id)._3 - key(id, w)) < 1e-9, s"key mismatch at $id")
    }
    val expSel = eligible.map { case (id, w) => (id, key(id, w)) }
      .sortBy { case (id, k) => (-k, id) }.take(10).map(_._1).toSet
    assert(got.values.count(_._4) == 10)
    assert(got.filter(_._2._4).keySet == expSel)
  }
}
