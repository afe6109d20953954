package graft

import graft.dedup.Dedup
import graft.text.TextAnalysis
import graft.vector.VectorSearch
import org.apache.spark.sql.functions._

class DedupTextSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "the quick brown fox jumps over the lazy dog again and again tonight"), // near-dup of 1
    (3L, "completely different content about spark query engines and columnar execution"),
    (4L, "the quick brown fox jumps over the lazy dog again and again today") // exact dup of 1
  ).toDF("doc_id", "text")

  test("exact dedup keeps min id per identical text") {
    val kept = Dedup.exactDedup(docs, "doc_id", "text").select("doc_id")
      .as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 3L))
  }

  test("ngram jaccard finds the planted near-dup pair") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select("i", "j").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minhash LSH surfaces near-dups without all-pairs compare") {
    val pairs = leakFree(Dedup.minHashLshPairs(docs, "doc_id", "text", 3, 32, 8, 0.4)
      .select("i", "j").as[(Long, Long)].collect().toSet)
    assert(pairs.contains((1L, 4L))) // exact dup always collides
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash: identical docs distance 0, different docs far") {
    val fp = Dedup.simHash(docs, "doc_id", "text").as[(Long, Long)].collect().toMap
    assert(fp(1L) == fp(4L))
    assert(java.lang.Long.bitCount(fp(1L) ^ fp(3L)) > 4)
  }

  test("simhash pairs: the exact dup is paired, no cached Dataset left") {
    val pairs = leakFree(Dedup.simHashPairs(docs, "doc_id", "text")
      .select("i", "j").as[(Long, Long)].collect().toSet)
    assert(pairs.contains((1L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("embedding near-dup pairs by cosine threshold") {
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)), (2L, Seq(0.99f, 0.1f, 0.0f)),
      (3L, Seq(0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding", 0.9)
      .select("i", "j").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("lshAutoParams: bucket size stays O(1) and the miss bound holds") {
    // bits tracks log2(n): expected bucket size n/2^bits stays bounded,
    // so candidate volume n²·T/2^bits scales sub-quadratically
    val sizes = Seq(1000L, 10000L, 100000L, 1000000L, 10000000L)
    val params = sizes.map(n => Dedup.lshAutoParams(n, 0.9))
    params.sliding(2).foreach { case Seq((b1, _), (b2, _)) => assert(b2 > b1) }
    sizes.zip(params).foreach { case (n, (bits, tables)) =>
      assert(n.toDouble / (1L << bits) <= 8.5, s"bucket size at n=$n")
      // per-pair miss (1-p^bits)^tables ≤ 1e-6 at p(cos 0.9)
      val p = 1.0 - math.acos(0.9) / math.Pi
      val miss = math.pow(1.0 - math.pow(p, bits), tables)
      assert(miss <= 1.000001e-6, s"miss $miss at n=$n bits=$bits tables=$tables")
    }
    // candidate work n²·T/2^bits grows sub-quadratically: 10× corpus
    // must cost well under 100× (the fixed-bits failure mode)
    val work = sizes.zip(params).map { case (n, (b, t)) =>
      n.toDouble * n * t / (1L << b) }
    work.sliding(2).foreach { case Seq(w1, w2) => assert(w2 / w1 < 40.0) }
    // below the near-dup regime the solved table count explodes — guarded
    intercept[IllegalArgumentException] { Dedup.lshAutoParams(10000000L, 0.4) }
  }

  test("annAutoParams shares the dedup sizing rules (one sizing function)") {
    import graft.vector.VectorSearch
    // identity: lshAutoParams IS (lshBits, lshTables) at the dedup design
    // point — dedup and ANN size off the same two primitives
    Seq(1000L, 100000L, 10000000L).foreach { n =>
      val (b, t) = Dedup.lshAutoParams(n, 0.9)
      assert(b == Dedup.lshBits(n))
      assert(t == Dedup.lshTables(b, 0.9, 1e-6))
    }
    // ANN: wider buckets (~2k per table) so a probe scans O(k) candidates;
    // bits still tracks log2(n) (the fixed-bits failure mode is the thing
    // both callers exist to avoid)
    val sizes = Seq(1000L, 100000L, 10000000L)
    val params = sizes.map(n => VectorSearch.annAutoParams(n, k = 10))
    params.sliding(2).foreach { case Seq((b1, _), (b2, _)) => assert(b2 > b1) }
    sizes.zip(params).foreach { case (n, (bits, tables)) =>
      assert(n.toDouble / (1L << bits) <= 21.0, s"ANN bucket size at n=$n")
      val p = 1.0 - math.acos(0.9) / math.Pi
      val miss = math.pow(1.0 - math.pow(p, bits), tables)
      assert(miss <= 0.1000001, s"ANN miss $miss at n=$n")
    }
  }

  test("substringDupStats: corpus-repeated 8-token windows cover exact spans") {
    val phrase = "a b c d e f g h" // the shared 8-token window
    val docs = Seq(
      (1L, s"x1 x2 $phrase y1"),   // window at pos 2 → tokens 2..9 of 11
      (2L, s"z $phrase"),          // window at pos 1 → tokens 1..8 of 9
      (3L, "p q r s t u v w x y"), // 10 unique tokens, no repeated window
      (4L, "s t u"),               // < 8 tokens → no windows at all
      (5L, s"$phrase $phrase")     // same-doc repeat → fully covered
    ).toDF("doc_id", "text")
    val out = TextAnalysis.substringDupStats(docs, "doc_id", "text", 8)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out(0) == ((1L, 11L, 8L, 0.7273)))
    assert(out(1) == ((2L, 9L, 8L, 0.8889)))
    assert(out(2) == ((3L, 10L, 0L, 0.0)))
    assert(out(3) == ((4L, 3L, 0L, 0.0)))
    assert(out(4) == ((5L, 16L, 16L, 1.0)))
  }

  test("copyAlphabet: bijective and pairwise-distinct at any copy distance") {
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    val perms = (0 until 200).map(ScaleData.copyAlphabet)
    assert(perms.head == alpha)                        // copy 0 = identity
    perms.foreach(p => assert(p.sorted == alpha))      // each a bijection
    // a rotation's 26 states made copies 26 apart EXACT duplicates; the
    // keyed permutation must keep every pair distinct (26! states)
    assert(perms.distinct.size == perms.size)
  }

  test("groupCentroids: renormalized mean per group, long format") {
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)), // grp 0: mean (.5,.5)
      (1L, Seq(3.0f, 4.0f))                          // grp 1: itself, normed
    ).toDF("vec_id", "embedding")
    val out = VectorSearch.groupCentroids(emb, (col("vec_id") % 2).as("grp"), "embedding")
      .orderBy("grp", "dim")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq(
      (0L, 0L, 0.707107), (0L, 1L, 0.707107),  // (.5,.5)/√.5
      (1L, 0L, 0.6), (1L, 1L, 0.8)))           // (3,4)/5
  }

  test("knnExact returns self first, then nearest") {
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)), (3L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val top = VectorSearch.knnExact(emb, "vec_id", "embedding", Seq(1.0f, 0.0f), 2)
      .select("vec_id").as[Long].collect().toSeq
    assert(top == Seq(1L, 2L))
  }

  test("lsh approx knn finds the exact-match neighbor") {
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)), (2L, Seq(0.95f, 0.05f, 0.0f, 0.0f)),
      (3L, Seq(0.0f, 0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val top = VectorSearch.knnApprox(emb, "vec_id", "embedding",
      Seq(1.0f, 0.0f, 0.0f, 0.0f), 1, numBits = 4, numTables = 3)
      .select("vec_id").as[Long].collect().toSeq
    assert(top == Seq(1L))
  }

  test("repetition metrics: duplicate token and bigram fractions") {
    val d = Seq(
      (1L, "a b a b a"),       // 2 distinct of 5 tokens; bigrams: ab,ba,ab,ba → 2/4 distinct
      (2L, "x y z"),           // all distinct
      (3L, "solo"))            // single token → bigram ratio 0
      .toDF("doc_id", "text")
    val r = d.select(col("doc_id"),
        TextAnalysis.dupTokenRatio(col("text")).as("t"),
        TextAnalysis.dupBigramRatio(col("text")).as("b"))
      .orderBy("doc_id").as[(Long, Double, Double)].collect().toSeq
    assert(r == Seq((1L, 0.6, 0.5), (2L, 0.0, 0.0), (3L, 0.0, 0.0)))
  }

  test("text metrics: tokens, fingerprint, langId, winnowing") {
    val d = Seq((1L, "The  quick\tbrown fox"), (2L, "el gato y el perro es aqui de la casa"))
      .toDF("doc_id", "text")
    val toks = d.select(TextAnalysis.tokenCount(col("text"))).as[Int].collect().toSeq
    assert(toks == Seq(4, 10))
    // fingerprint is whitespace/case-insensitive
    val f1 = d.filter($"doc_id" === 1).select(TextAnalysis.fingerprint(col("text"))).as[String].head()
    val f2 = Seq("the quick brown fox").toDF("t")
      .select(TextAnalysis.fingerprint(col("t"))).as[String].head()
    assert(f1 == f2)
    val langs = TextAnalysis.langIdDf(d, "text", "lang").select("doc_id", "lang")
      .as[(Long, String)].collect().toMap
    assert(langs(2L) == "es")
    val sk = TextAnalysis.winnowingSketch(d, "text").select(size(col("sketch")))
      .as[Int].collect()
    assert(sk.forall(_ > 0))
  }

  test("decodeImageHeaders parses BMP, PNG, GIF, JPEG containers from bytes") {
    import graft.multimodal.Multimodal
    def png(w: Int, h: Int): Array[Byte] = {
      val b = new Array[Byte](24)
      Array(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt, 0x0D, 0x0A, 0x1A, 0x0A)
        .zipWithIndex.foreach { case (v, i) => b(i) = v.toByte }
      def be32(off: Int, v: Int): Unit = {
        b(off) = (v >>> 24).toByte; b(off + 1) = (v >>> 16).toByte
        b(off + 2) = (v >>> 8).toByte; b(off + 3) = v.toByte
      }
      be32(16, w); be32(20, h); b
    }
    def gif(w: Int, h: Int): Array[Byte] = {
      val b = new Array[Byte](10)
      "GIF89a".getBytes("US-ASCII").zipWithIndex.foreach { case (v, i) => b(i) = v }
      b(6) = (w & 0xFF).toByte; b(7) = ((w >> 8) & 0xFF).toByte
      b(8) = (h & 0xFF).toByte; b(9) = ((h >> 8) & 0xFF).toByte; b
    }
    def jpeg(w: Int, h: Int): Array[Byte] =
      Array(0xFF, 0xD8, 0xFF, 0xC0, 0x00, 0x11, 0x08,
        (h >> 8) & 0xFF, h & 0xFF, (w >> 8) & 0xFF, w & 0xFF, 0x00).map(_.toByte)
    val rows = Seq(
      (1L, Multimodal.bmpWrap(100, 50, Array[Byte](1, 2, 3))),
      (2L, png(640, 480)), (3L, gif(320, 200)), (4L, jpeg(1920, 1080)),
      (5L, Array[Byte](0, 1, 2)))
      .toDF("media_id", "payload")
    val got = Multimodal.decodeImageHeaders(rows).collect()
      .map(hh => hh.media_id -> ((hh.format, hh.width, hh.height))).toMap
    assert(got(1L) == (("bmp", 100, 50)))
    assert(got(2L) == (("png", 640, 480)))
    assert(got(3L) == (("gif", 320, 200)))
    assert(got(4L) == (("jpeg", 1920, 1080)))
    assert(got(5L) == (("unknown", -1, -1)))
  }

  test("nearDupClusters closes the A~B~C chain into one cluster") {
    // pairs (1,2), (2,5) chain though (1,5) is absent; 3 is a singleton
    val corpus = Seq(1L, 2L, 3L, 5L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 5L)).toDF("i", "j")
    val got = Dedup.nearDupClusters(corpus, "doc_id", pairs)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(got == Set((1L, 1L, true), (2L, 1L, false), (5L, 1L, false), (3L, 3L, true)))
  }

  test("packSequences: chunked-concat bins per shard, first-token rule") {
    // shard A: token counts 300, 300, 100 -> cums 300, 600, 700
    //   bins: floor(0/512)=0, floor(300/512)=0, floor(600/512)=1
    val d = Seq(
      (1L, "A", Seq.fill(300)("w").mkString(" ")),
      (2L, "A", Seq.fill(300)("w").mkString(" ")),
      (3L, "A", Seq.fill(100)("w").mkString(" ")),
      (4L, "B", Seq.fill(600)("w").mkString(" "))
    ).toDF("doc_id", "source", "text")
    val got = TextAnalysis.packSequences(d, "doc_id", "text", "source", 512)
      .select("doc_id", "bin", "pos").as[(Long, Long, Int)].collect().toSet
    assert(got == Set((1L, 0L, 0), (2L, 0L, 1), (3L, 1L, 0), (4L, 0L, 0)))
  }

  test("stratifiedSample keeps ~rate% deterministically, stratum-scoped") {
    val d = (0L until 1000L).map(i => (i, if (i % 2 == 0) "en" else "fr"))
      .toDF("doc_id", "lang")
    val kept = TextAnalysis.stratifiedSample(d, "doc_id", "lang", Map("en" -> 30))
    val byLang = kept.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(byLang("fr") == 500L) // unlisted stratum keeps 100%
    assert(byLang("en") > 100L && byLang("en") < 220L) // ~30% of 500
    // deterministic: same call, same rows
    val again = TextAnalysis.stratifiedSample(d, "doc_id", "lang", Map("en" -> 30))
    assert(kept.select("doc_id").as[Long].collect().sorted
      .sameElements(again.select("doc_id").as[Long].collect().sorted))
  }

  test("pii counts and redaction") {
    val d = Seq((1L, "mail a@b.co or c.d+x@e.org, see https://x.y/z?q=1 call +1-555-0000"),
      (2L, "nothing sensitive here")).toDF("doc_id", "text")
    val got = d.select(col("doc_id") +: (TextAnalysis.piiCounts(col("text")) :+
        TextAnalysis.redactPii(col("text")).as("red")): _*)
      .as[(Long, Int, Int, Int, String)].collect().sortBy(_._1)
    assert(got(0) == ((1L, 2, 1, 1, "mail <EMAIL> or <EMAIL>, see <URL> call <PHONE>")))
    assert(got(1) == ((2L, 0, 0, 0, "nothing sensitive here")))
  }

  test("tfIdfTopTerms ranks distinctive terms above ubiquitous ones") {
    val d = Seq(
      (1L, "common common zebra zebra zebra"),
      (2L, "common aardvark"),
      (3L, "common common common")).toDF("doc_id", "text")
    val got = TextAnalysis.tfIdfTopTerms(d, "doc_id", "text", 2)
    val top = got.filter(col("rank") === 1)
      .select("doc_id", "token").as[(Long, String)].collect().toMap
    assert(top(1L) == "zebra") // tf 3, df 1 beats common (idf 0)
    assert(top(2L) == "aardvark")
    // 'common' appears in every doc: idf = ln(1) = 0 -> score 0 everywhere
    val common = got.filter(col("token") === "common").select("doc_id")
      .as[Long].collect()
    assert(common.forall(id =>
      got.filter(col("doc_id") === id && col("token") === "common")
        .select("score").as[Double].head() == 0.0))
  }

  test("contaminationReport flags docs sharing shingles with probes, excluding self") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta other words here"), // shares 2 overlapping 3-grams with probe 1
      (3L, "totally unrelated text with nothing shared at all")).toDF("doc_id", "text")
    val probes = corpus.filter(col("doc_id") === 1)
    val rep = Dedup.contaminationReport(corpus, probes, "doc_id", "text", 3)
      .select("doc", "probe", "n_hits").as[(Long, Long, Long)].collect().toSet
    // doc 2 shares "alpha beta gamma" and "beta gamma delta"; doc 1 is the
    // probe itself (self-pair excluded); doc 3 shares nothing
    assert(rep == Set((2L, 1L, 2L)))
  }

  test("gopherRules passes prose and fails a too-short or all-numeric doc") {
    val d = Seq(
      (1L, Seq.fill(5)("the quick brown fox jumps of a to in and").mkString(" ")),
      (2L, "too short"),
      (3L, Seq.fill(30)("12345 67890").mkString(" "))).toDF("doc_id", "text")
    val got = d.select(col("doc_id") +: TextAnalysis.gopherRules(col("text")): _*)
      .select("doc_id", "pass").as[(Long, Boolean)].collect().toMap
    assert(got(1L))   // 50 words, alpha, stopwords present
    assert(!got(2L))  // below the word-count floor
    assert(!got(3L))  // zero alpha words, zero stopwords
  }

  test("bigramLmScore: corpus-MLE bigram cross-entropy, hand-checked") {
    // bigram counts over both docs: (a,b)=3 (b,a)=1 (b,c)=1; contexts a.=3 b.=2
    // doc1 lp: log2 1, log2 1/2, log2 1 -> xent 1/3; doc2: 0, -1 -> xent 1/2
    val d = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    val got = TextAnalysis.bigramLmScore(d, "doc_id", "text")
      .select("doc_id", "n_bigrams", "xent_bits", "ppl")
      .as[(Long, Long, Double, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L)._2 == 3 && got(1L)._3 == 0.3333 && got(1L)._4 == 1.2599)
    assert(got(2L)._2 == 2 && got(2L)._3 == 0.5 && got(2L)._4 == 1.4142)
  }

  test("repetitionSignals: top-2-gram and duplicated-5-gram char fractions") {
    // 9 words, 17 chars; top 2-gram "z z" occurs 4x (4*3/17); all 5 distinct
    // 5-grams occur once -> dup fraction 0
    val d = Seq((1L, "x y x y z z z z z")).toDF("doc_id", "text")
    val r = TextAnalysis.repetitionSignals(d, "doc_id", "text")
      .select("top_bigram", "top_bigram_n", "top_bigram_frac", "dup_5gram_frac")
      .as[(String, Long, Double, Double)].head()
    assert(r == (("z z", 4L, 0.7059, 0.0)))
  }

  test("epochShuffle: deterministic shards, dense 1..n positions per shard") {
    val d = (0L to 99L).toDF("doc_id")
    val got = TextAnalysis.epochShuffle(d, "doc_id", 8)
      .as[(Long, Long, Int)].collect()
    assert(got.length == 100)
    got.foreach { case (id, shard, _) =>
      assert(shard == ((id * 2654435761L + 1) % 1000000007L) % 8)
    }
    got.groupBy(_._2).values.foreach { rows =>
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length))
    }
    // reproducible across invocations
    val again = TextAnalysis.epochShuffle(d, "doc_id", 8).as[(Long, Long, Int)].collect()
    assert(got.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  test("bm25Rank: hand-checked Okapi scores, rank by (score desc, id)") {
    // N=2, avgdl=3.5, df(x)=2, idf=ln(1.2); doc1 tf=2 len=3, doc2 tf=1 len=4
    val d = Seq((1L, "x x y"), (2L, "x z z z")).toDF("doc_id", "text")
    val got = TextAnalysis.bm25Rank(d, "doc_id", "text", Seq("x"), 10)
      .as[(Long, Double, Long)].collect().toSeq
    assert(got == Seq((1L, 0.2612, 1L), (2L, 0.1723, 2L)))
  }

  test("gopherRules on empty/whitespace-only text: zero words, zeroed ratios, fail") {
    // pins the n_words=0 semantics the q_quality_gopher oracle mirrors with
    // its CASE WHEN length(trim(text))=0 guard (DuckDB's split of '' is [''])
    val d = Seq((1L, ""), (2L, "   \t  ")).toDF("doc_id", "text")
    val got = d.select(col("doc_id") +: TextAnalysis.gopherRules(col("text")): _*)
      .select("doc_id", "n_words", "mean_word_len", "alpha_word_frac", "pass")
      .as[(Long, Int, Double, Double, Boolean)].collect()
    got.foreach { case (_, nw, ml, af, pass) =>
      assert(nw == 0 && ml == 0.0 && af == 0.0 && !pass)
    }
  }

  test("temperatureMix flattens shares toward uniform at alpha < 1") {
    val d = ((1 to 90).map(i => (i.toLong, "en")) ++
      (91 to 100).map(i => (i.toLong, "zh"))).toDF("id", "lang")
    val got = TextAnalysis.temperatureMix(d, "lang", 0.5)
      .collect().map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    assert(got("en")._1 == 0.9 && got("zh")._1 == 0.1)
    // sqrt(90)/(sqrt(90)+sqrt(10)) = 0.75 — the 9:1 corpus mixes 3:1
    assert(math.abs(got("en")._2 - 0.75) < 1e-3)
    assert(math.abs(got("zh")._2 - 0.25) < 1e-3)
  }

  test("chunkDocs produces overlapping windows with partial tail") {
    // 20 words, chunk 12 stride 8 -> starts 0, 8, 16; sizes 12, 12, 4
    val d = Seq((1L, (1 to 20).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val got = TextAnalysis.chunkDocs(d, "doc_id", "text", 12, 8)
      .select("chunk_idx", "start_word", "n_chunk_words")
      .as[(Int, Int, Int)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((0, 0, 12), (1, 8, 12), (2, 16, 4)))
    // hash of the first chunk equals the hash of the same 12 words standalone
    val h1 = TextAnalysis.chunkDocs(d, "doc_id", "text", 12, 8)
      .filter(col("chunk_idx") === 0).select("chunk_hash").as[String].head()
    val h2 = d.select(md5(lit((1 to 12).map(i => s"w$i").mkString(" "))))
      .as[String].head()
    assert(h1 == h2)
  }

  test("canonicalDedup unifies case/punctuation/whitespace mirrors, not real differences") {
    val corpus = Seq(
      (1L, "The quick, brown fox!"),
      (2L, "the  QUICK brown--fox"),   // mirror of 1 after normalization
      (3L, "  the quick brown fox  "), // mirror of 1
      (4L, "the quick brown ox"),      // one letter off: NOT a mirror
      (5L, "version 2.0 beta"),
      (6L, "Version 2 0  BETA?")       // digits kept, punct→space: mirror of 5
    ).toDF("doc_id", "text")
    val got = Dedup.canonicalDedup(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(got(1L) == (3L, true) && got(2L) == (3L, false) && got(3L) == (3L, false))
    assert(got(4L) == (1L, true))
    assert(got(5L) == (2L, true) && got(6L) == (2L, false))
  }

  test("paragraphDedup keeps first occurrence corpus-wide and reassembles") {
    def para(tag: String) = (1 to 10).map(i => s"$tag$i").mkString(" ")
    val a = para("a"); val b = para("b"); val c = para("c")
    val corpus = Seq(
      (1L, s"$a $b"),        // both paragraphs first seen here
      (2L, s"$a $c"),        // a is a repeat, c survives
      (3L, s"$a $b"),        // fully duplicated doc → nothing survives
      (4L, s"$c $c")         // within-doc repeat: only the FIRST copy survives
    ).toDF("doc_id", "text")
    val got = TextAnalysis.paragraphDedup(corpus, "doc_id", "text", 10)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(got(1L) == (2L, 2L, s"$a $b"))
    assert(got(2L) == (2L, 1L, c))   // survivor keeps its position order
    assert(got(3L) == (2L, 0L, "")) // fully deduped doc survives as a row
    // doc 4's paragraph c already appeared in doc 2 (smaller id) → dropped;
    // and its own second copy is a within-doc dup regardless
    assert(got(4L) == (2L, 0L, ""))
    // partial trailing paragraph is its own unit: 12 tokens → 10 + 2
    val tail = Seq((9L, (1 to 12).map(i => s"t$i").mkString(" ")))
      .toDF("doc_id", "text")
    val t = TextAnalysis.paragraphDedup(tail, "doc_id", "text", 10).collect().head
    assert(t.getLong(1) == 2L && t.getLong(2) == 2L &&
      t.getString(3) == (1 to 12).map(i => s"t$i").mkString(" "))
  }
}
