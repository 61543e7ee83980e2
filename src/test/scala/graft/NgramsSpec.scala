package graft

import org.apache.spark.sql.functions._

import graft.operators.Ngrams

class NgramsSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the cat sat on the mat"),
    (2L, "the dog sat on the rug"),
    (3L, "cats and dogs and cats and dogs"),
    (4L, "solo")
  ).toDF("doc_id", "text")

  test("logLikelihoodCollocations: evidence mass outranks rare-pair " +
       "PMI noise; cells with zero counts contribute zero") {
    import graft.operators.Ngrams
    // "new york" co-occurs 20× amid noise; "qq zz" once, exclusively —
    // PMI would favor the hapax pair, G² must rank the mass higher
    val docs = (
      (1 to 20).map(i => (i.toLong, "new york")) ++
      (21 to 40).map(i => (i.toLong, s"new day${i}")) ++
      (41 to 60).map(i => (i.toLong, s"old york")) ++
      Seq((99L, "qq zz"))
    ).toDF("doc_id", "text")
    val g2 = Ngrams.logLikelihoodCollocations(docs, minCount = 1L)
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._4).toMap
    assert(g2(("new", "york")) > g2(("qq", "zz")),
      s"mass must beat hapax: $g2")
    assert(g2.values.forall(v => !v.isNaN && !v.isInfinite))
  }

  test("heapsLaw: cumulative docs/tokens/types at ingest-order " +
       "checkpoints, exact integers") {
    // doc i carries tokens t0..ti → type t_j first appears in doc j;
    // 5 checkpoints over ids 0..9 bucket docs {2b, 2b+1}
    val growth = (0 until 10).map(i =>
      (i.toLong, (0 to i).map(j => s"t$j").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Ngrams.heapsLaw(growth, checkpoints = 5)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(out.length === 5)
    out.foreach { case (b, nDocs, nToks, vocab) =>
      val hi = (2 * b + 1).toInt
      assert(nDocs === 2 * b + 2)
      assert(vocab === hi + 1, s"types at ck $b")
      assert(nToks === (0 to hi).map(_ + 1).sum.toLong, s"tokens at ck $b")
    }
  }

  test("vocabulary counts tf and df with a min-df floor") {
    val v = Ngrams.vocabulary(docs, minDf = 1)
      .as[(String, Long, Long)].collect()
      .map { case (t, tf, df) => t -> ((tf, df)) }.toMap
    assert(v("the") === ((4L, 2L)), "4 occurrences across 2 docs")
    assert(v("sat") === ((2L, 2L)))
    assert(v("cats") === ((2L, 1L)))
    assert(v("solo") === ((1L, 1L)))
    val floored = Ngrams.vocabulary(docs, minDf = 2)
      .select("tok").as[String].collect().toSet
    assert(floored === Set("the", "sat", "on"))
  }

  test("tfidf: rational N/df scoring, rarer tokens score higher per count") {
    val out = Ngrams.tfidf(docs)
      .as[(Long, String, Long, Double)].collect()
      .map { case (doc, tok, tf, score) => (doc, tok) -> ((tf, score)) }.toMap
    // "the" in doc 1: tf=2, df=2, N=4 → 2*4/2 = 4.0
    assert(out((1L, "the")) === ((2L, 4.0)))
    // "cat" in doc 1: tf=1, df=1 → 1*4/1 = 4.0
    assert(out((1L, "cat")) === ((1L, 4.0)))
    // "on" in doc 2: tf=1, df=2 → 2.0 — common token scores lower
    assert(out((2L, "on")) === ((1L, 2.0)))
  }

  test("ngramCounts: shared trigram counted across docs, full windows only") {
    val c = Ngrams.ngramCounts(docs, n = 3)
      .as[(String, Long)].collect().toMap
    assert(c("sat on the") === 2L, "appears in docs 1 and 2")
    assert(c("cats and dogs") === 2L, "repeated within doc 3")
    assert(!c.contains("solo"), "docs shorter than n yield no windows")
    // floor keeps "sat on the" (cross-doc) and "cats and dogs" (in-doc)
    assert(Ngrams.ngramCounts(docs, n = 3, minCount = 2).count() === 2L)
  }

  test("decontaminate drops train docs sharing an n-gram with eval") {
    val train = docs
    val eval = Seq((100L, "a cat sat on the mat yesterday")).toDF("doc_id", "text")
    // shared 4-gram "sat on the mat" contaminates doc 1 only
    val kept = Ngrams.decontaminate(train, eval, n = 4)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(2L, 3L, 4L))
    // n larger than any shared window → nothing dropped
    assert(Ngrams.decontaminate(train, eval, n = 7).count() === 4L)
  }

  test("unigramLogProb: common-token docs outscore rare-token docs; OOV floor") {
    val docs = Seq(
      (1L, "a a a a"),   // 'a' has tf 9/12 — high probability tokens
      (2L, "a a a b"),   // mostly common
      (3L, "b c d a")    // spread over rare tokens
    ).toDF("doc_id", "text")
    val out = Ngrams.unigramLogProb(docs)
      .orderBy("doc_id")
      .as[(Long, Long, Double)].collect().toSeq
    assert(out.map(_._2) === Seq(4L, 4L, 4L))
    assert(out(0)._3 > out(1)._3 && out(1)._3 > out(2)._3,
      "rarer tokens → lower mean log-prob")
    // scoring new text against a frozen model: unseen tokens take the floor
    val model = Seq(("a", 9L), ("b", 2L)).toDF("tok", "tf")
    val scored = Ngrams.unigramLogProb(
        Seq((9L, "zz zz")).toDF("doc_id", "text"), model = model,
        oovLogProb = -20.0)
      .as[(Long, Long, Double)].collect()(0)
    assert(scored._3 === -20.0, "all-OOV doc sits exactly at the floor")
    // quantized mode agrees with raw mode to the quantization step
    val raw = Ngrams.unigramLogProb(docs).orderBy("doc_id")
      .as[(Long, Long, Double)].collect().map(_._3)
    val quant = Ngrams.unigramLogProb(docs, quantize = Some(9))
      .orderBy("doc_id").as[(Long, Long, Double)].collect().map(_._3)
    raw.zip(quant).foreach { case (r, q) => assert(math.abs(r - q) < 1e-8) }
  }

  test("repetitionRatio flags the repetitive doc, drops short docs") {
    val r = Ngrams.repetitionRatio(docs, n = 2)
      .as[(Long, Long, Long, Double)].collect()
      .map { case (id, tot, dist, ratio) => id -> ((tot, dist, ratio)) }.toMap
    assert(!r.contains(4L), "single-token doc has no bigram windows")
    assert(r(1L)._3 === 0.0, "no repeated bigram in doc 1")
    // doc 3 bigrams: 6 windows, 4 distinct (cats-and, and-dogs, dogs-and,
    // and-cats) → ratio 2/6
    assert(r(3L)._1 === 6L && r(3L)._2 === 4L)
    assert(math.abs(r(3L)._3 - 2.0 / 6.0) < 1e-15)
  }

  test("contaminationScore: per-doc matched fraction; short docs unscored") {
    val eval = Seq((100L, "a b c d e f g h")).toDF("doc_id", "text")
    val train = Seq(
      // 9 tokens → two 8-gram windows, the first matches eval exactly
      (1L, "a b c d e f g h x"),
      (2L, "p q r s t u v w x"),   // two windows, no overlap
      (3L, "too short")            // < 8 tokens → no windows, not scored
    ).toDF("doc_id", "text")
    val out = Ngrams.contaminationScore(train, eval, n = 8)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) === ((1L, 2L, 1L, 0.5)))
    assert(out(2L) === ((2L, 2L, 0L, 0.0)))
    assert(!out.contains(3L))
  }

  test("sourceDivergence: identical sources → 0; bounded by ln 2") {
    val df = Seq(
      ("A", "x x y"), ("B", "x x y"),      // identical distribution
      ("C", "x z z z z z z z z z"),        // shares x, mostly different
      ("D", "p q r")                       // disjoint from all
    ).toDF("source", "text")
    val out = Ngrams.sourceDivergence(df)
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._4).toMap
    assert(out(("A", "B")) === 0.0,
      "identical distributions → every nanonat term is ln 1 = 0")
    assert(out(("A", "C")) > 0.0 && out(("A", "C")) < math.log(2.0))
    assert(out(("A", "C")) === out(("B", "C")), "JSD is symmetric")
    assert(!out.contains(("A", "D")),
      "token-disjoint pairs are not emitted (their JSD is exactly ln 2)")
  }

  test("sourceOverlap: exact jaccard/containment; disjoint pairs absent") {
    val df = Seq(
      ("A", "a b c d"),        // shingles {a b c, b c d}
      ("B", "a b c e"),        // shingles {a b c, b c e}
      ("C", "x y z w")         // disjoint from both
    ).toDF("source", "text")
    val out = Ngrams.sourceOverlap(df)
      .as[(String, String, Long, Long, Long, Double, Double, Double)]
      .collect()
    assert(out.length === 1, "non-overlapping pairs are not emitted")
    val (sa, sb, common, szA, szB, jac, ca, cb) = out.head
    assert((sa, sb) === (("A", "B")))
    assert((common, szA, szB) === ((1L, 2L, 2L)))
    assert(jac === 1.0 / 3.0)
    assert(ca === 0.5 && cb === 0.5)
  }

  test("bigramLogProb: repeated transitions score higher than unique ones; " +
       "short docs dropped") {
    val df = Seq(
      (1L, "a b a b a b"), // transitions a→b, b→a dominate the model
      (2L, "a b c d e"),   // each of its later transitions occurs once
      (3L, "a"),           // single token: no transitions → dropped
      (4L, "")             // empty → dropped
    ).toDF("doc_id", "text")
    val out = Ngrams.bigramLogProb(df)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out.keySet === Set(1L, 2L))
    assert(out(1L)._2 === 5L, "n-1 transitions for an n-token doc")
    assert(out(2L)._2 === 4L)
    assert(out(1L)._3 > out(2L)._3,
      "the doc made of the corpus's dominant transitions scores higher")
    // a doc of frequent TOKENS in an order the corpus never uses scores
    // low here even though a unigram model scores it high
    val shuffled = df.union(Seq((5L, "b b a a b a")).toDF("doc_id", "text"))
    val s = Ngrams.bigramLogProb(shuffled)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(s(5L) < s(1L), "rare transitions (b b, a a) drag the mean down")
  }

  test("importanceWeights: in-domain docs score positive, generic " +
       "docs negative, mean is length-normalized") {
    // target domain speaks "alpha"; the rest speaks "beta". A doc of
    // pure alpha must get imp > 0, pure beta imp < 0, and a doc from
    // the raw pool that happens to be alpha-only scores the same as the
    // target's own alpha docs (weights depend on tokens, not membership)
    val df = Seq(
      (1L, "alpha alpha alpha", "tgt"),
      (2L, "alpha alpha alpha", "tgt"),
      (3L, "beta beta beta", "raw"),
      (4L, "beta beta beta", "raw"),
      (5L, "alpha alpha alpha", "raw")
    ).toDF("doc_id", "text", "source")
    val out = Ngrams.importanceWeights(df, col("source") === "tgt")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out.values.forall(_._2 === 3L))
    assert(out(1L)._3 > 0, "target-domain text must weigh positive")
    assert(out(3L)._3 < 0, "off-domain text must weigh negative")
    assert(out(5L)._3 === out(1L)._3,
      "weights are a function of tokens, not of membership")
    // hand-check doc 1: c_t(alpha)=6, c_r(alpha)=9, n_t=6, n_r=15, v=2
    // delta = ln(7*17 / (10*8)); imp = round(delta,9) (mean of 3 equal)
    val exp = BigDecimal(math.log(7.0 * 17 / (10 * 8)))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(out(1L)._3 - exp) < 1e-9)
  }

  test("collocations: PMI over bigram-position marginals, minCount floor") {
    val df = Seq(
      (1L, "new york new york"), // (new,york)×2, (york,new)×1
      (2L, "a new day")          // (a,new), (new,day)
    ).toDF("doc_id", "text")
    // N = 5 bigrams; c_left(new) = 3, c_right(york) = 2
    // pmi(new,york) = ln(2·5 / (3·2)) = ln(5/3)
    val out = Ngrams.collocations(df, minCount = 2)
      .as[(String, String, Long, Double)].collect()
    assert(out.length === 1, "only (new, york) reaches minCount = 2")
    val (w1, w2, c, pmi) = out.head
    assert((w1, w2, c) === ("new", "york", 2L))
    assert(math.abs(pmi - math.log(5.0 / 3.0)) < 1e-8)
    // hapax floor off → every distinct pair appears (N = 5 bigram
    // tokens, 4 distinct pairs — (new,york) repeats)
    assert(Ngrams.collocations(df, minCount = 1).count() === 4)
  }

  test("noveltyScore: first corpus occurrence wins; boilerplate scores 0") {
    val df = Seq(
      (1L, "a b c d e"),   // grams {abc, bcd, cde} all first here → 1.0
      (2L, "a b c d x"),   // {abc, bcd} seen in doc 1; {cdx} novel → 1/3
      (3L, "a b c d e"),   // exact copy of doc 1 → nothing novel → 0.0
      (4L, "a b")          // shorter than n → unscored
    ).toDF("doc_id", "text")
    val out = Ngrams.noveltyScore(df, n = 3)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out.keySet === Set(1L, 2L, 3L))
    assert(out(1L) === ((1L, 3L, 3L, 1.0)))
    assert(out(2L) === ((2L, 3L, 1L, 1.0 / 3.0)))
    assert(out(3L) === ((3L, 3L, 0L, 0.0)))
  }

  test("bpeTrain: frequency-ordered merges, greedy non-overlap, early stop") {
    // words: ab×2, ac×1 → round 1 fuses (a,b) cnt 2, round 2 (a,c) cnt 1
    val df = Seq((1L, "ab ab ac")).toDF("doc_id", "text")
    val merges = Ngrams.bpeTrain(df, numMerges = 2)
      .as[(Long, String, String, String, Long)].collect().toSeq.sortBy(_._1)
    assert(merges === Seq((1L, "a", "b", "ab", 2L), (2L, "a", "c", "ac", 1L)))
    assert(Ngrams.bpePairStats(df)
      .as[(String, String, Long)].collect().toSet ===
      Set(("a", "b", 2L), ("a", "c", 1L)),
      "pair stats are exactly round 1's count table")
    // overlapping run: "aaa" under (a,a) fuses left-to-right to <aa><a>,
    // so round 2 sees the pair (aa, a)
    val runs = Seq((1L, "aaa aaa")).toDF("doc_id", "text")
    val m2 = Ngrams.bpeTrain(runs, numMerges = 2)
      .as[(Long, String, String, String, Long)].collect().toSeq.sortBy(_._1)
    assert(m2 === Seq((1L, "a", "a", "aa", 4L), (2L, "aa", "a", "aaa", 2L)))
    // no pairs left before the budget → stop early instead of looping
    val tiny = Seq((1L, "ab")).toDF("doc_id", "text")
    assert(Ngrams.bpeTrain(tiny, numMerges = 5).count() === 1L)
    // bracket-bearing tokens would corrupt the <a><b> symbol encoding —
    // the vocabulary build drops them instead of training on garbage
    val brackets = Seq((1L, "ab ab ac <s> a<b")).toDF("doc_id", "text")
    val m3 = Ngrams.bpeTrain(brackets, numMerges = 2)
      .as[(Long, String, String, String, Long)].collect().toSeq.sortBy(_._1)
    assert(m3 === Seq((1L, "a", "b", "ab", 2L), (2L, "a", "c", "ac", 1L)),
      "tokens containing < or > are excluded from the vocabulary")
  }

  test("bpeSegment publishes the word → subword table the merges induce") {
    // after 2 merges on "ab ab ac": (a,b)→ab then (a,c)→ac, so both
    // words collapse to single symbols
    val df = Seq((1L, "ab ab ac")).toDF("doc_id", "text")
    val seg = Ngrams.bpeSegment(df, numMerges = 2)
      .as[(String, Long, Long, String)].collect().toSet
    assert(seg === Set(("ab", 2L, 1L, "ab"), ("ac", 1L, 1L, "ac")))
    // one merge only: ac stays split as "a c"
    val seg1 = Ngrams.bpeSegment(df, numMerges = 1)
      .as[(String, Long, Long, String)].collect().toSet
    assert(seg1 === Set(("ab", 2L, 1L, "ab"), ("ac", 1L, 2L, "a c")))
    graft.operators.OpCaches.release()
  }

  test("bpeSegmentWithMerges: the stored-model serve path reproduces " +
      "the train-side segmentation") {
    val df = Seq(
      (1L, "lower lower lowest low low low newer newest new wide wider"),
      (2L, "low lower newest newest wide wide widest new new lowest")
    ).toDF("doc_id", "text")
    val merges = Ngrams.bpeTrain(df, numMerges = 6)
      .orderBy("rank").select("left", "right")
      .as[(String, String)].collect().toSeq
    val trained = Ngrams.bpeSegment(df, numMerges = 6)
      .as[(String, Long, Long, String)].collect().toSet
    val served = Ngrams.bpeSegmentWithMerges(df, merges)
      .as[(String, Long, Long, String)].collect().toSet
    assert(served === trained,
      "chained replaces in rank order = the cumulative training fold")
    // serving with a merge PREFIX equals training stopped at that round
    val seg2 = Ngrams.bpeSegment(df, numMerges = 2)
      .as[(String, Long, Long, String)].collect().toSet
    val served2 = Ngrams.bpeSegmentWithMerges(df, merges.take(2))
      .as[(String, Long, Long, String)].collect().toSet
    assert(served2 === seg2)
  }

  test("bpeEncode: trained ids in (token, symbol) order; unseen words " +
      "char-split to the OOV id") {
    // train on "aa aa ab": merge 1 fuses (a,a) cnt 2 → segments
    // aa→[aa], ab→[a, b]; symbol vocab dense by string: a=1, aa=2, b=3
    val train = Seq((1L, "aa aa ab")).toDF("doc_id", "text")
    val enc = Seq((1L, "aa ab"),  // in-vocab: [2] ++ [1, 3]
                  (2L, "cd"))     // unseen word → chars c, d → OOV 0, 0
      .toDF("doc_id", "text")
    val out = Ngrams.bpeEncode(train, enc, numMerges = 1)
      .orderBy("doc_id")
      .select("doc_id", "n_toks", "n_ids", "token_ids")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(out === Seq((1L, 2L, 3L, "2,1,3"), (2L, 1L, 2L, "0,0")))
    graft.operators.OpCaches.release()
  }

  test("bpeEncodeWithMerges: stored merges+vocab reproduce the trained " +
      "encode; unseen words fall apart into trained subwords") {
    val train = Seq((1L, "aa aa ab")).toDF("doc_id", "text")
    val merges = Ngrams.bpeTrain(train, numMerges = 1)
      .orderBy("rank").select("left", "right")
      .as[(String, String)].collect().toSeq
    val vocab = Ngrams.bpeVocab(train, numMerges = 1) // a=1, aa=2, b=3
    // in-vocab docs: identical to bpeEncode's output
    val enc = Seq((1L, "aa ab")).toDF("doc_id", "text")
    val direct = Ngrams.bpeEncode(train, enc, numMerges = 1)
      .select("doc_id", "n_toks", "n_ids", "token_ids")
      .as[(Long, Long, Long, String)].collect().toSeq
    val stored = Ngrams.bpeEncodeWithMerges(enc, merges, vocab)
      .select("doc_id", "n_toks", "n_ids", "token_ids")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(stored === direct && direct === Seq((1L, 2L, 3L, "2,1,3")))
    // unseen word "aab": the merge replay fuses the leading pair →
    // [aa, b] = ids [2, 3] — real BPE's unseen-word behavior (trained
    // subwords), not a blanket char-split; truly novel chars go OOV 0
    val novel = Seq((2L, "aab cd")).toDF("doc_id", "text")
    val out = Ngrams.bpeEncodeWithMerges(novel, merges, vocab)
      .select("doc_id", "n_toks", "n_ids", "token_ids")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(out === Seq((2L, 2L, 4L, "2,3,0,0")))
  }

  test("bpeTrain delta-maintained pair counts equal a from-scratch recount " +
      "across merge rounds (incl. the checkpoint boundary)") {
    // 6 rounds over a corpus where merges overlap and cascade — every
    // round's argmax must match the naive recount the DuckDB oracle
    // unrolls; a drifting delta would diverge by round 2–3
    val df = Seq(
      (1L, "lower lower lowest low low low newer newest new wide wider"),
      (2L, "low lower newest newest wide wide widest new new lowest")
    ).toDF("doc_id", "text")
    val merges = Ngrams.bpeTrain(df, numMerges = 6)
      .as[(Long, String, String, String, Long)].collect().toSeq.sortBy(_._1)
    // reference: driver-side naive BPE over the same (word, count) table
    var words: Map[String, (Vector[String], Long)] =
      ("lower lower lowest low low low newer newest new wide wider " +
       "low lower newest newest wide wide widest new new lowest")
        .split(" ").groupBy(identity).view
        .mapValues(a => (a.head.map(_.toString).toVector, a.length.toLong))
        .toMap
    val expect = (1 to 6).map { rank =>
      val counts = words.values.toSeq
        .flatMap { case (syms, c) =>
          syms.zip(syms.tail).map(p => (p, c)) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
      val ((l, r), cnt) = counts.minBy { case ((l, r), c) => (-c, l, r) }
      words = words.view.mapValues { case (syms, c) =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.size) {
          if (i + 1 < syms.size && syms(i) == l && syms(i + 1) == r) {
            out += (l + r); i += 2
          } else { out += syms(i); i += 1 }
        }
        (out.result(), c)
      }.toMap
      (rank.toLong, l, r, l + r, cnt)
    }
    assert(merges === expect)
  }

  test("BPE training memo: bounded, OpCaches-visible, freed by " +
       "clearBpeCache") {
    import graft.operators.OpCaches
    Ngrams.clearBpeCache()
    OpCaches.release(blocking = true)
    val base = OpCaches.registered
    val df = Seq((1L, "ab ab ac ad ae af")).toDF("doc_id", "text")
    Ngrams.bpeTrain(df, numMerges = 1).count()
    assert(OpCaches.registered === base + 1,
      "one trained config = one session-scoped memoized frame")
    Ngrams.bpeSegment(df, numMerges = 1).count() // memo hit
    assert(OpCaches.registered === base + 1,
      "a memo hit must not register a second frame")
    // 5 distinct configs against a cap of 4: oldest evicts + unpersists,
    // the registry never grows past the cap
    (1 to 5).foreach(m => Ngrams.bpeTrain(df, numMerges = m).count())
    assert(OpCaches.registered === base + 4,
      "memo is bounded: 5 distinct configs retain only bpeMemoCap=4")
    Ngrams.clearBpeCache()
    assert(OpCaches.registered === base,
      "clearBpeCache deregisters every session frame")
    // post-clear retrain still correct (cache miss merely retrains)
    assert(Ngrams.bpeTrain(df, numMerges = 1)
      .as[(Long, String, String, String, Long)].collect().toSeq ===
      Seq((1L, "a", "b", "ab", 2L)))
    // the harness reset frees all three kinds of state in one call: the
    // BPE memo, the unigram memo and an operator's per-query frames
    Ngrams.unigramTrain(df, vocabSize = 4, maxPieceLen = 2, rounds = 1,
      seedSize = 4).count()
    graft.operators.Dedup.allPairsJaccard(df, "doc_id", "text", 0.5)
    assert(OpCaches.registered > base + 2,
      "BPE memo + unigram memo + per-query frames all registered")
    OpCaches.resetQueryState()
    assert(OpCaches.registered === 0,
      "resetQueryState leaves no frame of either scope registered")
    Ngrams.bpeTrain(df, numMerges = 1).count()
    assert(OpCaches.registered === 1,
      "a retrain after the reset trains and registers again")
    Ngrams.clearBpeCache()
  }

  test("ppmiCooc: window pairing, shared symmetric marginals, ln floor") {
    // "a b c a": ordered (center, context) pairs within +-2 positions
    val docs = Seq((1L, "a b c a")).toDF("doc_id", "text")
    val out = Ngrams.ppmiCooc(docs, window = 2, minCount = 1L)
      .as[(String, String, Long, Double)].collect().toSet
    val hi = 0.510825624 // ln(2·10/(4·3)); T=10, m(a)=4, m(b)=m(c)=3
    val lo = 0.105360516 // ln(1·10/(3·3))
    assert(out === Set(
      ("a", "b", 2L, hi), ("a", "c", 2L, hi), ("b", "a", 2L, hi),
      ("c", "a", 2L, hi), ("b", "c", 1L, lo), ("c", "b", 1L, lo)))
    // negative PMI floors at 0 rather than going negative
    val anti = Seq((1L, "p q p q r r p q p q r r")).toDF("doc_id", "text")
    val withR = Ngrams.ppmiCooc(anti, window = 2, minCount = 1L)
      .as[(String, String, Long, Double)].collect()
    assert(withR.forall(_._4 >= 0.0), "PPMI is clamped at zero")
  }

  test("lexicalDiversity: exact type/token/hapax counts and ratios") {
    val docs = Seq(
      ("s1", "a b a"), ("s1", "c a"), ("s2", "x x x x")
    ).toDF("source", "text")
    val out = Ngrams.lexicalDiversity(docs)
      .as[(String, Long, Long, Long, Double, Double)].collect().toSet
    assert(out === Set(
      ("s1", 5L, 3L, 2L, 0.6, 0.666666667),
      ("s2", 4L, 1L, 0L, 0.25, 0.0)))
  }

  test("chiSquareTerms: exact 2x2 chi-square per present (class, token)") {
    val docs = Seq(
      (1L, "en", "cat dog"), (2L, "en", "cat fish"), (3L, "fr", "chien dog")
    ).toDF("doc_id", "lang", "text")
    val out = Ngrams.chiSquareTerms(docs, classCol = "lang", minDf = 2L)
      .as[(String, String, Long, Long, Double)].collect().toSet
    // (en,cat): a=2 b=0 c=0 d=1 -> 3·(2·1-0)²/(2·1·2·1) = 3.0
    // (en,dog): a=1 b=1 c=1 d=0 -> 3·(0-1)²/4 = 0.75; (fr,dog) mirrors
    assert(out === Set(
      ("en", "cat", 2L, 2L, 3.0),
      ("en", "dog", 1L, 2L, 0.75),
      ("fr", "dog", 1L, 2L, 0.75)
    ), "df<minDf tokens (fish, chien) drop; absent (class,token) cells " +
       "are not emitted")
  }

  test("winnow: coverage guarantee, subset-of-grams, rightmost tie rule") {
    val text = "the quick brown fox jumps over the lazy dog today"
    val df = Seq((1L, text)).toDF("doc_id", "text")
    val sel = Ngrams.winnow(df, k = 3, w = 4)
      .as[(Long, Long, Long)].collect().map(r => (r._3, r._2)).toMap
    // 10 tokens -> 8 3-grams (pos 0..7), 5 full windows (start 0..4)
    val allPos = sel.keySet
    assert(allPos.subsetOf((0L to 7L).toSet), "positions are k-gram indices")
    assert((0L to 4L).forall(s => (s until s + 4).exists(allPos)),
      "winnowing guarantee: every w-window contains a selected gram")
    // every selected hash equals the portable char-polynomial of its gram
    val toks = text.split(" ")
    def poly(s: String): Long =
      s.foldLeft(0L)((a, c) => (a * 31 + c.toInt) % 1000000007L)
    sel.foreach { case (pos, fp) =>
      assert(fp === poly(toks.slice(pos.toInt, pos.toInt + 3).mkString(" ")),
        s"hash at pos $pos is the k-gram's polynomial hash")
    }
    // all-equal hashes: each window must keep its RIGHTMOST position,
    // so the selected set is exactly {w-1 .. nGrams-1}
    val rep = Seq((2L, Seq.fill(9)("x").mkString(" "))).toDF("doc_id", "text")
    val tiePos = Ngrams.winnow(rep, k = 3, w = 4)
      .as[(Long, Long, Long)].collect().map(_._3).toSet
    assert(tiePos === (3L to 6L).toSet,
      "rightmost-tie rule: window starting at s selects pos s+w-1")
    // two docs sharing a k+w-1 = 6-token run share a fingerprint VALUE
    val pair = Seq(
      (3L, "alpha beta gamma delta epsilon zeta aaa bbb ccc ddd"),
      (4L, "one two three alpha beta gamma delta epsilon zeta nine")
    ).toDF("doc_id", "text")
    val byDoc = Ngrams.winnow(pair, k = 3, w = 4)
      .as[(Long, Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert((byDoc(3L) intersect byDoc(4L)).nonEmpty,
      "shared 6-token substring surfaces a shared fingerprint")
  }

  test("zipfSlope: exact two-point fit, tie ranks follow the global " +
       "frequency sort, sub-minTf types drop") {
    // tf(a)=10 -> rank 1 (x=0), tf(b)=5 -> rank 2: slope = ln(5/10)/ln 2 = -1
    val docs = Seq((1L, (Seq.fill(10)("a") ++ Seq.fill(5)("b") ++
      Seq("rare")).mkString(" "))).toDF("doc_id", "text")
    val Array((n, slope)) = Ngrams.zipfSlope(docs)
      .as[(Long, Option[Double])].collect()
    assert(n === 2L, "the tf=1 type is under minTf")
    assert(math.abs(slope.get + 1.0) < 1e-6,
      "two-point fit through (0, ln10) and (ln2, ln5)")
    // a single type (or all-equal ln-rank) has no determined slope
    val one = Seq((1L, Seq.fill(6)("only").mkString(" ")))
      .toDF("doc_id", "text")
    val Array((n1, s1)) = Ngrams.zipfSlope(one)
      .as[(Long, Option[Double])].collect()
    assert(n1 === 1L && s1.isEmpty, "degenerate fit surfaces as NULL")
    // tied frequencies: ranks must be 1,2,3 (distribution prefix +
    // within-tf tok order), matching the global sort
    val tied = Seq((1L, (Seq.fill(10)("z") ++ Seq.fill(5)("b") ++
      Seq.fill(5)("a")).mkString(" "))).toDF("doc_id", "text")
    val Array((n3, s3)) = Ngrams.zipfSlope(tied)
      .as[(Long, Option[Double])].collect()
    assert(n3 === 3L)
    // least squares over (0,ln10),(ln2,ln5),(ln3,ln5)
    val xs = Seq(0.0, math.log(2), math.log(3))
    val ys = Seq(math.log(10), math.log(5), math.log(5))
    val sx = xs.sum; val sy = ys.sum
    val sxx = xs.map(v => v * v).sum
    val sxy = xs.zip(ys).map { case (x, y) => x * y }.sum
    val want = (3 * sxy - sx * sy) / (3 * sxx - sx * sx)
    assert(math.abs(s3.get - want) < 1e-6)
  }

  test("textRank: the co-occurrence hub out-ranks its spokes; top-k " +
       "cut is deterministic and bounded") {
    // "a" is adjacent to every other token; spokes only touch "a"
    val d = Seq((1L, "a b a c a d a e"),
                (2L, "a b a c a")).toDF("doc_id", "text")
    val out = Ngrams.textRank(d, iterations = 3, topK = 3)
      .as[(String, Long, Double)].collect()
    // spokes b,c (co-occurrence weight 2 each) tie exactly and beat
    // d,e (weight 1); the cut at topK=3 keeps both tied spokes in
    // (rank desc, tok asc) order
    assert(out.map(_._1).toSeq === Seq("a", "b", "c"))
    assert(out(0)._2 > out(1)._2, "the hub strictly dominates")
    assert(out(1)._2 === out(2)._2, "symmetric spokes tie bit-exactly")
  }

  test("unigramTrain: hand-checked seed + hard-EM rounds; singles " +
       "survive with the coverage floor; Viterbi prefers the likelier " +
       "whole piece") {
    // words: ab(3), b(1) → substrings a:3, b:4, ab:3; Viterbi on "ab":
    // [ab] ln(3/10) beats [a b] ln(3/10)+ln(4/10) → usage ab:3, b:1;
    // 'a' is never used but survives at the floor cnt 1
    val d = Seq((1L, "ab ab ab b")).toDF("doc_id", "text")
    val v = Ngrams.unigramTrain(d, vocabSize = 8, maxPieceLen = 2,
        rounds = 2, seedSize = 8)
      .as[(String, Long, Long)].collect()
      .map { case (p, c, lp) => p -> ((c, lp)) }.toMap
    assert(v.keySet === Set("a", "b", "ab"))
    assert(v("ab")._1 === 3L, "EM usage count")
    assert(v("a")._1 === 1L, "unused single char floored at 1")
    assert(v("b")._1 === 1L)
    assert(v("ab")._2 ===
      math.round(math.log(3.0 / 5.0) * 1e6), "micro-nat logp")
  }

  test("unigramViterbi tie-breaks: equal score prefers fewer pieces, " +
       "then the lexicographically smaller piece sequence") {
    val d = Seq((1L, "xy xyx")).toDF("doc_id", "text")
    // scores constructed to tie exactly: [x y] = -300 = [xy];
    // on "xyx" all three paths score -400: [x y x] loses on k=3,
    // [xy x] and [x yx] tie at k=2 → "x yx" < "xy x" lexicographically
    val vocab = Seq(("x", 1L, -100L), ("y", 1L, -200L),
      ("xy", 1L, -300L), ("yx", 1L, -300L))
      .toDF("piece", "cnt", "logp_micro")
    val seg = Ngrams.unigramSegmentWithVocab(d, vocab, maxPieceLen = 2)
      .as[(String, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._3, r._4))).toMap
    assert(seg("xy") === ((1L, "xy")), "fewer pieces wins the tie")
    assert(seg("xyx") === ((2L, "x yx")),
      "equal score+count ties break lexicographically")
  }

  test("unigramEncodeWithVocab: dense ids by piece string; a word with " +
       "an out-of-vocabulary character encodes as ONE oovId") {
    val vocab = Seq(("a", 2L, -100L), ("b", 2L, -100L),
      ("ab", 2L, -150L)).toDF("piece", "cnt", "logp_micro")
    val d = Seq((7L, "ab qa b")).toDF("doc_id", "text")
    // ids by piece order: a=1, ab=2, b=3; "ab"→[ab]=2, "qa" has 'q'
    // (unsegmentable) → one oov 0, "b"→3
    val out = Ngrams.unigramEncodeWithVocab(d, vocab, maxPieceLen = 2)
      .as[(Long, Long, Long, String)].collect()
    assert(out === Array((7L, 3L, 3L, "2,0,3")))
  }

  test("unigram stored-artifact serve: a round-tripped vocabulary " +
       "reproduces the train-side segmentation exactly") {
    val d = Seq((1L, "ab ab ab b aba")).toDF("doc_id", "text")
    val trained = Ngrams.unigramTrain(d, vocabSize = 4, maxPieceLen = 3,
      rounds = 2, seedSize = 6)
    val direct = Ngrams.unigramSegmentWithVocab(d, trained,
      maxPieceLen = 3).orderBy("word")
    val tmp = java.nio.file.Files.createTempDirectory("uni-rt").toString
    try {
      trained.write.mode("overwrite").parquet(s"$tmp/vocab")
      val stored = spark.read.parquet(s"$tmp/vocab")
      val served = Ngrams.unigramSegmentWithVocab(d, stored,
        maxPieceLen = 3).orderBy("word")
      assert(served.collect().toSeq === direct.collect().toSeq)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    }
  }

  test("spanCorrupt: hand-computed masking — sentinel replaces the span " +
       "in the input, content follows its sentinel in the target, tail " +
       "blocks shorter than the drawn offset mask nothing") {
    import spark.implicits._
    // doc 0: block 0 offset = 0 (Knuth hash of (0,0)), so pos 0..2 mask;
    // block 1 offset = 2654435761 % 18 = 7, but the doc ends at pib 4 —
    // nothing masks in the tail block
    val enc = Seq((0L, (1L to 25L).toArray)).toDF("doc_id", "token_ids")
    val out = Ngrams.spanCorrupt(enc)
      .as[(Long, Long, Seq[Long], Seq[Long])].head()
    assert(out._2 === 25L)
    assert(out._3 === (1000000L +: (4L to 25L)),
      "input = sentinel for block 0, then the unmasked tail")
    assert(out._4 === Seq(1000000L, 1L, 2L, 3L),
      "target = sentinel then the masked span content")
    // short doc entirely inside the masked span: input is ONLY the
    // sentinel, target carries the whole doc
    val tiny = Seq((0L, Array(9L, 8L))).toDF("doc_id", "token_ids")
    val t = Ngrams.spanCorrupt(tiny)
      .as[(Long, Long, Seq[Long], Seq[Long])].head()
    assert(t._3 === Seq(1000000L) && t._4 === Seq(1000000L, 9L, 8L))
    // layout independence + guards
    val many = (0L until 40L).map(i =>
      (i, (0L until 37L).map(j => i * 100 + j).toArray))
      .toDF("doc_id", "token_ids")
    val a = Ngrams.spanCorrupt(many)
      .as[(Long, Long, Seq[Long], Seq[Long])].collect().toSet
    val b = Ngrams.spanCorrupt(many.repartition(7))
      .as[(Long, Long, Seq[Long], Seq[Long])].collect().toSet
    assert(a === b)
    // masked fraction on full blocks is exactly spanLen/blockSize
    val full = Seq((3L, (1L to 200L).toArray)).toDF("doc_id", "token_ids")
    val f = Ngrams.spanCorrupt(full)
      .as[(Long, Long, Seq[Long], Seq[Long])].head()
    assert(f._4.count(_ < 1000000L) === 30,
      "200 tokens = 10 full blocks x 3 masked each")
    intercept[IllegalArgumentException] {
      Ngrams.spanCorrupt(enc, blockSize = 3, spanLen = 3)
    }
    intercept[Exception] {
      Ngrams.spanCorrupt(Seq((-1L, Array(1L))).toDF("doc_id", "token_ids"))
        .collect()
    }
    // the hash-key guard covers doc*31 + BLOCK, not the id alone: an
    // id whose product would wrap raises loudly at the scan
    intercept[Exception] {
      Ngrams.spanCorrupt(
        Seq((400000000L, Array(1L, 2L))).toDF("doc_id", "token_ids"))
        .collect()
    }
  }
}
