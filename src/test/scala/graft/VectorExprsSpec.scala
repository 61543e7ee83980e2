package graft

import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.VectorExprs

/** Native Catalyst expressions: kernel results, parity of the
  * interpreted and generated paths that call each kernel, and
  * cross-checks against the portable higher-order-function formulations. */
class VectorExprsSpec extends SparkTestBase {
  import spark.implicits._

  test("floatDot: sequential double accumulation, null-safe") {
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
      (Array(0.1f, 0.2f), Array(0.3f, 0.4f))
    ).toDF("a", "b")
    val out = df.select(VectorExprs.floatDot(col("a"), col("b"))).as[Double].collect()
    assert(out(0) === (1.0f.toDouble * 4.0f + 2.0f.toDouble * 5.0f + 3.0f.toDouble * 6.0f))
    assert(math.abs(out(1) - (0.1f.toDouble * 0.3f + 0.2f.toDouble * 0.4f)) < 1e-12)
    val withNull = Seq((Option.empty[Array[Float]], Option(Array(1.0f))))
      .toDF("a", "b")
      .select(VectorExprs.floatDot(col("a"), col("b")))
    assert(withNull.collect()(0).isNullAt(0))
  }

  test("floatDot: ragged lengths and null elements → NULL (HOF fold semantics)") {
    // aggregate(zip_with(...)) null-pads the shorter array and poisons the
    // sum with null products — FloatDot must agree so RewriteHofDot is a
    // sound rewrite on every input
    val ragged = Seq((Array(1.0f, 2.0f, 9.0f), Array(10.0f, 10.0f)))
      .toDF("a", "b")
      .select(VectorExprs.floatDot(col("a"), col("b")))
    assert(ragged.collect()(0).isNullAt(0), "unequal lengths → NULL")
    val withNullElem = Seq((Seq(Some(1.0f), None), Seq(Some(2.0f), Some(3.0f))))
      .toDF("a", "b")
      .select(VectorExprs.floatDot(col("a"), col("b")))
    assert(withNullElem.collect()(0).isNullAt(0), "null element → NULL")
  }

  test("dotRound9: bit-equals the exploded round/decimal-sum pipeline it replaces") {
    // three docs as tid-sorted (tid, w) vectors, including weights whose
    // products exercise HALF_UP at the 9th decimal
    val docs = Seq(
      (1L, Seq((1L, 0.123456789), (5L, 0.5000000005), (9L, 0.333333333))),
      (2L, Seq((1L, 0.987654321), (5L, 0.0000000015), (7L, 0.25))),
      (3L, Seq((2L, 0.111111111), (9L, 0.999999999)))
    ).toDF("doc_id", "raw")
      .select(col("doc_id"),
        expr("transform(raw, x -> struct(x._1 as tid, x._2 as w))").as("tv"))
    val pairs = docs.as("a").crossJoin(docs.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
    val native = pairs.select(col("a.doc_id"), col("b.doc_id"),
      VectorExprs.dotRound9(col("a.tv"), col("b.tv")).as("d")).collect()
    // reference: explode both sides, join on tid, round + decimal sum
    val flat = docs.select(col("doc_id"), explode(col("tv")).as("e"))
      .select(col("doc_id"), col("e.tid").as("tid"), col("e.w").as("w"))
    val ref = flat.as("x").join(flat.as("y"),
        col("x.tid") === col("y.tid") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
      .agg(sum(round(col("x.w") * col("y.w"), 9)
          .cast(org.apache.spark.sql.types.DecimalType(28, 9)))
        .cast("double").as("d"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    native.foreach { r =>
      val k = (r.getLong(0), r.getLong(1))
      // pairs sharing no tid are absent from the joined reference = 0.0
      assert(r.getDouble(2) === ref.getOrElse(k, 0.0),
        s"pair $k: native ${r.getDouble(2)} vs reference ${ref.get(k)}")
    }
    // null input → NULL; empty arrays → 0.0
    val degen = Seq((Option.empty[Seq[(Long, Double)]], Option(Seq.empty[(Long, Double)])))
      .toDF("a0", "b0")
      .select(
        expr("transform(a0, x -> struct(x._1 as tid, x._2 as w))").as("a"),
        expr("transform(b0, x -> struct(x._1 as tid, x._2 as w))").as("b"))
    val d1 = degen.select(VectorExprs.dotRound9(col("a"), col("b"))).collect()
    assert(d1(0).isNullAt(0), "null side → NULL")
    val d2 = degen.select(VectorExprs.dotRound9(col("b"), col("b"))).collect()
    assert(d2(0).getDouble(0) === 0.0, "empty vectors → 0.0")
  }

  test("cosineSim: single-pass result bit-equals the composed dot/norm form") {
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(-4.0f, 5.5f, 0.25f)),
      (Array(0.001f, 9999.0f), Array(123.456f, -0.789f))
    ).toDF("a", "b")
    val both = df.select(
      VectorExprs.cosineSim(col("a"), col("b")).as("one"),
      (VectorExprs.floatDot(col("a"), col("b")) /
        (sqrt(VectorExprs.floatDot(col("a"), col("a"))) *
         sqrt(VectorExprs.floatDot(col("b"), col("b"))))).as("three"))
    assert(both.filter(col("one") =!= col("three")).count() === 0)
  }

  test("simhash64: empty array → 0, deterministic, single-token sensitivity") {
    val df = Seq(
      Seq.empty[String], Seq("hello"), Seq("hello"), Seq("world")
    ).toDF("toks")
    val out = df.select(VectorExprs.simhash64(col("toks"))).as[Long].collect()
    assert(out(0) === 0L, "empty token set → all counters 0 → sign bits 0")
    assert(out(1) === out(2), "deterministic")
    assert(out(1) !== out(3), "different tokens → different signature")
  }

  test("shingleHash64: empty token array → empty shingle set (both paths)") {
    val df = Seq(
      (1L, Seq.empty[String]),
      (2L, Seq("only")),
      (3L, Seq("a", "b"))
    ).toDF("id", "toks")
    def sizes(): Map[Long, Int] =
      df.select(col("id"), size(VectorExprs.shingleHash64(col("toks"), 3)).as("n"))
        .as[(Long, Int)].collect().toMap
    val viaCodegen = sizes()
    assert(viaCodegen === Map(1L -> 0, 2L -> 1, 3L -> 1),
      "no tokens → no shingles; short arrays → one shingle")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(sizes() === viaCodegen)
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("shingleStrings matches the HOF slice/concat formulation, full windows only") {
    val df = Seq(
      (1L, Seq("a", "b", "c", "d")),
      (2L, Seq("a", "b")),          // shorter than n → empty
      (3L, Seq.empty[String])
    ).toDF("id", "toks")
    val out = df.select(col("id"),
        VectorExprs.shingleStrings(col("toks"), 3).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    assert(out(1L) === Seq("a b c", "b c d"))
    assert(out(2L) === Seq.empty)
    assert(out(3L) === Seq.empty)
  }

  test("minhashSig: signature of a superset is elementwise <= subset's") {
    val df = Seq(
      (1L, Seq("a", "b", "c")),
      (2L, Seq("a", "b", "c", "d", "e"))
    ).toDF("id", "sh")
    val sigs = df.select(col("id"), VectorExprs.minhashSig(col("sh"), 8).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(sigs(1L).length === 8)
    // min over a superset can only stay equal or get smaller
    assert(sigs(1L).zip(sigs(2L)).forall { case (sub, sup) => sup <= sub })
    // identical sets → identical signatures
    val again = df.filter(col("id") === 1)
      .select(VectorExprs.minhashSig(col("sh"), 8)).as[Seq[Long]].collect()(0)
    assert(again === sigs(1L))
  }

  test("interpreted eval path agrees with codegen for every expression") {
    // nullSafeEval and the generated code call the same kernel; this pins
    // that both paths wire it identically (scratch buffers, bound model
    // state, the NULL rule), on well-formed and degenerate rows. The
    // input is shuffled so the projection runs in a generated stage
    // instead of being folded into the local relation (which evaluates
    // it interpreted), and codegen fallback is off so generated code
    // that fails to compile fails the test.
    val f = Option(_: Float)
    val rows = Seq[(Long, String, Seq[String], Seq[Option[Float]],
        Seq[Option[Float]], Seq[Int], Seq[(Long, Double)])](
      (1L, "alpha beta gamma delta epsilon",
        Seq("alpha", "beta", "gamma", "delta", "epsilon"),
        Seq(f(1.0f), f(-2.0f), f(3.5f)), Seq(f(0.5f), f(0.25f), f(-1.0f)),
        Seq(2), Seq((1L, 0.123456789), (5L, 0.5000000005), (9L, 0.25))),
      // ragged float arrays (also a PQ vector of the wrong length), a
      // NULL token, a PQ code out of range
      (2L, "ab", Seq("a", null, "b", "c"),
        Seq(f(1.0f), f(2.0f)), Seq(f(10.0f), f(10.0f), f(9.0f)),
        Seq(7), Seq((1L, 0.987654321), (9L, 0.999999999))),
      // a NULL float element
      (3L, "aabb", Seq("only"),
        Seq(f(1.0f), None, f(2.0f)), Seq(f(0.5f), f(0.5f), f(0.5f)),
        Seq(-1), Seq((2L, 0.111111111))),
      // empty string, empty token array, empty arrays
      (4L, "", Seq.empty, Seq.empty, Seq.empty, Seq.empty, Seq.empty),
      (5L, "aaaa", Seq("x", "y"), Seq(f(0f), f(0f), f(1f)),
        Seq(f(0f), f(1f), f(0f)), Seq(0), Seq((5L, 0.3))),
      (6L, "abcd", Seq("p", "q", "r"), Seq(f(-1f), f(1f), f(0f)),
        Seq(f(2f), f(2f), f(2f)), Seq(3), Seq((1L, 0.5), (5L, 0.5))))
    val df = rows.toDF("id", "text", "toks", "va", "vb", "codes", "raw")
      .repartition(1)
      .withColumn("tv", expr("transform(raw, x -> struct(x._1 as tid, x._2 as w))"))
    val cents = Seq(Seq(0.5f, 0.25f, -1.0f), Seq(1f, -2f, 3.5f),
      Seq(0f, 0f, 1f), Seq(-1f, 1f, 0f))
    val toks = col("toks")
    val exprs = Seq(
      VectorExprs.floatDot(col("va"), col("vb")),
      VectorExprs.cosineSim(col("va"), col("vb")),
      VectorExprs.dotRound9(col("tv"), col("tv")),
      VectorExprs.dotRound9(col("tv"), reverse(col("tv"))),
      VectorExprs.simhash64(toks),
      VectorExprs.minhashSig(toks, 8),
      VectorExprs.shingleHash64(toks, 3),
      VectorExprs.minhashFromHashes(VectorExprs.shingleHash64(toks, 3), 8),
      VectorExprs.bandHashes64(VectorExprs.minhashSig(toks, 8), 4, 2),
      VectorExprs.lshSign64(col("va"), 16),
      VectorExprs.shingleStrings(toks, 2),
      VectorExprs.polyHash(col("text")),
      VectorExprs.jaroWinkler(col("text"), reverse(col("text"))),
      VectorExprs.byteEntropy(col("text")),
      VectorExprs.interleave64(col("id") * 12345L, col("id") * 67L),
      VectorExprs.hilbertD2(col("id") * 173L, col("id") * 41L, 8),
      VectorExprs.pqEncode(col("va"), 1, 4, cents),
      VectorExprs.pqAdcTable(col("va"), 1, 4, cents),
      VectorExprs.pqAdcScore(VectorExprs.pqEncode(col("va"), 1, 4, cents),
        VectorExprs.pqAdcTable(col("va"), 1, 4, cents), 4),
      VectorExprs.pqAdcScore(col("codes"),
        VectorExprs.pqAdcTable(col("vb"), 1, 4, cents), 4),
      VectorExprs.topCellsByCosine(col("va"),
        Seq((1L, Seq(0.5f, 0.25f, -1.0f)), (2L, Seq(1f, -2f, 3.5f)),
          (3L, Seq(0.5f, 0.25f, -1.0f))), 3),
      VectorExprs.covBlockPairs(col("va"), 2))
    val viaCodegen = {
      spark.conf.set("spark.sql.codegen.fallback", "false")
      try {
        val out = df.select(col("id") +: exprs: _*)
        val result = rendered(out)
        val stages = new AdaptiveSparkPlanHelper {}.collect(
          out.queryExecution.executedPlan) { case w: WholeStageCodegenExec => w }
        assert(stages.exists(_.child.isInstanceOf[ProjectExec]),
          "the projection runs in a generated stage")
        result
      } finally spark.conf.unset("spark.sql.codegen.fallback")
    }
    assert(viaCodegen.size === rows.size)
    val prevWs = spark.conf.get("spark.sql.codegen.wholeStage")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val viaInterp = rendered(df.select(col("id") +: exprs: _*))
      assert(viaInterp === viaCodegen)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", prevWs)
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("jaroWinkler: textbook values, DuckDB-pinned edge semantics") {
    def jw(a: String, b: String): Double =
      Seq((a, b)).toDF("a", "b")
        .select(VectorExprs.jaroWinkler(col("a"), col("b")))
        .as[Double].head()
    assert(math.abs(jw("MARTHA", "MARHTA") - 0.9611111111111111) < 1e-12,
      "one transposition, 3-char prefix boost")
    assert(math.abs(jw("DIXON", "DICKSONX") - 0.8133333333333332) < 1e-12)
    assert(math.abs(jw("DWAYNE", "DUANE") - 0.84) < 1e-12)
    assert(jw("abc", "abc") === 1.0)
    assert(jw("a", "b") === 0.0, "no matches at all")
    // DuckDB-pinned: either side empty -> 0, even both empty
    assert(jw("", "abc") === 0.0 && jw("", "") === 0.0)
    // boost gate: prefix 2 but jaro 0.5 <= 0.7 -> NO Winkler boost
    assert(jw("abzzzzzz", "abqqqqqq") === 0.5)
    // just over the gate: prefix 2, jaro 0.7083... -> boosted
    assert(math.abs(jw("ab", "abcdefghijklmnop") - 0.7666666666666667)
      < 1e-12)
    // symmetric
    assert(jw("JELLYFISH", "SMELLYFISH") === jw("SMELLYFISH", "JELLYFISH"))
  }

  test("interleave64 bit-interleaves: known values, invertible on randoms") {
    // 0b1111 ⨯ 0b0000 → 0b01010101; 0b0000 ⨯ 0b1111 → 0b10101010
    val out = Seq((15L, 0L), (0L, 15L), (3L, 5L))
      .toDF("a", "b")
      .select(VectorExprs.interleave64(col("a"), col("b")).as("z"))
      .as[Long].collect().toSeq
    assert(out === Seq(0x55L, 0xAAL, 0x27L)) // 3=0b011,5=0b101 → 0b100111
    // round-trip: de-interleaving the Scala reference recovers the inputs
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 100) {
      val a = rnd.nextInt(Int.MaxValue).toLong
      val b = rnd.nextInt(Int.MaxValue).toLong
      val z = VectorExprs.Interleave64.morton(a, b)
      def unspread(v0: Long): Long = {
        var v = v0 & 0x5555555555555555L
        v = (v | (v >> 1)) & 0x3333333333333333L
        v = (v | (v >> 2)) & 0x0F0F0F0F0F0F0F0FL
        v = (v | (v >> 4)) & 0x00FF00FF00FF00FFL
        v = (v | (v >> 8)) & 0x0000FFFF0000FFFFL
        v = (v | (v >> 16)) & 0x00000000FFFFFFFFL
        v
      }
      assert(unspread(z) === a && unspread(z >> 1) === b)
    }
  }

  test("lshSign64: deterministic, scale-invariant, sign-flipping") {
    val df = Seq(
      (1L, Array(1.0f, 2.0f, -0.5f, 3.0f)),
      (2L, Array(2.0f, 4.0f, -1.0f, 6.0f)),  // same direction, 2x scale
      (3L, Array(-1.0f, -2.0f, 0.5f, -3.0f)) // opposite direction
    ).toDF("id", "v")
    val sigs = df.select(col("id"), VectorExprs.lshSign64(col("v"), 16).as("s"))
      .as[(Long, Long)].collect().toMap
    assert(sigs(1L) === sigs(2L), "hyperplane sign is scale-invariant")
    assert((sigs(1L) ^ sigs(3L)) === (1L << 16) - 1,
      "opposite vector flips every plane bit")
  }

  test("pqEncode/pqAdcTable/pqAdcScore: argmin codes, lowest-code ties, lookup sum") {
    // dim 4, m=2, subdim=2, ksub=2; j=1's centroids are identical → the
    // tie must resolve to code 0 (the (d2 asc, code) order)
    val cents = Seq(Seq(0f, 0f), Seq(1f, 1f), Seq(2f, 2f), Seq(2f, 2f))
    val df = Seq((1L, Array(0.9f, 1.1f, 2f, 2f))).toDF("id", "v")
    val row = df.select(
      VectorExprs.pqEncode(col("v"), 2, 2, cents).as("codes"),
      VectorExprs.pqAdcTable(col("v"), 2, 2, cents).as("dt"),
      VectorExprs.pqAdcScore(
        VectorExprs.pqEncode(col("v"), 2, 2, cents),
        VectorExprs.pqAdcTable(col("v"), 2, 2, cents), 2).as("score"))
      .as[(Seq[Int], Seq[Double], Double)].head()
    assert(row._1 === Seq(1, 0), "argmin codes; equal centroids pick code 0")
    // table layout is j-major: [sub0·c00, sub0·c01, sub1·c10, sub1·c11];
    // expectations derive from float→double promotion like the expression
    val s0 = 0.9f.toDouble * 1f.toDouble + 1.1f.toDouble * 1f.toDouble
    assert(row._2 === Seq(0.0, s0, 8.0, 8.0))
    assert(row._3 === s0 + 8.0, "score = Σ_j table[j*ksub+codes[j]]")
    // wrong-length vector → NULL, not garbage codes
    val bad = Seq((1L, Array(1f, 2f, 3f))).toDF("id", "v")
      .select(VectorExprs.pqEncode(col("v"), 2, 2, cents).as("c"))
      .filter(col("c").isNull).count()
    assert(bad === 1L)
  }

  test("byteEntropy: closed-form values, empty → 0") {
    val df = Seq(
      (1L, "aaaa"),           // one symbol → H = 0
      (2L, "ab"),             // two equiprobable → H = ln 2
      (3L, "aabb"),           // still ln 2 (counts scale out)
      (4L, ""),               // empty → 0.0 by convention
      (5L, "abcd")            // four equiprobable → ln 4
    ).toDF("id", "text")
    val h = df.select(col("id"), VectorExprs.byteEntropy(col("text")).as("h"))
      .as[(Long, Double)].collect().toMap
    assert(h(1L) === 0.0)
    assert(math.abs(h(2L) - math.log(2)) < 1e-8)
    assert(math.abs(h(2L) - h(3L)) <= 2e-9,
      "entropy depends on proportions, not counts (up to nanonat rounding)")
    assert(h(4L) === 0.0)
    assert(math.abs(h(5L) - math.log(4)) < 1e-8)
  }

  test("topCellsByCosine: (sim desc, cell asc) order, keep clamped to cells") {
    // cells 1 and 3 share a centroid → tie resolves to the lower cell id
    val cells = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)), (3L, Seq(1f, 0f)))
    val df = Seq((1L, Array(1f, 0.1f))).toDF("id", "v")
    def top(keep: Int): Seq[Long] = df
      .select(VectorExprs.topCellsByCosine(col("v"), cells, keep).as("c"))
      .as[Seq[Long]].head()
    assert(top(3) === Seq(1L, 3L, 2L))
    assert(top(2) === Seq(1L, 3L))
    assert(top(10) === Seq(1L, 3L, 2L), "keep clamps to the cell count")
  }
}
