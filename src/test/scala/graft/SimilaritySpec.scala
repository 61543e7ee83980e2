package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity

class SimilaritySpec extends SparkTestBase {
  import spark.implicits._

  // unit-ish vectors with known geometry: v1 ≈ v2 (same direction),
  // v3 orthogonal to v1, v4 = -v1
  private lazy val vecs = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (2L, Array(0.999f, 0.01f, 0.0f, 0.0f)),
    (3L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
    (4L, Array(-1.0f, 0.0f, 0.0f, 0.0f)),
    (5L, Array(0.7f, 0.7f, 0.0f, 0.0f))
  ).toDF("vec_id", "embedding")

  test("dotD native matches HOF fold bit-for-bit") {
    val pairs = vecs.as("a").crossJoin(vecs.as("b"))
      .select(Similarity.dotD(col("a.embedding"), col("b.embedding")).as("n"),
              Similarity.dotDHof(col("a.embedding"), col("b.embedding")).as("h"))
    assert(pairs.filter(col("n") =!= col("h")).count() === 0)
  }

  test("cosine has the expected geometry") {
    val c = vecs.filter(col("vec_id") === 1).as("a")
      .crossJoin(vecs.as("b"))
      .select(col("b.vec_id"),
              Similarity.cosine(col("a.embedding"), col("b.embedding")).as("sim"))
      .as[(Long, Double)].collect().toMap
    assert(math.abs(c(3L)) < 1e-9, "orthogonal → 0")
    assert(math.abs(c(4L) + 1.0) < 1e-9, "opposite → -1")
    assert(c(2L) > 0.999, "near-parallel → ~1")
  }

  test("bruteForceTopK ranks by cosine desc with deterministic tie-break") {
    val out = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 1), 3)
      .select("neighbor_id", "rank").as[(Long, Int)].collect().sortBy(_._2)
    assert(out.map(_._1).toSeq === Seq(2L, 5L, 3L),
      "for query v1: v2 (~1.0) > v5 (~0.707) > v3 (0.0)")
  }

  test("hardNegatives: top-k different-label by cosine, with sim_pos " +
       "and the FaceNet semi-hard flag") {
    // anchor v1 (label A). Same label: v2 (cos ≈ 1 → sim_pos) and v5
    // (cos ≈ 0.707). Different label: v3 (0.0), v4 (-1.0) — both less
    // similar than the nearest positive, hence semi-hard.
    val labeled = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f), "A"),
      (2L, Array(0.999f, 0.01f, 0.0f, 0.0f), "A"),
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f), "B"),
      (4L, Array(-1.0f, 0.0f, 0.0f, 0.0f), "B"),
      (5L, Array(0.7f, 0.7f, 0.0f, 0.0f), "A")
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.hardNegatives(
        labeled, labeled.filter(col("vec_id") === 1), k = 2)
      .select("negative_id", "rank", "sim_pos", "semi_hard")
      .as[(Long, Int, Double, Boolean)].collect().sortBy(_._2)
    assert(out.map(_._1).toSeq === Seq(3L, 4L),
      "negatives ranked by cosine desc: v3 (0.0) before v4 (-1.0)")
    assert(out.forall(_._3 > 0.999), "sim_pos = nearest same-label (v2)")
    assert(out.forall(_._4), "both negatives are below sim_pos → semi-hard")
    // anchor with a corpus-unique label: sim_pos is null, semi_hard null
    val solo = Seq((9L, Array(0.0f, 0.0f, 1.0f, 0.0f), "C"))
      .toDF("vec_id", "embedding", "label")
    val noPos = Similarity.hardNegatives(
        labeled.unionByName(solo), solo, k = 1)
      .select("sim_pos").collect()
    assert(noPos.length === 1 && noPos.head.isNullAt(0))
  }

  test("hardNegatives plan: one exchange serves both windows; no vectors " +
       "through the shuffle") {
    val labeled = vecs.withColumn("label",
      (col("vec_id") % 2).cast("string"))
    val plan = Similarity.hardNegatives(
        labeled, labeled.filter(col("vec_id") === 1), k = 2)
      .queryExecution.executedPlan.toString
    // Ops.spread's REPARTITION_BY_NUM on the corpus side is deliberate
    // (pre-join parallelism); the property under test is that the two
    // window computations share ONE requirement-driven anchor exchange
    // and that similarity is computed before it (scalars-only shuffle).
    val nExchange = "ENSURE_REQUIREMENTS".r.findAllIn(plan).length
    assert(nExchange == 1, s"expected a single anchor-key exchange:\n$plan")
    assert("Exchange hashpartitioning\\(anchor_id[^\\n]*ENSURE_REQUIREMENTS".r
      .findFirstIn(plan).isDefined, s"anchor-key exchange missing:\n$plan")
    assert(plan.contains("WindowGroupLimit"),
      "negative top-k should push a map-side group limit")
  }

  test("cosineNearDups: one 64-plane band keys the whole signature") {
    // -v flips every hyperplane bit, so v and -v never share the band; a
    // mask of (1L << 64) - 1 == 0 would bucket every vector together
    val v = Array(0.3f, -0.5f, 0.8f, 0.1f)
    val df = Seq((1L, v), (2L, v.map(-_)), (3L, v)).toDF("vec_id", "embedding")
    val pairs = Similarity.cosineNearDups(df, threshold = -1.0,
        numPlanes = 64, bands = 1)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 3L)))
  }

  test("cosineNearDups finds the near-parallel pair only") {
    val pairs = Similarity.cosineNearDups(vecs, threshold = 0.99)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("semDedup: keep-first within clusters — a triple of identical " +
       "vectors keeps only its smallest id; singletons all survive") {
    // ids 1,2 near-parallel (cos ≈ 0.99995) but below the threshold;
    // ids 10,11,12 identical (certain co-assignment: the cell is a pure
    // function of the vector)
    val corpus = vecs.union(Seq(
      (10L, Array(0.5f, 0.5f, 0.5f, 0.5f)),
      (11L, Array(0.5f, 0.5f, 0.5f, 0.5f)),
      (12L, Array(0.5f, 0.5f, 0.5f, 0.5f))).toDF("vec_id", "embedding"))
    val out = Similarity.semDedup(corpus, threshold = 0.9999999, nlist = 2)
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(out.keySet === Set(1L, 2L, 3L, 4L, 5L, 10L, 11L, 12L))
    assert(out(10L) === ((10L, 0L, true)), "smallest id of the clique kept")
    assert(out(11L) === ((11L, 1L, false)), "one smaller duplicate")
    assert(out(12L) === ((12L, 2L, false)), "two smaller duplicates")
    assert(Seq(1L, 2L, 3L, 4L, 5L).forall(out(_)._3),
      "sub-threshold neighbors all survive")
    graft.operators.OpCaches.release()
  }

  test("semanticDecontaminate drops near-eval rows, keeps the rest") {
    // eval holds a copy of v1's direction: v1 AND v2 (cos ≈ 0.99995) are
    // contaminated at 0.99; v3/v4/v5 survive untouched with full schema
    val evalSet = Seq((100L, Array(1.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val kept = Similarity.semanticDecontaminate(vecs, evalSet,
        threshold = 0.99)
      .select("vec_id").as[Long].collect().toSet
    assert(kept === Set(3L, 4L, 5L))
    // threshold above every cross-pair similarity → nothing dropped
    val keptAll = Similarity.semanticDecontaminate(vecs, evalSet,
        threshold = 1.0000001)
      .select("vec_id").as[Long].collect().toSet
    assert(keptAll === Set(1L, 2L, 3L, 4L, 5L))
  }

  test("ivfTopK with nprobe = nlist is exact (equals brute force)") {
    val q = vecs.filter(col("vec_id") === 1)
    val exact = Similarity.bruteForceTopK(vecs, q, 3)
      .select("neighbor_id", "rank").as[(Long, Int)].collect().sortBy(_._2)
    val ivf = Similarity.ivfTopK(vecs, q, 3, nlist = 2, nprobe = 2)
      .select("neighbor_id", "rank").as[(Long, Int)].collect().sortBy(_._2)
    assert(ivf.toSeq === exact.toSeq)
  }

  test("ivfTopK with nprobe < nlist: ranked, plausible results at corpus scale") {
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.filter(col("vec_id") < 5)
    val out = Similarity.ivfTopK(e, q, 5, nlist = 8, nprobe = 4)
      .select("query_id", "rank", "sim").as[(Long, Int, Double)].collect()
    assert(out.nonEmpty)
    out.groupBy(_._1).values.foreach { rs =>
      val byRank = rs.sortBy(_._2)
      assert(byRank.map(_._3).sorted.reverse.toSeq === byRank.map(_._3).toSeq,
        "ranks follow descending similarity within each query")
    }
  }

  test("kmeansCentroids: two separated clusters get one centroid each") {
    // two tight clusters around orthogonal directions
    val pts = (0 until 20).map { i =>
      val eps = (i % 5) * 0.01f
      if (i < 10) (i.toLong, Array(1.0f, eps, 0.0f))
      else (i.toLong, Array(eps, 1.0f, 0.0f))
    }.toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(pts, nlist = 2, iters = 3)
      .as[(Long, Seq[Float])].collect()
    assert(cents.length === 2)
    // each centroid points dominantly along one cluster's axis, and the
    // two centroids capture different clusters
    val axes = cents.map { case (_, v) => v.indexOf(v.max) }.toSet
    assert(axes === Set(0, 1),
      s"centroids must split the clusters, got ${cents.toSeq}")
    // refined centroids feed ivfTopK and keep it exact when probing all
    val q = pts.filter(col("vec_id") === 0)
    val exact = Similarity.bruteForceTopK(pts, q, 3)
      .select("neighbor_id", "rank").as[(Long, Int)].collect().sortBy(_._2)
    val ivf = Similarity.ivfTopK(pts, q, 3, nlist = 2, nprobe = 2,
        centroids = Similarity.kmeansCentroids(pts, nlist = 2, iters = 2))
      .select("neighbor_id", "rank").as[(Long, Int)].collect().sortBy(_._2)
    assert(ivf.toSeq === exact.toSeq)
  }

  // ---- recall floors: the test that catches a silent recall collapse
  // (row counts and rank ordering stay plausible when recall dies) ----

  private def recallAt10(approx: org.apache.spark.sql.DataFrame,
                         exact: org.apache.spark.sql.DataFrame): Double = {
    def sets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val truth = sets(exact); val got = sets(approx)
    val per = truth.keys.toSeq.map(q =>
      got.getOrElse(q, Set.empty).intersect(truth(q)).size / 10.0)
    per.sum / per.size
  }

  test("lshTopK recall@10 >= 0.8 on the sf0.01 corpus") {
    // near-random synthetic embeddings are ANN's worst case — the floor
    // documents the plane/band setting that clears it (64 planes in 16
    // four-bit bands; measured 0.875). Everything on the path is
    // deterministic hashing, so the measured recall is exact, not flaky.
    val e = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val q = e.filter(col("vec_id") < 20)
    val r = recallAt10(
      Similarity.lshTopK(e, q, 10, numPlanes = 64, bands = 16),
      Similarity.bruteForceTopK(e, q, 10))
    assert(r >= 0.8, s"LSH recall@10 collapsed: $r")
  }

  test("ivfTopK (nprobe < nlist) recall@10 >= 0.8 on the sf0.01 corpus") {
    val e = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val q = e.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(e, q, 10)
    // seeded centroids: fully deterministic path (measured 0.825 at
    // nprobe 10/16 — probing 5/8 of the corpus for 80%+ of the truth)
    val r = recallAt10(
      Similarity.ivfTopK(e, q, 10, nlist = 16, nprobe = 10), exact)
    assert(r >= 0.8, s"IVF recall@10 collapsed: $r")
    // Lloyd-refined quantizer (measured 0.85): deterministic since the
    // mean update sums in exact decimal, so the floor is not flaky
    val cents = Similarity.kmeansCentroids(e, nlist = 16, iters = 2)
    val rk = recallAt10(
      Similarity.ivfTopK(e, q, 10, nlist = 16, nprobe = 10,
        centroids = cents), exact)
    assert(rk >= 0.8, s"k-means IVF recall@10 collapsed: $rk")
  }

  test("ivfIndex write/read parity: probe of the read-back artifact equals in-memory IVF") {
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.filter(col("vec_id") < 5)
    val (cents, cells) = Similarity.ivfIndex(e, nlist = 8, iters = 2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ivf-spec").toString
    Similarity.writeIvfIndex(dir, cents, cells)
    val (rc, ra) = Similarity.readIvfIndex(spark, dir)
    // the stored artifact round-trips byte-identically
    assert(rendered(rc) === rendered(cents))
    assert(rendered(ra.select("vec_id", "embedding", "cell"))
      === rendered(cells))
    // probing the read-back index reproduces the in-memory plan exactly
    val fromIndex = Similarity.ivfTopKFromIndex(rc, ra, q, 5, nprobe = 4)
    val inMemory = Similarity.ivfTopK(e, q, 5, nlist = 8, nprobe = 4,
      centroids = cents)
    assert(rendered(fromIndex) === rendered(inMemory))
    // rebuilding from the same corpus is reproducible (decimal-exact
    // means) — the stored index is not a one-off snapshot
    val (cents2, _) = Similarity.ivfIndex(e, nlist = 8, iters = 2)
    assert(rendered(cents2) === rendered(cents))
  }

  test("appendToIvfIndex: O(batch) ingest — seed rows untouched, appended " +
      "vectors findable, upsert idempotent") {
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val seed = e.filter(col("vec_id") % 2 === 0)
    val batch = e.filter(col("vec_id") % 2 === 1)
    val (cents, cells) = Similarity.ivfIndex(seed, nlist = 8, iters = 2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ivf-append-spec").toString
    Similarity.writeIvfIndex(dir, cents, cells)
    Similarity.appendToIvfIndex(spark, dir, batch)
    val (rc, ra) = Similarity.readIvfIndex(spark, dir)
    // centroids untouched by the append; every corpus vector indexed once
    assert(rendered(rc) === rendered(cents))
    assert(ra.count() === e.count())
    // the seed half's stored assignments are byte-identical after the
    // append — upsert keyed by id never rewrites untouched rows' content
    assert(rendered(ra.filter(col("vec_id") % 2 === 0)
        .select("vec_id", "embedding", "cell")) === rendered(cells))
    // an appended vector is findable through the extended artifact: a
    // query carrying vec 1's own embedding returns vec 1 at rank 1
    val probe = e.filter(col("vec_id") === 1)
      .select(lit(999999L).as("vec_id"), col("embedding"))
    val top = Similarity.ivfTopKFromIndex(rc, ra, probe, 1, nprobe = 1)
      .select("neighbor_id", "sim").as[(Long, Double)].collect()
    assert(top.length === 1 && top(0)._1 === 1L &&
      math.abs(top(0)._2 - 1.0) < 1e-9,
      s"appended vector must be its own nearest neighbor, got ${top.toSeq}")
    // re-appending the same batch is a no-op on index size (id-keyed
    // upsert replaces in place)
    Similarity.appendToIvfIndex(spark, dir, batch)
    assert(Similarity.readIvfIndex(spark, dir)._2.count() === e.count())
  }

  test("pqTopK with shortlist >= corpus is exact (equals brute force)") {
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.filter(col("vec_id") < 5)
    val n = e.count().toInt
    val pq = Similarity.pqTopK(e, q, 5, m = 8, ksub = 8, shortlist = n)
      .select("query_id", "neighbor_id", "rank", "sim")
    val bf = Similarity.bruteForceTopK(e, q, 5)
      .select("query_id", "neighbor_id", "rank", "sim")
    assert(rendered(pq) === rendered(bf),
      "exact re-rank over a full shortlist must reproduce brute force")
  }

  test("pqTopK (shortlist < corpus) recall@10 >= 0.8 on the sf0.01 corpus") {
    // ADC over 16-byte codes + exact re-rank of the top-128 shortlist;
    // everything on the path is deterministic (hash-seeded codebooks,
    // decimal-mean Lloyd update), so measured recall is exact, not
    // flaky (0.91 here, 0.865 on the 10x sf0.1 corpus with the same
    // settings — shortlist depth is the recall/IO dial)
    val e = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val q = e.filter(col("vec_id") < 20)
    val r = recallAt10(
      Similarity.pqTopK(e, q, 10, m = 16, ksub = 16, shortlist = 128,
        iters = 2),
      Similarity.bruteForceTopK(e, q, 10))
    assert(r >= 0.8, s"PQ recall@10 collapsed: $r")
  }

  test("leafFilesFingerprint: stable across re-reads of an unchanged " +
      "directory, changes on in-place overwrite, Some(empty) for " +
      "in-memory frames") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-fp-spec").toString
    Seq((1, "a"), (2, "b")).toDF("k", "v")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val fp1 = Similarity.leafFilesFingerprint(spark.read.parquet(dir))
    val fp1b = Similarity.leafFilesFingerprint(spark.read.parquet(dir))
    assert(fp1.isDefined && fp1.get.nonEmpty)
    assert(fp1 === fp1b, "unchanged directory must fingerprint equal")
    Thread.sleep(1100) // ensure a modtime tick even at 1s fs resolution
    Seq((3, "c"), (4, "d")).toDF("k", "v")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val fp2 = Similarity.leafFilesFingerprint(spark.read.parquet(dir))
    assert(fp1 !== fp2,
      "in-place overwrite under the same root must change the key — " +
      "canonicalized-plan equality alone would serve a stale codebook")
    val local = Seq((0, "x")).toDF("j", "code")
    assert(Similarity.leafFilesFingerprint(local) === Some(Seq.empty),
      "immutable in-memory frames are memoizable with an empty listing")
  }

  test("pqIndex write/read parity: probe of the read-back artifact equals " +
      "in-memory pqTopK; append is O(batch) and idempotent") {
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.filter(col("vec_id") < 5)
    val (cb, codes) = Similarity.pqIndex(e, m = 8, ksub = 8, iters = 2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-pq-spec").toString
    Similarity.writePqIndex(dir, cb, codes)
    val (rcb, rcodes) = Similarity.readPqIndex(spark, dir)
    // the stored artifact round-trips byte-identically
    assert(rendered(rcb.select("j", "code", "cent")) === rendered(cb))
    assert(rendered(rcodes.select("vec_id", "codes")) === rendered(codes))
    // probing the read-back index reproduces the in-memory plan exactly
    // (same codebook → same codes → same ADC shortlist → same re-rank)
    val fromIndex = Similarity.pqTopKFromIndex(rcb, rcodes, e, q, 5,
      shortlist = 32)
    val inMemory = Similarity.pqTopK(e, q, 5, m = 8, ksub = 8,
      shortlist = 32, iters = 2, codebooks = cb)
    assert(rendered(fromIndex) === rendered(inMemory))
    // training again from the same corpus reproduces the codebook
    // (decimal-exact means) — the stored index is not a one-off snapshot
    val (cb2, _) = Similarity.pqIndex(e, m = 8, ksub = 8, iters = 2)
    assert(rendered(cb2) === rendered(cb))
    // append the odd half from a seed index over the even half: stored
    // codebooks untouched, seed codes byte-identical, appended vectors
    // findable, re-append a no-op
    val seed = e.filter(col("vec_id") % 2 === 0)
    val batch = e.filter(col("vec_id") % 2 === 1)
    val (scb, scodes) = Similarity.pqIndex(seed, m = 8, ksub = 8, iters = 2)
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft-pq-append-spec").toString
    Similarity.writePqIndex(dir2, scb, scodes)
    Similarity.appendToPqIndex(spark, dir2, batch)
    val (rcb2, rcodes2) = Similarity.readPqIndex(spark, dir2)
    assert(rendered(rcb2.select("j", "code", "cent")) === rendered(scb))
    assert(rcodes2.count() === e.count())
    assert(rendered(rcodes2.filter(col("vec_id") % 2 === 0)
      .select("vec_id", "codes")) === rendered(scodes))
    val probe = e.filter(col("vec_id") === 1)
      .select(lit(999999L).as("vec_id"), col("embedding"))
    val top = Similarity.pqTopKFromIndex(rcb2, rcodes2, e, probe, 1,
        shortlist = 8)
      .select("neighbor_id", "sim").as[(Long, Double)].collect()
    assert(top.length === 1 && top(0)._1 === 1L &&
      math.abs(top(0)._2 - 1.0) < 1e-9,
      s"appended vector must be its own nearest neighbor, got ${top.toSeq}")
    Similarity.appendToPqIndex(spark, dir2, batch)
    assert(Similarity.readPqIndex(spark, dir2)._2.count() === e.count())
  }

  test("lshTopK returns ranked candidates from shared buckets") {
    val out = Similarity.lshTopK(vecs, vecs.filter(col("vec_id") === 1), 2)
      .select("neighbor_id", "rank", "sim").as[(Long, Int, Double)].collect()
    assert(out.nonEmpty, "v2 shares all bands with v1 (same direction)")
    assert(out.head._1 === 2L, "v2 must rank first")
    assert(out.head._3 > 0.999)
  }

  test("knnGraph: per-node top-k over LSH candidates; mutual reduction " +
       "is symmetric and id-canonical") {
    // full-band parameters => every pair shares a bucket on this tiny
    // corpus, so the graph equals exact kNN and the top edge is known
    val g = Similarity.knnGraph(vecs, k = 2, numPlanes = 16, bands = 16)
      .as[(Long, Long, Int, Double)].collect()
    val top = g.filter(_._3 == 1).map(r => r._1 -> r._2).toMap
    assert(top(1L) === 2L && top(2L) === 1L,
      "near-identical vectors are each other's nearest neighbor")
    assert(g.groupBy(_._1).forall(_._2.length <= 2), "k caps out-degree")
    val m = Similarity.mutualKnnGraph(vecs, k = 1, numPlanes = 16,
        bands = 16)
      .as[(Long, Long, Double)].collect()
    assert(m.map(e => (e._1, e._2)).toSet === Set((1L, 2L)),
      "k=1 mutual edges keep only reciprocal nearest pairs, a < b once")
    graft.operators.OpCaches.release()
  }

  test("knnGraphRefined: one NN-descent round never loses a base hit, " +
       "raises recall under weak banding, and keeps the k-degree cap") {
    // deterministic LCG vectors, weak banding (8 planes / 2 bands) so
    // the base graph genuinely misses neighbors the two-hop expansion
    // can recover
    var seed = 0x2545F4914F6CDD1DL
    def nxt(): Float = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      ((seed >>> 33).toInt % 1000) / 1000.0f
    }
    val data = (0L until 60L).map(i =>
      (i, Array.fill(8)(nxt()))).toDF("vec_id", "embedding")
    val exact = Similarity.bruteForceTopK(data, data, 3)
      .select(col("query_id"), col("neighbor_id"))
      .as[(Long, Long)].collect().toSet
    def hits(g: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      g.select(col("src"), col("dst")).as[(Long, Long)].collect().toSet
        .intersect(exact)
    val base = Similarity.knnGraph(data, k = 3, numPlanes = 8, bands = 2)
    val ref = Similarity.knnGraphRefined(data, k = 3, numPlanes = 8,
      bands = 2, refineRounds = 1)
    val (hb, hr) = (hits(base), hits(ref))
    assert(hb.subsetOf(hr),
      "an exact neighbor found by the base graph stays found: refined " +
      "candidates are a superset and exact members always win the rank")
    assert(hr.size > hb.size,
      s"two-hop expansion must recover banding misses: ${hb.size} → " +
      s"${hr.size} of ${exact.size}")
    val deg = ref.groupBy("src").count().as[(Long, Long)].collect()
    assert(deg.forall(_._2 <= 3), "k caps refined out-degree")
    graft.operators.OpCaches.release()
  }

  test("marginMine: genuine alignments outscore hub matches; best pair " +
      "per source; margin arithmetic is the ratio criterion") {
    // src x1 aligns with tgt y1; the hub is moderately close to BOTH
    // sources, so absolute cosine ranks it high for x2 but the margin
    // demotes it (its neighborhood sum is fat)
    val src = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val tgt = Seq(
      (10L, Array(0.99f, 0.1f, 0.0f, 0.0f)),   // y1 ≈ x1
      (11L, Array(0.1f, 0.99f, 0.0f, 0.0f)),   // y2 ≈ x2
      (12L, Array(0.6f, 0.6f, 0.4f, 0.4f))     // hub
    ).toDF("vec_id", "embedding")
    val out = Similarity.marginMine(src, tgt, k = 2)
      .select("src_id", "tgt_id", "sim", "margin")
      .as[(Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L)._2 === 10L && out(2L)._2 === 11L,
      s"best cosine match per source, got $out")
    // each genuine pair's sim must exceed its own neighborhood mean →
    // margin > 1; and the margin formula is exactly 2k·sim/(Σx+Σy)
    assert(out(1L)._4 > 1.0 && out(2L)._4 > 1.0)
    val scored = tgt.as("b").crossJoin(broadcast(src.as("a")))
      .select(col("a.vec_id").as("s"), col("b.vec_id").as("t"),
        round(Similarity.cosine(col("a.embedding"), col("b.embedding")), 9)
          .as("sim"))
      .as[(Long, Long, Double)].collect()
    def topk(byS: Boolean, id: Long) = scored
      .filter(r => if (byS) r._1 == id else r._2 == id)
      .sortBy(r => (-r._3, if (byS) r._2 else r._1)).take(2).map(_._3)
    val sumx = topk(byS = true, 1L).map(BigDecimal(_)).sum.toDouble
    val sumy = topk(byS = false, 10L).map(BigDecimal(_)).sum.toDouble
    val expected = BigDecimal(4.0 * out(1L)._3 / (sumx + sumy))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L)._4 === expected)
  }

  test("sourceCoherence: a tight group reads mean_cos ~1, a mixed group " +
      "reads lower with below-floor rows counted") {
    val vecs = Seq(
      (1L, 0, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, 0, Array(0.98f, 0.05f, 0.0f, 0.0f)),
      (3L, 0, Array(0.99f, -0.02f, 0.0f, 0.0f)),
      (4L, 1, Array(1.0f, 0.2f, 0.0f, 0.0f)),
      (5L, 1, Array(-1.0f, 0.1f, 0.0f, 0.0f)),
      (6L, 1, Array(0.9f, 0.3f, 0.0f, 0.0f))
    ).toDF("vec_id", "label", "embedding")
    val out = Similarity.sourceCoherence(vecs, "label", floor = 0.0)
      .select("grp", "n", "mean_cos", "n_below")
      .as[(Int, Long, Double, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(0)._2 === 3L && out(0)._3 > 0.99 && out(0)._4 === 0L,
      s"tight group must cohere, got ${out(0)}")
    assert(out(1)._3 < 0.9 && out(1)._4 === 1L,
      s"the anti-aligned row must land below floor, got ${out(1)}")
  }

  test("labelSeparability: separable labels read positive margins; a " +
      "planted mislabel counts negative") {
    val vecs = Seq(
      (1L, 0, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, 0, Array(0.98f, 0.05f, 0.0f, 0.0f)),
      (3L, 1, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (4L, 1, Array(0.05f, 0.98f, 0.0f, 0.0f)),
      (5L, 1, Array(0.99f, 0.0f, 0.0f, 0.0f))  // mislabeled: sits in 0
    ).toDF("vec_id", "label", "embedding")
    val out = Similarity.labelSeparability(vecs, "label")
      .select("label", "n", "mean_margin", "n_negative")
      .as[(Int, Long, Double, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(0)._2 === 2L && out(0)._3 > 0 && out(0)._4 === 0L)
    assert(out(1)._2 === 3L && out(1)._4 === 1L,
      s"the planted mislabel must read a negative margin, got ${out(1)}")
  }

  test("embedCovariance: upper-triangle cells match the closed form") {
    val vecs = Seq(
      (1L, Array(1.0f, 2.0f)), (2L, Array(3.0f, 4.0f)),
      (3L, Array(5.0f, 12.0f))).toDF("vec_id", "embedding")
    val out = Similarity.embedCovariance(vecs)
      .select("i", "j", "n", "cov")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    // n=3; Σx=9, Σy=18; Σx²=35, Σxy=74, Σy²=164
    assert(out.keySet === Set((0L, 0L), (0L, 1L), (1L, 1L)))
    assert(out((0L, 0L)) === ((3L, BigDecimal(24.0 / 9)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    assert(out((0L, 1L))._2 === BigDecimal(60.0 / 9)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(out((1L, 1L))._2 === BigDecimal(168.0 / 9)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("embedCovariance: the generate fan-out is block pairs, not " +
      "dimension pairs (nb(nb+1)/2 rows per input)") {
    val d = 64
    val vecs = Seq((1L, Array.tabulate(d)(_.toFloat)),
      (2L, Array.tabulate(d)(i => (i * 2).toFloat)))
      .toDF("vec_id", "embedding")
    val b = 8
    val perRow = vecs
      .select(explode(Similarity.covBlockPairs(col("embedding"), b)))
      .count() / 2
    val nb = (d + b - 1) / b
    assert(perRow === nb * (nb + 1) / 2,
      s"expected ${nb * (nb + 1) / 2} block pairs per row, got $perRow")
    assert(perRow <= (d.toLong / b) * (d / b),
      "fan-out must stay <= (d/b)^2 per input row")
    // and the blocked plan still matches the unblocked closed form on
    // a non-divisible dimension (d=5, b=8: one padded block)
    val ragged = Seq((1L, Array(1f, 2f, 3f, 4f, 5f)),
      (2L, Array(2f, 3f, 5f, 7f, 11f)),
      (3L, Array(0f, 1f, 0f, 1f, 0f))).toDF("vec_id", "embedding")
    val out = Similarity.embedCovariance(ragged)
      .select("i", "j", "n", "cov")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(out.size === 15, "5 dims -> 15 upper-triangle cells")
    val xs = Array(Array(1d, 2, 3, 4, 5), Array(2d, 3, 5, 7, 11),
      Array(0d, 1, 0, 1, 0))
    for (((i, j), (n, cov)) <- out) {
      val sxy = xs.map(x => x(i.toInt) * x(j.toInt)).sum
      val si = xs.map(_(i.toInt)).sum
      val sj = xs.map(_(j.toInt)).sum
      val want = BigDecimal((3 * sxy - si * sj) / 9.0)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(n === 3L && cov === want, s"cell ($i,$j): got $cov, want $want")
    }
  }

  test("pcaTopComponent: dominant eigenpair of the covariance table " +
      "(A·v = lambda·v), explained share under the trace") {
    val vecs = Seq(
      (1L, Array(1.0f, 2.0f)), (2L, Array(3.0f, 4.0f)),
      (3L, Array(5.0f, 12.0f))).toDF("vec_id", "embedding")
    val cov = Similarity.embedCovariance(vecs)
    val (lambda, v) = Similarity.pcaTopComponent(cov)
    // closed form: cov = [[24, 60], [60, 168]]/9; check A·v = λ·v
    val a = Array(Array(24.0 / 9, 60.0 / 9), Array(60.0 / 9, 168.0 / 9))
    val av = Array(a(0)(0) * v(0) + a(0)(1) * v(1),
      a(1)(0) * v(0) + a(1)(1) * v(1))
    assert(math.abs(av(0) - lambda * v(0)) < 1e-6 &&
      math.abs(av(1) - lambda * v(1)) < 1e-6,
      s"eigenpair residual too large: λ=$lambda v=${v.toSeq}")
    assert(math.abs(v.map(x => x * x).sum - 1.0) < 1e-9, "unit loadings")
    val trace = a(0)(0) + a(1)(1)
    assert(lambda > 0.9 * trace && lambda <= trace + 1e-9,
      "dominant component carries most of this matrix's variance")
    // serve half: the projection's sample variance equals λ (within
    // float-loading quantization) — the defining PCA property
    val proj = Similarity.projectOnto(vecs, v)
      .select("projection").as[Double].collect()
    val m = proj.sum / proj.length
    val pvar = proj.map(p => (p - m) * (p - m)).sum / proj.length
    assert(math.abs(pvar - lambda) / lambda < 1e-3,
      s"projection variance $pvar must match the eigenvalue $lambda")
  }

  test("dimVariance: exact per-dimension moments; dead dims read 0") {
    val e = Seq(
      (1L, Array(1.0f, 2.0f, 7.0f)),
      (2L, Array(3.0f, 4.0f, 7.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.dimVariance(e)
      .as[(Long, Long, Double, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(0L) === ((0L, 2L, 2.0, 1.0, 1.0, 3.0)),
      "var = (2*(1+9) - 16)/4 = 1")
    assert(out(1L) === ((1L, 2L, 3.0, 1.0, 2.0, 4.0)))
    assert(out(2L) === ((2L, 2L, 7.0, 0.0, 7.0, 7.0)),
      "a constant dimension audits as variance 0 (dead dim)")
  }
}
