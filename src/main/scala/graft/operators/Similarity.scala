package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.VectorExprs

/** Vector similarity search over an `ArrayType(FloatType)` embedding column.
  *
  * All arithmetic is done in Double with a sequential left fold
  * (`aggregate` higher-order function) so results are deterministic and
  * bit-reproducible across engines — required for the DuckDB oracle.
  *
  * Scale design: the brute-force path broadcasts the (small) query set and
  * streams the corpus once — at 100 TB the corpus side stays partitioned,
  * no shuffle until the per-query top-k (a windowed rank on query_id, which
  * shuffles only (query, candidate, score) triples, not vectors). The LSH
  * path prunes candidates by random-hyperplane signature before scoring.
  */
object Similarity {

  /** Creation-time bucket sizing for the persisted index artifacts
    * (cells / codes / centroids / codebooks): ~1M rows per bucket file
    * keeps parquet outputs in the guide-§6 file-size range for the
    * typical (id + small vector/codes) row, while the caller's nBuckets
    * stays the capacity cap for corpus-scale first batches. Recorded in
    * the manifest at creation and inherited by every later commit, so
    * build/append callers cannot diverge. */
  private val TargetRowsPerBucket = 1L << 20

  /** Dot product of two float-array columns, accumulated in Double in
    * index order — native codegen'd expression (VectorExprs.FloatDot).
    * Bit-identical to the sequential higher-order-function fold below and
    * to DuckDB's list_dot_product, so oracle hashes are unaffected. */
  def dotD(a: Column, b: Column): Column = VectorExprs.floatDot(a, b)

  /** Portable higher-order-function formulation of [[dotD]] — identical
    * values (same index-order Double accumulation); kept as the
    * no-custom-expression fallback and as the spec cross-check. */
  def dotDHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
              lit(0.0), (acc, v) => acc + v)

  /** Cosine similarity — single-pass native expression; bit-identical to
    * `dotD(a,b) / (sqrt(dotD(a,a)) * sqrt(dotD(b,b)))` (same per-element
    * accumulation order) but one array traversal instead of three. */
  def cosine(a: Column, b: Column): Column = VectorExprs.cosineSim(a, b)

  /** Brute-force cosine top-k: for every vector in `queries`, the k most
    * similar vectors in `corpus` (excluding itself when ids collide).
    * `queries` must be small (broadcast side). Deterministic tie-break on
    * candidate id. Output: query_id, neighbor_id, rank, sim. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = Ops.spread(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv")),
      col("neighbor_id"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "sim")
  }

  /** Random-hyperplane signature: bit i = sign of <v, plane_i>, plane
    * components derived deterministically from XXH64 — native codegen'd
    * single-pass expression (VectorExprs.LshSign64), no RNG state, so
    * signatures are reproducible across runs and engines. */
  def lshSignature(vec: Column, numPlanes: Int): Column =
    VectorExprs.lshSign64(vec, numPlanes)

  /** LSH-bucketed approximate top-k: candidates limited to vectors sharing
    * the query's hyperplane signature on at least one band, then exact
    * cosine + rank within the candidate set. The bucket join
    * ([[Ops.firstSharedBandJoin]]) is an equi-join (shuffle by band
    * value) — scales linearly with corpus size for near-uniform
    * buckets. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              numPlanes: Int = 16, bands: Int = 4,
              idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    require(numPlanes % bands == 0)
    val bandOf = Ops.longBand(numPlanes / bands)
    // Band tables carry IDS ONLY — the candidate join must not shuffle
    // vectors (same discipline as cosineNearDups / minhashNearDups).
    // Vectors re-attach afterwards: the query side broadcasts (queries
    // are small by contract), the corpus side moves each candidate
    // vector through exactly one shuffle.
    def banded(df: DataFrame, id: String): DataFrame = Ops.explodeBands(
      df.select(col(id), lshSignature(col("__v"), numPlanes).as("sig")),
      "sig", bands, bandOf)
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("__v"))
    val cv = Ops.spread(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__v")),
      col("neighbor_id"))
    val cand = Ops.firstSharedBandJoin(banded(cv, "neighbor_id"),
        banded(qv, "query_id"), "sig", bands, bandOf,
        col("a.neighbor_id") =!= col("b.query_id"))
      .select(col("b.query_id"), col("a.neighbor_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    cand
      .join(cv.withColumnRenamed("__v", "cvec"), "neighbor_id")
      .join(broadcast(qv.withColumnRenamed("__v", "qvec")), "query_id")
      .withColumn("sim", cosine(col("qvec"), col("cvec")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "sim")
  }

  /** IVF (inverted-file) approximate top-k: the scale path for ANN.
    *
    * A coarse quantizer — `nlist` centroids drawn deterministically from
    * the corpus (smallest xxhash64(id), i.e. a seedless pseudo-random
    * sample) — partitions vectors into cells; each query probes its
    * `nprobe` nearest cells and ranks only those cells' vectors. With
    * `nprobe = nlist` results equal [[bruteForceTopK]] exactly.
    *
    * Plan shape at 100 TB: centroids are model state bound into the
    * native assignment expression (TopCellsByCosine), so cell assignment
    * is a pure per-row pass over the corpus scan — no join, no window,
    * no shuffle; the probe join then shuffles by cell id, touching
    * ~nprobe/nlist of the corpus per query batch. */
  /** Deterministic hash-sampled centroid seed (smallest xxhash64(id) —
    * a seedless pseudo-random draw): (cell, cent_v). */
  private def seedCentroids(corpus: DataFrame, nlist: Int,
                            idCol: String, vecCol: String): DataFrame =
    corpus
      .select(col(idCol), col(vecCol))
      .withColumn("__h", xxhash64(col(idCol)))
      .orderBy("__h").limit(nlist)
      .select(col(idCol).as("cent_src"), col(vecCol).as("cent_v"))
      .withColumn("cell",
        row_number().over(Window.orderBy("cent_src")).cast("long"))
      .select("cell", "cent_v")

  /** Lloyd-refined IVF centroids: hash-sampled seeds, then `iters`
    * k-means iterations (cosine assignment, elementwise-mean update) —
    * the real coarse-quantizer training step, in plain DataFrame ops.
    *
    * Per iteration: one broadcast-join assignment pass over the corpus
    * (no vector shuffle), then a posexplode + (cell, dim)-keyed mean
    * whose partial aggregation collapses each map task's contribution to
    * nlist×dim cells before the exchange — the shuffle carries
    * per-task partial sums, NOT corpus vectors. The mean goes through an
    * exact DECIMAL sum, so centroids are independent of partitioning and
    * merge order — the whole IVF index is layout-reproducible, which a
    * float/double running average would not be. Centroids come back to
    * the driver between iterations (nlist×dim floats — centroids are
    * driver state in every k-means, incl. MLlib) so each iteration's
    * plan starts from a literal, keeping lineage flat. A cell that
    * captures no members keeps its previous centroid. */
  def kmeansCentroids(corpus: DataFrame, nlist: Int, iters: Int = 2,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    var cents: Seq[(Long, Seq[Float])] =
      seedCentroids(corpus, nlist, idCol, vecCol)
        .as[(Long, Seq[Float])].collect().toSeq
    // an empty corpus seeds zero centroids: nothing to refine, and the
    // assignment expression requires a non-empty centroid list — return
    // the empty model (downstream assign/semDedup flow through empty)
    if (cents.isEmpty)
      return cents.toDF("cell", "cent_v")
        .select(col("cell"),
          transform(col("cent_v"), x => x.cast("float")).as("cent_v"))
    for (_ <- 1 to iters) {
      // assignment via the native TopCellsByCosine expression (centroids
      // bound in, one codegen'd loop per vector) — no broadcast join, no
      // per-id window exchange; bit-identical to the (sim desc, cell)
      // ordering it replaces, so the refined centroids are unchanged
      val assigned = Ops.spread(corpus.select(col(idCol), col(vecCol)),
          col(idCol))
        .select(element_at(
            VectorExprs.topCellsByCosine(col(vecCol), cents, 1), 1)
          .as("cell"), col(vecCol))
      val updated = assigned
        .select(col("cell"), posexplode(col(vecCol)))
        .groupBy(col("cell"), col("pos"))
        // exact decimal sum, then one division: the mean is independent
        // of partitioning and merge order (a plain float/double avg is
        // not), so refined centroids — and every IVF result downstream —
        // are layout-reproducible
        .agg((sum(col("col").cast(
               org.apache.spark.sql.types.DecimalType(28, 10)))
              / count(lit(1))).cast("double").as("m"))
        .groupBy(col("cell"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          x => x("m").cast("float")).as("cent_v"))
        .as[(Long, Seq[Float])].collect().toMap
      cents = cents.map { case (cell, v) =>
        (cell, updated.getOrElse(cell, v))
      }
    }
    cents.toDF("cell", "cent_v")
      .select(col("cell"),
        transform(col("cent_v"), x => x.cast("float")).as("cent_v"))
  }

  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nlist: Int = 16, nprobe: Int = 4,
              idCol: String = "vec_id",
              vecCol: String = "embedding",
              centroids: DataFrame = null): DataFrame = {
    require(nprobe > 0 && nprobe <= nlist)
    val spark = corpus.sparkSession
    import spark.implicits._
    // coarse quantizer = model state (nlist vectors): collect it and bind
    // it into the native TopCellsByCosine assignment expression — cell
    // assignment becomes a pure per-row projection over the corpus scan
    // (no broadcast join, no per-id window exchange), bit-identical to
    // the (sim desc, cell) window it replaces
    val cellSeq: Seq[(Long, Seq[Float])] = Option(centroids).getOrElse(
        seedCentroids(corpus, nlist, idCol, vecCol))
      .select(col("cell"), col("cent_v"))
      .as[(Long, Seq[Float])].collect().toSeq
    val corpusCells = Ops.spread(corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("cv")), col("neighbor_id"))
      .select(col("neighbor_id"), col("cv"),
        element_at(VectorExprs.topCellsByCosine(col("cv"), cellSeq, 1), 1)
          .as("cell"))
    val queryCells = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .select(col("query_id"), col("qv"),
        explode(VectorExprs.topCellsByCosine(col("qv"), cellSeq, nprobe))
          .as("cell"))
    probeCells(corpusCells, queryCells, k)
  }

  /** The cell-keyed probe join shared by [[ivfTopK]] and
    * [[ivfTopKFromIndex]]: exact cosine + per-query rank over the probed
    * cells' vectors only. */
  private def probeCells(corpusCells: DataFrame, queryCells: DataFrame,
                         k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    corpusCells.join(queryCells, "cell")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "sim")
  }

  /** The IVF index as a STORABLE artifact — the embedding-space analog
    * of [[Dedup.signatureIndex]]'s amortized-index shape: train the
    * coarse quantizer ONCE over the corpus, keep (centroids, cell
    * assignments), write both out, and probe read-back copies per query
    * batch with [[ivfTopKFromIndex]] — the corpus is never re-clustered
    * or re-assigned at query time. Returns
    * (centroids `(cell, cent_v)`, assignments `(idCol, vecCol, cell)`).
    *
    * Centroids come from [[kmeansCentroids]]' exact-decimal means, so
    * the stored index is layout-reproducible: rebuilding it from the
    * same corpus yields byte-identical artifacts (spec-pinned). */
  def ivfIndex(corpus: DataFrame, nlist: Int, iters: Int = 2,
               idCol: String = "vec_id",
               vecCol: String = "embedding"): (DataFrame, DataFrame) = {
    val cents = kmeansCentroids(corpus, nlist, iters, idCol, vecCol)
    (cents, assignToStoredCentroids(cents, corpus, idCol, vecCol))
  }

  /** Cell assignments for a vector batch against a STORED centroid
    * table — the in-plan recurring half of the index-append lifecycle
    * ([[appendToIvfIndex]] = this + the atomic manifest commit): the
    * centroid table (nlist rows of model state, the only collect) binds
    * into one native TopCellsByCosine projection, so assigning a batch
    * costs O(batch·nlist) with zero shuffles and the standing index is
    * never read. */
  def assignToStoredCentroids(centroids: DataFrame, batch: DataFrame,
                              idCol: String = "vec_id",
                              vecCol: String = "embedding"): DataFrame = {
    val spark = centroids.sparkSession
    import spark.implicits._
    val cellSeq = centroids.select(col("cell"), col("cent_v"))
      .as[(Long, Seq[Float])].collect().toSeq
    // zero stored centroids means the index was built from an EMPTY
    // corpus (an upstream filter chain can legitimately drain one) —
    // the batch has no cell to land in, so the assignment is empty,
    // not a topCellsByCosine require failure
    if (cellSeq.isEmpty)
      batch.select(col(idCol), col(vecCol)).withColumn("cell", lit(0L))
        .filter(lit(false))
    else
      Ops.spread(batch.select(col(idCol), col(vecCol)), col(idCol))
        .select(col(idCol), col(vecCol),
          element_at(VectorExprs.topCellsByCosine(col(vecCol), cellSeq, 1), 1)
            .as("cell"))
  }

  /** Persist an [[ivfIndex]] through [[graft.sources.ManifestTable]]:
    * centroids under `dir/centroids` (keyed by cell) and assignments
    * under `dir/cells` (keyed by the vector id, so re-embedded vectors
    * upsert in place and new corpus batches append — the index grows
    * incrementally without retraining; callers re-run [[kmeansCentroids]]
    * only when drift warrants it). Both writes are atomic manifest
    * commits with time travel and CDF like any other ManifestTable. */
  def writeIvfIndex(dir: String, centroids: DataFrame,
                    assignments: DataFrame, idCol: String = "vec_id",
                    nBuckets: Int = 64): Unit = {
    // bucket counts size from the first batch (recorded + inherited;
    // ManifestTable r20) so a small index writes a few right-sized
    // files, not nBuckets near-empty ones — nBuckets stays the capacity
    graft.sources.ManifestTable.upsertBatch(centroids, s"$dir/centroids",
      Seq("cell"), nBuckets = math.min(nBuckets, 8),
      targetRowsPerBucket = TargetRowsPerBucket)
    graft.sources.ManifestTable.upsertBatch(assignments, s"$dir/cells",
      Seq(idCol), nBuckets = nBuckets,
      targetRowsPerBucket = TargetRowsPerBucket)
  }

  /** Read back a persisted [[ivfIndex]]: (centroids, assignments). */
  def readIvfIndex(spark: org.apache.spark.sql.SparkSession,
                   dir: String): (DataFrame, DataFrame) =
    (graft.sources.ManifestTable.read(spark, s"$dir/centroids"),
     graft.sources.ManifestTable.read(spark, s"$dir/cells"))

  /** Append a new vector batch to a persisted [[ivfIndex]] WITHOUT
    * retraining — the embedding-space mirror of
    * [[Dedup.dedupAgainstIndex]]'s extend-by-union shape: the STORED
    * centroids (nlist rows of model state, the only collect) assign
    * each new vector to its cell via the same native TopCellsByCosine
    * projection the build used, and the assignments upsert into
    * `dir/cells` keyed by vector id — new ids append, re-embedded ids
    * replace in place. One atomic manifest commit; the existing corpus
    * is never re-read, re-clustered, or re-assigned, so ingesting a
    * batch costs O(batch), not O(index). Centroids drift-refresh
    * (re-running [[kmeansCentroids]]) stays an explicit, separate
    * operation. */
  def appendToIvfIndex(spark: org.apache.spark.sql.SparkSession,
                       dir: String, batch: DataFrame,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       nBuckets: Int = 64): Unit = {
    val assigned = assignToStoredCentroids(
      graft.sources.ManifestTable.read(spark, s"$dir/centroids"),
      batch, idCol, vecCol)
    graft.sources.ManifestTable.upsertBatch(assigned, s"$dir/cells",
      Seq(idCol), nBuckets = nBuckets,
      targetRowsPerBucket = TargetRowsPerBucket)
  }

  /** [[ivfTopK]] against a pre-built (usually read-back) [[ivfIndex]] —
    * the per-query-batch probe. Only the centroid table (model state,
    * nlist rows) is collected to bind the query-side cell assignment;
    * the stored corpus assignments stream straight into the cell-keyed
    * probe join. */
  def ivfTopKFromIndex(centroids: DataFrame, assignments: DataFrame,
                       queries: DataFrame, k: Int, nprobe: Int = 4,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    val spark = centroids.sparkSession
    import spark.implicits._
    val cellSeq = centroids.select(col("cell"), col("cent_v"))
      .as[(Long, Seq[Float])].collect().toSeq
    require(nprobe > 0 && nprobe <= cellSeq.size)
    val corpusCells = assignments.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cv"), col("cell"))
    val queryCells = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .select(col("query_id"), col("qv"),
        explode(VectorExprs.topCellsByCosine(col("qv"), cellSeq, nprobe))
          .as("cell"))
    probeCells(corpusCells, queryCells, k)
  }

  /** In-plan recall audit for an ANN result: joins the approximate top-k
    * against the exact [[bruteForceTopK]] truth and reduces to ONE row —
    * (n_queries, hits, truth, recall_ok) with recall_ok = hits/truth >=
    * `floor`. The audit is how a production pipeline monitors an ANN
    * index for silent recall collapse (result shapes stay plausible when
    * recall dies); as a query it makes the approximate operators
    * oracle-checkable — an engine-independent oracle can assert the
    * verdict, the query count, and the truth size without reproducing
    * hash-dependent neighbor sets (the raw hit count stays out of the
    * output for that reason). The brute-force side is the same
    * broadcast-queries single-corpus-scan plan, so the audit costs one
    * extra corpus pass over the (small) query set — affordable exactly
    * because it runs on a sample of queries, the standard monitoring
    * trade. */
  def recallAudit(corpus: DataFrame, queries: DataFrame, k: Int,
                  approx: DataFrame, floor: Double,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    // the brute-force truth feeds both the hit semi-join and the truth
    // count — a lazy checkpoint computes the corpus truth scan once
    // (r19, guide §2.4); every ANN audit row paid it twice before
    val exact = OpCaches.cut(bruteForceTopK(corpus, queries, k, idCol, vecCol)
      .select(col("query_id"), col("neighbor_id")))
    val hits = approx.select(col("query_id"), col("neighbor_id"))
      .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
    hits.agg(count(lit(1)).as("__hits"))
      .crossJoin(exact.agg(count(lit(1)).as("truth"),
        countDistinct(col("query_id")).as("n_queries")))
      .select(col("n_queries"), col("truth"),
        (col("__hits").cast("double") / col("truth") >= floor)
          .as("recall_ok"))
  }

  /** Hard-negative mining for contrastive / embedding-model training:
    * for each anchor, the k most-similar corpus vectors with a DIFFERENT
    * label (the "hard negatives" a triplet-loss batch wants), annotated
    * with the anchor's nearest same-label similarity (`sim_pos`) and the
    * standard semi-hard flag (`sim_neg < sim_pos` — negatives closer than
    * the hardest positive are the ones FaceNet-style mining skips;
    * Schroff et al., CVPR 2015, §3.2).
    *
    * Plan shape at scale: anchors are a small sample by contract and
    * broadcast; the corpus streams ONCE through the scored cross join,
    * then ONE exchange on `anchor_id` feeds both window computations —
    * the same-label max rides as a windowed conditional `max` over the
    * anchor partition, and the negative rank is a `row_number` over the
    * (anchor, is-negative) sub-partition, which Spark plans as one sort
    * within the shared anchor exchange (verified: single Exchange in the
    * physical plan). No vectors move through the shuffle — only (ids,
    * labels, sim) triples — because similarity is computed before the
    * exchange. Output: anchor_id, anchor_label, negative_id, rank,
    * sim_neg, sim_pos (null when the anchor's label is unique in the
    * corpus), semi_hard. */
  def hardNegatives(corpus: DataFrame, anchors: DataFrame, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    labelCol: String = "label"): DataFrame = {
    val a = anchors.select(col(idCol).as("anchor_id"), col(vecCol).as("av"),
      col(labelCol).as("anchor_label"))
    val c = Ops.spread(
      corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"),
        col(labelCol).as("cand_label")),
      col("cand_id"))
    val scored = c.crossJoin(broadcast(a))
      .filter(col("cand_id") =!= col("anchor_id"))
      .select(col("anchor_id"), col("anchor_label"), col("cand_id"),
        col("cand_label"), cosine(col("av"), col("cv")).as("sim"))
    val isNeg = col("cand_label") =!= col("anchor_label")
    val wAll = Window.partitionBy(col("anchor_id"))
    val wNeg = Window.partitionBy(col("anchor_id"), isNeg)
      .orderBy(col("sim").desc, col("cand_id"))
    scored
      .withColumn("sim_pos",
        max(when(!isNeg, col("sim"))).over(wAll))
      .withColumn("rank", row_number().over(wNeg))
      .filter(isNeg && col("rank") <= k)
      .select(col("anchor_id"), col("anchor_label"),
        col("cand_id").as("negative_id"), col("rank"),
        col("sim").as("sim_neg"), col("sim_pos"),
        (col("sim") < col("sim_pos")).as("semi_hard"))
  }

  /** Embedding near-duplicate pairs: cosine >= threshold. Candidate
    * generation via LSH band buckets ([[Ops.firstSharedBandJoin]], the
    * plan shape of minhashNearDups — no n² cross join).
    *
    * Default 64 planes in 4 bands of 16 bits: a random pair collides on a
    * band with p = 2^-16, so candidate volume stays ~n²/65536 per band —
    * near-linear until corpora of tens of millions of vectors per
    * partition-group. Recall for a true pair at cosine 0.99 is
    * 1-(1-(1-θ/π)^16)^4 ≈ 0.93, and exact duplicates always collide on
    * every band. The old 4-bit bands (16 buckets!) made candidate
    * generation effectively all-pairs. More bands raise recall at
    * candidate-volume cost; callers tune per threshold. */
  def cosineNearDups(df: DataFrame, threshold: Double,
                     numPlanes: Int = 64, bands: Int = 4,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    require(numPlanes % bands == 0)
    val bandOf = Ops.longBand(numPlanes / bands)
    // Signature table — feeds both sides of the band self-join (ids only)
    // and both sides of the verify join. Not persisted: recompute at full
    // parallelism beats columnar-caching array columns (see
    // Dedup.minhashNearDups), and the self-join sides share one shuffle
    // via ReusedExchange.
    val sigs = Ops.spread(df.select(col(idCol).as("id"), col(vecCol).as("v")),
                          col("id"))
      .withColumn("sig", lshSignature(col("v"), numPlanes))
    // Candidate generation shuffles ids only, never the vectors.
    val banded = Ops.explodeBands(sigs.select(col("id"), col("sig")), "sig",
      bands, bandOf)
    val cand = Ops.firstSharedBandJoin(banded, banded, "sig", bands, bandOf,
        col("a.id") < col("b.id"))
      .select(col("a.id").as("vec_a"), col("b.id").as("vec_b"))
    // Vectors move through exactly one shuffle each, candidates only.
    val vA = sigs.select(col("id").as("vec_a"), col("v").as("va"))
    val vB = sigs.select(col("id").as("vec_b"), col("v").as("vb"))
    cand.join(vA, "vec_a").join(vB, "vec_b")
      .withColumn("sim", cosine(col("va"), col("vb")))
      .filter(col("sim") >= threshold)
      .select("vec_a", "vec_b", "sim")
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus with the k-means coarse
    * quantizer, then dedup WITHIN each cluster — a vector is a
    * duplicate when some smaller-id vector in its cell has cosine ≥
    * `threshold` (keep-first, the deterministic tie rule every dedup
    * family here uses). Output per vector: (idCol, n_dups_smaller,
    * kept). The clustering is the scale move: the quadratic verify is
    * bounded by cell size (≈ n/nlist per cell), never by the corpus —
    * size nlist ~ √n so per-cell work stays ~n overall (the paper's
    * own k scaling); [[kmeansCentroids]]' exact-decimal means keep the
    * cell partition layout-reproducible, so the kept set is
    * deterministic across engines and reruns.
    *
    * Same contract as the paper: a near-dup pair SPLIT across cells is
    * not examined (that miss probability falls with cluster quality —
    * identical vectors always co-assign, since cell assignment is a
    * pure function of the vector). Plan: one corpus pass to assign
    * (broadcast-bound TopCellsByCosine projection, zero shuffles), one
    * cell-keyed self-join over the persisted assignment (vectors ride
    * one shuffle each side), one grouped count + left join back. */
  def semDedup(corpus: DataFrame, threshold: Double, nlist: Int = 16,
               iters: Int = 1, idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame = {
    val cents = kmeansCentroids(corpus, nlist, iters, idCol, vecCol)
    // eager localCheckpoint, NOT .persist(): the assignment feeds a
    // cell-keyed self-join, and a columnar-cache InMemoryRelation's
    // unknown size defeats broadcast/AQE planning of that join — the
    // measured-10x lesson recorded at Graphs.pageRankWeighted
    val assigned = OpCaches.cutNow(
      assignToStoredCentroids(cents, corpus, idCol, vecCol))
    val dups = assigned.as("a").join(assigned.as("b"),
        col("a.cell") === col("b.cell") &&
        col(s"b.$idCol") < col(s"a.$idCol") &&
        cosine(col(s"a.$vecCol"), col(s"b.$vecCol")) >= threshold)
      .groupBy(col(s"a.$idCol").as(idCol))
      .agg(count(lit(1)).as("n_dups_smaller"))
    assigned.select(col(idCol))
      .join(dups, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_dups_smaller"), lit(0L)).as("n_dups_smaller"),
        (coalesce(col("n_dups_smaller"), lit(0L)) === 0L).as("kept"))
  }

  /** In-plan recall audit of [[semDedup]]'s cell-bounded duplicate
    * detection against the EXACT all-pairs truth — the
    * [[graft.operators.Dedup.minhashRecallAudit]] counterpart for the
    * one recall-dependent path that had no audit twin: a near-dup pair
    * SPLIT across k-means cells is never examined, so a bad `nlist`
    * (too many cells for the corpus density) silently keeps documents
    * an exact pass would drop. One row (truth, recall_ok): truth = the
    * number of vectors a brute-force keep-first would mark duplicate
    * (some smaller-id vector anywhere has cosine ≥ threshold), hits =
    * how many of those [[semDedup]] also marked (in-cell pairs are a
    * subset of all pairs, so hits ≤ truth by construction; the
    * semi-join keeps the count honest anyway), recall_ok = hits ≥
    * floor·truth. An engine-independent oracle recomputes truth by
    * brute force and asserts the verdict without reproducing the
    * k-means internals — exactly the LSH/IVF/PQ audit bridge.
    *
    * The truth side is deliberately QUADRATIC (that is what makes it
    * truth): run it on a bounded audit sample, not the corpus — the
    * [[graft.operators.Joins]] blocking-quality convention. The
    * pipeline side is the production plan unchanged. */
  def semDedupRecallAudit(corpus: DataFrame, threshold: Double,
                          nlist: Int = 16, iters: Int = 1,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding",
                          floor: Double = 0.9): DataFrame = {
    val flagged = semDedup(corpus, threshold, nlist, iters, idCol, vecCol)
      .filter(col("n_dups_smaller") > 0)
      .select(col(idCol))
    val v = Ops.spread(corpus.select(col(idCol), col(vecCol)), col(idCol))
    val a = v.select(col(idCol).as("__ia"), col(vecCol).as("__va"))
    val b = v.select(col(idCol).as("__ib"), col(vecCol).as("__vb"))
    // consumed by the truth count AND the hit semi-join: checkpoint so
    // the deliberately-quadratic audit cosine join runs once (r19)
    val truthIds = OpCaches.cut(a.join(b, col("__ib") < col("__ia") &&
        cosine(col("__va"), col("__vb")) >= threshold)
      .select(col("__ia").as(idCol)).distinct())
    val truth = truthIds.agg(count(lit(1)).as("truth"))
    val hits = truthIds.join(flagged, Seq(idCol), "left_semi")
      .agg(count(lit(1)).as("__hits"))
    truth.crossJoin(hits)
      .select(col("truth"),
        (col("__hits") >= col("truth") * floor).as("recall_ok"))
  }

  /** Semantic (embedding-space) decontamination: drop from `train` every
    * row whose embedding has cosine ≥ `threshold` with ANY `evalSet`
    * row — the embedding counterpart of `Ngrams.decontaminate`'s
    * hashed-n-gram anti-join, catching paraphrased/near-verbatim eval
    * material that lexical n-gram matching misses. Returns the
    * surviving train rows (original schema).
    *
    * Plan shape at 100 TB: both sides carry the SAME hyperplane
    * signatures; candidates come from the banded cross-table equi-join
    * (ids + band keys only — vectors never ride the candidate shuffle;
    * [[Ops.firstSharedBandJoin]]), exact cosine verifies, and one left-anti
    * join removes contaminated ids. The eval set is typically small but
    * is NOT assumed broadcast-able — every stage is a shuffle-by-key
    * plan. Exact and near-exact copies share every band (certain
    * recall); recall at looser thresholds follows the banded-LSH curve
    * of [[cosineNearDups]] — raise `bands` for higher recall. */
  def semanticDecontaminate(train: DataFrame, evalSet: DataFrame,
                            threshold: Double = 0.95,
                            numPlanes: Int = 64, bands: Int = 4,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    require(numPlanes % bands == 0)
    val bandOf = Ops.longBand(numPlanes / bands)
    def banded(df: DataFrame, outId: String) = Ops.explodeBands(
      Ops.spread(df.select(col(idCol).as(outId), col(vecCol).as("v")),
          col(outId))
        .select(col(outId), lshSignature(col("v"), numPlanes).as("sig")),
      "sig", bands, bandOf)
    val cand = Ops.firstSharedBandJoin(banded(train, "train_id"),
        banded(evalSet, "eval_id"), "sig", bands, bandOf)
      .select(col("a.train_id"), col("b.eval_id"))
    val tv = train.select(col(idCol).as("train_id"), col(vecCol).as("tv"))
    val ev = evalSet.select(col(idCol).as("eval_id"), col(vecCol).as("ev"))
    val contaminated = cand.join(tv, "train_id").join(ev, "eval_id")
      .filter(cosine(col("tv"), col("ev")) >= threshold)
      .select(col("train_id").as(idCol))
    train.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Product-quantization codebooks: `m` subspaces × `ksub` centroids,
    * seeded by a deterministic hash-sample per subspace and refined with
    * `iters` Lloyd iterations (squared-L2 assignment, exact-DECIMAL mean
    * update — layout-reproducible, like [[kmeansCentroids]]). Returns
    * (j, code, cent): subspace index, code 0..ksub-1, centroid subvector.
    *
    * Training shuffles per-subspace partial sums only (m×ksub×subdim
    * cells per map task); the codebook itself is m×ksub×subdim floats of
    * driver state — standard quantizer training. */
  def pqCodebooks(corpus: DataFrame, m: Int, ksub: Int, iters: Int = 1,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val dim = corpus.select(size(col(vecCol))).head.getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val subdim = dim / m
    val subs = corpus.select(col(idCol).as("id"),
        posexplode(array((0 until m).map(j =>
          slice(col(vecCol), j * subdim + 1, subdim)): _*)))
      .select(col("id"), col("pos").as("j"), col("col").as("sub"))
    // seed: per subspace, the ksub lowest-hash(id, j) subvectors
    val sw = Window.partitionBy(col("j"))
      .orderBy(xxhash64(col("id"), col("j")), col("id"))
    var cb: Seq[(Int, Int, Seq[Float])] = subs
      .withColumn("__r", row_number().over(sw))
      .filter(col("__r") <= ksub)
      .select(col("j"), (col("__r") - 1).as("code"), col("sub"))
      .as[(Int, Int, Seq[Float])].collect().toSeq
    def cbDf(c: Seq[(Int, Int, Seq[Float])]) = c.toDF("j", "code", "cent")
      .select(col("j"), col("code"),
        transform(col("cent"), x => x.cast("float")).as("cent"))
    val vecs = corpus.select(col(vecCol).as("v"))
    for (_ <- 1 to iters) {
      // assignment via the native PqEncode expression: the codebook is
      // BOUND into the expression (it is model state, codebook-sized) and
      // each vector picks its m argmin-L2 codes in one tight codegen'd
      // loop — no broadcast join, no (id, j) window exchange (the former
      // formulation shuffled n×m×ksub rows per iteration). PqEncode's
      // numeric contract reproduces the (d2 asc, code) order bit-exactly,
      // so assignments — and therefore the trained codebook — are
      // unchanged. Only the mean update explodes (n×m rows, one linear
      // aggregation).
      val flat = cb.sortBy(t => (t._1, t._2)).map(_._3)
      val assigned = vecs
        .select(col("v"),
          posexplode(VectorExprs.pqEncode(col("v"), m, ksub, flat)))
        .select(col("pos").as("j"), col("col").as("code"),
          slice(col("v"), col("pos") * subdim + 1, lit(subdim)).as("sub"))
      val updated = assigned
        .select(col("j"), col("code"), posexplode(col("sub")))
        .groupBy(col("j"), col("code"), col("pos"))
        .agg((sum(col("col").cast(
               org.apache.spark.sql.types.DecimalType(28, 10)))
              / count(lit(1))).cast("double").as("mv"))
        .groupBy(col("j"), col("code"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("mv")))),
          x => x("mv").cast("float")).as("cent"))
        .as[(Int, Int, Seq[Float])].collect()
        .map(t => (t._1, t._2) -> t._3).toMap
      cb = cb.map { case (j, code, v) =>
        (j, code, updated.getOrElse((j, code), v))
      }
    }
    cbDf(cb)
  }

  /** Product-quantization ANN with exact re-ranking: corpus vectors are
    * encoded once as `m` byte codes (argmin-L2 per subspace), queries
    * score candidates through per-query distance tables (asymmetric
    * distance computation), and the top `shortlist` per query is
    * re-ranked with exact cosine. Output matches [[bruteForceTopK]]'s
    * shape; with `shortlist` >= corpus size results are exactly equal.
    *
    * Why this is THE 100 TB similarity-search path: after the one-time
    * encode, every query-side corpus scan reads m bytes per vector
    * instead of 4·dim (32× less I/O at dim=64, m=8), the per-query state
    * is an m×ksub-double table built from the broadcast codebook, and
    * exact vectors are touched only for the shortlist — an ids-only
    * shuffle of shortlist×queries rows. Assumes unit-norm vectors (ADC
    * scores are inner products ≈ cosine); re-ranking restores exact
    * cosine order within the shortlist either way.
    *
    * The codebook is codebook-SIZED state (m×ksub×subdim floats), so it
    * is BOUND into native expressions (VectorExprs.PqEncode /
    * PqAdcTable / PqAdcScore — one tight codegen'd loop per row each,
    * the way LSH planes ride LshSign64) and both the corpus encode and
    * the per-query distance tables are pure per-row projections. No
    * explode, no window, no shuffle anywhere in encoding — the corpus
    * is mapped in place where its rows already live, which is the shape
    * that matters when the corpus is 10^11 vectors (the former
    * formulation inflated the scan n×m×ksub through a window exchange).
    * PqEncode reproduces the (d2 asc, code) argmin order bit-exactly,
    * so codes, shortlists and results are unchanged. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             m: Int = 8, ksub: Int = 16, shortlist: Int = 64,
             iters: Int = 1,
             idCol: String = "vec_id", vecCol: String = "embedding",
             codebooks: DataFrame = null): DataFrame = {
    require(k > 0 && shortlist >= k)
    val spark = corpus.sparkSession
    import spark.implicits._
    val cb = Option(codebooks).getOrElse(
      pqCodebooks(corpus, m, ksub, iters, idCol, vecCol))
    val flat = collectCodebook(cb, m, ksub)
    // encode + per-query ADC tables via the native PQ expressions: one
    // codegen'd loop per row, the codebook bound into the expression —
    // no explode, no window, no shuffle anywhere in encoding
    val codes = Ops.spread(corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("cv")), col("neighbor_id"))
      .select(col("neighbor_id"),
        VectorExprs.pqEncode(col("cv"), m, ksub, flat).as("codes"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val dt = q.select(col("query_id"),
      VectorExprs.pqAdcTable(col("qv"), m, ksub, flat).as("dt"))
    // score = sum of table lookups over the m codes — the corpus side of
    // this join carries ONLY the m-int code arrays; the lookup-sum is the
    // native PqAdcScore loop (same left fold as the HOF it replaces)
    val adcScore = VectorExprs.pqAdcScore(col("codes"), col("dt"), ksub)
    val sw = Window.partitionBy(col("query_id"))
      .orderBy(col("__adc").desc, col("neighbor_id"))
    val short = codes.crossJoin(broadcast(dt))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("__adc", adcScore)
      .withColumn("__r", row_number().over(sw))
      .filter(col("__r") <= shortlist)
      .select("query_id", "neighbor_id")
    // exact cosine re-rank of the shortlist: ids-only shuffle, then one
    // hash-join back to the corpus vectors
    val rw = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    short
      .join(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv")),
        "neighbor_id")
      .join(broadcast(q), "query_id")
      .withColumn("sim", cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(rw))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "sim")
  }

  /** Collect a codebook DataFrame into the flat (j-major, code-minor)
    * centroid list the native PQ expressions bind. Codebook-sized model
    * state (m×ksub×subdim floats) — the one legitimate collect. */
  private def collectCodebook(cb: DataFrame, m: Int,
                              ksub: Int): Seq[Seq[Float]] = {
    val spark = cb.sparkSession
    import spark.implicits._
    val cents: Map[(Int, Int), Seq[Float]] = cb
      .select(col("j").cast("int"), col("code").cast("int"), col("cent"))
      .as[(Int, Int, Seq[Float])].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    require(cents.size == m * ksub,
      s"codebook must hold m*ksub=${m * ksub} centroids, got ${cents.size}")
    (0 until m).flatMap(j => (0 until ksub).map(c => cents((j, c))))
  }

  /** The PQ index as a STORABLE artifact (VERDICT r10 item 2) — the
    * compressed-scan mirror of [[ivfIndex]]'s amortized shape: train the
    * codebooks ONCE, encode the corpus ONCE as m-byte code arrays, and
    * serve every query batch from the stored (codebooks, codes) pair
    * with [[pqTopKFromIndex]] — the corpus is re-read only for the
    * shortlist re-rank, never re-trained or re-encoded at query time.
    * Returns (codebooks `(j, code, cent)`, codes `(idCol, codes)`).
    *
    * Codebooks come from [[pqCodebooks]]' exact-decimal means, so the
    * stored artifact is layout-reproducible; the encode is the same
    * zero-shuffle native PqEncode projection [[pqTopK]] runs inline. */
  def pqIndex(corpus: DataFrame, m: Int = 8, ksub: Int = 16,
              iters: Int = 1, idCol: String = "vec_id",
              vecCol: String = "embedding"): (DataFrame, DataFrame) = {
    val cb = pqCodebooks(corpus, m, ksub, iters, idCol, vecCol)
    val flat = collectCodebook(cb, m, ksub)
    val codes = Ops.spread(corpus.select(col(idCol), col(vecCol)),
        col(idCol))
      .select(col(idCol),
        VectorExprs.pqEncode(col(vecCol), m, ksub, flat).as("codes"))
    (cb, codes)
  }

  /** Persist a [[pqIndex]] through [[graft.sources.ManifestTable]]:
    * codebooks under `dir/codebooks` (keyed by (j, code) — m×ksub rows
    * of model state) and byte codes under `dir/codes` (keyed by the
    * vector id, so re-embedded vectors upsert in place and new batches
    * append via [[appendToPqIndex]] without retraining). Both writes
    * are atomic manifest commits with time travel and CDF. */
  def writePqIndex(dir: String, codebooks: DataFrame, codes: DataFrame,
                   idCol: String = "vec_id", nBuckets: Int = 64): Unit = {
    graft.sources.ManifestTable.upsertBatch(codebooks, s"$dir/codebooks",
      Seq("j", "code"), nBuckets = math.min(nBuckets, 4),
      targetRowsPerBucket = TargetRowsPerBucket)
    graft.sources.ManifestTable.upsertBatch(codes, s"$dir/codes",
      Seq(idCol), nBuckets = nBuckets,
      targetRowsPerBucket = TargetRowsPerBucket)
  }

  /** Read back a persisted [[pqIndex]]: (codebooks, codes). */
  def readPqIndex(spark: org.apache.spark.sql.SparkSession,
                  dir: String): (DataFrame, DataFrame) =
    (graft.sources.ManifestTable.read(spark, s"$dir/codebooks"),
     graft.sources.ManifestTable.read(spark, s"$dir/codes"))

  /** Encode a new vector batch with the STORED codebooks and upsert its
    * codes into a persisted [[pqIndex]] — O(batch) ingest, the existing
    * corpus is never re-encoded; codebook drift-refresh (re-running
    * [[pqCodebooks]]) stays an explicit, separate operation, exactly
    * like [[appendToIvfIndex]]'s centroid contract. */
  def appendToPqIndex(spark: org.apache.spark.sql.SparkSession,
                      dir: String, batch: DataFrame,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding",
                      nBuckets: Int = 64): Unit = {
    val cb = graft.sources.ManifestTable.read(spark, s"$dir/codebooks")
    val (m, ksub, flat) = codebookCached(cb)
    val codes = Ops.spread(batch.select(col(idCol), col(vecCol)),
        col(idCol))
      .select(col(idCol),
        VectorExprs.pqEncode(col(vecCol), m, ksub, flat).as("codes"))
    graft.sources.ManifestTable.upsertBatch(codes, s"$dir/codes",
      Seq(idCol), nBuckets = nBuckets,
      targetRowsPerBucket = TargetRowsPerBucket)
  }

  /** (m, ksub) recovered from a stored codebook's own shape. */
  private def codebookShape(cb: DataFrame): (Int, Int) = {
    val r = cb.agg(max(col("j").cast("int")),
      max(col("code").cast("int"))).head
    (r.getInt(0) + 1, r.getInt(1) + 1)
  }

  /** Session stored-codebook memo (VERDICT r12 item 7,
    * [[OpCaches.memo]]): probing a persisted PQ index used to pay two
    * driver jobs per query batch — the shape aggregate and the m×ksub
    * codebook collect over the manifest read — a fixed cost that
    * dominated the probe's bench row. The stored codebook is immutable
    * model state, so it now collects ONCE per source: repeat probes (or
    * appends) against the same stored table bind the memoized flat
    * centroid table straight into the ADC/encode expressions. A
    * drift-refreshed codebook commits new files, which changes the
    * read's canonical plan — the memo misses and re-collects. The
    * canonical plan ALONE is not staleness-proof for every source: a
    * directory-rooted `spark.read.parquet(dir)` whose files are
    * overwritten IN PLACE canonicalizes identically (file-index
    * equality compares root paths only), so the key also carries a
    * (path, size, modtime) fingerprint of every file-based leaf — an
    * in-place overwrite changes the fingerprint and misses. Frames
    * with any leaf that is neither a file relation nor a local
    * relation are never memoized (collected fresh each call), so no
    * source shape can serve stale. Entries are plain driver arrays
    * (m×ksub floats), nothing persisted, so freeing one is a map drop.
    * `OpCaches.resetQueryState` clears it, so a timed probe pays its
    * collect. */
  private val codebookMemo =
    OpCaches.memo[(Int, Int, Seq[Seq[Float]])](_ => ())

  /** (path, size, modtime) of every file behind the frame's leaves, or
    * None when a leaf can't be fingerprinted (then: don't memoize).
    * Driver-side only; InMemoryFileIndex has the listing cached. */
  private[graft] def leafFilesFingerprint(
      df: DataFrame): Option[Seq[(String, Long, Long)]] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val perLeaf = df.queryExecution.analyzed.collectLeaves().map {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation => Some(
          fs.location.listFiles(Nil, Nil).flatMap(_.files.map(f =>
            (f.getPath.toString, f.getLen, f.getModificationTime))))
        case _ => None
      }
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        Some(Seq.empty[(String, Long, Long)]) // immutable in-memory rows
      case _ => None
    }
    if (perLeaf.exists(_.isEmpty)) None
    else Some(perLeaf.flatMap(_.get))
  }

  private def codebookCached(cb: DataFrame): (Int, Int, Seq[Seq[Float]]) = {
    def compute(): (Int, Int, Seq[Seq[Float]]) = {
      val (m, ksub) = codebookShape(cb)
      (m, ksub, collectCodebook(cb, m, ksub))
    }
    leafFilesFingerprint(cb) match {
      case None => compute() // unidentifiable source: never serve a memo
      case Some(fp) => codebookMemo(cb, fp)(compute())
    }
  }

  /** [[pqTopK]] against a pre-built (usually read-back) [[pqIndex]] —
    * the recurring per-query-batch PROBE a capacity planner sizes for:
    * per-query ADC tables from the broadcast stored codebook, a
    * compressed scan over the stored m-byte codes (the corpus's float
    * vectors are touched ONLY by the shortlist re-rank's ids-keyed
    * hash join), one rank window per stage. Training and encoding cost
    * live entirely in the build half. */
  def pqTopKFromIndex(codebooks: DataFrame, codes: DataFrame,
                      corpus: DataFrame, queries: DataFrame, k: Int,
                      shortlist: Int = 64, idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    require(k > 0 && shortlist >= k)
    val (m, ksub, flat) = codebookCached(codebooks)
    val codeTbl = codes.select(col(idCol).as("neighbor_id"),
      col("codes"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val dt = q.select(col("query_id"),
      VectorExprs.pqAdcTable(col("qv"), m, ksub, flat).as("dt"))
    val adcScore = VectorExprs.pqAdcScore(col("codes"), col("dt"), ksub)
    val sw = Window.partitionBy(col("query_id"))
      .orderBy(col("__adc").desc, col("neighbor_id"))
    val short = codeTbl.crossJoin(broadcast(dt))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("__adc", adcScore)
      .withColumn("__r", row_number().over(sw))
      .filter(col("__r") <= shortlist)
      .select("query_id", "neighbor_id")
    val rw = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    short
      .join(corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("cv")), "neighbor_id")
      .join(broadcast(q), "query_id")
      .withColumn("sim", cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(rw))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "sim")
  }

  /** Approximate k-NN GRAPH construction — every node's top-k most
    * similar neighbors among its LSH-candidate set: the primitive under
    * graph-based semantic clustering (connect, then
    * [[graft.operators.Graphs.labelPropagation]] /
    * [[graft.operators.Dedup.connectedComponents]] over the edges) and
    * kNN-graph diagnostics. Unlike [[lshTopK]] the "query" side is the
    * whole corpus, so NOTHING broadcasts: both band tables are ids-only,
    * the candidate join is an equi-join on (band, value), and each
    * side's vectors re-attach through ordinary shuffled equi-joins —
    * at 100 TB every exchange carries ids, band keys or single vectors,
    * never a corpus-sized build side. One rank window per source node
    * caps the output at k·n edges.
    *
    * Recall follows the banding calculus (same signatures as
    * [[lshTopK]]): raise numPlanes/bands for recall, lower for cost.
    * Audit with [[recallAudit]] over a query subset, as `q_knn_graph`
    * does. */
  def knnGraph(corpus: DataFrame, k: Int, numPlanes: Int = 16,
               bands: Int = 4, idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame = {
    require(numPlanes % bands == 0)
    val bandOf = Ops.longBand(numPlanes / bands)
    val cv = Ops.spread(
      corpus.select(col(idCol).as("__id"), col(vecCol).as("__v")),
      col("__id"))
    // each directed pair exits the join once ([[Ops.firstSharedBandJoin]])
    val banded = Ops.explodeBands(
      cv.select(col("__id"), lshSignature(col("__v"), numPlanes).as("sig")),
      "sig", bands, bandOf)
    val cand = Ops.firstSharedBandJoin(banded, banded, "sig", bands, bandOf,
        col("a.__id") =!= col("b.__id"))
      .select(col("a.__id").as("src"), col("b.__id").as("dst"))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("sim").desc, col("dst"))
    cand
      .join(cv.select(col("__id").as("src"), col("__v").as("sv")), "src")
      .join(cv.select(col("__id").as("dst"), col("__v").as("dv")), "dst")
      .withColumn("sim", cosine(col("sv"), col("dv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("src", "dst", "rank", "sim")
  }

  /** NN-descent refinement of [[knnGraph]] (Dong, Charikar, Li 2011,
    * WWW: "Efficient K-Nearest Neighbor Graph Construction for Generic
    * Similarity Measures"): a node's true neighbors are usually
    * neighbors of its current neighbors, so each round SYMMETRIZES the
    * current edge set (forward ∪ reverse — reverse neighborhoods are
    * what catch the asymmetric misses) and expands it one
    * neighbors-of-neighbors hop, then re-scores the union and re-ranks
    * per node. Recall rises at FIXED banding cost — the LSH candidate
    * pass runs exactly once, so the banding calculus stops being the
    * recall ceiling (q_knn_graph's audited floor moves 0.8 → 0.9 with
    * one round on the test corpus, the measured recall/cost knee;
    * classic NN-descent iterates until no edge improves).
    *
    * Scale shape: every expansion structure is ids-only — the per-round
    * edge set persists as (src, dst) longs, the two-hop self-join and
    * the pair `distinct` shuffle id pairs, and vectors re-attach ONCE,
    * after the last round, through the same two equi-joins the base
    * graph uses, into one rank window. Candidate volume is bounded by
    * (2k)² per node per round (k forward + k reverse, squared), the
    * NN-descent bound, independent of corpus size. */
  def knnGraphRefined(corpus: DataFrame, k: Int, numPlanes: Int = 16,
                      bands: Int = 4, refineRounds: Int = 1,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    require(refineRounds >= 0, s"refineRounds must be >= 0")
    val cv = Ops.spread(
      corpus.select(col(idCol).as("__id"), col(vecCol).as("__v")),
      col("__id"))
    var edges = knnGraph(corpus, k, numPlanes, bands, idCol, vecCol)
      .select("src", "dst")
    for (_ <- 1 to refineRounds) {
      val e = OpCaches.pin(edges)
      val u = e.unionByName(
        e.select(col("dst").as("src"), col("src").as("dst")))
      val twoHop = u.as("x")
        .join(u.as("y"), col("x.dst") === col("y.src"))
        .select(col("x.src").as("src"), col("y.dst").as("dst"))
        .filter(col("src") =!= col("dst"))
      edges = u.unionByName(twoHop).distinct()
    }
    val w = Window.partitionBy(col("src"))
      .orderBy(col("sim").desc, col("dst"))
    edges
      .join(cv.select(col("__id").as("src"), col("__v").as("sv")), "src")
      .join(cv.select(col("__id").as("dst"), col("__v").as("dv")), "dst")
      .withColumn("sim", cosine(col("sv"), col("dv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("src", "dst", "rank", "sim")
  }

  /** Mutual-kNN reduction of [[knnGraph]]: keep the undirected edge
    * (a, b), a < b, only when each endpoint ranks in the OTHER's top-k
    * — the standard asymmetry cleanup before clustering (a hub that
    * many nodes point at but that points elsewhere stops gluing
    * unrelated regions together). One ids-only self-semi-join on the
    * directed edge set. */
  def mutualKnnGraph(corpus: DataFrame, k: Int, numPlanes: Int = 16,
                     bands: Int = 4, idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val g = OpCaches.pin(
      knnGraph(corpus, k, numPlanes, bands, idCol, vecCol))
    g.join(g.select(col("dst").as("src"), col("src").as("dst")),
        Seq("src", "dst"), "left_semi")
      .filter(col("src") < col("dst"))
      .select("src", "dst", "sim")
  }

  /** Per-row block-pair arrays for [[embedCovariance]]: for every
    * ordered block pair (bi ≤ bj) of b-wide dimension blocks, a struct
    * (bi, bj, xy[b²]) where xy[pi·b+pj] = floor(x[bi·b+pi]·x[bj·b+pj]
    * ·1e12) — the product in integer PICOUNITS (see embedCovariance for
    * why floor-of-the-same-IEEE-double beats a decimal cast on both
    * portability and cost). Positions past the row's dimension are NULL
    * (a `when` guard keeps ANSI element_at in range), but only EDGE
    * block pairs pay the guard: interior pairs — the (d/b)² bulk —
    * take an unguarded branch the CaseWhen never mixes with. Factored
    * out so the fan-out is spec-pinnable: nb(nb+1)/2 generated rows per
    * input, nb = ⌈d/b⌉ — NOT the d(d+1)/2 of a cell-per-pair explode.
    * Delegates to the native codegen'd
    * [[org.apache.spark.sql.graft.VectorExprs.CovBlockPairs]]: the d²
    * multiplies per row are irreducible, but a four-deep interpreted
    * `transform` nest walked an expression tree per product — the tight
    * loop is ~10× cheaper at d=64 and the gap widens with d. */
  private[graft] def covBlockPairs(v: Column, blockSize: Int): Column =
    org.apache.spark.sql.graft.VectorExprs.covBlockPairs(v, blockSize)

  /** Upper-triangle covariance matrix of the embedding dimensions — the
    * model-state input to PCA / whitening / Matryoshka-style dimension
    * pruning and the redundancy audit [[dimVariance]] can't see (two
    * perfectly correlated dimensions each look healthy alone): cell
    * (i, j ≥ i) carries cov = (n·Σxᵢxⱼ − Σxᵢ·Σxⱼ)/n².
    *
    * BLOCKED in the dimension so the explode is NOT quadratic in d: the
    * generate emits ⌈d/b⌉·(⌈d/b⌉+1)/2 block-pair rows per input (each a
    * b² product array), not d(d+1)/2 cell rows — at d=4096, b=16 that
    * is 33k rows/input instead of 8.4M. Each block group aggregates b²
    * per-position sums map-side (the shuffle carries ≤ (d/b)²·b² = d²
    * cells per task, same as before, but the per-row CPU fan-out drops
    * by b²/2). The aggregated blocks unpivot back to (i, j) cells;
    * per-dim sums AND counts aggregate from one linear posexplode and
    * broadcast back — cell n is the j-side dim count (i ≤ j, so a row
    * holding dim j holds dim i), exactly the pair count a
    * cell-per-pair explode would measure.
    *
    * Exactness strategy — integer PICOUNITS, not a decimal cast:
    * products accumulate as floor(xᵢ·xⱼ·1e12) longs summed in
    * DECIMAL(38,0). Two reasons. PORTABLE: both engines compute the
    * identical IEEE double xᵢ·xⱼ·1e12 and floor is exact on it — there
    * is no decimal-tie surface at all, where a double→DECIMAL(38,12)
    * cast costs a 9th/12th-decimal tie each engine breaks from a
    * different rendering. FAST: sum(CAST(long AS DECIMAL(38,0))) rides
    * Spark's compact-long decimal fast path (one long add per update),
    * where sum(CAST(double AS DECIMAL(38,12))) allocates a rounded
    * BigDecimal per update — measured 6.5s of the unblocked plan's
    * runtime at sf0.1. The 1e-12 floor bias is three orders below the
    * 9-decimal output rounding. Dim sums ride DECIMAL(28,9) like
    * [[dimVariance]] and the closing form evaluates in one fixed
    * double order — engine-exact. Output: d(d+1)/2 rows, model-sized. */
  def embedCovariance(vecs: DataFrame, vecCol: String = "embedding",
                      blockSize: Int = 8): DataFrame = {
    require(blockSize >= 1 && blockSize <= 64,
      s"blockSize in [1, 64] (b² aggregate buffers), got $blockSize")
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val dec9 = org.apache.spark.sql.types.DecimalType(28, 9)
    val b = blockSize
    val v = col(vecCol)
    val sums = (0 until b * b).map(p =>
      sum(element_at(col("c.xy"), p + 1).cast(dec38)).as(s"__s$p"))
    val blocks = vecs
      .select(explode(covBlockPairs(v, b)).as("c"))
      .groupBy(col("c.bi").as("bi"), col("c.bj").as("bj"))
      .agg(sums.head, sums.tail: _*)
    val cells = blocks
      .select(col("bi"), col("bj"), posexplode(
        array((0 until b * b).map(p => col(s"__s$p")): _*))
        .as(Seq("p", "__sxy")))
      .select(
        (col("bi") * b + floor(col("p").cast("double") / b).cast("int"))
          .cast("long").as("i"),
        (col("bj") * b + pmod(col("p"), lit(b))).cast("long").as("j"),
        col("__sxy"))
      .filter(col("i") <= col("j"))
    val dims = vecs
      .select(posexplode(v).as(Seq("dim", "__x")))
      .groupBy(col("dim").cast("long").as("dim"))
      .agg(count(lit(1)).as("__n"), sum(col("__x").cast(dec9)).as("__sx"))
    cells
      .join(broadcast(dims.select(col("dim").as("i"),
        col("__sx").as("__si"))), "i")
      .join(broadcast(dims.select(col("dim").as("j"), col("__n").as("n"),
        col("__sx").as("__sj"))), "j")
      .select(col("i"), col("j"), col("n"),
        round((col("n").cast("double") *
          (col("__sxy").cast("double") / lit(1e12)) -
          col("__si").cast("double") * col("__sj").cast("double")) /
          (col("n").cast("double") * col("n").cast("double")), 9)
          .as("cov"))
  }

  /** Top principal component of an [[embedCovariance]] table — the
    * PCA/whitening serve half: the dominant eigenpair via power
    * iteration on the DRIVER over the d×d covariance matrix (d² doubles
    * of model state — the registered bounded collect; the corpus-sized
    * work already happened in the one covariance scan). Deterministic:
    * fixed uniform start, fixed iteration count, fixed summation order
    * — any run reproduces the same loadings. Returns (eigenvalue,
    * loadings[d]); explained-variance share = eigenvalue / trace.
    * Compose: project vectors onto the loadings with
    * [[graft.functions]] dot products for 1-D compression, or deflate
    * and re-run for more components. */
  def pcaTopComponent(cov: DataFrame, iters: Int = 50)
      : (Double, Array[Double]) =
    pcaTopK(cov, 1, iters).head

  /** Top-k eigenpairs of an [[embedCovariance]] table via power
    * iteration + Hotelling deflation on the DRIVER — the whitening /
    * Matryoshka-compression model build: component m is the dominant
    * eigenpair of A − Σ_{l<m} λ_l·q_l·q_lᵀ (exact for a symmetric PSD
    * covariance). The d(d+1)/2 upper-triangle cells collect STRAIGHT
    * into a dense d×d double array (the registered bounded collect —
    * d² doubles of model state, no boxed intermediate Map), the
    * corpus-sized work having already happened in the one covariance
    * scan. Deterministic: fixed uniform start, fixed iteration count,
    * fixed summation order, and a fixed sign convention (the
    * largest-|loading| coordinate is made positive — power iteration's
    * raw sign depends on the start vector's overlap, which is not a
    * property of the data). Returns k (eigenvalue, loadings[d]) pairs,
    * dominant first; explained-variance share = eigenvalue / trace.
    *
    * Driver-collect bound: d(d+1)/2 cell Rows materialize on the driver
    * before the dense pack — ~50 B/Row means d = 2048 collects ~100 MB
    * and d = 4096 ~8.4M Rows (~400 MB). Guarded with a hard require at
    * d ≤ 4096; past d ≈ 2048 prefer collecting the cells in column
    * chunks (toLocalIterator over `i` ranges) before going dense. */
  def pcaTopK(cov: DataFrame, k: Int, iters: Int = 50)
      : Array[(Double, Array[Double])] = {
    require(k >= 1 && iters > 0)
    val rows = cov.select(col("i").cast("int"), col("j").cast("int"),
      col("cov").cast("double")).collect()
    require(rows.nonEmpty, "empty covariance table")
    val d = rows.iterator.map(_.getInt(1)).max + 1
    require(d <= 4096,
      s"pcaTopK collects d(d+1)/2 covariance cells on the driver; " +
        s"d=$d exceeds the 4096 bound — chunk the collect " +
        "(toLocalIterator over i ranges) for larger models")
    require(k <= d, s"asked for $k components of a $d-dim covariance")
    val a = Array.ofDim[Double](d, d)
    rows.foreach { r =>
      val i = r.getInt(0); val j = r.getInt(1)
      if (!r.isNullAt(2)) { val c = r.getDouble(2); a(i)(j) = c; a(j)(i) = c }
    }
    val out = new Array[(Double, Array[Double])](k)
    var m = 0
    while (m < k) {
      var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
      var lambda = 0.0
      for (_ <- 1 to iters) {
        val av = Array.tabulate(d) { i =>
          var s = 0.0; var j = 0
          while (j < d) { s += a(i)(j) * v(j); j += 1 }
          s
        }
        val norm = math.sqrt(av.map(x => x * x).sum)
        if (norm > 0) {
          v = av.map(_ / norm)
          lambda = norm
        }
      }
      // canonical sign: the largest-|loading| coordinate reads positive
      var am = 0
      var i = 1
      while (i < d) { if (math.abs(v(i)) > math.abs(v(am))) am = i; i += 1 }
      if (v(am) < 0) v = v.map(-_)
      out(m) = (lambda, v)
      // Hotelling deflation in place: A ← A − λ·v·vᵀ
      var r = 0
      while (r < d) {
        val lvr = lambda * v(r); var c = 0
        while (c < d) { a(r)(c) -= lvr * v(c); c += 1 }
        r += 1
      }
      m += 1
    }
    out
  }

  /** Project vectors onto a component (e.g. [[pcaTopComponent]]'s
    * loadings): a zero-shuffle codegen'd dot-product projection — the
    * PCA serve path (1-D compression, whitening steps, top-component
    * stripping for the "all embeddings share a dominant direction"
    * pathology common in LM embeddings). Loadings are model state bound
    * into the expression as a float-array literal. */
  def projectOnto(vecs: DataFrame, loadings: Array[Double],
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    val lit0 = typedLit(loadings.map(_.toFloat).toSeq)
    vecs.select(col(idCol),
      VectorExprs.floatDot(col(vecCol), lit0).as("projection"))
  }

  /** k-component generalization of [[projectOnto]] — the PCA
    * compression serve path: one zero-shuffle scan emitting k codegen'd
    * dot-product columns `proj_0..proj_{k-1}` (scalar columns, not an
    * array — k is model-sized, and scalars keep the output
    * oracle-comparable and column-prunable downstream). Components are
    * model state (e.g. [[pcaTopK]] output) bound in as float-array
    * literals. */
  def projectOntoK(vecs: DataFrame, components: Seq[Array[Double]],
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    require(components.nonEmpty)
    val cols = components.zipWithIndex.map { case (c, m) =>
      VectorExprs.floatDot(col(vecCol),
        typedLit(c.map(_.toFloat).toSeq)).as(s"proj_$m")
    }
    vecs.select(col(idCol) +: cols: _*)
  }

  /** PCA whitening serve — [[projectOntoK]] with each component scaled
    * by 1/√λ so the output coordinates have unit variance under the
    * model: w_m = ⟨x, q_m⟩ / √λ_m, 9-dec rounded (division in one fixed
    * double order after the codegen'd dot — engine-exact given literal
    * components). The standard decorrelation step before distance-based
    * dedup or clustering when embedding dimensions are correlated;
    * components/eigenvalues are stored model state from [[pcaTopK]]. */
  def whiten(vecs: DataFrame, components: Seq[(Double, Array[Double])],
             idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame = {
    require(components.nonEmpty)
    require(components.forall(_._1 > 0), "whitening needs positive eigenvalues")
    val cols = components.zipWithIndex.map { case ((lambda, c), m) =>
      round(VectorExprs.floatDot(col(vecCol),
        typedLit(c.map(_.toFloat).toSeq)) / lit(math.sqrt(lambda)), 9)
        .as(s"w_$m")
    }
    vecs.select(col(idCol) +: cols: _*)
  }

  /** Margin-based cross-corpus alignment mining (the LASER bitext-mining
    * criterion — Artetxe & Schwenk, ACL 2019 §3: ratio margin): for each
    * source vector, its best cosine match on the target side scored by
    * `margin = 2k·cos(x,y) / (Σ top-k sims of x + Σ top-k sims of y)` —
    * cos(x,y) relative to BOTH endpoints' neighborhood density, which
    * demotes hub vectors that are "close to everything" (absolute-cosine
    * thresholds can't separate translations from hubs). The workhorse
    * for mining parallel text pairs across languages, aligned
    * image/caption pairs, or doc/summary pairs from independently
    * embedded corpora; consumers filter on `margin` (> ~1.05 keeps
    * high-precision pairs).
    *
    * Engine-exact: sims round to 9 decimals, neighborhood sums ride
    * DECIMAL(28,9) (order-independent), and the final margin is one
    * fixed-order double division — the DuckDB oracle replays every
    * value. Both sides must hold ≥ k vectors.
    *
    * Plan shape: the source side is the query sample by contract and
    * broadcasts; the target corpus streams ONCE through the scored
    * join, which is persisted and feeds all three consumers (per-source
    * top-k sums, per-target top-k sums, best pair) — two rank windows
    * on opposite keys, each riding its own exchange of (ids, sim)
    * scalars; vectors never shuffle. At corpus×corpus scale swap the
    * scored join for [[knnGraph]]-style banded candidates; the margin
    * arithmetic is unchanged. */
  def marginMine(src: DataFrame, tgt: DataFrame, k: Int,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    require(k > 0)
    val dec = org.apache.spark.sql.types.DecimalType(28, 9)
    val a = src.select(col(idCol).as("src_id"), col(vecCol).as("av"))
    val b = Ops.spread(
      tgt.select(col(idCol).as("tgt_id"), col(vecCol).as("bv")),
      col("tgt_id"))
    val scored = OpCaches.pin(b.crossJoin(broadcast(a))
      .select(col("src_id"), col("tgt_id"),
        round(cosine(col("av"), col("bv")), 9).as("sim")))
    val wx = Window.partitionBy("src_id")
      .orderBy(col("sim").desc, col("tgt_id"))
    val wy = Window.partitionBy("tgt_id")
      .orderBy(col("sim").desc, col("src_id"))
    val topx = scored.withColumn("__r", row_number().over(wx))
      .filter(col("__r") <= k)
    val sx = topx.groupBy("src_id")
      .agg(sum(col("sim").cast(dec)).cast("double").as("__sumx"))
    val sy = scored.withColumn("__r", row_number().over(wy))
      .filter(col("__r") <= k)
      .groupBy("tgt_id")
      .agg(sum(col("sim").cast(dec)).cast("double").as("__sumy"))
    topx.filter(col("__r") === 1).select("src_id", "tgt_id", "sim")
      .join(sx, "src_id")
      .join(sy, "tgt_id")
      .select(col("src_id"), col("tgt_id"), col("sim"),
        round(lit(2.0 * k) * col("sim") /
          (col("__sumx") + col("__sumy")), 9).as("margin"))
  }

  /** Per-group centroid DIRECTIONS: the per-dimension exact-DECIMAL SUM
    * vector of every group (source, language, label, cluster),
    * reassembled as a float array. The sum points exactly where the
    * mean does — cosine is scale-invariant — and skipping the /n
    * division matters for reproducibility: a 9-dp decimal sum divided
    * by n can land EXACTLY on a round-half boundary (observed:
    * 0.879152207/46 = 0.0191120045), where engines legitimately
    * disagree (shortest-decimal-repr HALF_UP vs binary-value rounding).
    * The sum itself is exact and order-independent; the only remaining
    * conversions (decimal→double→float) are deterministic IEEE
    * narrowings both engines share. Output is |groups|×dim model
    * state, never corpus-sized: one posexplode + one (group, dim)
    * aggregation + one |groups|-row reassembly. */
  def groupCentroids(vecs: DataFrame, groupCol: String,
                     vecCol: String = "embedding"): DataFrame =
    vecs.select(col(groupCol).as("grp"),
        posexplode(col(vecCol)).as(Seq("dim", "__v")))
      .groupBy(col("grp"), col("dim"))
      .agg(
        sum(col("__v").cast(org.apache.spark.sql.types.DecimalType(28, 9)))
          .cast("double").cast("float").as("__mv"))
      .groupBy(col("grp"))
      .agg(transform(
        array_sort(collect_list(struct(col("dim"), col("__mv")))),
        x => x("__mv")).as("centroid"))

  /** Source-coherence audit — "is this source one kind of thing?": each
    * group's vectors score their cosine to the group [[groupCentroids]]
    * centroid, reduced to (group, n, mean_cos, min_cos, n_below) with
    * `n_below` counting rows under `floor`. A low mean or a fat below-
    * floor tail flags mixed/mislabeled sources BEFORE they poison
    * mixing weights or per-source quality cuts; the per-doc scores are
    * the outlier shortlist a cleanup pass would drop. Centroids are
    * |groups|×dim model state and broadcast into the scoring join; the
    * corpus streams once, scalars-only aggregation after. Engine-exact
    * (9-dec rounds, DECIMAL sums, fixed-order division). */
  def sourceCoherence(vecs: DataFrame, groupCol: String,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding",
                      floor: Double = 0.0): DataFrame = {
    val cents = groupCentroids(vecs, groupCol, vecCol)
    val scored = Ops.spread(
        vecs.select(col(groupCol).as("grp"), col(idCol),
          col(vecCol).as("__v")), col(idCol))
      .join(broadcast(cents), "grp")
      .select(col("grp"),
        round(cosine(col("__v"), col("centroid")), 9).as("__cos"))
    scored.groupBy(col("grp"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("__cos").cast(
            org.apache.spark.sql.types.DecimalType(28, 9)))
          .cast("double") / count(lit(1)), 9).as("mean_cos"),
        min(col("__cos")).as("min_cos"),
        sum(when(col("__cos") < floor, 1L).otherwise(0L)).as("n_below"))
  }

  /** Label-separability audit — "do my labels exist in embedding
    * space?": every vector scores cosine to its OWN label's
    * [[groupCentroids]] centroid minus its best cosine to any OTHER
    * label's centroid (a simplified centroid silhouette). Per label:
    * n, mean margin, and the count of negative-margin rows (vectors
    * sitting closer to a foreign centroid — mislabeled or inseparable).
    * The go/no-go a team runs before training a classifier on these
    * labels, and the k-selection signal for coarse quantizers.
    * Centroids are |labels|×dim model state bound in as one broadcast;
    * the corpus streams once through a |labels|-wide scored projection
    * (greatest over the foreign centroids — no explode, no per-label
    * join); engine-exact (9-dec rounds, DECIMAL sums). */
  def labelSeparability(vecs: DataFrame, labelCol: String,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    // |labels|×dim model state — the bounded-collect contract. Rows
    // collect generically (labels keep their native type — string
    // labels are the common case, int/long work too); the sort is only
    // for a deterministic literal layout, the per-label output never
    // sees the index order.
    val cents = groupCentroids(vecs, labelCol, vecCol).collect()
      .map(r => (r.get(0), r.getSeq[Float](1)))
      .sortBy(_._1.toString)
    require(cents.length >= 2, "separability needs at least two labels")
    val centArr = typedLit(cents.map(_._2))
    val v = col("__v")
    def cosTo(i: Column) = round(cosine(v, element_at(centArr, i + 1)), 9)
    // own-centroid index via a label-equality chain: works for any
    // atomic label type where array_position needed the array literal
    // (and thus a single fixed element type) to match the column's
    val ownIdx = cents.zipWithIndex.foldLeft(lit(-1)) {
      case (acc, ((lab, _), i)) =>
        when(col("__lab") === lit(lab), lit(i)).otherwise(acc)
    }
    val others = filter(sequence(lit(0), lit(cents.length - 1)),
      i => i =!= ownIdx)
    val scored = Ops.spread(vecs.select(col(labelCol).as("__lab"),
        col(idCol), col(vecCol).as("__v")), col(idCol))
      .select(col("__lab"),
        round(cosTo(ownIdx) -
          array_max(transform(others, i => cosTo(i))), 9).as("__m"))
    scored.groupBy(col("__lab").as("label"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("__m").cast(
            org.apache.spark.sql.types.DecimalType(28, 9)))
          .cast("double") / count(lit(1)), 9).as("mean_margin"),
        sum(when(col("__m") < 0, 1L).otherwise(0L)).as("n_negative"))
  }

  /** Per-dimension embedding health audit: count, mean, variance and
    * min/max for every vector dimension — the pre-index screen that
    * catches dead dimensions (variance 0 — wasted index bytes and a
    * broken normalizer), scale pathologies (one dimension 100× the
    * rest dominating L2), and truncated exports (NaN/short rows change
    * `n` per dim). One posexplode and ONE dim-keyed aggregation; the
    * output is `dim` rows — model-state-sized, never corpus-sized.
    *
    * Sums ride Decimal(28,9) so they are order-independent; variance is
    * the exact closed form (n·Σv² − (Σv)²)/n² evaluated in a fixed
    * double order, so the oracle reproduces every value. */
  def dimVariance(vecs: DataFrame, vecCol: String = "embedding")
      : DataFrame = {
    def dec(c: Column) =
      sum(c.cast(org.apache.spark.sql.types.DecimalType(28, 9)))
        .cast("double")
    val v = col("__v").cast("double")
    vecs.select(posexplode(col(vecCol)).as(Seq("dim", "__v")))
      .groupBy(col("dim").cast("long").as("dim"))
      .agg(count(lit(1)).as("n"), dec(v).as("__s"), dec(v * v).as("__s2"),
           min(v).as("min_v"), max(v).as("max_v"))
      .select(col("dim"), col("n"),
        round(col("__s") / col("n"), 9).as("mean"),
        round((col("n").cast("double") * col("__s2") -
          col("__s") * col("__s")) / (col("n") * col("n")), 9)
          .as("variance"),
        col("min_v"), col("max_v"))
  }
}
