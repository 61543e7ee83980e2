package graft
package queries

import org.apache.spark.sql.functions._

import graft.SparkEntry.{buildIvfCache, buildPqCache, ensureIvfCache,
  ensureIvfHalfCache, ensurePqCache, t, withScratchDir}
import graft.operators.Similarity

/** Embedding and retrieval queries: cosine top-k, ANN indexes (LSH,
  * IVF, PQ) with recall audits, semantic dedup, PCA, alignment mining,
  * BM25 and ranking metrics. */
object SimilarityQueries {

  private val family = "similarity"

  /** The ANN recall-audit oracle: the query count, the exact truth size
    * (n_queries × k — every query has k true neighbors in this corpus)
    * and that the recall verdict holds. */
  private val recallOracle: String =
    """SELECT CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id < 20)
      |  AS BIGINT) AS n_queries,
      |CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id < 20) * 10
      |  AS BIGINT) AS truth,
      |TRUE AS recall_ok""".stripMargin

  /** Okapi BM25 (k1 = 1.2, b = 0.75) per (doc, query term) for the
    * query {spark, join, window}: CTE `scored` holds each term's weight
    * `w`, rounded to 9 decimals as the engine rounds it. */
  private val bm25Terms: String =
    """WITH toks AS (
      |  SELECT doc_id, len(string_split(text, ' ')) AS dl,
      |    unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |perdoc AS (
      |  SELECT doc_id, dl, tok, COUNT(*) AS tf
      |  FROM toks GROUP BY doc_id, dl, tok),
      |matched AS (
      |  SELECT * FROM perdoc WHERE tok IN ('spark', 'join', 'window')),
      |dftbl AS (SELECT tok, COUNT(*) AS df FROM matched GROUP BY tok),
      |stats AS (
      |  SELECT COUNT(*) AS n_docs,
      |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_dl
      |  FROM documents),
      |scored AS (
      |  SELECT m.doc_id,
      |    round(round(ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
      |        / (CAST(df AS DOUBLE) + 0.5) + 1.0), 9)
      |      * (CAST(tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0)
      |         / (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
      |            * (1.0 - CAST(0.75 AS DOUBLE)
      |               + CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE)
      |                 / (CAST(sum_dl AS DOUBLE) / n_docs)))), 9) AS w
      |  FROM matched m JOIN dftbl f ON m.tok = f.tok, stats)""".stripMargin

  /** Per-label centroid directions: `mv` is the exact DECIMAL sum per
    * (label, dim), the mean's direction without a division, cast through
    * REAL as the engine's centroid array carries it. */
  private val labelCentroids: String =
    """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      |           FROM embeddings),
      |x AS (SELECT label, vec_id, unnest(v) AS val,
      |             generate_subscripts(v, 1) AS dim FROM e),
      |m AS (SELECT label, dim,
      |    CAST(CAST(CAST(SUM(CAST(val AS DECIMAL(28,9))) AS DOUBLE)
      |      AS REAL) AS DOUBLE) AS mv
      |  FROM x GROUP BY label, dim)""".stripMargin

  val all: Seq[Query] = Seq(

    // ---- E3 per-dimension embedding health audit (dead dims, scale
    // pathologies) — one posexplode + one dim-keyed aggregate ----
    Query("q_dim_variance", family, (s, d) =>
      Similarity.dimVariance(t(s, d, "embeddings"))
        .orderBy("dim"),
      """WITH x AS (SELECT i - 1 AS dim,
        |             CAST(embedding[i] AS DOUBLE) AS v
        |           FROM embeddings,
        |             unnest(range(1, len(embedding) + 1)) AS u(i)),
        |a AS (SELECT CAST(dim AS BIGINT) AS dim, count(*) AS n,
        |        CAST(sum(CAST(v AS DECIMAL(28,9))) AS DOUBLE) AS s,
        |        CAST(sum(CAST(v * v AS DECIMAL(28,9))) AS DOUBLE) AS s2,
        |        min(v) AS min_v, max(v) AS max_v
        |      FROM x GROUP BY 1)
        |SELECT dim, n, round(s / n, 9) AS mean,
        |  round((CAST(n AS DOUBLE) * s2 - s * s) / (n * n), 9)
        |    AS variance,
        |  min_v, max_v
        |FROM a ORDER BY dim""".stripMargin),

    // ---- E3 margin-based cross-corpus alignment mining (LASER ratio
    // margin): label-0 vectors vs label-1 vectors, best match per
    // source scored relative to both endpoints' k-NN neighborhood
    // density — hub vectors demote, genuine alignments rise ----
    Query("q_bitext_margin", family, (s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.marginMine(e.filter(col("label") === 0),
          e.filter(col("label") === 1), k = 4)
        .orderBy("src_id")
    },
      // LASER ratio margin unrolled: best pair per source, neighborhood
      // sums as exact DECIMAL of 9-dec-rounded sims, one fixed-order
      // double division at the end
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |a AS (SELECT * FROM e WHERE label = 0),
        |b AS (SELECT * FROM e WHERE label = 1),
        |s AS (
        |  SELECT a.vec_id AS src_id, b.vec_id AS tgt_id,
        |    round(list_dot_product(a.v, b.v)
        |      / (sqrt(list_dot_product(a.v, a.v))
        |         * sqrt(list_dot_product(b.v, b.v))), 9) AS sim
        |  FROM a CROSS JOIN b),
        |tx AS (SELECT *, row_number() OVER (
        |    PARTITION BY src_id ORDER BY sim DESC, tgt_id) AS rx FROM s),
        |sx AS (SELECT src_id,
        |    CAST(SUM(CAST(sim AS DECIMAL(28,9))) AS DOUBLE) AS sumx
        |  FROM tx WHERE rx <= 4 GROUP BY src_id),
        |ty AS (SELECT *, row_number() OVER (
        |    PARTITION BY tgt_id ORDER BY sim DESC, src_id) AS ry FROM s),
        |sy AS (SELECT tgt_id,
        |    CAST(SUM(CAST(sim AS DECIMAL(28,9))) AS DOUBLE) AS sumy
        |  FROM ty WHERE ry <= 4 GROUP BY tgt_id),
        |best AS (SELECT src_id, tgt_id, sim FROM tx WHERE rx = 1)
        |SELECT best.src_id, best.tgt_id, best.sim,
        |  round(8 * best.sim / (sumx + sumy), 9) AS margin
        |FROM best JOIN sx USING (src_id) JOIN sy USING (tgt_id)
        |ORDER BY best.src_id""".stripMargin),

    // ---- E3 source-coherence audit: cosine-to-group-centroid stats
    // per label — the mixed/mislabeled-source screen ----
    Query("q_source_coherence", family, (s, d) =>
      Similarity.sourceCoherence(t(s, d, "embeddings"), "label",
          floor = 0.0)
        .orderBy("grp"),
      // centroid = per-dim exact-DECIMAL SUM (same direction as the
      // mean, no division → no decimal round-half ties) cast through
      // REAL (the float the Spark centroid array carries)
      s"""$labelCentroids,
        |c AS (SELECT label, list(mv ORDER BY dim) AS cent
        |      FROM m GROUP BY label),
        |s AS (SELECT e.label, e.vec_id,
        |    round(list_dot_product(e.v, c.cent)
        |      / (sqrt(list_dot_product(e.v, e.v))
        |         * sqrt(list_dot_product(c.cent, c.cent))), 9) AS cs
        |  FROM e JOIN c USING (label))
        |SELECT label AS grp, CAST(COUNT(*) AS BIGINT) AS n,
        |  round(CAST(SUM(CAST(cs AS DECIMAL(28,9))) AS DOUBLE)
        |    / COUNT(*), 9) AS mean_cos,
        |  min(cs) AS min_cos,
        |  CAST(SUM(CASE WHEN cs < 0.0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_below
        |FROM s GROUP BY label ORDER BY grp""".stripMargin),

    // ---- E3 label-separability audit: own-centroid cosine minus the
    // best foreign-centroid cosine per vector (simplified centroid
    // silhouette) — the classifier go/no-go over these labels ----
    Query("q_label_separability", family, (s, d) =>
      Similarity.labelSeparability(t(s, d, "embeddings"), "label")
        .orderBy("label"),
      // own-centroid cosine minus best foreign-centroid cosine, both
      // 9-dec-rounded before the (re-rounded) difference, over the same
      // exact-decimal SUM centroids as q_source_coherence
      s"""$labelCentroids,
        |c AS (SELECT label AS clab, list(mv ORDER BY dim) AS cent
        |      FROM m GROUP BY label),
        |s AS (SELECT e.vec_id, e.label, c.clab,
        |    round(list_dot_product(e.v, c.cent)
        |      / (sqrt(list_dot_product(e.v, e.v))
        |         * sqrt(list_dot_product(c.cent, c.cent))), 9) AS cs
        |  FROM e CROSS JOIN c),
        |mg AS (SELECT vec_id, label,
        |    round(MAX(CASE WHEN clab = label THEN cs END)
        |      - MAX(CASE WHEN clab <> label THEN cs END), 9) AS m
        |  FROM s GROUP BY vec_id, label)
        |SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
        |  round(CAST(SUM(CAST(m AS DECIMAL(28,9))) AS DOUBLE)
        |    / COUNT(*), 9) AS mean_margin,
        |  CAST(SUM(CASE WHEN m < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_negative
        |FROM mg GROUP BY label ORDER BY label""".stripMargin),

    // ---- E3 brute-force cosine top-k ----
    Query("q_cosine_topk", family, (s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 10), 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT * FROM e WHERE vec_id < 10),
        |s AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_dot_product(q.v, c.v)
        |      / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS sim
        |  FROM q JOIN e c ON c.vec_id <> q.vec_id)
        |SELECT query_id, neighbor_id, rank, sim FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM s) WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin),

    // ---- E3 hard-negative mining (triplet construction for
    // contrastive embedding training: top-k most-similar
    // different-label candidates per anchor, with nearest-positive
    // similarity and the FaceNet semi-hard flag) ----
    // Plan: anchors broadcast, cosine before the exchange; one anchor-key exchange feeds both windows.
    Query("q_hard_negatives", family, (s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.hardNegatives(e, e.filter(col("vec_id") % 37 === 0), 3)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("anchor_id", "rank")
    },
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
        |           FROM embeddings),
        |a AS (SELECT * FROM e WHERE vec_id % 37 = 0),
        |s AS (
        |  SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
        |    c.vec_id AS cand_id, c.label AS cand_label,
        |    list_dot_product(a.v, c.v)
        |      / (sqrt(list_dot_product(a.v, a.v))
        |         * sqrt(list_dot_product(c.v, c.v))) AS sim
        |  FROM a JOIN e c ON c.vec_id <> a.vec_id),
        |x AS (
        |  SELECT *,
        |    max(CASE WHEN cand_label = anchor_label THEN sim END)
        |      OVER (PARTITION BY anchor_id) AS sim_pos,
        |    row_number() OVER (
        |      PARTITION BY anchor_id, (cand_label <> anchor_label)
        |      ORDER BY sim DESC, cand_id) AS rank
        |  FROM s)
        |SELECT anchor_id, anchor_label, cand_id AS negative_id, rank,
        |  sim AS sim_neg, sim_pos, (sim < sim_pos) AS semi_hard
        |FROM x WHERE cand_label <> anchor_label AND rank <= 3
        |ORDER BY anchor_id, rank""".stripMargin),

    // ---- E22 NDCG@10 ranking-quality metric (deterministic fixture
    // ranking per lang; graded relevance = doc_id mod 4) ----
    Query("q_ndcg", family, (s, d) => {
      val docs = t(s, d, "documents")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      val ranked = docs.select(col("lang").as("query_id"), col("doc_id"),
        row_number().over(w).as("rank")).filter(col("rank") <= 10)
      val rels = docs.select(col("lang").as("query_id"), col("doc_id"),
        pmod(col("doc_id"), lit(4)).as("rel"))
      operators.Search.ndcgAt(ranked, rels, k = 10).orderBy("query_id")
    },
      """WITH r AS (SELECT lang AS query_id, doc_id,
        |        row_number() OVER (PARTITION BY lang
        |          ORDER BY n_chars DESC, doc_id) AS rank
        |      FROM documents),
        |rk AS (SELECT * FROM r WHERE rank <= 10),
        |rel AS (SELECT lang AS query_id, doc_id, doc_id % 4 AS rel
        |        FROM documents),
        |d AS (SELECT rk.query_id,
        |        CAST(sum(CAST(round(
        |          (pow(2.0, CAST(COALESCE(rel, 0) AS DOUBLE)) - 1.0)
        |          / (ln(CAST(rank AS DOUBLE) + 1.0) / ln(2.0)), 9)
        |          AS DECIMAL(28,9))) AS DOUBLE) AS dcg
        |      FROM rk LEFT JOIN rel ON rel.query_id = rk.query_id
        |        AND rel.doc_id = rk.doc_id
        |      GROUP BY 1),
        |i0 AS (SELECT query_id, rel, row_number() OVER (
        |         PARTITION BY query_id ORDER BY rel DESC, doc_id) AS rr
        |       FROM rel),
        |i AS (SELECT query_id,
        |        CAST(sum(CAST(round((pow(2.0, CAST(rel AS DOUBLE)) - 1.0)
        |          / (ln(CAST(rr AS DOUBLE) + 1.0) / ln(2.0)), 9)
        |          AS DECIMAL(28,9))) AS DOUBLE) AS idcg
        |      FROM i0 WHERE rr <= 10 GROUP BY 1)
        |SELECT d.query_id,
        |  CASE WHEN idcg > 0 THEN round(dcg / idcg, 9) END AS ndcg
        |FROM d JOIN i USING (query_id) ORDER BY query_id""".stripMargin),

    // ---- E22 binary-relevance retrieval scorecard beside q_ndcg's
    // graded gain: MRR + P@10 + R@10 + AP@10 per query over the same
    // ranked lists, relevance = every 4th doc id ----
    Query("q_rank_eval", family, (s, d) => {
      val docs = t(s, d, "documents")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      val ranked = docs.select(col("lang").as("query_id"), col("doc_id"),
        row_number().over(w).as("rank")).filter(col("rank") <= 10)
      val rels = docs.select(col("lang").as("query_id"), col("doc_id"),
        when(pmod(col("doc_id"), lit(4)) === 0, 1L).otherwise(0L)
          .as("rel"))
      operators.Search.rankEval(ranked, rels, k = 10).orderBy("query_id")
    },
      // same integer-ratio ln(9-dec) arithmetic as the other association
      // ops; NULL cells excluded on both sides
      """WITH ranked AS (
        |  SELECT lang AS query_id, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY n_chars DESC, doc_id) AS rnk
        |  FROM documents),
        |rel AS (SELECT lang AS query_id, doc_id FROM documents
        |        WHERE doc_id % 4 = 0),
        |nrel AS (SELECT query_id, COUNT(*) AS n_rel FROM rel GROUP BY 1),
        |j AS (SELECT r.query_id, r.rnk,
        |        CASE WHEN l.doc_id IS NOT NULL THEN 1 ELSE 0 END AS hit
        |      FROM ranked r LEFT JOIN rel l
        |        ON l.query_id = r.query_id AND l.doc_id = r.doc_id
        |      WHERE r.rnk <= 10),
        |t AS (SELECT query_id, rnk, hit,
        |        SUM(hit) OVER (PARTITION BY query_id ORDER BY rnk) AS cum
        |      FROM j),
        |a AS (SELECT query_id, SUM(hit) AS hits,
        |        MIN(CASE WHEN hit = 1 THEN rnk END) AS first_rel,
        |        SUM(CASE WHEN hit = 1 THEN
        |          CAST(round(CAST(cum AS DOUBLE) / rnk, 9)
        |            AS DECIMAL(28,9)) END) AS ap_sum
        |      FROM t GROUP BY query_id)
        |SELECT a.query_id,
        |  CAST(COALESCE(n.n_rel, 0) AS BIGINT) AS n_rel,
        |  CAST(a.hits AS BIGINT) AS hits_at_k,
        |  COALESCE(round(CAST(1.0 AS DOUBLE) / first_rel, 9), 0.0) AS mrr,
        |  round(CAST(a.hits AS DOUBLE) / 10, 9) AS precision_at_k,
        |  CASE WHEN n.n_rel > 0
        |    THEN round(CAST(a.hits AS DOUBLE) / n.n_rel, 9)
        |  END AS recall_at_k,
        |  CASE WHEN n.n_rel > 0 THEN
        |    round(CAST(COALESCE(ap_sum, 0) AS DOUBLE)
        |      / least(n.n_rel, 10), 9)
        |  END AS ap_at_k
        |FROM a LEFT JOIN nrel n ON n.query_id = a.query_id
        |ORDER BY a.query_id""".stripMargin),

    // ---- E3 approximate kNN-GRAPH construction (the clustering
    // primitive) + ONE NN-descent refinement round, audited against
    // exact kNN on the query subset. The refinement lifts measured
    // recall 0.855/0.875/0.91 → 0.945/0.96/0.93 (sf0.001/0.01/0.1) at
    // fixed banding cost, so the audited floor moves 0.8 → 0.9. ----
    Query("q_knn_graph", family, (s, d) => {
      val e = t(s, d, "embeddings")
      val g = Similarity.knnGraphRefined(e, k = 10, numPlanes = 64,
        bands = 16, refineRounds = 1)
      Similarity.recallAudit(e, e.filter(col("vec_id") < 20), 10,
        g.filter(col("src") < 20)
          .select(col("src").as("query_id"), col("dst").as("neighbor_id")),
        floor = 0.9)
    },
      // LSH graph construction is plan shape; the checkable semantics is
      // the recall floor against exact kNN on the audited subset
      recallOracle),
    // E3 embedding-cosine near-dup via LSH buckets, oracle-checked: the
    // planted pairs are EXACT duplicates (identical hyperplane signatures
    // → collide on every band, certain recall; cosine bit-identical
    // across engines per the q_cosine_topk formulation), and the organic
    // corpus maxes out near cosine 0.51 — far under the 0.99 threshold —
    // so the DuckDB brute-force pair join reproduces the output exactly.
    Query("q_embed_neardup", family, (s, d) => {
      val e = t(s, d, "embeddings").select("vec_id", "embedding")
      val copies = e.filter(col("vec_id") < 100)
        .select((col("vec_id") + 1000000).as("vec_id"), col("embedding"))
      Similarity.cosineNearDups(e.union(copies), threshold = 0.99)
        .orderBy("vec_a", "vec_b")
    },
      // planted exact-duplicate pairs only: brute-force cosine over the
      // union corpus at threshold 0.99 (organic max ~0.51)
      """WITH c AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000, CAST(embedding AS DOUBLE[])
        |  FROM embeddings WHERE vec_id < 100)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  list_dot_product(a.v, b.v)
        |    / (sqrt(list_dot_product(a.v, a.v))
        |       * sqrt(list_dot_product(b.v, b.v))) AS sim
        |FROM c a JOIN c b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(a.v, b.v)
        |    / (sqrt(list_dot_product(a.v, a.v))
        |       * sqrt(list_dot_product(b.v, b.v))) >= 0.99
        |ORDER BY vec_a, vec_b""".stripMargin),
    // E3d SemDeDup cluster-then-dedup (Abbas et al. 2023): the engine
    // runs the full kmeans → assign → within-cell keep-first pipeline;
    // the oracle brute-forces all pairs, which agrees because every
    // ≥ 0.99 pair is a planted exact copy (identical vectors co-assign
    // by construction — assignment is a pure function of the vector —
    // and the organic corpus maxes out near cosine 0.51)
    Query("q_semdedup", family, (s, d) => {
      val e = t(s, d, "embeddings").select("vec_id", "embedding")
      val copies = e.filter(col("vec_id") < 100)
        .select((col("vec_id") + 1000000).as("vec_id"), col("embedding"))
      Similarity.semDedup(e.union(copies), threshold = 0.99, nlist = 32)
        .orderBy("vec_id")
    },
      // brute-force all-pairs twin of the cluster-bounded keep-first:
      // agreement argued in the queries entry (planted exact copies only
      // at >= 0.99; identical vectors always co-cluster)
      """WITH c AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000, CAST(embedding AS DOUBLE[])
        |  FROM embeddings WHERE vec_id < 100),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm
        |      FROM c),
        |d AS (SELECT a.vec_id,
        |        CAST(COUNT(b.vec_id) AS BIGINT) AS n_dups_smaller
        |      FROM n a LEFT JOIN n b
        |        ON b.vec_id < a.vec_id
        |       AND list_dot_product(a.v, b.v) >= 0.99 * a.nrm * b.nrm
        |      GROUP BY 1)
        |SELECT vec_id, n_dups_smaller, n_dups_smaller = 0 AS kept
        |FROM d ORDER BY vec_id""".stripMargin),
    // E3d SemDeDup recall audit — the one recall-dependent path that
    // had no audit twin (r14 missing #3): planted PERTURBED copies
    // (deterministic per-coordinate factors 0.7–1.3, float-rounded so
    // DuckDB reproduces them bit-exactly; cosine ≈ 0.98 vs original,
    // organic max ~0.51) sit above threshold 0.95 but are NOT
    // identical vectors, so co-assignment is a genuine cell-quality
    // outcome, not a tautology. The audit runs on a BOUNDED sample —
    // the operator's own contract ("run it on a bounded audit sample,
    // not the corpus"): all 100 planted originals, force-included so
    // each copy's partner is present, plus the 1000 organic rows that
    // rank first by the Knuth multiplicative hash of vec_id (the
    // engine-portable deterministic sampler every split/fold op here
    // uses) — so the deliberately-quadratic truth join is O(1100²)
    // whatever the corpus size, while the pipeline side is the
    // production semDedup plan unchanged at sample scale. truth = 100
    // exactly (each copy's only ≥0.95 partner is its force-included
    // original; sampling the organic background cannot change that).
    // Floor 0.8; a mis-sized nlist (cells ≈ 1–2 vectors) fails loudly.
    // Plan: production cell-keyed semDedup beside a quadratic truth join on the bounded sample.
    Query("q_semdedup_audit", family, (s, d) => {
      val e = t(s, d, "embeddings").select("vec_id", "embedding")
      val planted = e.filter(col("vec_id") < 100)
      val bg = e.filter(col("vec_id") >= 100)
        .orderBy(pmod(col("vec_id") * lit(2654435761L),
            lit(4294967296L)), col("vec_id"))
        .limit(1000)
      val copies = planted
        .select((col("vec_id") + 1000000).as("vec_id"),
          expr("cast(transform(embedding, (x, i) -> cast(x as double) * "
            + "(1.0d + (cast((vec_id + i) % 7 as double) - 3.0d) / 10.0d))"
            + " as array<float>)").as("embedding"))
      Similarity.semDedupRecallAudit(
        planted.unionAll(bg).unionAll(copies), threshold = 0.95,
        nlist = 32, floor = 0.8)
    },
      // brute-force truth for the cell-bounded audit over the SAME
      // bounded sample the engine audits (forced planted originals +
      // Knuth-hash-rank top-1000 organic background): the perturbed
      // copies reconstructed bit-exactly (double multiply, FLOAT-rounded
      // like the engine's array<float> cast; DuckDB's list_transform
      // index is 1-based, hence i - 1), truth counted by exhaustive
      // cosine; the recall verdict is asserted TRUE like the ANN audits
      """WITH c AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  WHERE vec_id < 100
        |  UNION ALL
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM (SELECT vec_id, embedding FROM embeddings
        |        WHERE vec_id >= 100
        |        ORDER BY (vec_id * 2654435761) % 4294967296, vec_id
        |        LIMIT 1000)
        |  UNION ALL
        |  SELECT vec_id + 1000000,
        |    CAST(CAST(list_transform(CAST(embedding AS DOUBLE[]),
        |      (x, i) -> x * (1.0 + (CAST((vec_id + i - 1) % 7 AS DOUBLE)
        |        - 3.0) / 10.0)) AS FLOAT[]) AS DOUBLE[])
        |  FROM embeddings WHERE vec_id < 100),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm
        |      FROM c),
        |tr AS (
        |  SELECT COUNT(DISTINCT a.vec_id) AS truth
        |  FROM n a JOIN n b
        |    ON b.vec_id < a.vec_id
        |   AND list_dot_product(a.v, b.v) >= 0.95 * a.nrm * b.nrm)
        |SELECT CAST(truth AS BIGINT) AS truth, TRUE AS recall_ok
        |FROM tr""".stripMargin),
    // E3 semantic decontamination (embedding-space train-vs-eval
    // anti-join): eval = exact copies of vec_id < 100 (re-keyed), so
    // copies share every LSH band (certain recall) and at threshold
    // 0.99 exactly the copied train rows are contaminated (organic max
    // ~0.51) — the DuckDB brute-force NOT EXISTS reproduces the
    // survivor set exactly
    // Plan: ids+band-key LSH candidates, exact-cosine verify, one left-anti join onto train.
    Query("q_semantic_decontam", family, (s, d) => {
      val e = t(s, d, "embeddings").select("vec_id", "embedding")
      val ev = e.filter(col("vec_id") < 100)
        .select((col("vec_id") + 1000000).as("vec_id"), col("embedding"))
      Similarity.semanticDecontaminate(e, ev, threshold = 0.99)
        .select("vec_id")
        .orderBy("vec_id")
    },
      // brute-force NOT EXISTS twin of the LSH-banded semantic anti-join
      """WITH tr AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |ev AS (
        |  SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  WHERE vec_id < 100)
        |SELECT tr.vec_id FROM tr WHERE NOT EXISTS (
        |  SELECT 1 FROM ev
        |  WHERE list_dot_product(tr.v, ev.v)
        |      / (sqrt(list_dot_product(tr.v, tr.v))
        |         * sqrt(list_dot_product(ev.v, ev.v))) >= 0.99)
        |ORDER BY tr.vec_id""".stripMargin),
    // E3 approximate top-k, each published through the in-plan recall
    // audit (Similarity.recallAudit): the hash-dependent neighbor sets
    // are engine-specific, but (n_queries, truth, recall_ok) is
    // oracle-checkable — and the verdict is the signal that matters for
    // an ANN index (silent recall collapse). Settings are the measured
    // >= floor configurations pinned in SimilaritySpec.
    Query("q_ann_lsh", family, (s, d) => {
      val e = t(s, d, "embeddings")
      val q = e.filter(col("vec_id") < 20)
      Similarity.recallAudit(e, q, 10,
        Similarity.lshTopK(e, q, 10, numPlanes = 64, bands = 16),
        floor = 0.8)
    }, recallOracle),
    // E3 IVF coarse-quantizer approximate top-k (the ANN scale path)
    Query("q_ann_ivf", family, (s, d) => {
      val e = t(s, d, "embeddings")
      val q = e.filter(col("vec_id") < 20)
      // nprobe 12/16: >= 0.88 recall at BOTH sf0.001 and sf0.01 (nprobe
      // 10 sits at 0.795 on the 50-vector sf0.001 corpus — sparse cells)
      Similarity.recallAudit(e, q, 10,
        Similarity.ivfTopK(e, q, 10, nlist = 16, nprobe = 12),
        floor = 0.8)
    }, recallOracle),
    // E3 IVF with Lloyd-refined (k-means) coarse quantizer — centroids
    // come from exact decimal sums, so the index is layout-reproducible
    // and the floor holds deterministically (0.93 measured at both SFs)
    Query("q_ann_ivf_kmeans", family, (s, d) => {
      val e = t(s, d, "embeddings")
      val q = e.filter(col("vec_id") < 20)
      val cents = Similarity.kmeansCentroids(e, nlist = 16, iters = 2)
      Similarity.recallAudit(e, q, 10,
        Similarity.ivfTopK(e, q, 10, nlist = 16, nprobe = 12,
          centroids = cents),
        floor = 0.8)
    }, recallOracle),
    // E3 IVF probed from a PERSISTED index (VERDICT r6 item 6): train +
    // assign once, write centroids + cell assignments through
    // ManifestTable, read the artifact back, probe the read-back copy —
    // the amortized-index shape Dedup.signatureIndex has for n-gram
    // dedup, now for embeddings. Same layout-reproducible k-means
    // centroids as q_ann_ivf_kmeans, so the floor holds identically.
    Query("q_ann_ivf_indexed", family, (s, d) => withScratchDir("graft-ivf-index") { dir =>
      val e = t(s, d, "embeddings")
      val q = e.filter(col("vec_id") < 20)
      val (cents, cells) = Similarity.ivfIndex(e, nlist = 16, iters = 2)
      Similarity.writeIvfIndex(dir, cents, cells)
      val (rc, ra) = Similarity.readIvfIndex(s, dir)
      Similarity.recallAudit(e, q, 10,
        Similarity.ivfTopKFromIndex(rc, ra, q, 10, nprobe = 12),
        floor = 0.8)
    }, recallOracle),
    // E3 incremental index APPEND (VERDICT r7 item 7): train + persist
    // the index over the even-id half of the corpus, append the odd-id
    // half's cell assignments with the STORED centroids (no retraining,
    // O(batch) ingest), read the extended artifact back, and probe it
    // over the FULL corpus — proving appended vectors are findable
    Query("q_ann_ivf_append", family, (s, d) => withScratchDir("graft-ivf-append") { dir =>
      val e = t(s, d, "embeddings")
      val q = e.filter(col("vec_id") < 20)
      val (cents, cells) = Similarity.ivfIndex(
        e.filter(col("vec_id") % 2 === 0), nlist = 16, iters = 2)
      Similarity.writeIvfIndex(dir, cents, cells)
      Similarity.appendToIvfIndex(s, dir,
        e.filter(col("vec_id") % 2 === 1))
      val (rc, ra) = Similarity.readIvfIndex(s, dir)
      Similarity.recallAudit(e, q, 10,
        Similarity.ivfTopKFromIndex(rc, ra, q, 10, nprobe = 12),
        floor = 0.8)
    }, recallOracle),
    // E3 append lifecycle SPLIT, recurring half (VERDICT r12 item 3):
    // the standing index (trained + committed over the even-id half)
    // comes from the per-corpus cache; this row times only what every
    // ingest batch pays — assign the odd-id batch against the STORED
    // centroids (O(batch·nlist), zero shuffles, no retraining) and
    // probe the extended cell table over the full corpus. The atomic
    // manifest commit + read-back of the append stays proven end to
    // end by q_ann_ivf_append; splitting it out keeps this row
    // idempotent (best-of-N must not grow the cached index).
    // Plan: batch assigned against stored centroids (no shuffle); probe joins equi on cell id.
    Query("q_ann_ivf_append_probe", family, (s, d) => {
      val dir = ensureIvfHalfCache(s, d)
      val e = t(s, d, "embeddings")
      val q = e.filter(col("vec_id") < 20)
      val (rc, ra) = Similarity.readIvfIndex(s, dir)
      val fresh = Similarity.assignToStoredCentroids(rc,
        e.filter(col("vec_id") % 2 === 1))
      Similarity.recallAudit(e, q, 10,
        Similarity.ivfTopKFromIndex(rc, ra.unionByName(fresh), q, 10,
          nprobe = 12),
        floor = 0.8)
    }, recallOracle),
    // E3 index lifecycle SPLIT, build half (VERDICT r9 item 2): train +
    // write the IVF index from scratch into the persistent per-corpus
    // cache — this row's bench time is pure amortizable CONSTRUCTION
    // cost. Output audits the committed artifact's read-back:
    // referential integrity (every stored assignment points at a
    // stored centroid — broadcast left join over 16 rows) plus the
    // SQL-closed counts; nearest-centroid assignment quality is what
    // the probe half's recall floor pins.
    Query("q_ann_ivf_build", family, (s, d) => {
      val dir = buildIvfCache(s, d)
      val (rc, ra) = Similarity.readIvfIndex(s, dir)
      ra.join(broadcast(rc.select(col("cell"), lit(1).as("__c"))),
          Seq("cell"), "left")
        .agg(count(lit(1)).as("n_vectors"),
          bool_and(col("__c").isNotNull).as("assign_ok"))
        .crossJoin(broadcast(rc.agg(count(lit(1)).as("n_centroids"))))
        .select(col("n_vectors"), col("n_centroids"), col("assign_ok"))
    },
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
        |CAST(16 AS BIGINT) AS n_centroids,
        |TRUE AS assign_ok
        |FROM embeddings""".stripMargin),
    // E3 index lifecycle SPLIT, probe half: read the cached index and
    // answer a query batch — the recurring per-batch cost a capacity
    // planner sizes for (the build half's cost amortizes over every
    // probe). Build-if-missing keeps the query self-contained in any
    // execution order; bench best-of-N is pure probe either way.
    Query("q_ann_ivf_probe", family, (s, d) => {
      val dir = ensureIvfCache(s, d)
      val e = t(s, d, "embeddings")
      val q = e.filter(col("vec_id") < 20)
      val (rc, ra) = Similarity.readIvfIndex(s, dir)
      Similarity.recallAudit(e, q, 10,
        Similarity.ivfTopKFromIndex(rc, ra, q, 10, nprobe = 12),
        floor = 0.8)
    }, recallOracle),
    // E3 product quantization: 16-byte ADC codes + exact re-rank of a
    // 128-deep shortlist (recall 0.91 at sf0.01, 0.865 at sf0.1 —
    // shortlist depth is the recall/IO dial); deterministic end-to-end,
    // published through the same in-plan recall audit as LSH/IVF
    Query("q_ann_pq", family, (s, d) => {
      val e = t(s, d, "embeddings")
      val q = e.filter(col("vec_id") < 20)
      Similarity.recallAudit(e, q, 10,
        Similarity.pqTopK(e, q, 10, m = 16, ksub = 16, shortlist = 128,
          iters = 2),
        floor = 0.8)
    }, recallOracle),
    // E3 PQ index lifecycle SPLIT, build half (VERDICT r10 item 2):
    // codebook training + corpus encode committed into the per-corpus
    // cache — pure amortizable CONSTRUCTION cost, the one-time half of
    // the compressed-scan serve path. Output audits the committed
    // artifact's read-back: every stored code array has exactly m
    // entries in [0, ksub) (the byte-validity referential check) plus
    // SQL-closed counts; ADC answer quality is what the probe half's
    // recall floor pins.
    Query("q_ann_pq_build", family, (s, d) => {
      val dir = buildPqCache(s, d)
      val (rcb, rcodes) = Similarity.readPqIndex(s, dir)
      rcodes
        .agg(count(lit(1)).as("n_vectors"),
          bool_and(size(col("codes")) === 16 &&
            forall(col("codes"), c => c >= 0 && c < 16)).as("codes_ok"))
        .crossJoin(broadcast(rcb.agg(count(lit(1)).as("n_codebook"))))
        .select(col("n_vectors"), col("n_codebook"), col("codes_ok"))
    },
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
        |CAST(256 AS BIGINT) AS n_codebook,
        |TRUE AS codes_ok
        |FROM embeddings""".stripMargin),
    // E3 PQ probe half: per-query ADC tables against the STORED
    // codebook, compressed scan over the stored m-byte codes, exact
    // re-rank touching float vectors only for the shortlist — the
    // recurring serve cost for corpora too big to scan uncompressed.
    // Build-if-missing keeps correctness runs order-independent.
    Query("q_ann_pq_probe", family, (s, d) => {
      val dir = ensurePqCache(s, d)
      val e = t(s, d, "embeddings")
      val q = e.filter(col("vec_id") < 20)
      val (rcb, rcodes) = Similarity.readPqIndex(s, dir)
      Similarity.recallAudit(e, q, 10,
        Similarity.pqTopKFromIndex(rcb, rcodes, e, q, 10,
          shortlist = 128),
        floor = 0.8)
    }, recallOracle),

    // ---- E23 full-text retrieval: exact Okapi BM25 + hybrid RRF ----
    Query("q_bm25", family, (s, d) =>
      operators.Search.bm25(t(s, d, "documents"),
          Seq("spark", "join", "window"))
        .orderBy("doc_id"),
      // BM25: every constant enters as a cast literal so both engines do
      // the identical runtime IEEE ops; idf and per-term weights rounded
      // to 9 decimals, doc sum in DECIMAL(28,9) — engine-exact
      s"""$bm25Terms
        |SELECT doc_id, COUNT(*) AS n_terms,
        |  CAST(SUM(CAST(w AS DECIMAL(28,9))) AS DOUBLE) AS score
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // quoted-query phrase search: positional-postings intersection in
    // one aggregation (slots covered per candidate start), no m-way join
    Query("q_phrase_search", family, (s, d) =>
      operators.Search.phraseSearch(t(s, d, "documents"),
          Seq("slow", "hash", "batch"))
        .orderBy("doc_id"),
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents),
        |tk AS (SELECT doc_id, i - 1 AS pos, toks[i] AS tok
        |       FROM t, unnest(range(1, len(toks) + 1)) AS u(i)),
        |ph AS (SELECT * FROM (VALUES (0, 'slow'), (1, 'hash'),
        |                             (2, 'batch')) p(idx, tok)),
        |c AS (SELECT tk.doc_id, tk.pos - ph.idx AS start
        |      FROM tk JOIN ph USING (tok) WHERE tk.pos - ph.idx >= 0
        |      GROUP BY 1, 2 HAVING count(DISTINCT ph.idx) = 3)
        |SELECT doc_id, COUNT(*) AS n_matches,
        |  CAST(MIN(start) AS BIGINT) AS first_pos
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // lexical BM25 rank fused with vector cosine rank (query = vec 0)
    // by reciprocal-rank fusion — scores are exact rationals of the two
    // integer ranks, so the fused list is engine-exact
    Query("q_hybrid_rrf", family, (s, d) => {
      val lex = operators.Search.rankBy(
        operators.Search.bm25(t(s, d, "documents"),
          Seq("spark", "join", "window")), "doc_id", "score", topN = 100)
      val emb = t(s, d, "embeddings")
      val vec = Similarity.bruteForceTopK(
          emb, emb.filter(col("vec_id") === 0), 100)
        .select(col("neighbor_id").as("id"), col("rank"))
      operators.Search.rrfFuse(Seq(lex, vec))
        .orderBy(col("rrf").desc, col("id")).limit(50)
    },
      // hybrid retrieval: BM25 rank + cosine rank fused by RRF — fused
      // scores are exact rationals of integer ranks
      s"""$bm25Terms,
        |bm AS (
        |  SELECT doc_id, CAST(SUM(CAST(w AS DECIMAL(28,9))) AS DOUBLE) AS score
        |  FROM scored GROUP BY doc_id),
        |lexrank AS (
        |  SELECT id, rank FROM (
        |    SELECT doc_id AS id,
        |      row_number() OVER (ORDER BY score DESC, doc_id) AS rank
        |    FROM bm) WHERE rank <= 100),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT * FROM e WHERE vec_id = 0),
        |sims AS (
        |  SELECT c.vec_id AS id,
        |    list_dot_product(q.v, c.v)
        |      / (sqrt(list_dot_product(q.v, q.v))
        |         * sqrt(list_dot_product(c.v, c.v))) AS sim
        |  FROM q JOIN e c ON c.vec_id <> q.vec_id),
        |vecrank AS (
        |  SELECT id, rank FROM (
        |    SELECT id, row_number() OVER (ORDER BY sim DESC, id) AS rank
        |    FROM sims) WHERE rank <= 100),
        |unioned AS (
        |  SELECT id, round(1.0 / (CAST(60 AS DOUBLE) + CAST(rank AS DOUBLE)), 9)
        |    AS contrib FROM lexrank
        |  UNION ALL
        |  SELECT id, round(1.0 / (CAST(60 AS DOUBLE) + CAST(rank AS DOUBLE)), 9)
        |    AS contrib FROM vecrank)
        |SELECT id, CAST(SUM(CAST(contrib AS DECIMAL(28,9))) AS DOUBLE) AS rrf,
        |  COUNT(*) AS n_lists
        |FROM unioned GROUP BY id ORDER BY rrf DESC, id LIMIT 50""".stripMargin),

    // ---- E3 embedding covariance matrix (upper triangle): the PCA /
    // whitening / dimension-pruning model input; cells aggregate
    // map-side, per-dim sums broadcast back ----
    Query("q_embed_cov", family, (s, d) =>
      Similarity.embedCovariance(t(s, d, "embeddings"))
        .orderBy("i", "j"),
      // products accumulate as floor(x_i*x_j*1e12) integer picounits —
      // floor of the identical IEEE double is portable across engines
      // (no decimal-tie surface) and sums ride the integer fast path;
      // mirrors Similarity.embedCovariance exactly
      """WITH x AS (SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS v,
        |             generate_subscripts(embedding, 1) AS i
        |           FROM embeddings),
        |cells AS (
        |  SELECT a.i - 1 AS i, b.i - 1 AS j, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(floor(a.v * b.v * 1e12) AS BIGINT)) AS sxy
        |  FROM x a JOIN x b USING (vec_id) WHERE a.i <= b.i
        |  GROUP BY 1, 2),
        |dims AS (SELECT i - 1 AS dim,
        |           SUM(CAST(v AS DECIMAL(28,9))) AS sx
        |         FROM x GROUP BY 1)
        |SELECT CAST(cells.i AS BIGINT) AS i, CAST(cells.j AS BIGINT) AS j,
        |  n,
        |  round((CAST(n AS DOUBLE) * (CAST(sxy AS DOUBLE) / 1e12)
        |    - CAST(di.sx AS DOUBLE) * CAST(dj.sx AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 9) AS cov
        |FROM cells JOIN dims di ON di.dim = cells.i
        |  JOIN dims dj ON dj.dim = cells.j
        |ORDER BY i, j""".stripMargin),

    // ---- E3g PCA top-k via power iteration + Hotelling deflation,
    // exercised on a closed-form fixture whose eigenstructure is known
    // analytically (A = 9·q1q1' + 4·q2q2' + 1·q3q3' over the
    // orthonormal basis (.6,.8,0)/(-.8,.6,0)/(0,0,1)) — the oracle is
    // the closed form itself; eigengap ratios (4/9)^50 keep iteration
    // residuals ~1e-18, twelve orders under the 9-dec rounding ----
    Query("q_pca_topk", family, (s, _) => {
      import s.implicits._
      val cov = Seq((0L, 0L, 5.8), (0L, 1L, 2.4), (0L, 2L, 0.0),
        (1L, 1L, 7.2), (1L, 2L, 0.0), (2L, 2L, 1.0)).toDF("i", "j", "cov")
      val trace = 5.8 + 7.2 + 1.0
      def r9(x: Double) = {
        val r = BigDecimal(x)
          .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
        if (r == 0.0) 0.0 else r // never emit -0.0 into a hashed column
      }
      Similarity.pcaTopK(cov, 3).zipWithIndex.map { case ((l, v), m) =>
        (m, r9(l), r9(l / trace), r9(v(0)), r9(v(1)), r9(v(2)))
      }.toSeq
        .toDF("component", "eigenvalue", "explained", "l0", "l1", "l2")
        .orderBy("component")
    },
      // the fixture's eigenstructure is analytic (orthonormal basis with
      // exact-at-9dp entries, eigengap ratios (4/9)^50 ~ 1e-18), so the
      // oracle IS the closed form — no power-iteration replay needed
      """SELECT * FROM (VALUES
        |  (0, CAST(9.0 AS DOUBLE), CAST(0.642857143 AS DOUBLE),
        |   CAST(0.6 AS DOUBLE), CAST(0.8 AS DOUBLE), CAST(0.0 AS DOUBLE)),
        |  (1, CAST(4.0 AS DOUBLE), CAST(0.285714286 AS DOUBLE),
        |   CAST(0.8 AS DOUBLE), CAST(-0.6 AS DOUBLE), CAST(0.0 AS DOUBLE)),
        |  (2, CAST(1.0 AS DOUBLE), CAST(0.071428571 AS DOUBLE),
        |   CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(1.0 AS DOUBLE)))
        |  AS t(component, eigenvalue, explained, l0, l1, l2)
        |ORDER BY component""".stripMargin),

    // ---- E3g PCA whitening serve over the corpus embeddings: stored
    // model state (two exact-float unit components, entries ±2⁻³, and
    // their eigenvalues) bound in as literals; w_m = <x, q_m>/sqrt(λ_m)
    // — one zero-shuffle codegen'd scan, the decorrelation step before
    // distance-based dedup/clustering ----
    // Plan: components bound in as literals: one zero-shuffle codegen'd scan, no model join.
    Query("q_pca_whiten", family, (s, d) =>
      Similarity.whiten(t(s, d, "embeddings"), Seq(
          (2.0, Array.fill(64)(0.125)),
          (0.5, Array.tabulate(64)(i => if (i % 2 == 0) 0.125 else -0.125))))
        .orderBy("vec_id"),
      // whitening serve replay: the same stored-literal components
      // (exact-float ±2⁻³ entries), list_dot_product's sequential double
      // fold matches graft_float_dot, one fixed-order division by the
      // identical IEEE sqrt. `+ 0.0` normalizes a would-be -0.0 (DuckDB's
      // double-space round can emit one near zero; Spark's
      // BigDecimal-based round cannot)
      """SELECT vec_id,
        |  round(list_dot_product(CAST(embedding AS DOUBLE[]),
        |    list_transform(range(64), i -> CAST(0.125 AS DOUBLE)))
        |    / sqrt(2.0), 9) + 0.0 AS w_0,
        |  round(list_dot_product(CAST(embedding AS DOUBLE[]),
        |    list_transform(range(64), i -> CAST(CASE WHEN i % 2 = 0
        |      THEN 0.125 ELSE -0.125 END AS DOUBLE)))
        |    / sqrt(0.5), 9) + 0.0 AS w_1
        |FROM embeddings ORDER BY vec_id""".stripMargin),
  )
}
