package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkEntry.{docsSpread, t, withScratchDir}
import graft.operators.{Dedup, Ngrams}

/** Deduplication queries: exact and near-duplicate detection (MinHash,
  * SimHash, PPJoin, APSS, SNM), substring and chunk dedup,
  * contamination spans and clustering. */
object DedupQueries {

  private val family = "dedup"

  /** Corpus + copies with the last two tokens dropped and shifted ids —
    * deterministic near-duplicates for the audited real-text dedup
    * probes (q_minhash_neardup / q_simhash_neardup). */
  private def withPerturbedCopies(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    val perturbed = docs.select(
      (col("doc_id") + 1000000).as("doc_id"),
      concat_ws(" ", slice(toks, lit(1), greatest(size(toks) - 2, lit(1))))
        .as("text"))
    docs.union(perturbed)
  }

  /** The distinct word-trigram shingles of `toks` as the engine's
    * shingleStrings builds them (a doc under three words is one
    * shingle); `pad` indents the continuation lines. */
  private def trigrams(pad: Int): String = {
    val p = " " * pad
    s"""list_distinct(list_transform(
       |${p}range(1, greatest(len(toks) - 2, 1) + 1),
       |${p}i -> array_to_string(toks[i:i+2], ' ')))""".stripMargin
  }

  /** Candidate pairs (doc_a < doc_b) sharing at least one shingle of the
    * `sh` CTE. */
  private val trigramPairs: String =
    """tok AS (SELECT doc_id, unnest(sh) AS tok FROM sh),
      |cand AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  /** The train/eval split of the 8-token-window oracles (n = 8 on the
    * engine side): `tr` holds the train docs (doc_id >= split) as word
    * arrays, `ev` the eval docs below it. */
  private def trainEval(split: Int): String =
    s"""WITH tr AS (SELECT doc_id, string_split(text, ' ') AS w
       |            FROM documents WHERE doc_id >= $split),
       |ev AS (SELECT string_split(text, ' ') AS w
       |       FROM documents WHERE doc_id < $split)""".stripMargin

  /** The distinct 8-token windows of the eval docs. */
  private val evalWindows: String =
    """evw AS (SELECT DISTINCT array_to_string(w[i:i+7], ' ') AS win
      |        FROM ev, unnest(range(1, len(w) - 6)) AS u(i)
      |        WHERE len(w) >= 8)""".stripMargin

  /** Every 8-token window of `docs` with its 0-based start. */
  private def windows(docs: String): String =
    s"""occ AS (SELECT doc_id, i - 1 AS wpos,
       |          array_to_string(w[i:i+7], ' ') AS win
       |        FROM $docs, unnest(range(1, len(w) - 6)) AS u(i)
       |        WHERE len(w) >= 8)""".stripMargin

  /** Every token of `docs` with its 0-based position. */
  private def tokenRows(docs: String): String =
    s"""tokens AS (SELECT doc_id, i - 1 AS pos, w[i] AS tok
       |           FROM $docs, unnest(range(1, len(w) + 1)) AS u(i))""".stripMargin

  /** Maximal spans of the `marked` window starts: windows closer than
    * one window length merge into one (doc, start, end) island. */
  private val markedSpans: String =
    """brk AS (SELECT doc_id, wpos,
      |          CASE WHEN lag(wpos) OVER dw IS NULL
      |                 OR wpos - lag(wpos) OVER dw > 8
      |               THEN 1 ELSE 0 END AS b
      |        FROM marked
      |        WINDOW dw AS (PARTITION BY doc_id ORDER BY wpos)),
      |isl AS (SELECT doc_id, wpos,
      |          sum(b) OVER (PARTITION BY doc_id ORDER BY wpos) AS g
      |        FROM brk)
      |SELECT doc_id, CAST(min(wpos) AS BIGINT) AS start_tok,
      |  CAST(max(wpos) + 7 AS BIGINT) AS end_tok,
      |  CAST(max(wpos) + 7 - min(wpos) + 1 AS BIGINT) AS span_tokens
      |FROM isl GROUP BY doc_id, g
      |ORDER BY doc_id, start_tok""".stripMargin

  /** Each of `docs` with every token under a `cut` window start removed:
    * the kept text as `text`, the removed token count as `dropped`. */
  private def cutReadout(cut: String, text: String, dropped: String,
                         docs: String): String =
    s"""covered AS (SELECT DISTINCT doc_id, wpos + j AS pos
       |            FROM $cut, unnest(range(0, 8)) AS v(j)),
       |kept AS (SELECT t.doc_id,
       |           array_to_string(list(t.tok ORDER BY t.pos), ' ')
       |             AS $text,
       |           COUNT(*) AS n_kept
       |         FROM tokens t ANTI JOIN covered c
       |           ON t.doc_id = c.doc_id AND t.pos = c.pos
       |         GROUP BY t.doc_id)
       |SELECT $docs.doc_id, CASE WHEN w IS NULL THEN NULL
       |    ELSE COALESCE(kept.$text, '') END AS $text,
       |  CAST(len(w) AS BIGINT) AS n_tokens,
       |  CAST(len(w) - COALESCE(n_kept, 0) AS BIGINT) AS $dropped
       |FROM $docs LEFT JOIN kept ON $docs.doc_id = kept.doc_id
       |ORDER BY $docs.doc_id""".stripMargin

  /** Each doc cut into consecutive `n`-token chunks (the last may be
    * shorter), numbered from 0. */
  private def chunkCtes(n: Int): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |chunks AS (
       |  SELECT doc_id, g.i AS chunk_idx,
       |    array_to_string(t[(g.i*$n+1):(g.i*$n+$n)], ' ') AS chunk
       |  FROM toks, unnest(range(CAST(ceil(len(t)/$n.0) AS BIGINT))) AS g(i))""".stripMargin

  /** The distinct 8-grams of the eval docs (`evg`) and of each train
    * doc (`trg`), as strings. */
  private val evalTrainGrams: String =
    """evg AS (SELECT DISTINCT array_to_string(w[i:i+7], ' ') AS g
      |        FROM ev, unnest(range(1, len(w) - 6)) AS u(i)
      |        WHERE len(w) >= 8),
      |trg AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+7], ' ') AS g
      |        FROM tr, unnest(range(1, len(w) - 6)) AS u(i)
      |        WHERE len(w) >= 8)""".stripMargin

  val all: Seq[Query] = Seq(

    // ---- W1/W2 window keep-first dedup ----
    Query("q_dedup_first", family, (s, d) =>
      // tie-breakers to full uniqueness: (orderkey, linenumber) alone is
      // not unique in the corpus, and row_number among true ties is
      // engine-arbitrary (SURVEY.md §7.4.7)
      Dedup.dedupKeepFirst(t(s, d, "lineitem"),
          Seq(col("l_orderkey")),
          Seq(col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
              col("l_quantity"), col("l_extendedprice")))
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
        .orderBy("l_orderkey"),
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY l_orderkey
        |    ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity,
        |             l_extendedprice) AS rn
        |  FROM lineitem) WHERE rn = 1 ORDER BY l_orderkey""".stripMargin),

    // ---- W3 window keep-latest dedup (users latest-by-ts analogue) ----
    Query("q_dedup_latest", family, (s, d) =>
      Dedup.dedupKeepFirst(t(s, d, "orders"),
          Seq(col("o_custkey")),
          Seq(col("o_orderdate").desc, col("o_orderkey").desc))
        .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .orderBy("o_custkey"),
      """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY o_custkey
        |    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders) WHERE rn = 1 ORDER BY o_custkey""".stripMargin),

    // ---- E2 exact n-gram Jaccard (linear chained pairs) ----
    Query("q_chained_jaccard", family, (s, d) =>
      Dedup.chainedJaccard(t(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_a"),
      s"""WITH sh AS (
        |  SELECT doc_id,
        |    ${trigrams(6)} AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
        |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
        |ORDER BY doc_a""".stripMargin),

    // ---- E2 EXACT all-pairs similarity join (prefix filtering) ----
    // Plan: PPJoin length/positional bounds inside the equi-join; ids-only candidates until verify.
    Query("q_allpairs_jaccard", family, (s, d) =>
      Dedup.allPairsJaccard(t(s, d, "documents"), "doc_id", "text", 0.6)
        .orderBy("doc_a", "doc_b"),
      // brute-force twin of the prefix-filtered Spark plan: every pair
      // sharing >= 1 shingle, exact Jaccard, threshold filter
      s"""WITH sh AS (
        |  SELECT doc_id,
        |    ${trigrams(6)} AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
        |$trigramPairs
        |SELECT doc_a, doc_b, jaccard FROM (
        |  SELECT doc_a, doc_b,
        |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
        |  FROM cand JOIN sh a ON a.doc_id = cand.doc_a
        |            JOIN sh b ON b.doc_id = cand.doc_b)
        |WHERE jaccard >= 0.6
        |ORDER BY doc_a, doc_b""".stripMargin),

    // ---- E2 cross-source near-dup matrix (who copies from whom):
    // the exact pair list rolled up by endpoint sources ----
    Query("q_dup_source_matrix", family, (s, d) =>
      Dedup.nearDupSourceMatrix(t(s, d, "documents"), "doc_id", "text",
          "source", threshold = 0.5)
        .orderBy("src_a", "src_b"),
      // brute-force pair list at threshold 0.5, endpoints' sources
      // canonicalized (least/greatest) and counted per cell
      s"""WITH sh AS (
        |  SELECT doc_id,
        |    ${trigrams(6)} AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |        FROM documents)),
        |$trigramPairs,
        |p AS (SELECT doc_a, doc_b FROM (
        |  SELECT doc_a, doc_b,
        |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
        |  FROM cand JOIN sh a ON a.doc_id = cand.doc_a
        |            JOIN sh b ON b.doc_id = cand.doc_b)
        |  WHERE jaccard >= 0.5),
        |j AS (SELECT least(da.source, db.source) AS src_a,
        |        greatest(da.source, db.source) AS src_b
        |      FROM p JOIN documents da ON da.doc_id = p.doc_a
        |             JOIN documents db ON db.doc_id = p.doc_b)
        |SELECT src_a, src_b, count(*) AS n_pairs
        |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // ---- E2 sorted-neighborhood (SNM) near-dup pass: block by lang,
    // sort by length, verify exact Jaccard within a 3-position window —
    // O(n·w) candidates, the predictable-cost record-linkage classic ----
    Query("q_sorted_neighborhood", family, (s, d) =>
      Dedup.sortedNeighborhood(t(s, d, "documents"), "doc_id", "text",
          col("lang"), col("n_chars"), window = 3, threshold = 0.5)
        .orderBy("doc_a", "doc_b"),
      s"""WITH r AS (
        |  SELECT doc_id, lang, n_chars,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id)
        |      AS rk
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    ${trigrams(6)} AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |        FROM documents)),
        |cand AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM r a JOIN r b
        |    ON a.lang = b.lang AND b.rk - a.rk BETWEEN 1 AND 3)
        |SELECT doc_a, doc_b, jaccard FROM (
        |  SELECT doc_a, doc_b,
        |    CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
        |      / len(list_distinct(list_concat(x.s, y.s))) AS jaccard
        |  FROM cand JOIN sh x ON x.doc_id = doc_a
        |            JOIN sh y ON y.doc_id = doc_b)
        |WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b""".stripMargin),

    // ---- E2 EXACT all-pairs WEIGHTED cosine over shingle TF profiles
    // (prefix-filtered by suffix norm — repetition-sensitive twin of
    // q_allpairs_jaccard) ----
    Query("q_apss_cosine", family, (s, d) =>
      Dedup.allPairsCosine(t(s, d, "documents"), "doc_id", "text", 0.6)
        .orderBy("doc_a", "doc_b"),
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents),
        |-- full windows only (empty for docs under 3 tokens), matching
        |-- the engine's shingleStrings semantics
        |sh AS (SELECT doc_id, array_to_string(toks[i:i+2], ' ') AS tok
        |       FROM t,
        |         unnest(range(1, greatest(len(toks) - 1, 1))) AS u(i)),
        |tk AS (SELECT doc_id, tok, COUNT(*) AS tf FROM sh GROUP BY 1, 2),
        |nm AS (SELECT doc_id, sqrt(CAST(SUM(tf * tf) AS DOUBLE)) AS nrm
        |       FROM tk GROUP BY 1),
        |w AS (SELECT doc_id, tok, CAST(tf AS DOUBLE) / nrm AS w
        |      FROM tk JOIN nm USING (doc_id)),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |        CAST(SUM(CAST(round(a.w * b.w, 9) AS DECIMAL(28,9)))
        |          AS DOUBLE) AS cos_sim
        |      FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2)
        |SELECT doc_a, doc_b, cos_sim FROM p WHERE cos_sim >= 0.6
        |ORDER BY doc_a, doc_b""".stripMargin),

    // ---- E2/E26 blocking-quality audit: SNM (lang block, length sort,
    // window 3) candidates measured against the exact PPJoin truth at
    // the same 0.5 threshold — pair completeness (blocker recall) +
    // reduction ratio (share of the n² space avoided). Truth side
    // SAMPLE-BOUNDED at k=400 Knuth-rank docs (VERDICT r18 item 7, the
    // q_minhash_audit treatment): the exact truth join is O(k²)
    // whatever the corpus size; completeness over sampled truth pairs
    // is the unbiased recall estimate, the SNM candidate side stays
    // the production pipeline over the FULL corpus (and the reduction
    // ratio still measures it against the full n² space) ----
    Query("q_blocking_quality", family, (s, d) => {
      val docs = t(s, d, "documents")
      val sampled = docs.select(col("doc_id"), col("text"))
        .orderBy(pmod(col("doc_id") * lit(2654435761L),
          lit(4294967296L)), col("doc_id"))
        .limit(400)
      val truth = Dedup.allPairsJaccard(sampled, "doc_id", "text", 0.5)
        .select("doc_a", "doc_b")
      val cand = Dedup.sortedNeighborhood(docs, "doc_id", "text",
          col("lang"), col("n_chars"), window = 3, threshold = 0.5)
        .select("doc_a", "doc_b")
      Dedup.blockingQuality(truth, cand, docs.count())
    },
      // truth = brute-force Jaccard >= 0.5 over the k=400 Knuth-rank doc
      // sample (replaying the Spark side's deterministic sampler);
      // candidates = the SNM window pair list over the FULL corpus;
      // completeness + reduction from the same CTEs
      s"""WITH sh AS (
        |  SELECT doc_id,
        |    ${trigrams(6)} AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |        FROM documents)),
        |samp AS (
        |  SELECT doc_id FROM documents
        |  ORDER BY (doc_id * 2654435761) % 4294967296, doc_id
        |  LIMIT 400),
        |tok AS (SELECT sh.doc_id, unnest(sh.sh) AS tok
        |        FROM sh JOIN samp USING (doc_id)),
        |tc AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |truth AS (
        |  SELECT doc_a AS a, doc_b AS b FROM (
        |    SELECT doc_a, doc_b,
        |      CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
        |        / len(list_distinct(list_concat(x.sh, y.sh))) AS jaccard
        |    FROM tc JOIN sh x ON x.doc_id = tc.doc_a
        |            JOIN sh y ON y.doc_id = tc.doc_b)
        |  WHERE jaccard >= 0.5),
        |r AS (
        |  SELECT doc_id, lang, n_chars,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id)
        |      AS rk
        |  FROM documents),
        |snm AS (
        |  SELECT least(doc_a, doc_b) AS a, greatest(doc_a, doc_b) AS b
        |  FROM (
        |    SELECT doc_a, doc_b,
        |      CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
        |        / len(list_distinct(list_concat(x.s, y.s))) AS jaccard
        |    FROM (
        |      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |      FROM r a JOIN r b
        |        ON a.lang = b.lang AND b.rk - a.rk BETWEEN 1 AND 3)
        |    JOIN (SELECT doc_id, sh AS s FROM sh) x ON x.doc_id = doc_a
        |    JOIN (SELECT doc_id, sh AS s FROM sh) y ON y.doc_id = doc_b)
        |  WHERE jaccard >= 0.5
        |  GROUP BY 1, 2),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
        |cnts AS (
        |  SELECT
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM snm) AS n_cand,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM snm
        |     WHERE EXISTS (SELECT 1 FROM truth
        |       WHERE truth.a = snm.a AND truth.b = snm.b)) AS n_hit)
        |SELECT n_truth, n_cand, n_hit,
        |  round(CAST(n_hit AS DOUBLE) /
        |    (CASE WHEN n_truth > 0 THEN CAST(n_truth AS DOUBLE) END), 9)
        |    AS pair_completeness,
        |  round(1.0 - CAST(n_cand AS DOUBLE)
        |    / (CAST(n.n * (n.n - 1) / 2 AS DOUBLE)), 9) AS reduction_ratio
        |FROM cnts, (SELECT n FROM nn) n""".stripMargin),

    // ---- E2 EXACT directional containment join (subsumed-document /
    // quote-containment primitive; prefix-filtered on the contained
    // side only — see Dedup.containmentJoin) ----
    Query("q_containment", family, (s, d) =>
      Dedup.containmentJoin(t(s, d, "documents"), "doc_id", "text", 0.9)
        .orderBy("doc_a", "doc_b"),
      // brute-force twin of the asymmetric prefix-filtered containment join
      s"""WITH sh AS (
        |  SELECT doc_id,
        |    ${trigrams(6)} AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
        |tok AS (SELECT doc_id, unnest(sh) AS tok FROM sh),
        |cand AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, containment FROM (
        |  SELECT doc_a, doc_b,
        |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh)
        |      AS containment
        |  FROM cand JOIN sh a ON a.doc_id = cand.doc_a
        |            JOIN sh b ON b.doc_id = cand.doc_b)
        |WHERE containment >= 0.9
        |ORDER BY doc_a, doc_b""".stripMargin),

    // E2 MinHash-LSH near-dup over corpus + deterministically perturbed
    // copies, published through the in-plan recall audit (VERDICT r6
    // item 7 — the former rows-only raw-pair probe, now oracle-checked):
    // the same doubled-corpus LSH workload runs in full, and the audit
    // compares it against the exact PPJoin truth the DuckDB oracle
    // recomputes by brute force — truth SAMPLE-BOUNDED at k=400 like
    // q_minhash_audit (r18; §6.7h row 1 was measured on THIS query:
    // 187x bytes at 100x came from the doubled-corpus full truth join).
    // The Knuth-rank sample draws from the doubled id space (originals
    // + copies at +1e6), so sampled truth keeps both organic and
    // planted pairs. Floor 0.9: perturbed pairs sit near J≈0.82 where
    // per-pair band-collision probability is ~0.99.
    Query("q_minhash_neardup", family, (s, d) => {
      val docs = t(s, d, "documents").select("doc_id", "text")
      Dedup.minhashRecallAudit(withPerturbedCopies(docs), "doc_id", "text",
          shingleN = 3, numHashes = 32, bands = 8, threshold = 0.8,
          floor = 0.9, truthSample = 400)
    },
      // the perturbed-copy corpus (withPerturbedCopies) rebuilt in SQL:
      // ids shifted by 1e6, last two tokens dropped (keeping >= 1); truth
      // over the SAME Knuth-rank-400 sample of the doubled id space the
      // engine uses
      s"""WITH toks0 AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |d0 AS (SELECT doc_id, toks FROM toks0
        |      UNION ALL
        |      SELECT doc_id + 1000000, toks[1:greatest(len(toks)-2,1)] FROM toks0),
        |d AS (SELECT doc_id, toks FROM d0
        |      ORDER BY (doc_id * 2654435761) % 4294967296, doc_id
        |      LIMIT 400),
        |sh AS (SELECT doc_id, ${trigrams(9)} AS sh FROM d),
        |tok AS (SELECT doc_id, unnest(sh) AS tok FROM sh),
        |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |         FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |         GROUP BY 1, 2)
        |SELECT CAST(count(*) AS BIGINT) AS truth, TRUE AS recall_ok FROM (
        |  SELECT CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
        |  FROM cand JOIN sh a ON a.doc_id = cand.doc_a
        |            JOIN sh b ON b.doc_id = cand.doc_b)
        |WHERE jaccard >= 0.8""".stripMargin),
    // E2 REAL-TEXT MinHash recall audit, oracle-checked: truth = exact
    // PPJoin count over the 400 documents ranking first by the Knuth
    // hash of doc_id (VERDICT r17 item 1 — the full-corpus truth join
    // was the registry's one measured superlinear exchange, 187× bytes
    // at 100× data; the sampled truth is O(400²)-bounded whatever the
    // corpus size, and 400 < the 500-doc gate corpora so BOTH gate SFs
    // exercise genuine subsetting, DuckDB replaying the identical
    // ORDER BY hash LIMIT sample). The LSH side stays the production
    // pipeline over the FULL corpus; verdict = it surfaced >= 90% of
    // the sampled exact pairs (sampled truth 17/15/4 at sf0.001/0.01/
    // 0.1, measured recall 1.0 at all three). Same silent-recall-
    // collapse guard as the ANN audits, bridging the hash-dependent
    // LSH path to a DuckDB oracle on organic text.
    Query("q_minhash_audit", family, (s, d) =>
      Dedup.minhashRecallAudit(docsSpread(s, d), "doc_id", "text",
        shingleN = 3, numHashes = 32, bands = 8, threshold = 0.8,
        floor = 0.9, truthSample = 400),
      // brute-force truth count for the LSH recall audit over the SAME
      // Knuth-hash-rank-400 doc sample the engine uses (the sampled-truth
      // contract: truth join O(400²)-bounded whatever the corpus size);
      // pairs with exact 3-gram-shingle Jaccard >= 0.8; verdict asserted
      // TRUE
      s"""WITH samp AS (
        |  SELECT doc_id, text FROM documents
        |  ORDER BY (doc_id * 2654435761) % 4294967296, doc_id
        |  LIMIT 400),
        |sh AS (
        |  SELECT doc_id,
        |    ${trigrams(6)} AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM samp)),
        |$trigramPairs
        |SELECT CAST(count(*) AS BIGINT) AS truth, TRUE AS recall_ok FROM (
        |  SELECT CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
        |  FROM cand JOIN sh a ON a.doc_id = cand.doc_a
        |            JOIN sh b ON b.doc_id = cand.doc_b)
        |WHERE jaccard >= 0.8""".stripMargin),
    // E2 transitive near-dup clustering (LSH pairs → connected components),
    // closed-form fixture oracle: per group g = doc_id div 4, texts are
    // 't<g>' repeated 4 + doc_id%4 times — distinct strings, IDENTICAL
    // 3-shingle sets, so every in-group pair is found with certain recall
    // at jaccard 1.0 and clusters are exactly the groups; the survivor is
    // the group minimum. Chain-shaped transitivity is separately pinned by
    // q_connected_components; real-text LSH cost by q_minhash_neardup.
    Query("q_dedup_clusters", family, (s, d) => {
      val g = expr("doc_id div 4")
      val docs = t(s, d, "documents")
        .select(col("doc_id"),
          concat_ws(" ", array_repeat(
            concat(lit("t"), g.cast("string")),
            (pmod(col("doc_id"), lit(4)) + 4).cast("int"))).as("text"))
      Dedup.dedupNearClusters(docs, "doc_id", "text",
          shingleN = 3, numHashes = 16, bands = 4, threshold = 0.8)
        .select("doc_id")
        .orderBy("doc_id")
    },
      // closed-form fixture (see the queries entry): clusters are the
      // div-4 groups; the survivor is each group's minimum doc_id
      """SELECT MIN(doc_id) AS doc_id FROM documents
        |GROUP BY doc_id // 4 ORDER BY doc_id""".stripMargin),
    // E2 keep-BEST cluster dedup (same certain-recall fixture as
    // q_dedup_clusters: clusters = div-4 groups): quality is the
    // closed-form (doc_id*7) mod 13, so the survivor per group is the
    // quality argmax with min-id tie-break — SQL-derivable without
    // reproducing any hash
    Query("q_dedup_keep_best", family, (s, d) => {
      val g = expr("doc_id div 4")
      val docs = t(s, d, "documents")
        .select(col("doc_id"),
          concat_ws(" ", array_repeat(
            concat(lit("t"), g.cast("string")),
            (pmod(col("doc_id"), lit(4)) + 4).cast("int"))).as("text"),
          pmod(col("doc_id") * 7, lit(13)).as("quality"))
      Dedup.dedupKeepBest(docs, "doc_id", "text", "quality",
          shingleN = 3, numHashes = 16, bands = 4, threshold = 0.8)
        .select("doc_id", "quality")
        .orderBy("doc_id")
    },
      // keep-best fixture: survivor per div-4 group = quality argmax,
      // min-id tie-break
      """SELECT doc_id, quality FROM (
        |  SELECT doc_id, (doc_id * 7) % 13 AS quality,
        |    row_number() OVER (PARTITION BY doc_id // 4
        |      ORDER BY (doc_id * 7) % 13 DESC, doc_id) AS rn
        |  FROM documents)
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin),

    // E2 soft dedup (downweight, don't drop): certain-recall fixture
    // with VARIABLE cluster sizes — group g = floor(sqrt(doc_id)) has
    // 2g+1 members (truncated at the corpus edge), all sharing one
    // 3-shingle set, so clusters and 1/size weights are closed-form
    Query("q_soft_dedup", family, (s, d) => {
      val g = expr("CAST(FLOOR(SQRT(CAST(doc_id AS DOUBLE))) AS LONG)")
      val docs = t(s, d, "documents")
        .select(col("doc_id"),
          concat_ws(" ", array_repeat(
            concat(lit("t"), g.cast("string")),
            (pmod(col("doc_id"), lit(4)) + 4).cast("int"))).as("text"))
      Dedup.softDedupWeights(docs, "doc_id", "text",
          shingleN = 3, numHashes = 16, bands = 4, threshold = 0.8)
        .orderBy("doc_id")
    },
      // cluster = component label = min id of the sqrt group = g^2;
      // weight = 1 / group size via the same unordered count window
      """WITH g AS (SELECT doc_id,
        |             CAST(FLOOR(SQRT(CAST(doc_id AS DOUBLE))) AS BIGINT)
        |               AS gr
        |           FROM documents)
        |SELECT doc_id, gr * gr AS cluster,
        |  round(1.0 / count(*) OVER (PARTITION BY gr), 9) AS weight
        |FROM g ORDER BY doc_id""".stripMargin),

    // E2 SimHash near-dup over the same perturbed corpus, published
    // through the in-plan recall audit (former rows-only probe): truth =
    // pairs with IDENTICAL distinct-token sets — identical SimHash,
    // hamming 0, so the chunk pigeonhole makes recall exactly 1.0 by
    // construction, and DuckDB recomputes truth by token-set equality
    // without reproducing any hash.
    Query("q_simhash_neardup", family, (s, d) => {
      val docs = t(s, d, "documents").select("doc_id", "text")
      Dedup.simhashRecallAudit(withPerturbedCopies(docs), "doc_id", "text",
          maxHamming = 3)
    },
      // truth = identical distinct-token sets over the same perturbed
      // corpus; recall is exactly 1.0 by the chunk pigeonhole (see the
      // query comment), so recall_ok is a constant TRUE assertion
      """WITH toks0 AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |d AS (SELECT doc_id, toks FROM toks0
        |      UNION ALL
        |      SELECT doc_id + 1000000, toks[1:greatest(len(toks)-2,1)] FROM toks0),
        |k AS (SELECT doc_id, list_sort(list_distinct(toks)) AS key FROM d)
        |SELECT CAST(count(*) AS BIGINT) AS truth, TRUE AS recall_ok
        |FROM k a JOIN k b ON a.key = b.key AND a.doc_id < b.doc_id""".stripMargin),
    // E2 SimHash fixture twin, oracle-checked: per div-4 id group, texts
    // are distinct strings over ONE distinct token 't<g>' — a single
    // token's SimHash is its 64-bit hash itself, so in-group pairs sit
    // at hamming 0 (found with certainty) and cross-group pairs at the
    // hamming of two independent XXH64 values (≥ 20 bits in practice;
    // P(≤3) ≈ 2e-15 per pair), so the pair set is exactly the groups.
    Query("q_simhash_fixture", family, (s, d) => {
      val g = expr("doc_id div 4")
      val docs = t(s, d, "documents")
        .select(col("doc_id"),
          concat_ws(" ", array_repeat(
            concat(lit("t"), g.cast("string")),
            (pmod(col("doc_id"), lit(4)) + 4).cast("int"))).as("text"))
      Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = 3)
        .orderBy("doc_a", "doc_b")
    },
      // simhash fixture: pair set = in-group pairs at hamming 0
      """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(0 AS INT) AS hamming
        |FROM documents a JOIN documents b
        |  ON a.doc_id // 4 = b.doc_id // 4 AND a.doc_id < b.doc_id
        |ORDER BY doc_a, doc_b""".stripMargin),

    // ---- E2 corpus-level chunk dedup (line-dedup stage of web cleaning) ----
    // Plan: two linear shuffles, by chunk for keep-first (WindowGroupLimit), by doc to reassemble.
    Query("q_para_dedup", family, (s, d) =>
      Dedup.dedupChunksGlobal(docsSpread(s, d).select("doc_id", "text"),
          "doc_id", "text", chunkTokens = 10)
        .orderBy("doc_id"),
      s"""${chunkCtes(10)},
        |keep AS (
        |  SELECT doc_id, chunk_idx, chunk,
        |    row_number() OVER (PARTITION BY chunk
        |      ORDER BY doc_id, chunk_idx) AS rn
        |  FROM chunks)
        |SELECT doc_id, string_agg(chunk, ' ' ORDER BY chunk_idx) AS text
        |FROM keep WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // ---- E2 sliding-window exact substring dedup: all but the first
    // occurrence of any duplicated 8-token span masked at ANY offset
    // (chunk dedup misses boundary-straddling repeats) ----
    Query("q_substring_dedup", family, (s, d) =>
      Dedup.dedupSubstrings(docsSpread(s, d).select("doc_id", "text"),
          "doc_id", "text", n = 8)
        .orderBy("doc_id"),
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
        |           FROM documents),
        |${tokenRows("d")},
        |${windows("d")},
        |masked AS (SELECT doc_id, wpos FROM (
        |             SELECT doc_id, wpos,
        |               row_number() OVER (PARTITION BY win
        |                 ORDER BY doc_id, wpos) AS rn
        |             FROM occ) WHERE rn > 1),
        |${cutReadout("masked", "text_dedup", "n_dropped", "d")}""".stripMargin),

    // ---- E2 cross-doc duplicated-SPAN report (Lee et al. ExactSubstr
    // readout): maximal >= 8-token runs shared across documents, as
    // (doc, start, end) cut-spans off the stride-1 window table + an
    // interval merge — the suffix-array pass, relationally ----
    Query("q_substring_spans", family, (s, d) =>
      Dedup.substringDupSpans(docsSpread(s, d).select("doc_id", "text"),
          "doc_id", "text", n = 8)
        .orderBy("doc_id", "start_tok"),
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
        |           FROM documents),
        |${windows("d")},
        |xdoc AS (SELECT win FROM occ
        |         GROUP BY win HAVING count(DISTINCT doc_id) >= 2),
        |marked AS (SELECT DISTINCT o.doc_id, o.wpos
        |           FROM occ o JOIN xdoc USING (win)),
        |$markedSpans""".stripMargin),

    // ---- E2 ExactSubstr CUT: every occurrence of every cross-doc
    // duplicated >= 8-token run removed (the released tool's
    // self-similar mode; keep-first is q_substring_dedup) ----
    Query("q_substring_cut", family, (s, d) =>
      Dedup.removeSubstringDups(docsSpread(s, d).select("doc_id", "text"),
          "doc_id", "text", n = 8)
        .orderBy("doc_id"),
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
        |           FROM documents),
        |${tokenRows("d")},
        |${windows("d")},
        |xdoc AS (SELECT win FROM occ
        |         GROUP BY win HAVING count(DISTINCT doc_id) >= 2),
        |marked AS (SELECT DISTINCT o.doc_id, o.wpos
        |           FROM occ o JOIN xdoc USING (win)),
        |${cutReadout("marked", "text_cut", "n_cut", "d")}""".stripMargin),

    Query("q_decontam", family, (s, d) => {
      val docs = t(s, d, "documents").select("doc_id", "text")
      Ngrams.decontaminate(
          docs.filter(col("doc_id") >= 100),
          docs.filter(col("doc_id") < 100), n = 8)
        .select("doc_id")
        .orderBy("doc_id")
    },
      s"""${trainEval(100)},
        |$evalTrainGrams,
        |bad AS (SELECT DISTINCT doc_id FROM trg JOIN evg USING (g))
        |SELECT doc_id FROM tr
        |WHERE doc_id NOT IN (SELECT doc_id FROM bad)
        |ORDER BY doc_id""".stripMargin),

    // graded contamination: fraction of each train doc's 8-grams found
    // in the eval set (doc_id < 100), not just a drop verdict
    Query("q_contam_score", family, (s, d) => {
      val docs = t(s, d, "documents").select("doc_id", "text")
      Ngrams.contaminationScore(
          docs.filter(col("doc_id") >= 100),
          docs.filter(col("doc_id") < 100), n = 8)
        .orderBy("doc_id")
    },
      // string 8-grams replay the hashed-shingle counts exactly (64-bit
      // hashes: no collisions on this corpus, same as q_decontam)
      s"""${trainEval(100)},
        |$evalTrainGrams,
        |cnt AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
        |    CAST(sum(CASE WHEN g IN (SELECT g FROM evg) THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_matched
        |  FROM trg GROUP BY doc_id)
        |SELECT doc_id, n_shingles, n_matched,
        |  CAST(n_matched AS DOUBLE) / n_shingles AS contamination
        |FROM cnt ORDER BY doc_id""".stripMargin),

    // ---- E2/E19 SPAN-level decontamination: maximal train runs that
    // appear verbatim in the eval split (doc_id < 100, the q_decontam
    // convention) — the span-granular refinement of the doc-level
    // gate: a long doc quoting one benchmark item loses the QUOTE,
    // not the document ----
    Query("q_contam_spans", family, (s, d) => {
      val docs = docsSpread(s, d).select("doc_id", "text")
      Dedup.substringContamSpans(docs.filter(col("doc_id") >= 100),
          docs.filter(col("doc_id") < 100), "doc_id", "text", n = 8)
        .orderBy("doc_id", "start_tok")
    },
      s"""${trainEval(100)},
        |$evalWindows,
        |${windows("tr")},
        |marked AS (SELECT DISTINCT o.doc_id, o.wpos
        |           FROM occ o JOIN evw USING (win)),
        |$markedSpans""".stripMargin),

    // ---- E2/E19 the scrub mode: cut every eval-contaminated run out
    // of the train text, keep the documents ----
    Query("q_contam_scrub", family, (s, d) => {
      val docs = docsSpread(s, d).select("doc_id", "text")
      Dedup.scrubContamSpans(docs.filter(col("doc_id") >= 100),
          docs.filter(col("doc_id") < 100), "doc_id", "text", n = 8)
        .orderBy("doc_id")
    },
      s"""${trainEval(100)},
        |$evalWindows,
        |${tokenRows("tr")},
        |${windows("tr")},
        |marked AS (SELECT DISTINCT o.doc_id, o.wpos
        |           FROM occ o JOIN evw USING (win)),
        |${cutReadout("marked", "text_cut", "n_cut", "tr")}""".stripMargin),

    // ---- E2 INCREMENTAL ExactSubstr (VERDICT r17 item 4): the span
    // twin of the signatureIndex lifecycle — commit the standing
    // corpus's distinct window-hash table through ManifestTable
    // (docs < 100 as batch 0), EXTEND it by union-upsert with a second
    // corpus increment (docs 100..199 as batch 1), read the artifact
    // back, and probe the new batch (docs >= 200) against it: maximal
    // batch spans covered by stored-corpus windows, the corpus text
    // never re-read. The DuckDB oracle replays the SEMANTICS (spans of
    // docs >= 200 covered by windows of docs < 200 on raw strings) —
    // identical output because the 128-bit hash pair is injective in
    // practice, so the lifecycle (two commits, atomic manifest swaps,
    // read-back, probe) is pinned by a real-text oracle ----
    Query("q_substring_incremental", family, (s, d) =>
      withScratchDir("graft-substr-idx") { tmp =>
        import graft.sources.ManifestTable
        val docs = docsSpread(s, d).select("doc_id", "text")
        val idxPath = s"$tmp/substr_index"
        // pageBuckets: the index commits through the PAGED manifest
        // (r18) — the second commit rewrites only the pages its new
        // window hashes touch, the 100 TB ingest shape
        ManifestTable.upsertBatch(
          Dedup.substrIndex(docs.filter(col("doc_id") < 100),
            "doc_id", "text", n = 8),
          idxPath, Seq("wh1", "wh2"), nBuckets = 8, targetRowsPerBucket = 1L << 20, batchId = 0L,
          pageBuckets = 4)
        ManifestTable.upsertBatch(
          Dedup.substrIndex(
            docs.filter(col("doc_id") >= 100 && col("doc_id") < 200),
            "doc_id", "text", n = 8),
          idxPath, Seq("wh1", "wh2"), nBuckets = 8, targetRowsPerBucket = 1L << 20, batchId = 1L)
        val idx = ManifestTable.read(s, idxPath)
        Dedup.substringSpansAgainstIndex(
            docs.filter(col("doc_id") >= 200), idx, "doc_id", "text",
            n = 8)
          .orderBy("doc_id", "start_tok")
      },
      // the incremental-index lifecycle's probe, replayed semantically:
      // spans of docs >= 200 covered by >= 8-token windows of docs < 200
      // (the two committed corpus increments) — same island-merge readout
      // as q_contam_spans
      s"""${trainEval(200)},
        |$evalWindows,
        |${windows("tr")},
        |marked AS (SELECT DISTINCT o.doc_id, o.wpos
        |           FROM occ o JOIN evw USING (win)),
        |$markedSpans""".stripMargin),

    // ---- E2 WITHIN-document repeated-chunk trim: zero-shuffle per-row
    // keep-first over each doc's own chunks (the in-doc repetition
    // stage; cross-doc repetition is q_para_dedup / q_boilerplate).
    // chunkTokens=2 exercises ~250 real drops at sf0.001 ----
    Query("q_intradoc_dedup", family, (s, d) =>
      Dedup.dedupChunksWithinDoc(t(s, d, "documents")
          .select("doc_id", "text"),
          "doc_id", "text", chunkTokens = 2)
        .orderBy("doc_id"),
      // window twin (partition by doc, chunk) of the zero-shuffle per-row
      // keep-first scan
      s"""${chunkCtes(2)},
        |keep AS (
        |  SELECT doc_id, chunk_idx, chunk,
        |    row_number() OVER (PARTITION BY doc_id, chunk
        |      ORDER BY chunk_idx) AS rn
        |  FROM chunks)
        |SELECT doc_id, string_agg(chunk, ' ' ORDER BY chunk_idx) AS text
        |FROM keep WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // ---- E2 C4-style boilerplate removal: chunks occurring in >= 3
    // distinct documents die EVERYWHERE (vs dedupChunksGlobal's
    // keep-first); real-data oracle, DuckDB recomputes the chunk
    // frequency table and anti-join exactly ----
    Query("q_boilerplate", family, (s, d) =>
      Dedup.removeBoilerplate(docsSpread(s, d).select("doc_id", "text"),
          "doc_id", "text", chunkTokens = 10, minDocs = 3)
        .orderBy("doc_id"),
      s"""${chunkCtes(10)},
        |boiler AS (
        |  SELECT chunk FROM chunks GROUP BY chunk
        |  HAVING COUNT(DISTINCT doc_id) >= 3)
        |SELECT doc_id, string_agg(chunk, ' ' ORDER BY chunk_idx) AS text
        |FROM chunks WHERE chunk NOT IN (SELECT chunk FROM boiler)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
  )
}
