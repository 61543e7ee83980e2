package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry.{docsSpread, t, withScratchDir}
import graft.operators.{Mixing, Ngrams}

/** Tokenizer queries: BPE and unigram-LM training, segmentation,
  * encoding, stored-model serving, packing and example materialization;
  * the oracles replay training as unrolled CTEs. */
object TokenizerQueries {

  private val family = "tokenizer"

  /** Merge rounds q_bpe_merges trains; its oracle unrolls the same
    * number of replay iterations. */
  private val bpeOracleMerges = 6

  /** Unigram-LM tokenizer hyperparameters the q_unigram_* family trains
    * with; the oracle unrolls the same seed size / budget / rounds. */
  private val uniSeedSize = 40
  private val uniVocabSize = 16
  private val uniRounds = 2
  private val uniMaxPiece = 4

  /** DuckDB replay of [[operators.Ngrams.unigramTrain]]: the substring
    * seed and the hard-EM rounds UNROLLED into chained CTEs. The
    * engine's Viterbi DP is replayed as exhaustive segmentation-path
    * enumeration (one recursive CTE per round — bounded: compositions
    * of ≤ max-word-length into parts ≤ maxPieceLen) ranked by the SAME
    * total order (score DESC, fewer pieces, lexicographic piece
    * sequence), so the argmax — and therefore usage counts, pruning,
    * and the final vocabulary — is bit-identical. Scores are integer
    * micro-nats on both sides (exact BIGINT sums; ln of the identical
    * IEEE ratio rounds once). */
  private def unigramStateCtes(rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH RECURSIVE wc AS (
      |  SELECT w, COUNT(*) AS c
      |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |  WHERE len(w) >= 1 GROUP BY w),
      |sub AS (
      |  SELECT substr(w, CAST(st AS INTEGER), CAST(l AS INTEGER)) AS piece,
      |         SUM(c) AS cnt
      |  FROM wc,
      |       unnest(range(1, len(w) + 1)) AS u(st),
      |       unnest(range(1, LEAST($uniMaxPiece, len(w) - st + 1) + 1))
      |         AS ul(l)
      |  GROUP BY 1),
      |vocab0 AS (
      |  SELECT piece, cnt FROM sub WHERE len(piece) = 1
      |  UNION ALL
      |  SELECT piece, cnt FROM (
      |    SELECT piece, cnt,
      |      row_number() OVER (ORDER BY cnt DESC, piece) AS rk
      |    FROM sub WHERE len(piece) > 1) WHERE rk <= $uniSeedSize)"""
      .stripMargin
    for (i <- 1 to rounds) {
      val p = i - 1
      sb ++= s""",
        |sc$i AS (
        |  SELECT piece, len(piece) AS pl,
        |    CAST(round(ln(CAST(cnt AS DOUBLE) / CAST(t AS DOUBLE))
        |      * 1000000) AS BIGINT) AS lp
        |  FROM vocab$p, (SELECT SUM(cnt) AS t FROM vocab$p)),
        |paths$i AS (
        |  -- mirror the engine's Viterbi word-length cap
        |  SELECT w, c, 0 AS pos, CAST(0 AS BIGINT) AS s, 0 AS k, '' AS p
        |  FROM wc WHERE len(w) <= 256
        |  UNION ALL
        |  SELECT t.w, t.c, t.pos + v.pl, t.s + v.lp, t.k + 1,
        |    CASE WHEN t.k = 0 THEN v.piece
        |         ELSE t.p || ' ' || v.piece END
        |  FROM paths$i t JOIN sc$i v
        |    ON t.pos < len(t.w)
        |   AND substr(t.w, t.pos + 1, CAST(v.pl AS INTEGER)) = v.piece),
        |best$i AS (
        |  SELECT w, c, p FROM (
        |    SELECT w, c, p, row_number() OVER (PARTITION BY w
        |      ORDER BY s DESC, k, p) AS rn
        |    FROM paths$i WHERE pos = len(w)) WHERE rn = 1),
        |usage$i AS (
        |  SELECT u.piece, SUM(c) AS u
        |  FROM best$i, unnest(string_split(p, ' ')) AS u(piece)
        |  GROUP BY 1),
        |vocab$i AS (
        |  SELECT v.piece, GREATEST(COALESCE(g.u, 0), 1) AS cnt
        |  FROM vocab$p v LEFT JOIN usage$i g USING (piece)
        |  WHERE len(v.piece) = 1
        |  UNION ALL
        |  SELECT piece, u AS cnt FROM (
        |    SELECT piece, u, row_number() OVER (ORDER BY u DESC, piece)
        |      AS rk
        |    FROM usage$i WHERE len(piece) > 1) WHERE rk <= $uniVocabSize)"""
        .stripMargin
    }
    sb.toString
  }

  private def unigramTrainOracle(rounds: Int): String =
    unigramStateCtes(rounds) + s"""
      |SELECT piece, CAST(cnt AS BIGINT) AS cnt,
      |  CAST(round(ln(CAST(cnt AS DOUBLE) / CAST(t AS DOUBLE)) * 1000000)
      |    AS BIGINT) AS logp_micro
      |FROM vocab$rounds, (SELECT SUM(cnt) AS t FROM vocab$rounds)
      |ORDER BY piece""".stripMargin

  /** Shared serve-side CTEs: the final vocabulary scored, segmentation
    * paths over the full distinct-word table, the per-word winner
    * carried with its piece count. */
  private def unigramServeCtes(rounds: Int): String =
    unigramStateCtes(rounds) + s""",
      |scF AS (
      |  SELECT piece, len(piece) AS pl,
      |    CAST(round(ln(CAST(cnt AS DOUBLE) / CAST(t AS DOUBLE))
      |      * 1000000) AS BIGINT) AS lp
      |  FROM vocab$rounds, (SELECT SUM(cnt) AS t FROM vocab$rounds)),
      |pathsF AS (
      |  -- mirror the engine's Viterbi word-length cap (words past it
      |  -- are unsegmentable by contract; no shipped word approaches it)
      |  SELECT w, c, 0 AS pos, CAST(0 AS BIGINT) AS s, 0 AS k, '' AS p
      |  FROM wc WHERE len(w) <= 256
      |  UNION ALL
      |  SELECT t.w, t.c, t.pos + v.pl, t.s + v.lp, t.k + 1,
      |    CASE WHEN t.k = 0 THEN v.piece
      |         ELSE t.p || ' ' || v.piece END
      |  FROM pathsF t JOIN scF v
      |    ON t.pos < len(t.w)
      |   AND substr(t.w, t.pos + 1, CAST(v.pl AS INTEGER)) = v.piece),
      |bestF AS (
      |  SELECT w, c, k, p FROM (
      |    SELECT w, c, k, p, row_number() OVER (PARTITION BY w
      |      ORDER BY s DESC, k, p) AS rn
      |    FROM pathsF WHERE pos = len(w)) WHERE rn = 1)""".stripMargin

  /** DuckDB replay of [[operators.Ngrams.unigramSegmentWithVocab]] on
    * the trained vocabulary (shared by q_unigram_segment and
    * q_unigram_stored — the stored-artifact serve must reproduce the
    * train-side segmentation bit-for-bit). */
  private def unigramSegmentOracle(rounds: Int): String =
    unigramServeCtes(rounds) + s"""
      |SELECT w AS word, CAST(c AS BIGINT) AS cnt,
      |  CAST(k AS BIGINT) AS n_pieces, p AS pieces
      |FROM bestF ORDER BY word""".stripMargin

  /** DuckDB replay of the unigram fertility report: the bestF winners'
    * piece counts joined onto the per-language token stream — the
    * [[bpeFertilityOracle]] shape on the unigram serve CTEs. */
  private def unigramFertilityOracle(rounds: Int): String =
    unigramServeCtes(rounds) + s""",
      |tok AS (SELECT lang, u.w
      |        FROM documents, unnest(string_split(text, ' ')) AS u(w)
      |        WHERE len(u.w) >= 1)
      |SELECT lang, COUNT(*) AS n_words,
      |  CAST(SUM(k) AS BIGINT) AS n_subwords,
      |  round(CAST(SUM(k) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 9)
      |    AS fertility
      |FROM tok JOIN bestF ON bestF.w = tok.w
      |GROUP BY lang ORDER BY lang""".stripMargin

  /** Shared unigram encode-side CTEs through per-(doc, token, piece)
    * id rows `enc` — the unigram twin of [[bpeEncCtes]], and the same
    * terminal CTE NAME so the contiguous-pack / materialize tails
    * ([[packContiguousTail]] / [[examplesTail]]) splice onto either
    * family's encode prefix verbatim. */
  private def uniEncCtes(rounds: Int): String =
    unigramServeCtes(rounds) + s""",
      |uids AS (SELECT piece, row_number() OVER (ORDER BY piece) AS id
      |         FROM vocab$rounds),
      |useg AS (SELECT w, string_split(p, ' ') AS a FROM bestF),
      |utok AS (
      |  SELECT doc_id, tp, w FROM (
      |    SELECT doc_id, generate_subscripts(toks, 1) AS tp,
      |           unnest(toks) AS w
      |    FROM (SELECT doc_id, string_split(text, ' ') AS toks
      |          FROM documents WHERE doc_id < 200))
      |  WHERE len(w) >= 1),
      |upieces AS (
      |  SELECT doc_id, tp, generate_subscripts(a, 1) AS sp,
      |         unnest(a) AS piece
      |  FROM utok JOIN useg USING (w)),
      |enc AS (SELECT doc_id, tp, sp, id
      |        FROM upieces JOIN uids USING (piece))""".stripMargin

  /** DuckDB replay of [[operators.Ngrams.unigramEncodeWithVocab]]:
    * per-doc id lists in (token position, piece position) order, ids
    * dense-ranked by piece string. */
  private def unigramEncodeOracle(rounds: Int): String =
    uniEncCtes(rounds) + s"""
      |SELECT doc_id, CAST(COUNT(DISTINCT tp) AS BIGINT) AS n_toks,
      |  CAST(COUNT(*) AS BIGINT) AS n_ids,
      |  array_to_string(list(id ORDER BY tp, sp), ',') AS token_ids
      |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** DuckDB replay of [[operators.Ngrams.bpeTrain]], the k training
    * rounds UNROLLED into a chained-CTE pipeline (SQL has no loops; the
    * round count is a compile-time constant, so the oracle is generated
    * mechanically): each round recomputes the weighted pair counts from
    * the previous symbol state, picks the (cnt DESC, pair ASC) argmax,
    * and replays the literal `<a><b>` → `<ab>` fuse. replace() scans
    * left-to-right non-overlapping in both engines, which is exactly
    * BPE's merge rule under the bracketed-symbol encoding. */
  private def bpeStateCtes(k: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH state0 AS (
      |  SELECT w, regexp_replace(w, '(.)', '<\1>', 'g') AS syms,
      |         COUNT(*) AS c
      |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |  WHERE len(w) >= 1 AND NOT regexp_matches(w, '[<>]')
      |  GROUP BY w)""".stripMargin
    for (i <- 1 to k) {
      val p = i - 1
      sb ++= s""",
        |pairs$i AS (
        |  SELECT a[i] AS l, a[i+1] AS r, SUM(c) AS cnt
        |  FROM (SELECT string_split(trim(syms, '<>'), '><') AS a, c
        |        FROM state$p),
        |       unnest(range(1, len(a))) AS u(i)
        |  GROUP BY 1, 2),
        |best$i AS (SELECT l, r, cnt FROM pairs$i
        |           ORDER BY cnt DESC, l, r LIMIT 1),
        |state$i AS (
        |  SELECT w, replace(syms, '<'||l||'><'||r||'>',
        |                    '<'||l||r||'>') AS syms, c
        |  FROM state$p, best$i)""".stripMargin
    }
    sb.toString
  }

  private def bpeMergesOracle(k: Int): String =
    bpeStateCtes(k) + "\n" + (1 to k).map(i =>
      s"""SELECT CAST($i AS BIGINT) AS rank, l AS "left", r AS "right",
         |  l||r AS merged, CAST(cnt AS BIGINT) AS cnt FROM best$i"""
        .stripMargin)
      .mkString("", "\nUNION ALL\n", "\nORDER BY rank")

  /** DuckDB replay of [[operators.Ngrams.bpeSegment]]: the final symbol
    * state of the same unrolled training rounds, rendered per word. */
  private def bpeSegmentOracle(k: Int): String =
    bpeStateCtes(k) + s"""
      |SELECT w AS word, CAST(c AS BIGINT) AS cnt,
      |  CAST(len(a) AS BIGINT) AS n_syms,
      |  array_to_string(a, ' ') AS segments
      |FROM (SELECT w, string_split(trim(syms, '<>'), '><') AS a, c
      |      FROM state$k)
      |ORDER BY word""".stripMargin

  /** Shared encode-side CTEs (through per-(doc, token, symbol) id rows
    * `enc`): the unrolled training rounds' final state joined onto the
    * (filtered) document token stream, symbols dense-ranked to ids. */
  private def bpeEncCtes(k: Int): String =
    bpeStateCtes(k) + s""",
      |seg AS (SELECT w, string_split(trim(syms, '<>'), '><') AS a
      |        FROM state$k),
      |vocab AS (
      |  SELECT sym, row_number() OVER (ORDER BY sym) AS id
      |  FROM (SELECT DISTINCT unnest(a) AS sym FROM seg)),
      |tok AS (
      |  SELECT doc_id, tp, w FROM (
      |    SELECT doc_id, generate_subscripts(toks, 1) AS tp,
      |           unnest(toks) AS w
      |    FROM (SELECT doc_id, string_split(text, ' ') AS toks
      |          FROM documents WHERE doc_id < 200))
      |  WHERE len(w) >= 1 AND NOT regexp_matches(w, '[<>]')),
      |symrows AS (
      |  SELECT doc_id, tp, generate_subscripts(a, 1) AS sp,
      |         unnest(a) AS sym
      |  FROM tok JOIN seg USING (w)),
      |enc AS (SELECT doc_id, tp, sp, id FROM symrows JOIN vocab USING (sym))"""
      .stripMargin

  /** DuckDB replay of [[operators.Ngrams.bpeEncode]]: per-doc id lists
    * in (token position, symbol position) order. */
  private def bpeEncodeOracle(k: Int): String =
    bpeEncCtes(k) + s"""
      |SELECT doc_id, CAST(COUNT(DISTINCT tp) AS BIGINT) AS n_toks,
      |  CAST(COUNT(*) AS BIGINT) AS n_ids,
      |  array_to_string(list(id ORDER BY tp, sp), ',') AS token_ids
      |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** The contiguous-span construction spliced onto ANY encode prefix
    * defining `enc(doc_id, tp, sp, id)` ([[bpeEncCtes]] or
    * [[uniEncCtes]]): encoded per-doc token counts keyed by source,
    * then the exact fixed-length span math (prefix sum + range
    * unnest). */
  private val packContiguousTail: String = s""",
      |encdoc AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_ids
      |  FROM enc GROUP BY doc_id),
      |src AS (
      |  SELECT e.doc_id, d.source, e.n_ids AS w,
      |    CAST(COALESCE(SUM(e.n_ids) OVER (PARTITION BY d.source
      |      ORDER BY e.doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS s
      |  FROM encdoc e JOIN documents d USING (doc_id)
      |  WHERE e.n_ids > 0)
      |SELECT source, CAST(e AS BIGINT) AS example, doc_id,
      |  CAST(GREATEST(0, e * 256 - s) AS BIGINT) AS tok_start,
      |  CAST(LEAST(w, (e + 1) * 256 - s) AS BIGINT) AS tok_end
      |FROM src, unnest(range(s // 256, (s + w - 1) // 256 + 1)) AS u(e)
      |ORDER BY source, example, doc_id, tok_start""".stripMargin

  /** The materialized-examples construction spliced onto ANY encode
    * prefix defining `enc(doc_id, tp, sp, id)`: the contiguous span
    * construction carrying each doc's id LIST, sliced 1-based
    * inclusive (ids[ts+1..te] = the engine's half-open [ts, te)) and
    * flattened per example in document order. */
  private val examplesTail: String = s""",
      |encdoc AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_ids,
      |    list(id ORDER BY tp, sp) AS ids
      |  FROM enc GROUP BY doc_id),
      |src AS (
      |  SELECT e.doc_id, d.source, e.n_ids AS w, e.ids,
      |    CAST(COALESCE(SUM(e.n_ids) OVER (PARTITION BY d.source
      |      ORDER BY e.doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS s
      |  FROM encdoc e JOIN documents d USING (doc_id)
      |  WHERE e.n_ids > 0),
      |sp AS (
      |  SELECT source, CAST(e AS BIGINT) AS example, doc_id,
      |    CAST(GREATEST(0, e * 256 - s) AS BIGINT) AS ts,
      |    CAST(LEAST(w, (e + 1) * 256 - s) AS BIGINT) AS te, ids
      |  FROM src, unnest(range(s // 256, (s + w - 1) // 256 + 1)) AS u(e))
      |SELECT source, example,
      |  CAST(SUM(te - ts) AS BIGINT) AS n_tokens,
      |  array_to_string(flatten(
      |    list(ids[CAST(ts + 1 AS BIGINT):te] ORDER BY doc_id)), ',')
      |    AS token_ids
      |FROM sp GROUP BY source, example
      |ORDER BY source, example""".stripMargin

  /** DuckDB replay of the q_bpe_pack_contiguous composition. */
  private def bpePackContiguousOracle(k: Int): String =
    bpeEncCtes(k) + packContiguousTail

  /** DuckDB replay of the q_bpe_examples composition. */
  private def bpeExamplesOracle(k: Int): String =
    bpeEncCtes(k) + examplesTail

  /** DuckDB replay of the q_unigram_pack_contiguous composition: the
    * unigram encode CTEs feeding the same span tail as BPE. */
  private def unigramPackContiguousOracle(rounds: Int): String =
    uniEncCtes(rounds) + packContiguousTail

  /** DuckDB replay of the q_unigram_examples composition. */
  private def unigramExamplesOracle(rounds: Int): String =
    uniEncCtes(rounds) + examplesTail

  /** The packByBudget + boundary-array construction spliced onto ANY
    * encode prefix defining `enc(doc_id, tp, sp, id)`: exclusive
    * running token sum div budget shards, string_agg with the id-0
    * EOS separator, boundary arrays rendered — the q_pack_boundaries
    * oracle with token-count weights. */
  private val packBudgetTail: String = s""",
      |encdoc AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_ids,
      |    array_to_string(list(id ORDER BY tp, sp), ',') AS token_ids
      |  FROM enc GROUP BY doc_id),
      |src AS (
      |  SELECT e.doc_id, d.source, e.n_ids, e.token_ids
      |  FROM encdoc e JOIN documents d USING (doc_id)),
      |packed AS (
      |  SELECT source, doc_id, token_ids, n_ids,
      |    CAST(COALESCE(SUM(n_ids) OVER (PARTITION BY source
      |      ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 512
      |      AS BIGINT) AS shard
      |  FROM src),
      |g AS (
      |  SELECT source, shard,
      |    string_agg(token_ids, ',0,' ORDER BY doc_id) AS seq,
      |    list(doc_id ORDER BY doc_id) AS doc_ids,
      |    list(n_ids ORDER BY doc_id) AS doc_lens
      |  FROM packed GROUP BY source, shard)
      |SELECT source, shard, seq,
      |  COALESCE(array_to_string(doc_ids, ','), '') AS doc_ids,
      |  COALESCE(array_to_string(doc_lens, ','), '') AS doc_lens,
      |  COALESCE(array_to_string(
      |    list_transform(range(1, len(doc_lens) + 1),
      |      i -> CAST(COALESCE(list_sum(doc_lens[1:i-1]), 0) AS BIGINT)),
      |    ','), '') AS doc_starts
      |FROM g ORDER BY source, shard""".stripMargin

  /** DuckDB replay of the q_bpe_pack composition. */
  private def bpePackOracle(k: Int): String =
    bpeEncCtes(k) + packBudgetTail

  /** DuckDB replay of the q_unigram_pack composition. */
  private def unigramPackOracle(rounds: Int): String =
    uniEncCtes(rounds) + packBudgetTail

  /** DuckDB replay of the q_bpe_fertility composition: the same
    * unrolled training rounds' final segmentation, occurrence-weighted
    * subwords-per-word by language. */
  private def bpeFertilityOracle(k: Int): String =
    bpeStateCtes(k) + s""",
      |seg AS (SELECT w, len(string_split(trim(syms, '<>'), '><'))
      |          AS n_syms
      |        FROM state$k),
      |tok AS (SELECT lang, u.w
      |        FROM documents, unnest(string_split(text, ' ')) AS u(w)
      |        WHERE len(u.w) >= 1 AND NOT regexp_matches(u.w, '[<>]'))
      |SELECT lang, COUNT(*) AS n_words,
      |  CAST(SUM(n_syms) AS BIGINT) AS n_subwords,
      |  round(CAST(SUM(n_syms) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 9)
      |    AS fertility
      |FROM tok JOIN seg USING (w)
      |GROUP BY lang ORDER BY lang""".stripMargin

  val all: Seq[Query] = Seq(

    // ---- E27+E13 stored-tokenizer round trip: train (memoized), SHIP
    // the k-row merge list through a ManifestTable commit, read the
    // artifact back, and segment the corpus with the STORED merges via
    // the chained-replace serve path — no training loop at serve time.
    // Green only if the persisted model round-trips AND the serve path
    // is bit-identical to the train-side segmentation: the oracle is
    // the SAME SQL as q_bpe_segment. ----
    Query("q_bpe_stored", family, (s, d) => withScratchDir("graft-bpe-model") { tmp =>
      import graft.sources.ManifestTable
      val docs = docsSpread(s, d)
      ManifestTable.upsertBatch(
        Ngrams.bpeTrain(docs, numMerges = bpeOracleMerges),
        s"$tmp/bpe_model", Seq("rank"), nBuckets = 1, batchId = 0L)
      val stored = ManifestTable.read(s, s"$tmp/bpe_model")
        .orderBy("rank").select("left", "right").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      Ngrams.bpeSegmentWithMerges(docs, stored).orderBy("word")
    },
      // same oracle as q_bpe_segment on purpose: the stored-model serve
      // path must reproduce the train-side segmentation bit-for-bit
      bpeSegmentOracle(bpeOracleMerges)),

    // ---- E27+E13 stored-tokenizer ENCODE round trip: commit the
    // complete tokenizer artifact (merge list + symbol vocabulary)
    // through ManifestTable, read both back, and encode a doc subset
    // from the STORED artifact — zero training jobs at serve time.
    // Oracle is deliberately the same SQL as q_bpe_encode: the green
    // row certifies stored-artifact encode ≡ train-side encode. ----
    Query("q_bpe_encode_stored", family, (s, d) => withScratchDir("graft-bpe-model") { tmp =>
      import graft.sources.ManifestTable
      val docs = docsSpread(s, d)
      ManifestTable.upsertBatch(
        Ngrams.bpeTrain(docs, numMerges = bpeOracleMerges),
        s"$tmp/merges", Seq("rank"), nBuckets = 1, batchId = 0L)
      ManifestTable.upsertBatch(
        Ngrams.bpeVocab(docs, numMerges = bpeOracleMerges),
        s"$tmp/vocab", Seq("sym"), nBuckets = 1, batchId = 0L)
      val merges = ManifestTable.read(s, s"$tmp/merges")
        .orderBy("rank").select("left", "right").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      Ngrams.bpeEncodeWithMerges(docs.filter(col("doc_id") < 200),
          merges, ManifestTable.read(s, s"$tmp/vocab"))
        .orderBy("doc_id")
    },
      // same oracle as q_bpe_encode on purpose: encoding from the stored
      // merges+vocab artifact must reproduce the train-side encode
      bpeEncodeOracle(bpeOracleMerges)),

    // ---- E27+E15 tokenize→pack, end-to-end: the TRAINED tokenizer's
    // token-id sequences (q_bpe_encode's artifact) packed into fixed
    // token-budget training rows with boundary arrays — the final seam
    // between tokenizer and training tensors, closed in ONE plan.
    // Weight = n_ids (real token counts, not the char-count stand-in);
    // sep ",0," splices the reserved id 0 in as the EOS boundary. ----
    Query("q_bpe_pack", family, (s, d) => {
      val docs = docsSpread(s, d)
      val enc = Ngrams.bpeEncode(docs, docs.filter(col("doc_id") < 200),
          numMerges = bpeOracleMerges)
      val keyed = enc.join(docs.select(col("doc_id"), col("source")),
          Seq("doc_id"))
      Mixing.packWithBoundaries(keyed, "source", "doc_id",
          "n_ids", "token_ids", budget = 512L, sep = ",0,")
        .withColumn("doc_ids",
          array_join(col("doc_ids").cast("array<string>"), ","))
        .withColumn("doc_lens",
          array_join(col("doc_lens").cast("array<string>"), ","))
        .withColumn("doc_starts",
          array_join(col("doc_starts").cast("array<string>"), ","))
        .orderBy("source", "shard")
    }, bpePackOracle(bpeOracleMerges)),

    // ---- E27+E15 the full GPT data path in ONE plan: trained-
    // tokenizer token counts → contiguous fixed-length example spans.
    // Every 256-token example is exactly full (docs span boundaries);
    // the span table is what a loader materializes examples from. ----
    Query("q_bpe_pack_contiguous", family, (s, d) => {
      val docs = docsSpread(s, d)
      val enc = Ngrams.bpeEncode(docs, docs.filter(col("doc_id") < 200),
          numMerges = bpeOracleMerges)
      val keyed = enc.join(docs.select(col("doc_id"), col("source")),
          Seq("doc_id"))
      Mixing.packContiguous(keyed, "source", "doc_id", "n_ids",
          budget = 256L)
        .orderBy("source", "example", "doc_id", "tok_start")
    }, bpePackContiguousOracle(bpeOracleMerges)),

    // ---- E28 unigram-LM (SentencePiece-style) tokenizer TRAIN: seed
    // from high-frequency substrings, hard-EM (Viterbi) prune rounds —
    // every selection integer micro-nats + lexicographic ties, so the
    // learned vocabulary is engine-exact ----
    // Plan: corpus read once (word counts); each EM round is vocabulary-sized, model broadcast.
    Query("q_unigram_train", family, (s, d) =>
      Ngrams.unigramTrain(t(s, d, "documents"), vocabSize = uniVocabSize,
          maxPieceLen = uniMaxPiece, rounds = uniRounds,
          seedSize = uniSeedSize)
        .orderBy("piece"),
      unigramTrainOracle(uniRounds)),

    // ---- E28 the segmentation the trained vocabulary induces over the
    // corpus's distinct words — the artifact a tokenizer ships ----
    Query("q_unigram_segment", family, (s, d) =>
      Ngrams.unigramSegmentWithVocab(t(s, d, "documents"),
          Ngrams.unigramTrain(t(s, d, "documents"),
            vocabSize = uniVocabSize, maxPieceLen = uniMaxPiece,
            rounds = uniRounds, seedSize = uniSeedSize),
          maxPieceLen = uniMaxPiece)
        .orderBy("word"),
      unigramSegmentOracle(uniRounds)),

    // ---- E28+E13 stored-tokenizer round trip: train, SHIP the
    // (piece, cnt, logp_micro) vocabulary through a ManifestTable
    // commit, read it back, and segment from the STORED artifact —
    // zero training jobs at serve time. Oracle is the SAME SQL as
    // q_unigram_segment: green only if the persisted model round-trips
    // AND the serve path reproduces the train-side segmentation. ----
    // Plan: committed vocab read by file list and broadcast as the score map: no training jobs.
    Query("q_unigram_stored", family, (s, d) => withScratchDir("graft-uni-model") { tmp =>
      import graft.sources.ManifestTable
      ManifestTable.upsertBatch(
        Ngrams.unigramTrain(t(s, d, "documents"), vocabSize = uniVocabSize,
          maxPieceLen = uniMaxPiece, rounds = uniRounds,
          seedSize = uniSeedSize),
        s"$tmp/uni_vocab", Seq("piece"), nBuckets = 1, batchId = 0L)
      Ngrams.unigramSegmentWithVocab(t(s, d, "documents"),
          ManifestTable.read(s, s"$tmp/uni_vocab"),
          maxPieceLen = uniMaxPiece)
        .orderBy("word")
    },
      // same oracle as q_unigram_segment on purpose: the stored-model
      // serve path must reproduce the train-side segmentation exactly
      unigramSegmentOracle(uniRounds)),

    // ---- E28 corpus → token-id sequences from the trained unigram
    // vocabulary (ids dense-ranked by piece string), doc subset like
    // q_bpe_encode ----
    Query("q_unigram_encode", family, (s, d) =>
      Ngrams.unigramEncodeWithVocab(
          t(s, d, "documents").filter(col("doc_id") < 200),
          Ngrams.unigramTrain(t(s, d, "documents"),
            vocabSize = uniVocabSize, maxPieceLen = uniMaxPiece,
            rounds = uniRounds, seedSize = uniSeedSize),
          maxPieceLen = uniMaxPiece)
        .orderBy("doc_id"),
      unigramEncodeOracle(uniRounds)),

    // ---- E28 occurrence-weighted pieces-per-word by language from the
    // trained unigram segmentation — the tokenizer-efficiency report
    // q_bpe_fertility publishes for BPE, closing the two tokenizer
    // families' report symmetry (both ride the session training memo)
    Query("q_unigram_fertility", family, (s, d) => {
      val docs = docsSpread(s, d)
      val seg = Ngrams.unigramSegmentWithVocab(t(s, d, "documents"),
          Ngrams.unigramTrain(t(s, d, "documents"),
            vocabSize = uniVocabSize, maxPieceLen = uniMaxPiece,
            rounds = uniRounds, seedSize = uniSeedSize),
          maxPieceLen = uniMaxPiece)
        .select(col("word").as("w"), col("n_pieces"))
      docs.select(col("lang"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 1)
        .join(seg, Seq("w"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_words"),
             sum(col("n_pieces")).as("n_subwords"),
             round(sum(col("n_pieces")).cast("double") /
                   count(lit(1)).cast("double"), 9).as("fertility"))
        .orderBy("lang")
    }, unigramFertilityOracle(uniRounds)),

    // ---- E28+E15 unigram tokenize→pack (q_bpe_pack's twin): the
    // trained SentencePiece-style tokenizer's id sequences packed into
    // fixed token-budget training rows with boundary arrays, id-0 EOS ----
    // Plan: one |sources| broadcast, one source-keyed rank exchange; id arrays join only at the end.
    Query("q_unigram_pack", family, (s, d) => {
      val enc = Ngrams.unigramEncodeWithVocab(
          t(s, d, "documents").filter(col("doc_id") < 200),
          Ngrams.unigramTrain(t(s, d, "documents"),
            vocabSize = uniVocabSize, maxPieceLen = uniMaxPiece,
            rounds = uniRounds, seedSize = uniSeedSize),
          maxPieceLen = uniMaxPiece)
      val keyed = enc.join(
          docsSpread(s, d).select(col("doc_id"), col("source")),
          Seq("doc_id"))
      Mixing.packWithBoundaries(keyed, "source", "doc_id",
          "n_ids", "token_ids", budget = 512L, sep = ",0,")
        .withColumn("doc_ids",
          array_join(col("doc_ids").cast("array<string>"), ","))
        .withColumn("doc_lens",
          array_join(col("doc_lens").cast("array<string>"), ","))
        .withColumn("doc_starts",
          array_join(col("doc_starts").cast("array<string>"), ","))
        .orderBy("source", "shard")
    }, unigramPackOracle(uniRounds)),

    // ---- E28+E15 the unigram family's corpus→tensors seam, closing
    // the tokenizer-chain symmetry with q_bpe_pack_contiguous: the
    // TRAINED SentencePiece-style tokenizer's token counts → contiguous
    // fixed-length example spans (rides the session training memo) ----
    // Plan: two-level prefix sum over (doc, n_ids); output is span metadata, payloads never move.
    Query("q_unigram_pack_contiguous", family, (s, d) => {
      val enc = Ngrams.unigramEncodeWithVocab(
          t(s, d, "documents").filter(col("doc_id") < 200),
          Ngrams.unigramTrain(t(s, d, "documents"),
            vocabSize = uniVocabSize, maxPieceLen = uniMaxPiece,
            rounds = uniRounds, seedSize = uniSeedSize),
          maxPieceLen = uniMaxPiece)
      val keyed = enc.join(
          docsSpread(s, d).select(col("doc_id"), col("source")),
          Seq("doc_id"))
      Mixing.packContiguous(keyed, "source", "doc_id", "n_ids",
          budget = 256L)
        .orderBy("source", "example", "doc_id", "tok_start")
    }, unigramPackContiguousOracle(uniRounds)),

    // ---- E28+E15 materialized unigram training rows — the
    // q_bpe_examples composition on the unigram encode artifact ----
    // Plan: encode cut once feeds the two-level prefix sum and the final join; payloads move last.
    Query("q_unigram_examples", family, (s, d) => {
      // enc feeds BOTH the span construction and the materialize join —
      // eager localCheckpoint, NOT .persist(): it must materialize once
      // (or the encode pipeline runs twice), and it feeds the
      // materializeExamples JOIN, where a columnar-cache
      // InMemoryRelation's unknown size defeats broadcast/AQE planning
      // (the Similarity.semDedup lesson)
      val enc = operators.OpCaches.cutNow(Ngrams.unigramEncodeWithVocab(
          t(s, d, "documents").filter(col("doc_id") < 200),
          Ngrams.unigramTrain(t(s, d, "documents"),
            vocabSize = uniVocabSize, maxPieceLen = uniMaxPiece,
            rounds = uniRounds, seedSize = uniSeedSize),
          maxPieceLen = uniMaxPiece))
      val keyed = enc.join(
          docsSpread(s, d).select(col("doc_id"), col("source")),
          Seq("doc_id"))
      val spans = Mixing.packContiguous(keyed, "source", "doc_id",
          "n_ids", budget = 256L)
      Mixing.materializeExamples(spans, enc, "doc_id", "source")
        .orderBy("source", "example")
    }, unigramExamplesOracle(uniRounds)),

    // ---- E27+E15 materialized training rows: the span table joined
    // back to the encoded sequences, sliced and concatenated — every
    // example is EXACTLY 256 tokens of real ids (tail excepted); the
    // row a training loader ships. Token payloads move only in this
    // final step; all upstream packing math runs on ids+offsets. ----
    Query("q_bpe_examples", family, (s, d) => {
      val docs = docsSpread(s, d)
      // enc feeds BOTH the span construction and the materialize join —
      // eager localCheckpoint, NOT .persist() (same argument as
      // q_unigram_examples: materialize once, keep the downstream join
      // AQE/broadcast-plannable)
      val enc = operators.OpCaches.cutNow(Ngrams.bpeEncode(docs,
          docs.filter(col("doc_id") < 200), numMerges = bpeOracleMerges))
      val keyed = enc.join(docs.select(col("doc_id"), col("source")),
          Seq("doc_id"))
      val spans = Mixing.packContiguous(keyed, "source", "doc_id",
          "n_ids", budget = 256L)
      Mixing.materializeExamples(spans, enc, "doc_id", "source")
        .orderBy("source", "example")
    }, bpeExamplesOracle(bpeOracleMerges)),

    // ---- E27 BPE tokenizer training: round-1 pair stats (weighted by
    // word frequency) and the full iterative merge learner ----
    Query("q_bpe_pairs", family, (s, d) =>
      Ngrams.bpePairStats(docsSpread(s, d), minCount = 5)
        .orderBy("left", "right"),
      """WITH wc AS (
        |  SELECT w, COUNT(*) AS c
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w
        |        FROM documents)
        |  WHERE len(w) >= 2 GROUP BY w),
        |pr AS (SELECT w[i:i] AS l, w[i+1:i+1] AS r, c
        |       FROM wc, unnest(range(1, len(w))) AS u(i))
        |SELECT l AS "left", r AS "right", CAST(SUM(c) AS BIGINT) AS cnt
        |FROM pr GROUP BY l, r HAVING SUM(c) >= 5
        |ORDER BY "left", "right"""".stripMargin),
    Query("q_bpe_merges", family, (s, d) =>
      Ngrams.bpeTrain(docsSpread(s, d), numMerges = bpeOracleMerges)
        .orderBy("rank"),
      bpeMergesOracle(bpeOracleMerges)),
    // the induced word → subword segmentation (the encode-side artifact)
    Query("q_bpe_segment", family, (s, d) =>
      Ngrams.bpeSegment(docsSpread(s, d), numMerges = bpeOracleMerges)
        .orderBy("word"),
      bpeSegmentOracle(bpeOracleMerges)),
    // corpus → token-id sequences with the TRAINED tokenizer: train on
    // the full corpus, segment, dense-rank the symbol vocabulary, and
    // encode a doc subset in (token pos, symbol pos) order — the last
    // seam in the tokenize→pack chain, closed end-to-end
    Query("q_bpe_encode", family, (s, d) =>
      Ngrams.bpeEncode(docsSpread(s, d),
          docsSpread(s, d).filter(col("doc_id") < 200),
          numMerges = bpeOracleMerges)
        .orderBy("doc_id"),
      bpeEncodeOracle(bpeOracleMerges)),
    // tokenizer fertility report: subwords-per-word of the TRAINED
    // tokenizer, by language — the "is the tokenizer efficient on each
    // slice of the mix" evaluation. Occurrence-weighted: corpus tokens
    // join the vocabulary-sized segment table (broadcast-able), one
    // tiny per-lang aggregate
    Query("q_bpe_fertility", family, (s, d) => {
      val docs = docsSpread(s, d)
      val seg = Ngrams.bpeSegment(docs, numMerges = bpeOracleMerges)
        .select(col("word").as("w"), col("n_syms"))
      docs.select(col("lang"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 1 && !col("w").rlike("[<>]"))
        .join(seg, Seq("w"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_words"),
             sum(col("n_syms")).as("n_subwords"),
             round(sum(col("n_syms")).cast("double") /
                   count(lit(1)).cast("double"), 9).as("fertility"))
        .orderBy("lang")
    }, bpeFertilityOracle(bpeOracleMerges)),
    // E19 corpus → token-id sequences against a ranked vocabulary (the
    // step before packSequences turns ids into training rows). The
    // vocab-ranking window runs over the post-minDf vocabulary — small
    // by construction; id order (df desc, tok) is total on both sides.
    Query("q_encode_tokens", family, (s, d) => {
      val docs = docsSpread(s, d).filter(col("doc_id") < 200)
      val vw = Window.orderBy(col("df").desc, col("tok"))
      val vocab = Ngrams.vocabulary(docs, minDf = 5)
        .select(col("tok"), row_number().over(vw).cast("long").as("id"))
      Ngrams.encodeTokens(docs, vocab, oovId = 0L)
        // driver-gate rule: oracle-checked outputs are scalar-only — the
        // gate's row sort cannot hash array cells, so the id sequence
        // crosses as its canonical comma-joined string
        .withColumn("token_ids",
          array_join(col("token_ids").cast("array<string>"), ","))
        .orderBy("doc_id")
    },
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents WHERE doc_id < 200),
        |tok AS (SELECT doc_id, generate_subscripts(toks, 1) AS pos,
        |               unnest(toks) AS tok FROM d),
        |vocab AS (
        |  SELECT tok, row_number() OVER (ORDER BY df DESC, tok) AS id
        |  FROM (SELECT tok, count(DISTINCT doc_id) AS df FROM tok
        |        GROUP BY tok HAVING count(DISTINCT doc_id) >= 5)),
        |enc AS (
        |  SELECT t.doc_id, t.pos, COALESCE(v.id, 0) AS id
        |  FROM tok t LEFT JOIN vocab v USING (tok))
        |SELECT doc_id,
        |  COALESCE(array_to_string(list(id ORDER BY pos), ','), '')
        |    AS token_ids,
        |  CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
        |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // ---- E19/E15 T5-style span corruption over the encoded corpus:
    // blocked deterministic masking (one Knuth-hashed span per 20-token
    // block), sentinel-in-input / content-behind-sentinel targets —
    // the denoising-objective data op; arrays cross as canonical
    // comma-joined strings (the driver-gate scalar rule) ----
    // Plan: ids and positions only on every exchange; masks are codegen'd hash arithmetic.
    Query("q_span_corrupt", family, (s, d) => {
      val docs = docsSpread(s, d).filter(col("doc_id") < 200)
      val vw = Window.orderBy(col("df").desc, col("tok"))
      val vocab = Ngrams.vocabulary(docs, minDf = 5)
        .select(col("tok"), row_number().over(vw).cast("long").as("id"))
      val enc = Ngrams.encodeTokens(docs, vocab, oovId = 0L)
      Ngrams.spanCorrupt(enc)
        .withColumn("input_ids",
          array_join(col("input_ids").cast("array<string>"), ","))
        .withColumn("target_ids",
          array_join(col("target_ids").cast("array<string>"), ","))
        .orderBy("doc_id")
    },
      // same vocab/encode CTEs as q_encode_tokens; positions 0-based
      // (generate_subscripts is 1-based — block boundaries depend on it)
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents
        |           WHERE doc_id < 200 AND text IS NOT NULL),
        |tok AS (SELECT doc_id, generate_subscripts(toks, 1) - 1 AS pos,
        |               unnest(toks) AS tok FROM d),
        |vocab AS (
        |  SELECT tok, row_number() OVER (ORDER BY df DESC, tok) AS id
        |  FROM (SELECT tok, count(DISTINCT doc_id) AS df FROM tok
        |        GROUP BY tok HAVING count(DISTINCT doc_id) >= 5)),
        |enc AS (
        |  SELECT t.doc_id, t.pos, COALESCE(v.id, 0) AS id
        |  FROM tok t LEFT JOIN vocab v USING (tok)),
        |mk AS (SELECT doc_id, pos, id, pos // 20 AS blk, pos % 20 AS pib,
        |         ((doc_id * 31 + pos // 20) * 2654435761)
        |           % 4294967296 % 18 AS off
        |       FROM enc),
        |mm AS (SELECT *, (pib >= off AND pib < off + 3) AS masked FROM mk),
        |inp AS (SELECT doc_id,
        |          array_to_string(list(CASE WHEN masked THEN blk + 1000000
        |            ELSE id END ORDER BY pos), ',') AS input_ids
        |        FROM mm WHERE NOT masked OR pib = off GROUP BY doc_id),
        |tg AS (SELECT doc_id, pos * 2 AS tp, id AS outv FROM mm
        |       WHERE masked
        |       UNION ALL
        |       SELECT doc_id, MIN(pos) * 2 - 1, blk + 1000000 FROM mm
        |       WHERE masked GROUP BY doc_id, blk),
        |tga AS (SELECT doc_id,
        |          array_to_string(list(outv ORDER BY tp), ',') AS target_ids
        |        FROM tg GROUP BY doc_id),
        |base AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens
        |         FROM d)
        |SELECT b.doc_id, b.n_tokens,
        |  COALESCE(i.input_ids, '') AS input_ids,
        |  COALESCE(t.target_ids, '') AS target_ids
        |FROM base b LEFT JOIN inp i USING (doc_id)
        |LEFT JOIN tga t USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin),
  )
}
