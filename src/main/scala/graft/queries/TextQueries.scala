package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.SparkEntry.{docsSpread, t, withScratchDir}
import graft.operators.{Ngrams, TextAnalysis}

/** Text queries: document statistics, language ID, quality and PII
  * screens and their calibration, classifiers (Naive Bayes, logistic),
  * n-gram statistics, language-model scores and collocations. */
object TextQueries {

  private val family = "text"

  /** Shared unrolled-GD training CTEs for the q_logreg pair: the
    * fp(1e6)-quantized feature table, then each of the 3 iterations as
    * (margin+link, gradient-sum, weight-update) CTE triples — the SQL
    * replay of TextAnalysis.logregTrain's loop, exact by the same
    * argument (integer features, long-exact gradient sums, one IEEE
    * division per doc, round-half-away weight updates). */
  private val logregTrainCtes: String = {
    def grads(resid: String) = (0 to 3).map(k =>
      s"  SUM(CAST(round(($resid) * a$k, 0) AS BIGINT)) AS g$k")
      .mkString(",\n")
    val ws1 = (0 to 3).map(k =>
      s"  0 - CAST(round(4.0 * (CAST(g$k AS DOUBLE) / n), 0) AS BIGINT) AS w$k")
      .mkString(",\n")
    def round(i: Int) = {
      val (p, g) = (i - 1, s"g${i}c")
      val ws = (0 to 3).map(k =>
        s"  ws$p.w$k - CAST(round(4.0 * (CAST($g.g$k AS DOUBLE) / $g.n), 0)\n" +
        s"    AS BIGINT) AS w$k").mkString(",\n")
      s"""p$i AS (SELECT y, a0, a1, a2, a3,
         |    0.5 + z / (2.0 * (1.0 + abs(z))) AS p
         |  FROM (SELECT y, a0, a1, a2, a3,
         |    CAST(ws$p.w0*a0 + ws$p.w1*a1 + ws$p.w2*a2 + ws$p.w3*a3 AS DOUBLE)
         |      / 1000000000000.0 AS z
         |  FROM f CROSS JOIN ws$p) t),
         |$g AS (SELECT COUNT(*) AS n,
         |${grads("p - y")}
         |  FROM p$i),
         |ws$i AS (SELECT $g.n,
         |$ws
         |  FROM $g CROSS JOIN ws$p)""".stripMargin
    }
    s"""WITH f AS (
       |  SELECT source, n_chars,
       |    CASE WHEN n_chars >= 300 THEN CAST(1.0 AS DOUBLE)
       |         ELSE CAST(0.0 AS DOUBLE) END AS y,
       |    CAST(1000000 AS BIGINT) AS a0,
       |    CAST(round(least(len(string_split(text, ' ')), 256)
       |      * 3906.25, 0) AS BIGINT) AS a1,
       |    CAST(round(len(list_filter(string_split(text, ' '),
       |        t -> t = 'the')) * 1000000.0
       |      / len(string_split(text, ' ')), 0) AS BIGINT) AS a2,
       |    CAST(round(least(length(text) * 1.0
       |        / len(string_split(text, ' ')), 16.0) * 62500.0, 0)
       |      AS BIGINT) AS a3
       |  FROM documents WHERE text IS NOT NULL),
       |g1 AS (SELECT COUNT(*) AS n,
       |${grads("0.5 - y")}
       |  FROM f),
       |ws1 AS (SELECT n,
       |$ws1
       |  FROM g1),
       |${(2 to 3).map(round).mkString(",\n")}""".stripMargin
  }

  /** DuckDB replay of the NB train-and-score composition, shared by
    * `q_nb_classify` and `q_nb_stored` (scoring from the stored model
    * must reproduce the direct confusion matrix exactly): add-one-
    * smoothed per-(label, token) log-probs rounded to 9 decimals and
    * summed as DECIMAL(28,9), every doc × label scaffolded so all-OOV
    * docs keep the prior-only argmax. */
  private val nbConfusionOracle: String =
    """WITH tr AS (
      |  SELECT lang AS label, u.w
      |  FROM documents, unnest(string_split(text, ' ')) AS u(w)
      |  WHERE doc_id % 2 = 0 AND len(u.w) >= 1),
      |clt AS (SELECT label, w, COUNT(*) AS c FROM tr GROUP BY 1, 2),
      |cl AS (SELECT label, SUM(c) AS tot FROM clt GROUP BY 1),
      |vocab AS (SELECT DISTINCT w FROM clt),
      |vs AS (SELECT COUNT(*) AS v FROM vocab),
      |lb AS (SELECT lang AS label, COUNT(*) AS nd FROM documents
      |       WHERE doc_id % 2 = 0 GROUP BY 1),
      |ndocs AS (SELECT SUM(nd) AS n FROM lb),
      |prior AS (
      |  SELECT label,
      |    CAST(round(ln(CAST(nd AS DOUBLE) / CAST(n AS DOUBLE)), 9)
      |      AS DECIMAL(28,9)) AS pr
      |  FROM lb, ndocs),
      |model AS (
      |  SELECT v.w, cl.label,
      |    CAST(round(ln(CAST(COALESCE(clt.c, 0) + 1 AS DOUBLE) /
      |        CAST(cl.tot + vs.v AS DOUBLE)), 9) AS DECIMAL(28,9))
      |      AS logp
      |  FROM vocab v CROSS JOIN cl CROSS JOIN vs
      |  LEFT JOIN clt ON clt.label = cl.label AND clt.w = v.w),
      |ta AS (
      |  SELECT doc_id, u.w
      |  FROM documents, unnest(string_split(text, ' ')) AS u(w)
      |  WHERE len(u.w) >= 1),
      |sc AS (
      |  SELECT doc_id, m.label, SUM(m.logp) AS s
      |  FROM ta JOIN model m USING (w) GROUP BY 1, 2),
      |pick AS (
      |  SELECT d.doc_id, d.lang AS actual, p.label,
      |    row_number() OVER (PARTITION BY d.doc_id
      |      ORDER BY p.pr + COALESCE(sc.s, CAST(0 AS DECIMAL(28,9))) DESC,
      |               p.label) AS rn
      |  FROM documents d CROSS JOIN prior p
      |  LEFT JOIN sc ON sc.doc_id = d.doc_id AND sc.label = p.label)
      |SELECT actual, label AS predicted, COUNT(*) AS n_docs
      |FROM pick WHERE rn = 1
      |GROUP BY actual, label ORDER BY actual, predicted""".stripMargin

  /** Per-doc inputs of the Gopher rule (TextAnalysis.gopherStats):
    * word count, char count, symbol and numeral counts. */
  private val gopherFeatures: String =
    """  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
      |    CAST(length(text) AS DOUBLE) AS n_chars,
      |    CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))
      |      AS DOUBLE) AS symbols,
      |    CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
      |      AS DOUBLE) AS numerals""".stripMargin

  /** The Gopher verdict (minWords 20) over [[gopherFeatures]];
    * continuation lines indented `pad`. */
  private def gopherPass(pad: Int): String = {
    val p = " " * pad
    s"""(n_words >= 20 AND n_words <= 100000
       |$p AND (CASE WHEN n_words > 0
       |$p      THEN (n_chars - (n_words - 1)) / n_words ELSE 0.0 END)
       |$p     BETWEEN 3.0 AND 10.0
       |$p AND (CASE WHEN n_words > 0
       |$p      THEN symbols / n_words ELSE 1.0 END) < 0.1
       |$p AND (CASE WHEN n_chars > 0
       |$p      THEN numerals / n_chars ELSE 1.0 END) < 0.2)""".stripMargin
  }

  /** The alpha-share and word-length terms of TextAnalysis.qualityScore
    * (the length term opens the sum at each use). */
  private val qualityTerms: String =
    """     + CASE WHEN LENGTH(text) > 0
      |            THEN CAST(LENGTH(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
      |                 / CAST(LENGTH(text) AS DOUBLE)
      |            ELSE CAST(0.0 AS DOUBLE) END
      |     + CASE WHEN len(string_split(text, ' ')) > 0
      |                 AND CAST(LENGTH(text) AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE) >= 3
      |                 AND CAST(LENGTH(text) AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE) <= 10
      |            THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.5 AS DOUBLE) END""".stripMargin

  /** Each doc's quality score beside its Gopher verdict (CTE `g`): the
    * (score, label) input of the calibration oracles. */
  private val scoredLabels: String =
    s"""WITH t AS (
       |$gopherFeatures,
       |    (LEAST(CAST(LENGTH(text) AS DOUBLE) / CAST(200.0 AS DOUBLE),
       |           CAST(1.0 AS DOUBLE))
       |$qualityTerms
       |    ) / CAST(3.0 AS DOUBLE) AS score
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, score,
       |    ${gopherPass(4)} AS label
       |  FROM t)""".stripMargin

  /** Adjacent-word bigram counts `c_ab` with their left and right
    * marginals. */
  private val bigramCounts: String =
    """WITH t AS (SELECT string_split(text, ' ') AS w FROM documents),
      |g AS (SELECT w[i] AS w1, w[i + 1] AS w2
      |      FROM t, unnest(range(1, len(w))) AS u(i)
      |      WHERE len(w) >= 2),
      |m AS (SELECT w1, w2, COUNT(*) AS c_ab FROM g GROUP BY 1, 2),
      |l AS (SELECT w1, SUM(c_ab) AS c_left FROM m GROUP BY 1),
      |r AS (SELECT w2, SUM(c_ab) AS c_right FROM m GROUP BY 1)""".stripMargin

  val all: Seq[Query] = Seq(

    // ---- E4 text stats ----
    Query("q_text_stats", family, (s, d) => {
      val toks = split(col("text"), " ")
      docsSpread(s, d)
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars_c"),
          size(toks).cast("long").as("n_tokens"),
          size(array_distinct(toks)).cast("long").as("n_uniq_tokens"),
          TextAnalysis.bpeishTokenCount(col("text")).cast("long")
            .as("n_bpeish"))
        .orderBy("doc_id")
    },
      """SELECT doc_id, CAST(LENGTH(text) AS BIGINT) AS n_chars_c,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  len(list_distinct(string_split(text, ' '))) AS n_uniq_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]')) AS n_bpeish
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ---- E4 language-ID heuristic ----
    Query("q_lang_id", family, (s, d) => {
      val scores = TextAnalysis.langIdScores(col("text"))
      val cols = scores.map { case (l, c) => c.cast("long").as(s"${l}_hits") }
      docsSpread(s, d)
        .select(col("doc_id") +: cols :+
          TextAnalysis.langId(col("text")).as("lang_pred"): _*)
        .orderBy("doc_id")
    },
      """SELECT doc_id, en_hits, de_hits, fr_hits,
        |  CASE WHEN en_hits >= de_hits AND en_hits >= fr_hits AND en_hits > 0 THEN 'en'
        |       WHEN de_hits >= fr_hits AND de_hits > 0 THEN 'de'
        |       WHEN fr_hits > 0 THEN 'fr'
        |       ELSE 'und' END AS lang_pred
        |FROM (
        |  SELECT doc_id,
        |    len(list_filter(string_split(text, ' '),
        |        x -> x IN ('the','and','of','a','is'))) AS en_hits,
        |    len(list_filter(string_split(text, ' '),
        |        x -> x IN ('der','und','die','das','ist'))) AS de_hits,
        |    len(list_filter(string_split(text, ' '),
        |        x -> x IN ('le','la','et','les','est'))) AS fr_hits
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin),

    // ---- E4 trainable Naive Bayes classifier: train on the even-id
    // half (labeled slice), predict the WHOLE corpus, publish the
    // confusion matrix. Rounded-decimal log-probs make the scores (and
    // so the argmax) engine-exact — the DuckDB oracle retrains the
    // same model from scratch. ----
    Query("q_nb_classify", family, (s, d) => {
      val docs = docsSpread(s, d)
      TextAnalysis.nbClassify(
          docs.filter(pmod(col("doc_id"), lit(2)) === 0), docs,
          labelCol = "lang", textCol = "text")
        .orderBy("actual", "predicted")
    },
      // NB retrained from scratch: add-one-smoothed per-(label, token)
      // log-probs rounded to 9 decimals and summed as DECIMAL(28,9) —
      // the bigram-LM exactness recipe — then per-doc argmax with label
      // tie-break, aggregated to the confusion matrix
      nbConfusionOracle),

    // ---- E4 logistic-style quality classifier, TRAIN trajectory: 3
    // GD iterations on fp(1e6)-quantized scan-side features with the
    // rational squashing link (no libm anywhere) — every iteration's
    // weight vector is integer-exact, so the oracle replays the whole
    // trajectory with the iterations unrolled as CTEs ----
    Query("q_logreg", family, (s, d) =>
      TextAnalysis.logregTrain(docsSpread(s, d),
          label = col("n_chars") >= 300, textCol = "text",
          iters = 3, lr = 4.0)
        .orderBy("iter"),
      (logregTrainCtes + "\n" +
      """SELECT CAST(1 AS BIGINT) AS iter, n, w0, w1, w2, w3 FROM ws1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), n, w0, w1, w2, w3 FROM ws2
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), n, w0, w1, w2, w3 FROM ws3
        |ORDER BY iter""".stripMargin)),

    // ---- E4 logistic classifier SERVE: score the corpus with the
    // trained weights (train composes in — the collect is the final
    // 4-long weight row, bounded model state), then the per-source
    // quality report: n, mean score, and the n_chars>=300 agreement
    // count at the 0.5 threshold ----
    Query("q_logreg_score", family, (s, d) => {
      val docs = docsSpread(s, d)
      val last = TextAnalysis.logregTrain(docs,
          label = col("n_chars") >= 300, textCol = "text",
          iters = 3, lr = 4.0)
        .orderBy(col("iter").desc).limit(1).collect()(0)
      val w = (2 to 5).map(last.getLong(_))
      TextAnalysis.logregScore(docs, w, textCol = "text")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("score").cast(DecimalType(28, 9))).cast("double") /
            count(lit(1)), 9).as("mean_score"),
          sum(when((col("score") >= 0.5) === (col("n_chars") >= 300), 1L)
            .otherwise(0L)).as("n_agree"))
        .orderBy("source")
    },
      // the serve twin replays the full train unroll, then scores every
      // doc with ws3 and folds the per-source quality report
      (logregTrainCtes + ",\n" +
      """sc AS (SELECT source, n_chars,
        |    round(0.5 + z / (2.0 * (1.0 + abs(z))), 9) AS score
        |  FROM (SELECT source, n_chars,
        |    CAST(ws3.w0*a0 + ws3.w1*a1 + ws3.w2*a2 + ws3.w3*a3 AS DOUBLE)
        |      / 1000000000000.0 AS z
        |  FROM f CROSS JOIN ws3) t)
        |SELECT source, COUNT(*) AS n,
        |  round(CAST(SUM(CAST(score AS DECIMAL(28,9))) AS DOUBLE)
        |    / COUNT(*), 9) AS mean_score,
        |  CAST(SUM(CASE WHEN (score >= 0.5) = (n_chars >= 300)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
        |FROM sc GROUP BY source
        |ORDER BY source""".stripMargin)),

    // ---- E4+E13 stored-classifier round trip: train once, COMMIT the
    // (token, label, logp) model and (label, prior) tables through
    // ManifestTable, read both back, score the whole corpus from the
    // STORED artifact — the train-once/score-many production shape.
    // Oracle is deliberately the same SQL as q_nb_classify: the green
    // row certifies the DECIMAL log-probs survive the round trip
    // bit-for-bit. ----
    Query("q_nb_stored", family, (s, d) => withScratchDir("graft-nb-model") { tmp =>
      import graft.sources.ManifestTable
      val docs = docsSpread(s, d)
      val (model, priors) = TextAnalysis.nbTrain(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0), "lang", "text")
      ManifestTable.upsertBatch(model, s"$tmp/nb_model",
        Seq("token", "label"), nBuckets = 4, targetRowsPerBucket = 1L << 20, batchId = 0L)
      ManifestTable.upsertBatch(priors, s"$tmp/nb_priors",
        Seq("label"), nBuckets = 1, batchId = 0L)
      TextAnalysis.nbScore(docs,
          ManifestTable.read(s, s"$tmp/nb_model"),
          ManifestTable.read(s, s"$tmp/nb_priors"),
          labelCol = "lang", textCol = "text")
        .orderBy("actual", "predicted")
    },
      // same oracle on purpose: scoring from the STORED model tables
      // must reproduce the train-and-score confusion matrix exactly
      nbConfusionOracle),

    // ---- E4 PII exposure report (the measurement side of q_redact) ----
    Query("q_pii_stats", family, (s, d) =>
      TextAnalysis.piiStats(docsSpread(s, d)).orderBy("doc_id"),
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |    AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, 'https?://[^ ]+'))
        |    AS BIGINT) AS n_urls,
        |  CAST(len(regexp_extract_all(text, '[0-9]{8,}'))
        |    AS BIGINT) AS n_long_digit_runs
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ---- E4 deterministic MLM masking plan: 15% of (doc, position)
    // pairs masked by the engine-independent Knuth-hash bucket — the
    // reproducible-mask prep a masked-LM data pipeline ships ----
    Query("q_mask_tokens", family, (s, d) =>
      TextAnalysis.maskTokens(docsSpread(s, d), maskPct = 15)
        .orderBy("doc_id"),
      // 0-based positions (generate_subscripts is 1-based); the nested
      // mod chain replays Spark's pmod(pmod(k*C, 2^32), 100) exactly —
      // all operands non-negative, so % and pmod agree
      """WITH tok AS (
        |  SELECT doc_id, generate_subscripts(toks, 1) - 1 AS tp,
        |         unnest(toks) AS w
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |        FROM documents)),
        |m AS (
        |  SELECT doc_id, tp,
        |    ((doc_id * 10007 + tp) * 2654435761) % 4294967296 % 100 < 15
        |      AS masked
        |  FROM tok WHERE len(w) >= 1)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |  CAST(SUM(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_masked,
        |  COALESCE(array_to_string(
        |    list(tp ORDER BY tp) FILTER (WHERE masked), ','), '')
        |    AS masked_positions
        |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // ---- E4 quality score ----
    Query("q_quality", family, (s, d) =>
      docsSpread(s, d)
        .select(col("doc_id"),
                TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id"),
      """SELECT doc_id,
        |  (LEAST(CAST(LENGTH(text) AS DOUBLE) / CAST(200.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
        |   + CASE WHEN LENGTH(text) > 0
        |          THEN CAST(LENGTH(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
        |               / CAST(LENGTH(text) AS DOUBLE)
        |          ELSE CAST(0.0 AS DOUBLE) END
        |   + CASE WHEN len(string_split(text, ' ')) > 0
        |               AND CAST(LENGTH(text) AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE) >= 3
        |               AND CAST(LENGTH(text) AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE) <= 10
        |          THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.5 AS DOUBLE) END
        |  ) / CAST(3.0 AS DOUBLE) AS quality
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ---- E4 PII-style redaction ----
    Query("q_redact", family, (s, d) =>
      docsSpread(s, d)
        .select(col("doc_id"),
                TextAnalysis.redact(col("text")).as("clean"))
        .orderBy("doc_id"),
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(text,
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      'https?://[^ ]+', '<URL>', 'g'),
        |    '[0-9]{8,}', '<NUM>', 'g') AS clean
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ---- E4 sliding-window chunking (overlapping token windows) ----
    Query("q_chunk", family, (s, d) =>
      docsSpread(s, d)
        .filter(col("doc_id") < 50)
        .select(col("doc_id"),
          posexplode(TextAnalysis.chunkTokens(col("text"), 16, 8)))
        .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
                col("col").as("chunk"))
        .orderBy("doc_id", "chunk_idx"),
      """SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
        |  array_to_string(toks[(i*8+1):(i*8+16)], ' ') AS chunk
        |FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |      FROM documents WHERE doc_id < 50),
        |  unnest(range(0, greatest(
        |    CAST(ceil((len(toks) - 16) / 8.0) AS INT) + 1, 1))) AS u(i)
        |ORDER BY doc_id, chunk_idx""".stripMargin),

    // ---- E4 rolling-hash fingerprint ----
    Query("q_fingerprint", family, (s, d) =>
      docsSpread(s, d)
        .select(col("doc_id"),
                TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id"),
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(text, ''), c -> CAST(unicode(c) AS BIGINT))),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ---- E19 winnowing sketch (MOSS): min-hash-per-window k-gram
    // selection with the rightmost-tie rule — the guarantee-bearing
    // ~1/w-size sketch for substring-overlap detection ----
    Query("q_winnow", family, (s, d) =>
      Ngrams.winnow(docsSpread(s, d), k = 3, w = 4)
        .orderBy("doc_id", "pos"),
      // winnowing: same char-polynomial over each 3-gram string, then the
      // min-of-window selection with the rightmost-tie rule encoded in the
      // same hash*2^21 + (2^21-1-pos) key the engine minimizes
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
        |           FROM documents),
        |g AS (SELECT doc_id, i - 1 AS pos,
        |        array_to_string(w[i:i+2], ' ') AS gram
        |      FROM t, unnest(range(1, len(w) - 3 + 2)) AS u(i)
        |      WHERE len(w) >= 3),
        |h AS (SELECT doc_id, pos,
        |        list_reduce(list_prepend(CAST(0 AS BIGINT),
        |          list_transform(string_split(gram, ''),
        |                         c -> CAST(unicode(c) AS BIGINT))),
        |          (a, b) -> (a * 31 + b) % 1000000007) * 2097152
        |          + (2097151 - pos) AS comb
        |      FROM g),
        |m AS (SELECT doc_id,
        |        min(comb) OVER (PARTITION BY doc_id ORDER BY pos
        |          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel,
        |        count(*) OVER (PARTITION BY doc_id ORDER BY pos
        |          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS n
        |      FROM h)
        |SELECT DISTINCT doc_id, sel // 2097152 AS fp,
        |  CAST(2097151 - (sel % 2097152) AS BIGINT) AS pos
        |FROM m WHERE n = 4 ORDER BY doc_id, pos""".stripMargin),

    // ---- E4 LIX-style readability report per source ----
    Query("q_readability", family, (s, d) =>
      TextAnalysis.readability(docsSpread(s, d), "source")
        .orderBy("source"),
      """WITH d AS (SELECT source,
        |        CAST(length(string_split(text, ' ')) AS BIGINT) AS nt,
        |        CAST(length(list_filter(string_split(text, ' '),
        |          w -> length(w) >= 5)) AS BIGINT) AS nl,
        |        CAST(length(text) - (length(string_split(text, ' ')) - 1)
        |          AS BIGINT) AS ch
        |      FROM documents WHERE text IS NOT NULL),
        |g AS (SELECT source, count(*) AS n_docs,
        |        CAST(sum(nt) AS BIGINT) AS n_tokens,
        |        CAST(sum(nl) AS BIGINT) AS n_long_tokens,
        |        CAST(sum(ch) AS BIGINT) AS ch
        |      FROM d GROUP BY 1)
        |SELECT source, n_docs, n_tokens, n_long_tokens,
        |  round(CAST(ch AS DOUBLE) / n_tokens, 9) AS avg_tok_len,
        |  round(CAST(n_long_tokens AS DOUBLE) * 100.0 / n_tokens, 9)
        |    AS long_pct
        |FROM g WHERE n_tokens > 0 ORDER BY source""".stripMargin),

    // ---- E19 corpus statistics / decontamination (Ngrams) ----
    Query("q_vocab", family, (s, d) =>
      Ngrams.vocabulary(docsSpread(s, d), minDf = 5).orderBy("tok"),
      """SELECT tok, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |      FROM documents)
        |GROUP BY tok HAVING COUNT(DISTINCT doc_id) >= 5
        |ORDER BY tok""".stripMargin),
    // cross-source overlap matrix: exact pairwise shingle Jaccard +
    // directional containments — the pre-mixing contamination report
    Query("q_source_overlap", family, (s, d) =>
      Ngrams.sourceOverlap(t(s, d, "documents"))
        .orderBy("src_a", "src_b"),
      // exact distinct-shingle sets per source; jaccard/containment are
      // single IEEE divisions of exact integer counts — engine-identical
      // full-window shingles only (WHERE len >= 3 guard): ngramArray emits
      // NO shingle for a doc shorter than n tokens, so the oracle must not
      // fabricate a partial window for such docs (ADVICE r6)
      """WITH sh AS (
        |  SELECT DISTINCT source AS g,
        |    unnest(list_transform(
        |      range(1, len(toks) - 2 + 1),
        |      i -> array_to_string(toks[i:i+2], ' '))) AS sh
        |  FROM (SELECT source, string_split(text, ' ') AS toks
        |        FROM documents)
        |  WHERE len(toks) >= 3),
        |sz AS (SELECT g, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.g AS src_a, b.g AS src_b, CAST(count(*) AS BIGINT) AS n_common
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.g < b.g GROUP BY 1, 2)
        |SELECT src_a, src_b, n_common, sa.sz AS sz_a, sb.sz AS sz_b,
        |  CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) AS jaccard,
        |  CAST(n_common AS DOUBLE) / sa.sz AS containment_a,
        |  CAST(n_common AS DOUBLE) / sb.sz AS containment_b
        |FROM inter JOIN sz sa ON sa.g = src_a JOIN sz sb ON sb.g = src_b
        |ORDER BY src_a, src_b""".stripMargin),

    // distributional twin: pairwise Jensen–Shannon divergence between
    // source unigram distributions (integer-nanonat ln terms)
    Query("q_source_jsd", family, (s, d) =>
      Ngrams.sourceDivergence(t(s, d, "documents"))
        .orderBy("src_a", "src_b"),
      // intersection tokens carry integer nanonat terms; each side's
      // private mass closes the telescope as (n − Σc_inter)·round(ln2·1e9)
      """WITH cnt AS (
        |  SELECT source AS g, tok, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
        |        FROM documents)
        |  GROUP BY 1, 2),
        |tot AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY 1),
        |sided AS (SELECT cnt.g, tok, c, n FROM cnt JOIN tot USING (g)),
        |j AS (
        |  SELECT a.g AS src_a, b.g AS src_b, a.n AS na, b.n AS nb,
        |    a.c AS ca, b.c AS cb,
        |    CAST(round(ln(2.0 * a.c * b.n /
        |      (CAST(a.c AS DOUBLE) * b.n + CAST(b.c AS DOUBLE) * a.n)) * 1e9)
        |      AS BIGINT) * a.c AS ta,
        |    CAST(round(ln(2.0 * b.c * a.n /
        |      (CAST(a.c AS DOUBLE) * b.n + CAST(b.c AS DOUBLE) * a.n)) * 1e9)
        |      AS BIGINT) * b.c AS tb
        |  FROM sided a JOIN sided b ON a.tok = b.tok AND a.g < b.g),
        |gg AS (
        |  SELECT src_a, src_b, na, nb,
        |    CAST(sum(ta) AS BIGINT) AS sa_int, CAST(sum(tb) AS BIGINT) AS sb_int,
        |    CAST(sum(ca) AS BIGINT) AS ia, CAST(sum(cb) AS BIGINT) AS ib,
        |    CAST(count(*) AS BIGINT) AS n_common_tokens
        |  FROM j GROUP BY 1, 2, 3, 4)
        |SELECT src_a, src_b, n_common_tokens,
        |  round(0.5 * (
        |    CAST(sa_int + (na - ia) * 693147181 AS DOUBLE) / na +
        |    CAST(sb_int + (nb - ib) * 693147181 AS DOUBLE) / nb) / 1e9, 9)
        |    AS jsd
        |FROM gg ORDER BY src_a, src_b""".stripMargin),
    Query("q_tfidf", family, (s, d) =>
      Ngrams.tfidf(
          t(s, d, "documents").filter(col("doc_id") < 100), minDf = 2)
        .orderBy("doc_id", "tok"),
      """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 100),
        |tokens AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |           FROM d),
        |per_doc AS (SELECT doc_id, tok, COUNT(*) AS tf
        |            FROM tokens GROUP BY doc_id, tok),
        |dfv AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tokens
        |        GROUP BY tok HAVING COUNT(DISTINCT doc_id) >= 2),
        |n AS (SELECT COUNT(*) AS n_docs FROM d)
        |SELECT per_doc.doc_id, per_doc.tok, per_doc.tf,
        |  CAST(per_doc.tf AS DOUBLE) * n.n_docs / dfv.df AS score
        |FROM per_doc JOIN dfv USING (tok) CROSS JOIN n
        |ORDER BY doc_id, tok""".stripMargin),
    Query("q_ngram_counts", family, (s, d) =>
      Ngrams.ngramCounts(docsSpread(s, d), n = 3, minCount = 3)
        .orderBy("ngram"),
      """WITH t AS (SELECT string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT array_to_string(w[i:i+2], ' ') AS ngram
        |      FROM t, unnest(range(1, len(w) - 1)) AS u(i)
        |      WHERE len(w) >= 3)
        |SELECT ngram, COUNT(*) AS cnt FROM g
        |GROUP BY ngram HAVING COUNT(*) >= 3
        |ORDER BY ngram""".stripMargin),
    Query("q_rep_ratio", family, (s, d) =>
      Ngrams.repetitionRatio(docsSpread(s, d), n = 3).orderBy("doc_id"),
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
        |           FROM documents),
        |g AS (SELECT doc_id, array_to_string(w[i:i+2], ' ') AS ng
        |      FROM t, unnest(range(1, len(w) - 1)) AS u(i)
        |      WHERE len(w) >= 3)
        |SELECT doc_id, COUNT(*) AS n_total,
        |  COUNT(DISTINCT ng) AS n_distinct,
        |  1.0 - CAST(COUNT(DISTINCT ng) AS DOUBLE) / COUNT(*) AS rep_ratio
        |FROM g GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // ---- E19 per-doc novelty: fraction of 8-grams first seen in this
    // doc (ingest order) — the marginal-contribution mixing signal ----
    Query("q_novelty", family, (s, d) =>
      Ngrams.noveltyScore(docsSpread(s, d), n = 8).orderBy("doc_id"),
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
        |           FROM documents),
        |g AS (SELECT DISTINCT doc_id,
        |        array_to_string(w[i:i+7], ' ') AS gm
        |      FROM d, unnest(range(1, len(w) - 6)) AS u(i)
        |      WHERE len(w) >= 8),
        |f AS (SELECT gm, MIN(doc_id) AS fd FROM g GROUP BY gm)
        |SELECT g.doc_id, COUNT(*) AS n_grams,
        |  CAST(SUM(CASE WHEN f.fd = g.doc_id THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_novel,
        |  CAST(SUM(CASE WHEN f.fd = g.doc_id THEN 1 ELSE 0 END)
        |    AS DOUBLE) / COUNT(*) AS novelty
        |FROM g JOIN f USING (gm)
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin),

    // ---- E4 blocklist gate: one alternation regex, scan-side ----
    Query("q_blocklist", family, (s, d) =>
      TextAnalysis.blocklistFilter(docsSpread(s, d),
          Seq("slow batch", "dup table", "the vector"))
        .select("doc_id", "source")
        .orderBy("doc_id"),
      """SELECT doc_id, source FROM documents
        |WHERE NOT (text LIKE '%slow batch%'
        |  OR text LIKE '%dup table%'
        |  OR text LIKE '%the vector%')
        |ORDER BY doc_id""".stripMargin),

    // ---- E19 unigram LM quality score (perplexity-style signal) ----
    Query("q_lm_score", family, (s, d) =>
      Ngrams.unigramLogProb(docsSpread(s, d), quantize = Some(9))
        .orderBy("doc_id"),
      """WITH tokens AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |model AS (SELECT tok, COUNT(*) AS tf FROM tokens GROUP BY tok),
        |total AS (SELECT CAST(SUM(tf) AS DOUBLE) AS n_total FROM model),
        |logp AS (
        |  SELECT tok, round(ln(tf / n_total), 9) AS logp
        |  FROM model, total)
        |SELECT t.doc_id, COUNT(*) AS n_toks,
        |  CAST(SUM(CAST(l.logp AS DECIMAL(28,9))) AS DOUBLE) / COUNT(*)
        |    AS avg_logp
        |FROM tokens t JOIN logp l USING (tok)
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin),

    // ---- E19 bigram LM transition score (sequential-coherence twin of
    // q_lm_score: frequent tokens in random order score low here) ----
    Query("q_bigram_lm", family, (s, d) =>
      Ngrams.bigramLogProb(docsSpread(s, d))
        .orderBy("doc_id"),
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
        |           FROM documents),
        |grams AS (SELECT doc_id, array_to_string(w[i:i+1], ' ') AS bg
        |          FROM t, unnest(range(1, len(w))) AS u(i)
        |          WHERE len(w) >= 2),
        |model AS (SELECT bg, COUNT(*) AS c_bg FROM grams GROUP BY bg),
        |ctx AS (SELECT string_split(bg, ' ')[1] AS pw, SUM(c_bg) AS c_ctx
        |        FROM model GROUP BY 1),
        |logp AS (
        |  SELECT bg, round(ln(CAST(c_bg AS DOUBLE) / c_ctx), 9) AS logp
        |  FROM model JOIN ctx ON string_split(bg, ' ')[1] = pw)
        |SELECT g.doc_id, COUNT(*) AS n_bigrams,
        |  CAST(SUM(CAST(l.logp AS DECIMAL(28,9))) AS DOUBLE) / COUNT(*)
        |    AS avg_logp
        |FROM grams g JOIN logp l USING (bg)
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin),

    // ---- E19 PMI collocation mining (multiword-unit discovery for
    // tokenizer vocab / phrase-aware dedup decisions) ----
    Query("q_collocations", family, (s, d) =>
      Ngrams.collocations(docsSpread(s, d), minCount = 5)
        .orderBy("w1", "w2"),
      s"""$bigramCounts,
        |n AS (SELECT SUM(c_ab) AS n_total FROM m)
        |SELECT m.w1, m.w2, m.c_ab,
        |  round(ln((CAST(c_ab AS DOUBLE) * CAST(n_total AS DOUBLE))
        |    / (CAST(c_left AS DOUBLE) * CAST(c_right AS DOUBLE))), 9) AS pmi
        |FROM m JOIN l USING (w1) JOIN r USING (w2), n
        |WHERE c_ab >= 5 ORDER BY w1, w2""".stripMargin),

    // ---- E19 DSIR importance weights (domain-targeted selection:
    // log-likelihood ratio of target vs raw unigram models) ----
    Query("q_dsir_weights", family, (s, d) =>
      Ngrams.importanceWeights(docsSpread(s, d),
          col("source") === "src0")
        .orderBy("doc_id"),
      """WITH tk AS (
        |  SELECT doc_id, (source = 'src0') AS t,
        |    unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |m AS (
        |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS c_r,
        |    CAST(COUNT(*) FILTER (t) AS BIGINT) AS c_t
        |  FROM tk GROUP BY tok),
        |tot AS (
        |  SELECT CAST(SUM(c_r) AS BIGINT) AS n_r,
        |    CAST(SUM(c_t) AS BIGINT) AS n_t,
        |    CAST(COUNT(*) AS BIGINT) AS v
        |  FROM m),
        |d AS (
        |  SELECT tok, round(ln(
        |    (CAST(c_t + 1 AS DOUBLE) * CAST(n_r + v AS DOUBLE))
        |    / (CAST(c_r + 1 AS DOUBLE) * CAST(n_t + v AS DOUBLE))), 9)
        |    AS delta
        |  FROM m, tot)
        |SELECT tk.doc_id, COUNT(*) AS n_tokens,
        |  CAST(SUM(CAST(delta AS DECIMAL(28,9))) AS DOUBLE) / COUNT(*)
        |    AS imp
        |FROM tk JOIN d USING (tok)
        |GROUP BY tk.doc_id ORDER BY tk.doc_id""".stripMargin),

    // ---- E19 chi-square term–class association (feature selection:
    // which tokens characterize a language) ----
    Query("q_chi2_terms", family, (s, d) =>
      Ngrams.chiSquareTerms(docsSpread(s, d), classCol = "lang",
          minDf = 20L)
        .orderBy("lang", "tok"),
      // 2x2 presence table per (lang, token); the chi2 formula runs in
      // doubles with the same fixed multiplication order as the engine
      """WITH pres AS (
        |  SELECT lang,
        |    unnest(list_distinct(string_split(text, ' '))) AS tok
        |  FROM documents),
        |aa AS (SELECT lang, tok, count(*) AS ca FROM pres GROUP BY 1, 2),
        |dfv AS (SELECT tok, CAST(sum(ca) AS BIGINT) AS df
        |        FROM aa GROUP BY 1),
        |ncl AS (SELECT lang, count(*) AS nc FROM documents GROUP BY 1),
        |nn AS (SELECT count(*) AS n FROM documents)
        |SELECT aa.lang, aa.tok, ca AS n_in_class, df,
        |  round(CAST(n AS DOUBLE)
        |    * CAST(ca*(n - df - (nc - ca)) - (df - ca)*(nc - ca) AS DOUBLE)
        |    * CAST(ca*(n - df - (nc - ca)) - (df - ca)*(nc - ca) AS DOUBLE)
        |    / (CAST(df AS DOUBLE) * (n - df) * nc * (n - nc)), 9) AS chi2
        |FROM aa JOIN dfv USING (tok) JOIN ncl USING (lang), nn
        |WHERE df >= 20 AND df < n AND nc < n
        |ORDER BY lang, tok""".stripMargin),

    // ---- E19 skip-gram PPMI co-occurrence (window ±2 — the
    // distributional-association table beyond adjacent bigrams) ----
    Query("q_ppmi_cooc", family, (s, d) =>
      Ngrams.ppmiCooc(docsSpread(s, d), window = 2, minCount = 5L)
        .orderBy("w1", "w2"),
      // brute-force position pairing (the engine's equi-join expansion is
      // plan shape, not semantics); marginals over ALL pairs, filter last
      """WITH tk AS (
        |  SELECT doc_id, i - 1 AS p, w[i] AS tok
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w
        |        FROM documents),
        |    unnest(range(1, len(w) + 1)) AS u(i)),
        |pr AS (SELECT a.tok AS w1, b.tok AS w2, count(*) AS c_ab
        |       FROM tk a JOIN tk b ON a.doc_id = b.doc_id
        |         AND abs(b.p - a.p) BETWEEN 1 AND 2
        |       GROUP BY 1, 2),
        |mg AS (SELECT w1 AS w, CAST(sum(c_ab) AS BIGINT) AS m
        |       FROM pr GROUP BY 1),
        |tt AS (SELECT CAST(sum(c_ab) AS BIGINT) AS t FROM pr)
        |SELECT w1, w2, c_ab,
        |  round(greatest(ln(CAST(c_ab AS DOUBLE) * t
        |    / (CAST(ma.m AS DOUBLE) * mb.m)), 0.0), 9) AS ppmi
        |FROM pr JOIN mg ma ON ma.w = w1 JOIN mg mb ON mb.w = w2, tt
        |WHERE c_ab >= 5 ORDER BY w1, w2""".stripMargin),

    // ---- E19 lexical-diversity screen (TTR + hapax share per source:
    // template spam vs natural text vs noise) ----
    Query("q_lexical_div", family, (s, d) =>
      Ngrams.lexicalDiversity(docsSpread(s, d), groupCol = "source")
        .orderBy("source"),
      """WITH tk AS (SELECT source, unnest(string_split(text, ' ')) AS tok
        |            FROM documents),
        |c AS (SELECT source, tok, count(*) AS c FROM tk GROUP BY 1, 2),
        |g AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
        |        count(*) AS n_types,
        |        CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |          AS n_hapax
        |      FROM c GROUP BY 1)
        |SELECT source, n_tokens, n_types, n_hapax,
        |  round(CAST(n_types AS DOUBLE) / n_tokens, 9) AS ttr,
        |  round(CAST(n_hapax AS DOUBLE) / n_types, 9) AS hapax_share
        |FROM g ORDER BY source""".stripMargin),

    // ---- E4 Gopher-style rule filter statistics ----
    Query("q_gopher", family, (s, d) =>
      docsSpread(s, d)
        .select(col("doc_id"),
          TextAnalysis.gopherStats(col("text"), minWords = 20).as("g"))
        .select(col("doc_id"), col("g.n_words"),
          round(col("g.mean_word_len"), 10).as("mean_word_len"),
          round(col("g.symbol_ratio"), 10).as("symbol_ratio"),
          col("g.pass"))
        .orderBy("doc_id"),
      s"""WITH t AS (
        |$gopherFeatures
        |  FROM documents)
        |SELECT doc_id, n_words,
        |  round(CASE WHEN n_words > 0
        |    THEN (n_chars - (n_words - 1)) / n_words ELSE 0.0 END, 10)
        |    AS mean_word_len,
        |  round(CASE WHEN n_words > 0
        |    THEN symbols / n_words ELSE 1.0 END, 10) AS symbol_ratio,
        |  ${gopherPass(2)} AS pass
        |FROM t ORDER BY doc_id""".stripMargin),

    // ---- E4 Gopher repetition signals (the other half of the quality
    // rule): top-bigram char share + duplicated-trigram char mass +
    // duplicated-line share, all exact integer masses over len(text)
    // with one rounded close — the template-flood cut ----
    Query("q_repetition", family, (s, d) =>
      TextAnalysis.repetitionStats(t(s, d, "documents"),
          topN = 2, dupN = 3)
        .orderBy("doc_id"),
      // Gopher repetition replay: n-grams via 1-based inclusive list
      // slices (range is end-exclusive, so range(1, nw - n + 2) emits
      // exactly the nw-n+1 gram starts and [] below n words, matching
      // the engine's guarded sequence); top gram = (count desc, length
      // desc) row_number 1 = the engine's max(struct(c, l)); masses sum
      // plain (BIGINT c*l stays tiny) and close with the same
      // least(mass/cb, 1.0) rounded 9
      """WITH w AS (
        |  SELECT doc_id, CAST(length(text) AS BIGINT) AS cb,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nw,
        |    string_split(text, ' ') AS ws, text
        |  FROM documents),
        |g2 AS (
        |  SELECT doc_id, unnest(list_transform(range(1, CAST(nw AS INT)),
        |      i -> array_to_string(ws[i : i + 1], ' '))) AS g
        |  FROM w),
        |g3 AS (
        |  SELECT doc_id, unnest(list_transform(range(1, CAST(nw - 1 AS INT)),
        |      i -> array_to_string(ws[i : i + 2], ' '))) AS g
        |  FROM w),
        |c2 AS (SELECT doc_id, COUNT(*) AS c, length(g) AS l
        |       FROM g2 GROUP BY doc_id, g),
        |c3 AS (SELECT doc_id, COUNT(*) AS c, length(g) AS l
        |       FROM g3 GROUP BY doc_id, g),
        |top AS (
        |  SELECT doc_id, c * l AS mass FROM (
        |    SELECT doc_id, c, l, row_number() OVER (PARTITION BY doc_id
        |        ORDER BY c DESC, l DESC) AS rn
        |    FROM c2) WHERE rn = 1),
        |dup AS (SELECT doc_id, SUM(CASE WHEN c >= 2 THEN c * l END) AS mass
        |        FROM c3 GROUP BY doc_id),
        |ln AS (
        |  SELECT doc_id, SUM(CASE WHEN c >= 2 THEN c * l END) AS mass
        |  FROM (SELECT doc_id, COUNT(*) AS c, length(lx) AS l
        |        FROM (SELECT doc_id,
        |                unnest(string_split(text, chr(10))) AS lx
        |              FROM w)
        |        GROUP BY doc_id, lx)
        |  GROUP BY doc_id)
        |SELECT w.doc_id, nw AS n_words,
        |  CASE WHEN cb > 0 THEN round(least(
        |    CAST(COALESCE(top.mass, 0) AS DOUBLE) / CAST(cb AS DOUBLE),
        |    1.0), 9) ELSE 0.0 END AS top_ngram_chars_frac,
        |  CASE WHEN cb > 0 THEN round(least(
        |    CAST(COALESCE(dup.mass, 0) AS DOUBLE) / CAST(cb AS DOUBLE),
        |    1.0), 9) ELSE 0.0 END AS dup_ngram_chars_frac,
        |  CASE WHEN cb > 0 THEN round(least(
        |    CAST(COALESCE(ln.mass, 0) AS DOUBLE) / CAST(cb AS DOUBLE),
        |    1.0), 9) ELSE 0.0 END AS dup_line_chars_frac
        |FROM w LEFT JOIN top ON w.doc_id = top.doc_id
        |LEFT JOIN dup ON w.doc_id = dup.doc_id
        |LEFT JOIN ln ON w.doc_id = ln.doc_id
        |ORDER BY w.doc_id""".stripMargin),

    // per-source top-30% quality cut; id tie-break makes the kept set
    // deterministic
    Query("q_quality_prune", family, (s, d) =>
      TextAnalysis.qualityPrune(t(s, d, "documents"), keepFrac = 0.3)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id"),
      s"""WITH q AS (
        |  SELECT doc_id, source,
        |    (LEAST(CAST(LENGTH(text) AS DOUBLE) / CAST(200.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
        |$qualityTerms
        |    ) / CAST(3.0 AS DOUBLE) AS quality
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, source,
        |    percent_rank() OVER (PARTITION BY source
        |      ORDER BY quality DESC, doc_id) AS pr
        |  FROM q)
        |SELECT doc_id, source FROM r WHERE pr < 0.3
        |ORDER BY doc_id""".stripMargin),

    // ---- E20 score calibration: the cheap per-doc quality score
    // against the Gopher rule verdict — reliability table (n, mean
    // predicted, observed pass rate, gap) per score decile ----
    Query("q_calibration", family, (s, d) => {
      val docs = docsSpread(s, d)
      operators.Profiling.calibration(
        docs.select(col("doc_id"),
          TextAnalysis.qualityScore(col("text")).as("score"),
          TextAnalysis.gopherPass(col("text"), minWords = 20)
            .as("label")),
        "score", "label", bins = 10)
        .orderBy("bin")
    },
      // quality-score formula (q_quality) bucketed against the Gopher
      // verdict (q_gopher, minWords 20): decimal-exact bucket means
      s"""$scoredLabels,
        |b AS (
        |  SELECT LEAST(CAST(FLOOR(score * 10) AS BIGINT), 9) AS bin,
        |    round(score, 9) AS s,
        |    CASE WHEN label THEN 1 ELSE 0 END AS y
        |  FROM g),
        |agg AS (
        |  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
        |    round(CAST(SUM(CAST(s AS DECIMAL(28,9))) AS DOUBLE)
        |      / COUNT(*), 9) AS mean_score,
        |    round(CAST(SUM(y) AS DOUBLE) / COUNT(*), 9) AS pos_rate
        |  FROM b GROUP BY bin)
        |SELECT bin, n, mean_score, pos_rate,
        |  round(mean_score - pos_rate, 9) AS gap
        |FROM agg ORDER BY bin""".stripMargin),

    // ---- E20 operating-point picker: lowest quality-score threshold
    // whose kept set still meets 50% Gopher-pass precision — the cut a
    // filter rollout deploys (calibration says trust; this says where)
    Query("q_threshold_precision", family, (s, d) => {
      val docs = docsSpread(s, d)
      operators.Profiling.thresholdForPrecision(
        docs.select(col("doc_id"),
          TextAnalysis.qualityScore(col("text")).as("score"),
          TextAnalysis.gopherPass(col("text"), minWords = 20)
            .as("label")),
        "score", "label", targetBp = 5000)
    },
      // the q_calibration score/label CTEs feeding the cumulative
      // precision curve; integer 10000·pos >= bp·n comparison
      s"""$scoredLabels,
        |b AS (SELECT round(score, 9) AS threshold, COUNT(*) AS n,
        |        SUM(CASE WHEN label THEN 1 ELSE 0 END) AS p
        |      FROM g GROUP BY 1),
        |c AS (SELECT threshold,
        |        SUM(n) OVER (ORDER BY threshold DESC
        |          ROWS UNBOUNDED PRECEDING) AS n_kept,
        |        SUM(p) OVER (ORDER BY threshold DESC
        |          ROWS UNBOUNDED PRECEDING) AS n_pos_kept
        |      FROM b)
        |SELECT threshold, CAST(n_kept AS BIGINT) AS n_kept,
        |  CAST(n_pos_kept AS BIGINT) AS n_pos_kept,
        |  round(CAST(n_pos_kept AS DOUBLE) / n_kept, 9) AS kept_precision
        |FROM c WHERE n_pos_kept * 10000 >= 5000 * n_kept
        |ORDER BY n_kept DESC, threshold LIMIT 1""".stripMargin),

    // Byte-entropy quality gate: native codegen'd ByteEntropy expression,
    // engine-exact integer-nanonat arithmetic (see VectorExprs.ByteEntropy)
    Query("q_entropy", family, (s, d) =>
      docsSpread(s, d)
        .select(col("doc_id"),
          round(TextAnalysis.byteEntropy(col("text")), 9).as("entropy"),
          TextAnalysis.entropyPass(col("text")).as("pass"))
        .orderBy("doc_id"),
      // per-char counts → integer nanonat terms → one IEEE closing sequence:
      // replays VectorExprs.ByteEntropy bit-for-bit (corpus is ASCII, so
      // DuckDB characters = the expression's bytes)
      """WITH chars AS (
        |  SELECT doc_id, unnest(string_split(text, '')) AS ch
        |  FROM documents),
        |cc AS (
        |  SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS cnt
        |  FROM chars GROUP BY 1, 2),
        |agg AS (
        |  SELECT doc_id,
        |    CAST(sum(cnt * CAST(round(ln(cnt) * 1e9) AS BIGINT)) AS BIGINT)
        |      AS sum_nano,
        |    CAST(sum(cnt) AS BIGINT) AS n
        |  FROM cc GROUP BY 1),
        |e AS (
        |  SELECT doc_id,
        |    (CAST(round(ln(n) * 1e9) AS BIGINT) - sum_nano / CAST(n AS DOUBLE))
        |      / 1e9 AS ent
        |  FROM agg)
        |SELECT doc_id, round(ent, 9) AS entropy,
        |  ent BETWEEN 1.5 AND 5.0 AS pass
        |FROM e ORDER BY doc_id""".stripMargin),

    // ---- E19 Heaps-law vocabulary-growth curve: cumulative (docs,
    // tokens, types) at 20 ingest-order checkpoints — the β-slope
    // corpus-QA screen and tokenizer-budget forecaster ----
    Query("q_heaps_law", family, (s, d) =>
      Ngrams.heapsLaw(t(s, d, "documents"), checkpoints = 20)
        .orderBy("ck"),
      """WITH mx AS (SELECT max(doc_id) AS m FROM documents),
        |tk AS (SELECT CAST(doc_id * 20 // (m + 1) AS BIGINT) AS b, doc_id,
        |         unnest(string_split(text, ' ')) AS tok
        |       FROM documents, mx),
        |tc AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS nt,
        |         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd
        |       FROM tk GROUP BY b),
        |fs AS (SELECT tok, MIN(b) AS b FROM tk GROUP BY tok),
        |fv AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS nv FROM fs GROUP BY b),
        |cks AS (SELECT unnest(range(0, 20)) AS ck)
        |SELECT ck,
        |  CAST(SUM(COALESCE(nd, 0)) OVER (ORDER BY ck
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_docs,
        |  CAST(SUM(COALESCE(nt, 0)) OVER (ORDER BY ck
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_tokens,
        |  CAST(SUM(COALESCE(nv, 0)) OVER (ORDER BY ck
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab
        |FROM cks LEFT JOIN tc ON tc.b = cks.ck
        |  LEFT JOIN fv ON fv.b = cks.ck
        |ORDER BY ck""".stripMargin),

    // ---- E19 Dunning log-likelihood collocations: G² over the 2×2
    // bigram contingency — evidence-mass-weighted multiword mining
    // where PMI would crown rare-pair noise ----
    Query("q_g2_colloc", family, (s, d) =>
      Ngrams.logLikelihoodCollocations(t(s, d, "documents"),
          minCount = 5L)
        .orderBy("w1", "w2"),
      // G² = 2·Σ O·ln(O/E) over the 2×2 bigram contingency, per-term
      // 9-dec rounds in the same fixed order as the engine
      s"""$bigramCounts,
        |n AS (SELECT SUM(c_ab) AS n_total FROM m),
        |j AS (SELECT m.w1, m.w2, c_ab, c_left, c_right, n_total
        |      FROM m JOIN l USING (w1) JOIN r USING (w2), n
        |      WHERE c_ab >= 5)
        |SELECT w1, w2, c_ab,
        |  round(2.0 * (
        |    (CASE WHEN c_ab > 0 THEN round(CAST(c_ab AS DOUBLE)
        |      * ln(CAST(c_ab AS DOUBLE) / (CAST(c_left AS DOUBLE)
        |        * CAST(c_right AS DOUBLE) / n_total)), 9)
        |      ELSE 0.0 END)
        |    + (CASE WHEN c_left - c_ab > 0
        |      THEN round(CAST(c_left - c_ab AS DOUBLE)
        |      * ln(CAST(c_left - c_ab AS DOUBLE)
        |        / (CAST(c_left AS DOUBLE)
        |          * CAST(n_total - c_right AS DOUBLE) / n_total)), 9)
        |      ELSE 0.0 END)
        |    + (CASE WHEN c_right - c_ab > 0
        |      THEN round(CAST(c_right - c_ab AS DOUBLE)
        |      * ln(CAST(c_right - c_ab AS DOUBLE)
        |        / (CAST(n_total - c_left AS DOUBLE)
        |          * CAST(c_right AS DOUBLE) / n_total)), 9)
        |      ELSE 0.0 END)
        |    + (CASE WHEN n_total - c_left - c_right + c_ab > 0
        |      THEN round(CAST(n_total - c_left - c_right + c_ab AS DOUBLE)
        |      * ln(CAST(n_total - c_left - c_right + c_ab AS DOUBLE)
        |        / (CAST(n_total - c_left AS DOUBLE)
        |          * CAST(n_total - c_right AS DOUBLE) / n_total)), 9)
        |      ELSE 0.0 END)), 9) AS g2
        |FROM j ORDER BY w1, w2""".stripMargin),

    // ---- E4 canonical text normalization (pre-dedup cleanup pass) ----
    Query("q_normalize", family, (s, d) =>
      t(s, d, "part")
        .select(col("p_partkey"),
          TextAnalysis.normalizeText(
            concat_ws(" ", col("p_name"), col("p_brand"), col("p_type")))
            .as("norm"))
        .orderBy("p_partkey"),
      """SELECT p_partkey,
        |  trim(regexp_replace(regexp_replace(
        |    lower(concat_ws(' ', p_name, p_brand, p_type)),
        |    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
        |FROM part ORDER BY p_partkey""".stripMargin),
  )
}
