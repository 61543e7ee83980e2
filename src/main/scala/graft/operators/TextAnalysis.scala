package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline: language ID,
  * quality scoring, token counting, document fingerprinting.
  *
  * Everything is built from `org.apache.spark.sql.functions` (codegen'd,
  * whole-stage-compatible) — no UDFs, so plans stay in one codegen span per
  * stage and scale linearly with input.
  */
object TextAnalysis {

  /** Stopword profiles for the n-gram/stopword language heuristic. Kept
    * deliberately tiny and SQL-expressible so the DuckDB oracle can mirror
    * the exact rule. */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "a", "is"),
    "de" -> Seq("der", "und", "die", "das", "ist"),
    "fr" -> Seq("le", "la", "et", "les", "est"))

  private def stopwordHits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => words.map(t === _).reduce(_ || _)))

  /** Language-ID heuristic: tokenize on spaces, count stopword hits per
    * language profile, pick the argmax (ties broken by profile order;
    * no hits at all → "und" = undetermined). */
  def langIdScores(text: Column): Seq[(String, Column)] = {
    val toks = split(text, " ")
    langProfiles.map { case (lang, words) => lang -> stopwordHits(toks, words) }
  }

  def langId(text: Column): Column = {
    val scores = langIdScores(text)
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    val pick = scores.foldRight(lit("und")) { case ((lang, s), acc) =>
      when(s === best && best > 0, lit(lang)).otherwise(acc)
    }
    pick
  }

  /** Whitespace token count. split(" ") keeps empty tokens (matching
    * DuckDB string_split) — callers wanting word counts should trim. */
  def tokenCount(text: Column): Column = size(split(text, " "))

  /** BPE-ish token count: letter runs, single digits, or single
    * non-alphanumeric marks — a common pre-tokenizer shape. */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"), lit(0)))

  /** Quality score in [0,1]: composite of length, alpha ratio and mean
    * token length — deterministic double arithmetic, oracle-replicable. */
  def qualityScore(text: Column): Column = {
    val nChars = length(text).cast("double")
    val toks = split(text, " ")
    val nToks = size(toks).cast("double")
    val alpha = length(regexp_replace(text, "[^A-Za-z]", "")).cast("double")
    val lenScore = least(nChars / lit(200.0), lit(1.0))
    val alphaRatio = when(nChars > 0, alpha / nChars).otherwise(lit(0.0))
    val meanTok = when(nToks > 0, nChars / nToks).otherwise(lit(0.0))
    val tokScore = when(meanTok >= 3 && meanTok <= 10, lit(1.0)).otherwise(lit(0.5))
    (lenScore + alphaRatio + tokScore) / lit(3.0)
  }

  /** Gopher-style rule statistics + verdict: the classic rule-based
    * document filter (word-count bounds, mean word length bounds,
    * symbol-to-word ratio, numeral ratio) as one per-row projection —
    * pure deterministic double arithmetic, oracle-replicable, zero
    * shuffle. Returns a struct; [[gopherPass]] is the composed boolean.
    * Thresholds follow the published Gopher ranges (50–100k words, mean
    * word length 3–10, symbol ratio < 0.1, numeral ratio < 0.2), with
    * the word floor parameterized — the driver corpus is short-doc. */
  def gopherStats(text: Column, minWords: Long = 50): Column = {
    val words = split(text, " ")
    val nWords = size(words).cast("double")
    val nChars = length(text).cast("double")
    val meanWordLen = when(nWords > 0,
      (nChars - (nWords - 1)) / nWords).otherwise(lit(0.0))
    val symbols = length(regexp_replace(text, "[A-Za-z0-9 ]", ""))
      .cast("double")
    val numerals = length(regexp_replace(text, "[^0-9]", "")).cast("double")
    val symbolRatio = when(nWords > 0, symbols / nWords).otherwise(lit(1.0))
    val numeralRatio = when(nChars > 0, numerals / nChars).otherwise(lit(1.0))
    struct(
      size(words).cast("long").as("n_words"),
      meanWordLen.as("mean_word_len"),
      symbolRatio.as("symbol_ratio"),
      numeralRatio.as("numeral_ratio"),
      (size(words).cast("long") >= minWords && size(words) <= 100000 &&
        meanWordLen >= 3.0 && meanWordLen <= 10.0 &&
        symbolRatio < 0.1 && numeralRatio < 0.2).as("pass"))
  }

  /** The composed Gopher verdict alone. */
  def gopherPass(text: Column, minWords: Long = 50): Column =
    gopherStats(text, minWords)("pass")

  /** Polynomial rolling-hash fingerprint over the document's characters:
    * h = fold(h * 31 + char) mod 1e9+7. Native codegen'd single pass
    * (VectorExprs.PolyHash) — the same recurrence is expressible in
    * DuckDB for the oracle, and [[fingerprintHof]] is the bit-identical
    * portable formulation kept as the spec cross-check. */
  def fingerprint(text: Column): Column =
    org.apache.spark.sql.graft.VectorExprs.polyHash(text)

  /** Higher-order-function formulation of [[fingerprint]] — one
    * interpreted lambda per character; kept only as the cross-check. */
  def fingerprintHof(text: Column): Column =
    aggregate(split(text, ""), lit(0L),
      (acc, ch) => (acc * 31 + ascii(ch)) % 1000000007L)

  /** Sliding-window chunking: token windows of `chunk` tokens advancing
    * by `stride` (overlapping when stride < chunk) — the segmentation
    * step before tokenization in a training-data pipeline. Documents
    * shorter than one chunk yield themselves. Pair with `posexplode` for
    * one row per (doc, chunk_idx). */
  def chunkTokens(text: Column, chunk: Int, stride: Int): Column = {
    require(chunk > 0 && stride > 0)
    val toks = split(text, " ")
    val nChunks = greatest(
      (ceil((size(toks) - chunk).cast("double") / stride) + 1).cast("int"),
      lit(1))
    transform(sequence(lit(0), nChunks - 1),
      i => concat_ws(" ", slice(toks, i * stride + 1, lit(chunk))))
  }

  /** PII-style redaction: masks email addresses, URLs, and long digit
    * runs (8+, catching phone/account numbers) with typed placeholders.
    * Order matters — URLs before bare digit runs so query strings don't
    * get double-masked. Pure regexp_replace chain: codegen'd, scan-side
    * streamable, no UDF. */
  def redact(text: Column): Column = {
    val email = regexp_replace(text,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val url = regexp_replace(email, "https?://[^ ]+", "<URL>")
    regexp_replace(url, "[0-9]{8,}", "<NUM>")
  }

  /** TRUE iff the text contains any of `terms` as a substring — the
    * blocklist gate (banned phrases, slur/NSFW lists, known-contaminant
    * strings). Compiles the whole list into ONE alternation regex
    * (terms regex-quoted, so they match literally), evaluated in a
    * single codegen'd scan-side pass — zero shuffle, no per-term column
    * chain. Right-sized for curated lists up to a few thousand terms
    * (one compiled automaton per task); for 100k+ term lists, hash
    * token n-grams and anti-join instead — that is [[Ngrams.decontaminate]]'s
    * shape. */
  def containsAny(text: Column, terms: Seq[String]): Column = {
    require(terms.nonEmpty)
    text.rlike(terms.map(java.util.regex.Pattern.quote).mkString("|"))
  }

  /** Keep only the documents [[containsAny]] clears — the blocklist
    * filter stage of a cleaning pipeline. */
  def blocklistFilter(docs: DataFrame, terms: Seq[String],
                      textCol: String = "text"): DataFrame =
    docs.filter(!containsAny(col(textCol), terms))

  /** Canonical text normalization — the pre-dedup/pre-hash cleanup pass
    * (hash-based dedup is only as good as its normalization): lowercase,
    * strip everything outside [a-z0-9 ], collapse whitespace runs, trim.
    * Pure codegen'd expression chain, scan-side streamable. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9 ]", " "),
      " +", " "))

  /** Shannon entropy (nats) of the text's byte distribution — the
    * gibberish / filler / binary-spill quality signal (natural prose sits
    * near ~2.5–3.2 nats; "aaaa…" filler near 0; encoded binary near ln 256).
    * Native codegen'd expression (VectorExprs.ByteEntropy): one pass, zero
    * shuffle, engine-exact integer-nanonat arithmetic so the DuckDB oracle
    * reproduces it bit-for-bit. */
  def byteEntropy(text: Column): Column =
    org.apache.spark.sql.graft.VectorExprs.byteEntropy(text)

  /** Entropy-window quality gate: keep documents whose byte entropy lies
    * in [lo, hi] — drops low-entropy filler AND high-entropy binary spill
    * in one scan-side predicate. */
  def entropyPass(text: Column, lo: Double = 1.5, hi: Double = 5.0): Column =
    byteEntropy(text).between(lo, hi)

  /** Per-group quality-percentile pruning — the "keep the top `keepFrac`
    * of each source by model/heuristic score" selection stage (the
    * DCLM/FineWeb-style quality cut, applied per source so one
    * high-scoring source cannot crowd the others out of the mix).
    *
    * Keeps rows whose `percent_rank` under (score DESC, `idCol`) within
    * `groupCol` is < `keepFrac`; the id tie-break makes the kept SET
    * layout- and engine-deterministic even with duplicated scores.
    *
    * The rank comes from the distributed two-level prefix count
    * ([[Mixing.withExclusivePrefixSumOrdered]], bucketed by the score
    * itself) — `percent_rank().over(partitionBy(groupCol))` would
    * stream each group's whole corpus through one task at scale. The
    * unique id tie-break means rank ≡ row_number (no shared ranks), so
    * (rank−1)/(n−1) reproduces percent_rank's value bit-for-bit. */
  def qualityPrune(docs: DataFrame, keepFrac: Double,
                   groupCol: String = "source", idCol: String = "doc_id",
                   textCol: String = "text",
                   score: Column => Column = qualityScore): DataFrame = {
    require(keepFrac > 0.0 && keepFrac <= 1.0)
    if (keepFrac == 1.0) docs  // keep-all: percent_rank < 1 would drop the tail
    else {
      val scored = docs.withColumn("__q", score(col(textCol)))
      // bucket ascends along (score DESC): -floor(score·2^20); equal
      // scores share a bucket, so the monotonicity contract holds
      val bucket = -floor(col("__q") * lit(1 << 20)).cast("long")
      val counts = scored.groupBy(col(groupCol))
        .agg(count(lit(1)).as("__n"))
      Mixing.withExclusivePrefixSumOrdered(scored, groupCol, bucket,
          Seq(col("__q").desc, col(idCol)), lit(1L), "__rk")
        .join(broadcast(counts), Seq(groupCol))
        .withColumn("__pr", when(col("__n") <= 1, lit(0.0))
          .otherwise(col("__rk").cast("double") /
            (col("__n") - 1).cast("double")))
        .filter(col("__pr") < keepFrac)
        .select(docs.columns.map(col).toSeq: _*) // joins reorder; keep the input schema
    }
  }

  /** Multinomial Naive Bayes text classifier, trained AND applied
    * entirely in-plan — the "train a cheap classifier on the labeled
    * slice, label the rest" stage of a corpus pipeline (lang-ID or
    * source attribution at 100 TB runs exactly this shape: the model
    * is a token-count table, training is one aggregation pass, and
    * scoring is a join).
    *
    * Training (`train`, labeled by `labelCol`): per-(label, token)
    * occurrence counts with Laplace add-one smoothing over the train
    * vocabulary `V`, plus per-label document priors. Tokens absent
    * from the TRAIN vocabulary contribute zero to the likelihood at
    * predict time (the standard restrict-to-vocab convention — an
    * inner join on the token side, so the rule is engine-replicable).
    * A doc with ZERO in-vocab tokens still appears in the output with
    * the prior-only argmax — a classifier must label every input, not
    * silently drop the ones it finds unfamiliar.
    *
    * Determinism: every log is rounded to `quantizeDecimals` and cast
    * to DECIMAL before summing (the [[Ngrams.bigramLogProb]] recipe),
    * so per-doc scores are bit-identical across engines and partition
    * layouts; the argmax tie-breaks on label order.
    *
    * Output: the confusion matrix (actual, predicted, n_docs) —
    * accuracy, per-class recall, and the mislabel structure all read
    * off it.
    *
    * Plan shape: the model is vocab × |labels| rows (model-sized, NOT
    * corpus-sized; labels/priors/vocab-size broadcast). Corpus-sized
    * work is the train token aggregate, the score token join (AQE
    * picks broadcast when the model measures small), the per-(doc,
    * label) score aggregate, and the |labels|-row-per-doc argmax
    * window — all linear, no collect. */
  def nbClassify(train: DataFrame, predict: DataFrame,
                 labelCol: String, textCol: String,
                 idCol: String = "doc_id",
                 quantizeDecimals: Int = 9): DataFrame = {
    val (model, priors) = nbTrain(train, labelCol, textCol, quantizeDecimals)
    nbScore(predict, model, priors, labelCol, textCol, idCol)
  }

  /** Train the multinomial NB model as two SHIPPABLE tables — the
    * artifact form of [[nbClassify]]'s training pass: `model` =
    * (token, label, logp) add-one-smoothed rounded-decimal token
    * log-likelihoods (vocab × |labels| rows), `priors` = (label,
    * prior) document-frequency log-priors. Both are model-sized and
    * survive a parquet/ManifestTable round trip exactly (DECIMAL
    * columns), so a pipeline trains once, commits the tables, and
    * scores every future batch from the stored artifact —
    * [[nbScore]] is the serve side. */
  def nbTrain(train: DataFrame, labelCol: String, textCol: String,
              quantizeDecimals: Int = 9): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(28, quantizeDecimals)
    val clt = OpCaches.pin(
      train.select(col(labelCol).as("__label"),
          explode(split(col(textCol), " ")).as("__w"))
        .filter(length(col("__w")) >= 1)
        .groupBy("__label", "__w").agg(count(lit(1)).as("__c")))
    val cl = clt.groupBy("__label").agg(sum(col("__c")).as("__tot"))
    val vocab = clt.select("__w").distinct()
    val vsize = vocab.agg(count(lit(1)).as("__v"))
    val labels = train.groupBy(col(labelCol).as("__label"))
      .agg(count(lit(1)).as("__nd"))
    val ndocs = labels.agg(sum(col("__nd")).as("__n"))
    val priors = labels.crossJoin(broadcast(ndocs))
      .select(col("__label").as("label"),
        round(log(col("__nd").cast("double") / col("__n").cast("double")),
          quantizeDecimals).cast(dec).as("prior"))
    val model = vocab
      .crossJoin(broadcast(cl))
      .crossJoin(broadcast(vsize))
      .join(clt, Seq("__label", "__w"), "left")
      .select(col("__w").as("token"), col("__label").as("label"),
        round(log((coalesce(col("__c"), lit(0L)) + lit(1)).cast("double") /
            (col("__tot") + col("__v")).cast("double")),
          quantizeDecimals).cast(dec).as("logp"))
    (model, priors)
  }

  /** Score a batch against a (possibly read-back) [[nbTrain]] model and
    * publish the confusion matrix — the serve side of [[nbClassify]],
    * identical output whether the tables come straight off training or
    * out of storage. Carry-through columns: the per-doc argmax rows
    * keep the doc's actual label so the matrix needs no re-join. */
  def nbScore(predict: DataFrame, model: DataFrame, priors: DataFrame,
              labelCol: String, textCol: String,
              idCol: String = "doc_id"): DataFrame =
    nbArgmax(predict, model, priors, textCol, idCol,
        Seq(col(labelCol).as("__actual")))
      .select(col("__actual").as("actual"), col("label").as("predicted"))
      .groupBy("actual", "predicted")
      .agg(count(lit(1)).as("n_docs"))

  /** Per-document prediction from a stored [[nbTrain]] model — the
    * label-every-input serve shape ([[nbScore]] aggregates the same
    * argmax into a confusion matrix when actuals exist). Output:
    * (idCol, predicted). */
  def nbPredict(docs: DataFrame, model: DataFrame, priors: DataFrame,
                textCol: String, idCol: String = "doc_id"): DataFrame =
    nbArgmax(docs, model, priors, textCol, idCol, Seq.empty)
      .select(col(idCol), col("label").as("predicted"))

  /** Shared NB scoring core: every doc × label scored as prior +
    * in-vocabulary token log-likelihood sum (OOV tokens contribute
    * zero; a doc with NO in-vocab tokens keeps its rows and gets the
    * prior-only argmax instead of silently vanishing), reduced to the
    * per-doc argmax row with label-order tie-break. `carry` columns
    * ride from the doc row to the argmax output. */
  private def nbArgmax(docs: DataFrame, model: DataFrame,
                       priors: DataFrame, textCol: String, idCol: String,
                       carry: Seq[Column]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val decZero = lit(0).cast(priors.schema("prior").dataType)
    val sums = docs
      .select(col(idCol), explode(split(col(textCol), " ")).as("__w"))
      .filter(length(col("__w")) >= 1)
      .join(model.withColumnRenamed("token", "__w"), Seq("__w"))
      .groupBy(col(idCol), col("label"))
      .agg(sum(col("logp")).as("__s"))
    val scored = docs.select(col(idCol) +: carry: _*)
      .crossJoin(broadcast(priors))
      .join(sums, Seq(idCol, "label"), "left")
      .withColumn("__score", col("prior") + coalesce(col("__s"), decZero))
      // prune before the window: prior/__s would otherwise ride every
      // buffered row through the per-doc sort
      .drop("prior", "__s")
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("__score").desc, col("label"))
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
  }

  /** Per-document PII exposure counts — the measurement side of
    * [[redact]] (same three pattern classes), for the "how much PII
    * does each source carry" report a governance pass needs BEFORE
    * deciding to redact vs drop. Pure codegen'd regexp counts, zero
    * shuffle. */
  def piiStats(docs: DataFrame, idCol: String = "doc_id",
               textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    docs.select(col(idCol),
      size(regexp_extract_all(t,
        lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"), lit(0)))
        .cast("long").as("n_emails"),
      size(regexp_extract_all(t, lit("https?://[^ ]+"), lit(0)))
        .cast("long").as("n_urls"),
      size(regexp_extract_all(t, lit("[0-9]{8,}"), lit(0)))
        .cast("long").as("n_long_digit_runs"))
  }

  /** Deterministic MLM-style masking plan: per (doc, token position),
    * mask iff the Knuth multiplicative hash of `id·salt + position`
    * lands under `maskPct` percent — the [[Mixing.deterministicSplit]]
    * convention, so the mask is layout- and engine-independent
    * (bit-reproducible across runs AND replayable by the SQL oracle),
    * unlike `rand()`-based masking which no two runs agree on. Output:
    * one row per doc — (idCol, n_tokens, n_masked, masked_positions),
    * positions 0-based comma-joined; a trainer applies the mask by
    * position. Pure per-row explode + one per-doc regroup, no model
    * state. `idCol·salt + position` must stay under ~3.4e9 for the
    * hash multiply to fit a long (same key-domain contract as the
    * mixing ops); `salt` must exceed the max token count so distinct
    * (doc, pos) pairs never collide. */
  def maskTokens(docs: DataFrame, maskPct: Int,
                 idCol: String = "doc_id", textCol: String = "text",
                 salt: Long = 10007L): DataFrame = {
    require(maskPct >= 0 && maskPct <= 100)
    val tok = docs
      .select(col(idCol), posexplode(split(col(textCol), " ")))
      .withColumnRenamed("pos", "__tp").withColumnRenamed("col", "__w")
      .filter(length(col("__w")) >= 1)
    val bucket = pmod(pmod(
      (col(idCol) * lit(salt) + col("__tp")) * lit(2654435761L),
      lit(4294967296L)), lit(100L))
    tok.withColumn("__m", bucket < maskPct)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__m"), 1L).otherwise(0L)).as("n_masked"),
        array_join(transform(
          array_sort(collect_list(when(col("__m"), col("__tp")))),
          x => x.cast("string")), ",").as("masked_positions"))
  }

  /** Full text-analysis projection over a documents table. */
  def analyze(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    docs.select(
      col(idCol),
      length(t).as("n_chars"),
      tokenCount(t).as("n_tokens"),
      bpeishTokenCount(t).as("n_bpeish_tokens"),
      langId(t).as("lang_pred"),
      qualityScore(t).as("quality"),
      fingerprint(t).as("fingerprint"))
  }

  /** Per-group readability report (LIX-style, punctuation-free): token
    * and long-token totals, exact mean token length, the long-word
    * share, and their sum as the readability score — higher = denser
    * text. The cheap complexity screen that separates telegraphic /
    * template output from prose when a corpus carries no sentence
    * punctuation to lean on (code, logs, OCR fragments).
    *
    * Every per-doc measure is integral (token counts via the
    * whitespace split; in-token chars = length minus separators), so
    * the group sums are exact and the report reduces to one grouped
    * aggregation — one shuffle, map-side combined; the two closing
    * divisions round to 9 places. `longLen` is the "long word"
    * threshold (6+ chars in classic LIX; tune to the corpus). */
  def readability(docs: DataFrame, groupCol: String,
                  textCol: String = "text", longLen: Int = 5): DataFrame = {
    val t = col(textCol)
    val toks = split(t, " ")
    val nToks = size(toks).cast("long")
    val nLong = size(filter(toks, w => length(w) >= longLen)).cast("long")
    val tokChars = (length(t) - (nToks - 1L)).cast("long")
    docs.filter(t.isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
           sum(nToks).as("n_tokens"),
           sum(nLong).as("n_long_tokens"),
           sum(tokChars).as("__chars"))
      .filter(col("n_tokens") > 0)
      .select(col(groupCol), col("n_docs"), col("n_tokens"),
        col("n_long_tokens"),
        round(col("__chars").cast("double") / col("n_tokens"), 9)
          .as("avg_tok_len"),
        round(col("n_long_tokens").cast("double") * 100.0 /
          col("n_tokens"), 9).as("long_pct"))
  }

  /** Gopher-style repetition signals (Rae et al. 2021, §A1.1 — the
    * second half of the quality rule [[gopherStats]] covers): per
    * document, what share of its characters sits in repeated content.
    * Three fractions, each an exact integer char mass over
    * `length(text)`, one 9-dec-rounded IEEE division at the close:
    *
    *   - `top_ngram_chars_frac`: mass of the most frequent word
    *     `topN`-gram = cnt·chars(g) for the (highest-count, then
    *     longest) gram — deterministic argmax, no hash, no RNG;
    *   - `dup_ngram_chars_frac`: Σ cnt·chars(g) over `dupN`-grams seen
    *     ≥ 2×, capped at 1.0 — the OVERLAPPING-mass formulation
    *     (duplicated grams sharing characters double-count; the cap
    *     absorbs it), stated here because Gopher's non-overlapping
    *     character cover is not expressible as one aggregate — this is
    *     the deterministic re-expression both engines replay exactly;
    *   - `dup_line_chars_frac`: Σ cnt·length over '\n'-lines seen ≥ 2×.
    *
    * Words are the house `split(text, " ")` (empties kept — the
    * [[graft.operators.Ngrams.vocabulary]] convention), an n-gram is
    * `concat_ws(" ", slice(words, i, n))` so chars(g) counts its n−1
    * separators; a doc with fewer than n words has no n-grams and
    * reads 0.0. Template-flood docs read near 1.0; organic text sits
    * low — the standard LLM-curation cut is dup_ngram ≳ 0.15-ish at
    * n = 5…10 (the caller's threshold, not baked in).
    *
    * Plan shape at 100 TB: gram construction is scan-side HOF
    * projection (one codegen span, no explode of doc payloads beyond
    * the gram strings); counting is ONE map-side-combinable
    * (doc, gram) aggregate + ONE doc-keyed aggregate per signal — all
    * exchanges linear in token count, no windows, no driver state. */
  def repetitionStats(df: DataFrame, topN: Int = 2, dupN: Int = 5,
                      idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    require(topN >= 1, s"topN must be >= 1, got $topN")
    require(dupN >= 1, s"dupN must be >= 1, got $dupN")
    def gramCounts(n: Int): DataFrame = {
      val words = split(col(textCol), " ")
      // sequence(1, 0) would generate DESCENDING [1, 0] — guard the
      // fewer-than-n-words case to an empty gram array explicitly
      val grams = when(size(words) >= n,
          transform(sequence(lit(1), size(words) - (n - 1)),
            i => concat_ws(" ", slice(words, i, lit(n)))))
        .otherwise(array())
      df.select(col(idCol).as("__id"), explode(grams).as("__g"))
        .groupBy(col("__id"), col("__g"))
        .agg(count(lit(1)).as("__c"))
        .select(col("__id"), col("__c"),
          length(col("__g")).cast("long").as("__l"))
    }
    val top = gramCounts(topN)
      .groupBy(col("__id"))
      .agg(max(struct(col("__c"), col("__l"))).as("__m"))
      .select(col("__id"),
        (col("__m.__c") * col("__m.__l")).as("__top_mass"))
    val dup = gramCounts(dupN)
      .groupBy(col("__id"))
      .agg(coalesce(sum(when(col("__c") >= 2, col("__c") * col("__l"))),
        lit(0L)).as("__dup_mass"))
    val lines = df
      .select(col(idCol).as("__id"),
        explode(split(col(textCol), "\n")).as("__ln"))
      .groupBy(col("__id"), col("__ln"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col("__id"))
      .agg(coalesce(sum(when(col("__c") >= 2,
          col("__c") * length(col("__ln")).cast("long"))),
        lit(0L)).as("__line_mass"))
    def frac(mass: Column): Column =
      when(col("__cb") > 0, round(least(
          mass.cast("double") / col("__cb").cast("double"), lit(1.0)), 9))
        .otherwise(lit(0.0))
    df.select(col(idCol).as("__id"),
        size(split(col(textCol), " ")).cast("long").as("n_words"),
        length(col(textCol)).cast("long").as("__cb"))
      .join(top, Seq("__id"), "left")
      .join(dup, Seq("__id"), "left")
      .join(lines, Seq("__id"), "left")
      .select(col("__id").as(idCol), col("n_words"),
        frac(coalesce(col("__top_mass"), lit(0L)))
          .as("top_ngram_chars_frac"),
        frac(coalesce(col("__dup_mass"), lit(0L)))
          .as("dup_ngram_chars_frac"),
        frac(coalesce(col("__line_mass"), lit(0L)))
          .as("dup_line_chars_frac"))
  }

  /** The fixed fp(10⁶) feature vector shared by [[logregTrain]] and
    * [[logregScore]]: [bias, capped word count, "the"-rate, capped mean
    * word length] — cheap scan-side signals in the [[qualityScore]]
    * family. Each feature is one exact-integer-derived IEEE expression
    * quantized to a 10⁶-scaled long, so training arithmetic downstream
    * is integer-exact and any engine reproduces the quantized vector
    * bit-for-bit (the multipliers 3906.25 = 10⁶/256 and 62500 = 10⁶/16
    * are exact binary fractions; each feature does at most one
    * division). */
  private def lrFeaturesFp(textCol: Column): Seq[Column] = {
    val toks = split(textCol, " ")
    val words = size(toks).cast("long")
    val theCount = size(filter(toks, t => t === lit("the"))).cast("long")
    val chars = length(textCol).cast("long")
    Seq(
      lit(1000000L),
      round(least(words, lit(256L)).cast("double") * lit(3906.25), 0)
        .cast("long"),
      round(theCount.cast("double") * lit(1000000.0) /
        words.cast("double"), 0).cast("long"),
      round(least(chars.cast("double") / words.cast("double"),
        lit(16.0)) * lit(62500.0), 0).cast("long"))
  }

  /** Rational squashing link σ̂(z) = ½ + z / (2(1+|z|)) — sigmoid-shaped
    * (monotone, σ̂(0)=½, → 0/1 at ∓∞) but built from IEEE +,·,/,|·| ONLY,
    * so two engines replaying the same quantized inputs agree to the
    * bit; exp() would hand the model to libm's last-ulp differences. */
  private def squash(z: Column): Column =
    lit(0.5) + z / (lit(2.0) * (lit(1.0) + abs(z)))

  /** Distributed logistic-style quality classifier, trained by
    * fixed-iteration batch gradient descent — the fastText-shaped
    * model-based filter (train a tiny linear model on a labeled slice,
    * score the whole corpus) that sits between the closed-form
    * heuristics ([[qualityScore]], [[gopherStats]]) and the token-space
    * [[nbTrain]] Naive Bayes. Engine-exact by construction: features
    * quantize to fp(10⁶) longs ([[lrFeaturesFp]]), the margin
    * z = w·x/10¹² is one long sum + one IEEE division, the link is the
    * rational [[squash]] (no libm), per-doc gradient terms round to
    * integers and sum EXACTLY in long (order-independent), and the
    * weight update rounds lr·G/n half-away-from-zero — so the full
    * trajectory (iter, n, w₀..w₃) is replayable bit-for-bit by any
    * engine, which is exactly what the registered DuckDB oracle does
    * with the three iterations unrolled as CTEs.
    *
    * Scale: the feature table (one double + four longs per row)
    * is cut once; each iteration is ONE map-side-combined
    * aggregate whose result — n plus four gradient sums — is a single
    * driver row (the bounded-model-state collect, registered in
    * CollectLintSpec). Nothing else leaves the executors; iteration
    * count is the loud bound. Output: one (iter, n, w0, w1, w2, w3)
    * row per iteration, weights in fp(10⁶). */
  def logregTrain(docs: DataFrame, label: Column, textCol: String = "text",
                  iters: Int = 3, lr: Double = 4.0): DataFrame = {
    require(iters >= 1 && iters <= 16,
      s"iters must be in [1, 16], got $iters")
    require(lr > 0 && lr <= 64, s"lr must be in (0, 64], got $lr")
    val spark = docs.sparkSession
    val fs = lrFeaturesFp(col(textCol))
    val base = OpCaches.cutNow(docs.filter(col(textCol).isNotNull)
      .select((when(label, 1.0).otherwise(0.0)).as("__y") +:
        fs.zipWithIndex.map { case (f, j) => f.as(s"__a$j") }: _*))
    val w = Array(0L, 0L, 0L, 0L)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, Long, Long)]
    for (it <- 1 to iters) {
      val zfp = (0 to 3).map(j => lit(w(j)) * col(s"__a$j"))
        .reduce(_ + _)
      val p = squash(zfp.cast("double") / lit(1.0e12))
      val gradCols = (0 to 3).map(j =>
        sum(round((p - col("__y")) * col(s"__a$j"), 0).cast("long"))
          .as(s"g$j"))
      // ONE driver row per iteration: n + 4 gradient sums (model state)
      val row = base.agg(count(lit(1)).as("n"), gradCols: _*).collect()(0)
      val n = row.getLong(0)
      require(n > 0, "logregTrain: no documents to train on")
      for (j <- 0 to 3) {
        val g = row.getLong(1 + j)
        // half-away-from-zero, matching SQL round() on negatives
        val delta = BigDecimal(lr * (g.toDouble / n.toDouble))
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
        w(j) -= delta
      }
      out += ((it.toLong, n, w(0), w(1), w(2), w(3)))
    }
    import spark.implicits._
    out.toSeq.toDF("iter", "n", "w0", "w1", "w2", "w3")
  }

  /** Serve side of [[logregTrain]]: score every document with a stored
    * weight vector (fp(10⁶) longs, straight off the trainer's last
    * row or read back from a committed artifact). Appends `score` =
    * σ̂(w·x/10¹²) rounded to 9 — the same quantized features, the same
    * libm-free link, so serve ≡ train arithmetic exactly. Pure
    * scan-side map: no shuffle, no state; threshold at 0.5 for the
    * keep/drop decision. */
  def logregScore(docs: DataFrame, weights: Seq[Long],
                  textCol: String = "text"): DataFrame = {
    require(weights.length == 4,
      s"expected 4 fp(1e6) weights, got ${weights.length}")
    val fs = lrFeaturesFp(col(textCol))
    val zfp = fs.zip(weights).map { case (f, wj) => lit(wj) * f }
      .reduce(_ + _)
    docs.filter(col(textCol).isNotNull)
      .withColumn("score", round(squash(zfp.cast("double") / lit(1.0e12)), 9))
  }
}
