package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.VectorExprs

/** Corpus-statistics and decontamination operators: vocabulary / TF-IDF
  * builds, n-gram frequency tables, benchmark decontamination (test-set
  * n-gram overlap), and Gopher-style repetition filtering.
  *
  * Tokenization is `split(text, " ")` throughout — the same convention as
  * TextAnalysis and the DuckDB oracles (`string_split(text, ' ')`).
  *
  * Scale notes: every operator is a shuffle-by-key aggregation or an
  * ids-only semi/anti join. Decontamination and repetition run on hashed
  * n-grams (native codegen'd ShingleHash64) so the shuffled keys are
  * fixed-width longs, not strings; the frequency tables keep string
  * n-grams because the token itself is the output.
  */
object Ngrams {

  private def toks(textCol: Column): Column = split(textCol, " ")

  /** Full word n-gram array (non-distinct, full windows only): docs
    * shorter than `n` tokens yield an empty array. Native codegen'd
    * expression — one tight loop per row instead of an interpreted
    * transform + slice + concat_ws per window. */
  def ngramArray(textCol: Column, n: Int): Column =
    VectorExprs.shingleStrings(toks(textCol), n)

  /** Vocabulary with corpus statistics: one row per token with its total
    * occurrence count (tf) and document frequency (df), floored at
    * `minDf`. One explode + one hash aggregation — partial counts
    * combine map-side; df uses count(distinct doc) which Spark plans as
    * a two-level aggregate, still a single shuffle family on the token
    * key. */
  def vocabulary(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text", minDf: Long = 1L): DataFrame =
    docs.select(col(idCol).as("doc"), explode(toks(col(textCol))).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("tf"), count_distinct(col("doc")).as("df"))
      .filter(col("df") >= minDf)

  /** Heaps-law vocabulary-growth curve — how fast the type count grows
    * as the corpus grows (V ≈ K·Nᵝ): the corpus-QA screen that
    * separates organic text (β ≈ 0.4–0.6) from template spam (β → 0:
    * tokens grow, types don't) and OCR/noise floods (β → 1: every
    * "word" is new), and the vocabulary-size forecaster a tokenizer
    * budget reads. Ingest order = `idCol` order. Emits `checkpoints`
    * rows: (ck, n_docs, n_tokens, vocab) — cumulative token mass and
    * distinct-type count over the first ⌈(ck+1)/K⌉ of the id range;
    * feed ln(vocab) vs ln(n_tokens) to [[Profiling.loglogFit]] for β.
    *
    * All-integer, engine-exact. Scale shape: tokens explode once; each
    * type reduces to its FIRST id (min — one aggregation over the
    * token table, the only corpus-sized shuffle); both curves then
    * bucket into `checkpoints` cells and cumulate over a K-row window
    * — the curve never materializes per-doc prefixes. */
  def heapsLaw(docs: DataFrame, idCol: String = "doc_id",
               textCol: String = "text",
               checkpoints: Int = 20): DataFrame = {
    require(checkpoints > 0)
    val ids = docs.agg(max(col(idCol)).cast("long").as("__max"))
    // bucket(doc) = ⌊id·K / (max+1)⌋ ∈ [0, K) — integer `div`, never
    // IEEE double division (a boundary-exact product would round up)
    val toksTbl = docs.crossJoin(broadcast(ids))
      .select(expr(s"(cast($idCol as bigint) * $checkpoints)" +
          " div (__max + 1)").as("__b"),
        col(idCol).as("__id"),
        explode(toks(col(textCol))).as("tok"))
    val tokCum = toksTbl.groupBy(col("__b"))
      .agg(count(lit(1)).as("__nt"), count_distinct(col("__id")).as("__nd"))
    val firstSeen = toksTbl.groupBy(col("tok"))
      .agg(min(col("__b")).as("__b"))
      .groupBy(col("__b")).agg(count(lit(1)).as("__nv"))
    val w = Window.orderBy(col("ck"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spark(docs).range(checkpoints).select(col("id").as("ck"))
      .join(tokCum.withColumnRenamed("__b", "ck"), Seq("ck"), "left")
      .join(firstSeen.withColumnRenamed("__b", "ck"), Seq("ck"), "left")
      .select(col("ck"),
        sum(coalesce(col("__nd"), lit(0L))).over(w).as("n_docs"),
        sum(coalesce(col("__nt"), lit(0L))).over(w).as("n_tokens"),
        sum(coalesce(col("__nv"), lit(0L))).over(w).as("vocab"))
  }

  private def spark(df: DataFrame) = df.sparkSession

  /** TF-IDF-style weights per (doc, token). The rarity factor is the
    * rational N/df rather than ln(N/df): exact in Double, so scores are
    * bit-reproducible across engines (the DuckDB oracle hash-compares
    * them); swap in `log(...)` for a production ranking build. The df
    * table aggregates over the FULL corpus, then broadcasts back onto
    * the per-doc counts — document scoring never re-shuffles the corpus
    * by doc. */
  def tfidf(docs: DataFrame, idCol: String = "doc_id",
            textCol: String = "text", minDf: Long = 1L): DataFrame = {
    val tokens = docs
      .select(col(idCol).as("doc_id"), explode(toks(col(textCol))).as("tok"))
    val perDoc = tokens.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    // df derives from perDoc (each (doc, tok) row = one containing doc)
    // rather than a second tokenize-and-explode of the corpus — one
    // explode pass total; only the count(*) for N re-touches docs, and
    // that scan is column-pruned to nothing.
    val dfTbl = perDoc.groupBy("tok").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
    val n = docs.select(count(lit(1)).as("n_docs"))
    perDoc.join(dfTbl, "tok")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("tok"), col("tf"),
        (col("tf").cast("double") * col("n_docs") / col("df")).as("score"))
  }

  /** Encode documents as token-id sequences against a vocabulary table —
    * the corpus → training-tensors bridge (the step before
    * [[Mixing.packSequences]] turns id sequences into fixed-budget
    * training rows). `vocab` carries (tok, id); tokens absent from it
    * map to `oovId`. Output: (idCol, token_ids: array<bigint>,
    * n_tokens, n_oov), ids in original token order.
    *
    * Plan shape at 100 TB: explode → broadcast-or-shuffle join against
    * the vocab (Spark picks by vocab size; a post-minDf vocabulary is
    * usually broadcast-sized) → one groupBy(doc) re-assembly shuffle.
    * Order is restored by sorting on the exploded position INSIDE the
    * grouped array (array_sort on (pos, id) structs) — no window, no
    * global sort. */
  def encodeTokens(docs: DataFrame, vocab: DataFrame, oovId: Long = 0L,
                   idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    val v = vocab.select(col("tok"), col("id").cast("long").as("__vid"))
    docs.select(col(idCol), posexplode(toks(col(textCol))))
      .withColumnRenamed("pos", "__pos").withColumnRenamed("col", "tok")
      .join(v, Seq("tok"), "left")
      .select(col(idCol), col("__pos"),
        coalesce(col("__vid"), lit(oovId)).as("__id"))
      .groupBy(col(idCol))
      .agg(
        transform(
          array_sort(collect_list(struct(col("__pos"), col("__id")))),
          x => x("__id")).as("token_ids"),
        count(lit(1)).as("n_tokens"),
        sum(when(col("__id") === oovId, 1L).otherwise(0L)).as("n_oov"))
  }

  /** Word n-gram frequency table: (ngram, count), floored at `minCount`.
    * The classic stopword-phrase / boilerplate-mining primitive. */
  def ngramCounts(docs: DataFrame, n: Int, idCol: String = "doc_id",
                  textCol: String = "text", minCount: Long = 1L): DataFrame =
    docs.select(explode(ngramArray(col(textCol), n)).as("ngram"))
      .groupBy("ngram")
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)

  /** Benchmark decontamination: remove from `train` every document that
    * shares at least one word `n`-gram with `eval` — the standard guard
    * against test-set leakage into training corpora.
    *
    * Both sides explode to (id, ngram-hash) with the native
    * ShingleHash64 (distinct per doc), and contaminated ids come from
    * one equi-join on the hash — fixed-width keys, ids only, no text
    * moves through the shuffle. Hash collisions (2^-64) can only
    * over-remove, never leak. */
  def decontaminate(train: DataFrame, eval: DataFrame, n: Int,
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    def grams(df: DataFrame, out: String) =
      df.filter(size(toks(col(textCol))) >= n) // no partial windows
        .select(col(idCol).as(out),
          explode(array_distinct(
            VectorExprs.shingleHash64(toks(col(textCol)), n))).as("g"))
    val contaminated = grams(train, "train_id")
      .join(grams(eval, "eval_id").select("g").distinct(), "g")
      .select(col("train_id").as(idCol)).distinct()
    train.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Graded contamination report — the measuring twin of
    * [[decontaminate]]: instead of dropping any train document sharing
    * one n-gram with the eval set, score EVERY train document by the
    * fraction of its distinct n-grams that appear anywhere in the eval
    * set. The audit a benchmark-hygiene review wants ("how contaminated,
    * not just whether"), and the knob for threshold-based policies
    * between keep-all and drop-on-first-hit.
    *
    * Same machinery as decontaminate: hashed n-grams (fixed-width long
    * keys, native ShingleHash64), eval's distinct-gram set broadcast by
    * AQE onto a left join, one per-doc aggregate — all linear. Documents
    * shorter than `n` tokens have no windows and are not scored. The
    * score is one IEEE division of exact integer counts. */
  def contaminationScore(train: DataFrame, eval: DataFrame, n: Int,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    def grams(df: DataFrame) =
      df.filter(size(toks(col(textCol))) >= n)
        .select(col(idCol),
          explode(array_distinct(
            VectorExprs.shingleHash64(toks(col(textCol)), n))).as("g"))
    val evalGrams = grams(eval).select("g").distinct()
      .withColumn("__hit", lit(1L))
    grams(train)
      .join(evalGrams, Seq("g"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
           sum(coalesce(col("__hit"), lit(0L))).as("n_matched"))
      .select(col(idCol), col("n_shingles"), col("n_matched"),
        (col("n_matched").cast("double") / col("n_shingles"))
          .as("contamination"))
  }

  /** Unigram language-model score per document: mean log-probability of
    * the document's tokens under the corpus unigram distribution,
    * p(tok) = tf / total_tokens — the cheap perplexity-style quality
    * signal (boilerplate and gibberish both score low: boilerplate
    * because it is dominated by ultra-common tokens elsewhere, gibberish
    * because its tokens are rare). Out-of-vocabulary tokens (possible
    * when scoring corpus B against corpus A's model) take `oovLogProb`.
    *
    * Plan: one explode + token-count aggregate builds the model (tokens
    * × 1 shuffle), which broadcast-joins back onto the exploded docs —
    * the per-doc regroup is the only other shuffle. log is applied to
    * the per-TOKEN probability (|vocab| evaluations, not |corpus|),
    * and the per-doc mean sums exact tf-weighted terms. */
  def unigramLogProb(docs: DataFrame, model: DataFrame = null,
                     idCol: String = "doc_id", textCol: String = "text",
                     oovLogProb: Double = -20.0,
                     quantize: Option[Int] = None): DataFrame = {
    val tokens = docs
      .select(col(idCol).as("doc_id"), explode(toks(col(textCol))).as("tok"))
    val m = Option(model).getOrElse(
      tokens.groupBy("tok").agg(count(lit(1)).as("tf")))
    val total = m.select(sum(col("tf")).as("n_total"))
    val rawLogp = log(col("tf").cast("double") / col("n_total"))
    val logp = m.crossJoin(broadcast(total))
      .select(col("tok"),
        quantize.map(d => round(rawLogp, d)).getOrElse(rawLogp).as("logp"))
    val term = coalesce(col("logp"), lit(oovLogProb))
    // quantize: per-token log-probs rounded to d decimals and summed as
    // exact decimals — scores become order- and engine-independent (the
    // determinism mode the correctness harness compares under); the
    // default sums raw doubles at full precision.
    val docSum = quantize match {
      case Some(d) =>
        sum(term.cast(org.apache.spark.sql.types.DecimalType(28, d)))
          .cast("double")
      case None => sum(term)
    }
    tokens.join(broadcast(logp), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"),
        (docSum / count(lit(1))).as("avg_logp"))
  }

  /** Per-document NOVELTY score: the fraction of a document's distinct
    * word n-grams whose FIRST corpus occurrence (minimum `idCol`, i.e.
    * ingest order) is this document — the marginal-contribution signal
    * behind dedup-aware mixing: a document of common boilerplate scores
    * near 0 even if no single near-duplicate exists; the corpus's first
    * copy of anything scores high. The graded, per-document form of
    * what [[Dedup.dedupChunksGlobal]] decides bluntly.
    *
    * Same hashed-shingle machinery as [[decontaminate]] (fixed-width
    * long keys; a 2^-64 collision can only mark a gram non-novel):
    * one distinct (doc, gram) table, a min-doc aggregate per gram
    * joined back, one per-doc aggregate — all linear shuffles.
    * Documents shorter than `n` tokens have no windows and are not
    * scored. */
  def noveltyScore(docs: DataFrame, n: Int, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    val g = docs.filter(size(toks(col(textCol))) >= n)
      .select(col(idCol),
        explode(array_distinct(
          VectorExprs.shingleHash64(toks(col(textCol)), n))).as("g"))
    val first = g.groupBy(col("g")).agg(min(col(idCol)).as("__first"))
    g.join(first, Seq("g"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__first") === col(idCol), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col(idCol), col("n_grams"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_grams")).as("novelty"))
  }

  /** Adjacent-character pair frequencies over the word vocabulary,
    * weighted by word occurrence counts — iteration 1 of byte-pair
    * encoding (Sennrich et al. 2016, ACL: "Neural Machine Translation
    * of Rare Words with Subword Units"), and the oracle-checkable
    * surface of [[bpeTrain]]. Output: (left, right, cnt), cnt ≥
    * `minCount`.
    *
    * The corpus is scanned ONCE into a word-count table; pairs explode
    * from the (distinct-word, count) rows, so the pair aggregation is
    * vocabulary-sized, not corpus-sized. */
  def bpePairStats(docs: DataFrame, textCol: String = "text",
                   minCount: Long = 1L): DataFrame = {
    val wc = docs.select(explode(toks(col(textCol))).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("c"))
    wc.select(col("c"), split(col("w"), "").as("a"))
      .select(col("c"), explode(transform(
        sequence(lit(1), size(col("a")) - 1),
        j => struct(element_at(col("a"), j).as("l"),
                    element_at(col("a"), j + 1).as("r")))).as("p"))
      .groupBy(col("p.l").as("left"), col("p.r").as("right"))
      .agg(sum(col("c")).as("cnt"))
      .filter(col("cnt") >= minCount)
  }

  /** Byte-pair-encoding merge training — the tokenizer-learning step of
    * an LLM data pipeline, run as `numMerges` rounds of: count adjacent
    * symbol pairs over the vocabulary (weighted by word frequency),
    * take the most frequent pair (ties broken lexicographically so the
    * result is engine- and layout-independent), and fuse it everywhere,
    * left-to-right non-overlapping — classic Sennrich-style BPE without
    * the end-of-word marker.
    *
    * Output: one row per learned merge, (rank, left, right, merged,
    * cnt) in learn order.
    *
    * Scale shape: the CORPUS is touched exactly once — the initial
    * word-frequency aggregate. After that the loop maintains TWO model
    * tables: the (word, syms, cnt) symbol state and a persisted
    * (l, r, cnt) PAIR-COUNT table updated INCREMENTALLY — a merge only
    * changes the pair counts of words that CONTAIN the merged pair, so
    * each round re-counts pairs over `contains(syms, '<l><r>')` words
    * only (for a real vocabulary that is a tiny, shrinking fraction)
    * and applies the ± delta to the pair table with one
    * vocabulary-of-pairs-sized re-aggregate. The full-vocabulary pair
    * explode runs exactly once, at round 1 — at a production 32k-merge
    * vocabulary this turns 32k corpus-vocabulary aggregations into one
    * plus 32k affected-subset scans. Per round the driver still
    * collects exactly one argmax row (bounded driver state, the same
    * contract as the k-means centroid collects). Lineage is
    * cut ([[OpCaches.cutNow]]) every 4 rounds like [[Graphs.pageRank]] so
    * the plan stays flat.
    *
    * Symbol representation: each word's symbol sequence is one string
    * with every symbol bracketed (`low` → `<l><o><w>`). Fusing pair
    * (a, b) is then the literal string replace `<a><b>` → `<ab>`, whose
    * left-to-right non-overlapping scan is exactly BPE's merge rule —
    * adjacent occurrences never share characters, so `aaa` under (a,a)
    * correctly becomes `<aa><a>`. Tokens containing `<` or `>` would
    * corrupt this encoding (a literal bracket can fuse across symbol
    * boundaries), so the vocabulary build DROPS them — enforced in
    * [[bpeTrainState]], not just documented; such tokens are control
    * markup, not text, in every corpus this targets. */
  def bpeTrain(docs: DataFrame, numMerges: Int,
               textCol: String = "text"): DataFrame = {
    val sp = docs.sparkSession
    val (_, merges) = bpeTrainCached(docs, numMerges, textCol)
    import sp.implicits._
    merges.toDF("rank", "left", "right", "merged", "cnt")
  }

  /** The word → subword segmentation [[bpeTrain]]'s merges induce — the
    * ENCODE side of BPE, published as a vocabulary-sized table:
    * (word, cnt, n_syms, segments), `segments` the space-joined symbol
    * sequence after `numMerges` rounds (e.g. `low` → `"lo w"`). This is
    * the artifact a tokenizer ships; joining it onto exploded documents
    * encodes a corpus without re-running any merge logic. The returned
    * frame rides the memoized training state ([[clearBpeCache]] to
    * release). */
  def bpeSegment(docs: DataFrame, numMerges: Int,
                 textCol: String = "text"): DataFrame = {
    val (words, _) = bpeTrainCached(docs, numMerges, textCol)
    words
      .select(col("w").as("word"), col("c").as("cnt"),
        size(symsArr).cast("long").as("n_syms"),
        array_join(symsArr, " ").as("segments"))
  }

  /** The SERVE side of BPE from a STORED merge list — segmentation
    * with no training loop at all. Training learns the merges once
    * ([[bpeTrain]], typically persisted through a ManifestTable);
    * serving replays them as ONE chained expression: the bracketed
    * symbol string folded through `replace(<l><r> → <lr>)` in rank
    * order. Applying merge i to the full vocabulary after merges
    * 1..i-1 is exactly the cumulative state the training loop held at
    * round i, so the induced segmentation is bit-identical to
    * [[bpeSegment]]'s — proved by the shared DuckDB oracle on
    * `q_bpe_stored`.
    *
    * Scale shape: zero jobs besides the one vocabulary aggregation —
    * the k replaces are a single codegen'd projection over the
    * vocabulary-sized table (at 32k merges the expression chain is
    * deep but still one pass; a driver-side loop or per-merge job
    * would be 32k passes). The merge list itself is model-sized
    * (k rows), the only thing a serving cluster needs to load.
    * Pathological-length audit (the unigram-lattice exposure does NOT
    * recur here): each replace scans the bracketed string once and
    * allocates one O(len) successor — O(k·len) time, O(len) live state
    * per word, no per-position path accumulation — so a 100 kB
    * single-token blob degrades linearly instead of quadratically
    * (spec-pinned in DegenerateInputSpec). */
  def bpeSegmentWithMerges(docs: DataFrame, merges: Seq[(String, String)],
                           textCol: String = "text"): DataFrame = {
    val symsN = merges.foldLeft(
        regexp_replace(col("w"), "(.)", "<$1>")) {
      case (e, (l, r)) => replace(e, lit(s"<$l><$r>"), lit(s"<$l$r>"))
    }
    docs.select(explode(toks(col(textCol))).as("w"))
      .filter(length(col("w")) >= 1)
      .filter(!col("w").rlike("[<>]"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .select(col("w"), symsN.as("syms"), col("c"))
      .select(col("w").as("word"), col("c").as("cnt"),
        size(symsArr).cast("long").as("n_syms"),
        array_join(symsArr, " ").as("segments"))
  }

  /** The trained symbol vocabulary as a SHIPPABLE (sym, id) table —
    * ids dense-ranked by symbol string (engine-independent), exactly
    * the ids [[bpeEncode]] derives internally. Together with
    * [[bpeTrain]]'s merge list this is the complete tokenizer
    * artifact: merges drive segmentation, this table drives id
    * assignment; [[bpeEncodeWithMerges]] serves from the stored pair
    * with no training loop. Model-sized (|vocab| rows). */
  def bpeVocab(docs: DataFrame, numMerges: Int,
               textCol: String = "text"): DataFrame = {
    val (words, _) = bpeTrainCached(docs, numMerges, textCol)
    words.select(explode(symsArr).as("sym")).distinct()
      .select(col("sym"),
        row_number().over(Window.orderBy(col("sym"))).cast("long").as("id"))
  }

  /** Corpus → token-id sequences from the STORED tokenizer artifact
    * (merge list + (sym, id) vocabulary) — the serve-side twin of
    * [[bpeEncode]], zero training jobs. Each batch's DISTINCT words
    * segment by replaying the merges as one chained `replace`
    * projection (batch-vocabulary-sized, NOT per token occurrence —
    * at 32k merges the replay must run once per distinct word, not
    * once per token), then tokens join their segmentation and symbols
    * join the stored vocabulary; symbols outside it take `oovId`.
    * Replaying merges segments ANY word — including words unseen at
    * train time, which fall apart into whatever trained subwords
    * match, real BPE's unseen-word behavior. Output schema matches
    * [[bpeEncode]]. */
  def bpeEncodeWithMerges(encodeDocs: DataFrame,
                          merges: Seq[(String, String)], vocab: DataFrame,
                          idCol: String = "doc_id",
                          textCol: String = "text",
                          oovId: Long = 0L): DataFrame = {
    val symsExpr = merges.foldLeft(
        regexp_replace(col("w"), "(.)", "<$1>")) {
      case (e, (l, r)) => replace(e, lit(s"<$l><$r>"), lit(s"<$l$r>"))
    }
    val tok = encodeDocs
      .select(col(idCol), posexplode(toks(col(textCol))))
      .withColumnRenamed("pos", "__tp").withColumnRenamed("col", "w")
      .filter(length(col("w")) >= 1 && !col("w").rlike("[<>]"))
    val wordSeg = tok.select("w").distinct()
      .select(col("w"), symsExpr.as("syms"))
      .select(col("w"), symsArr.as("__syms"))
    tok.join(wordSeg, Seq("w"))
      .select(col(idCol), col("__tp"), posexplode(col("__syms")))
      .withColumnRenamed("pos", "__sp").withColumnRenamed("col", "sym")
      .join(vocab, Seq("sym"), "left")
      .groupBy(col(idCol))
      .agg(
        count_distinct(col("__tp")).as("n_toks"),
        count(lit(1)).as("n_ids"),
        array_join(transform(
          array_sort(collect_list(struct(col("__tp"), col("__sp"),
            coalesce(col("id"), lit(oovId)).as("id")))),
          x => x("id").cast("string")), ",").as("token_ids"))
  }

  /** End-to-end BPE corpus encoding — [[bpeTrain]] → [[bpeSegment]] →
    * token-id sequences, closing the corpus→tensors chain with the
    * TRAINED tokenizer rather than a given vocabulary: train
    * `numMerges` rounds on `trainDocs`, derive the symbol vocabulary
    * from the final segmentation (ids dense-ranked by symbol string —
    * engine-independent), then encode `encodeDocs` by joining each
    * token to its segment sequence and each symbol to its id, keeping
    * (token position, symbol position) order. Symbols outside the
    * trained vocabulary (possible only when encoding a corpus the
    * tokenizer was not trained on) take `oovId` — the same OOV
    * contract as [[encodeTokens]]. Tokens containing `<`/`>` are
    * dropped, matching the training-side policy.
    *
    * Output: (idCol, n_toks, n_ids, token_ids) — `token_ids` the
    * canonical comma-joined id string (driver-gate scalar form; a
    * trainer would keep the typed array and feed
    * [[Mixing.packSequences]]). Docs with no encodable tokens are
    * absent, like any group-by.
    *
    * Plan shape: the training loop's model tables plus, on the encode
    * side, one posexplode of tokens, a broadcast-sized join to the
    * vocabulary-sized segment table, one symbol posexplode, a
    * broadcast join to the symbol vocabulary, and one per-doc regroup
    * — the only corpus-sized shuffle is the final regroup. */
  def bpeEncode(trainDocs: DataFrame, encodeDocs: DataFrame,
                numMerges: Int, idCol: String = "doc_id",
                textCol: String = "text", oovId: Long = 0L): DataFrame = {
    val (words, _) = bpeTrainCached(trainDocs, numMerges, textCol)
    val seg = words.select(col("w"), symsArr.as("__syms"))
    val vw = Window.orderBy(col("sym"))
    val vocab = seg.select(explode(col("__syms")).as("sym")).distinct()
      .select(col("sym"), row_number().over(vw).cast("long").as("id"))
    val tok = encodeDocs
      .select(col(idCol), posexplode(toks(col(textCol))))
      .withColumnRenamed("pos", "__tp").withColumnRenamed("col", "w")
      .filter(length(col("w")) >= 1 && !col("w").rlike("[<>]"))
    // OOV char-split: Spark's split keeps a trailing empty string at the
    // end-of-string lookahead match (limit = -1) — filter it, or every
    // unseen word gains a phantom empty symbol
    val charSplit =
      filter(split(col("w"), "(?!^)"), s => length(s) >= 1)
    tok.join(seg, Seq("w"), "left")
      .select(col(idCol), col("__tp"),
        posexplode(coalesce(col("__syms"), charSplit)))
      .withColumnRenamed("pos", "__sp").withColumnRenamed("col", "sym")
      .join(vocab, Seq("sym"), "left")
      .groupBy(col(idCol))
      .agg(
        count_distinct(col("__tp")).as("n_toks"),
        count(lit(1)).as("n_ids"),
        array_join(transform(
          array_sort(collect_list(struct(col("__tp"), col("__sp"),
            coalesce(col("id"), lit(oovId)).as("id")))),
          x => x("id").cast("string")), ",").as("token_ids"))
  }

  private def symsArr: Column =
    split(expr("trim(BOTH '<>' FROM syms)"), "><")

  /** Weighted adjacent-pair counts of a (w, syms, c) symbol state —
    * the aggregate the BPE argmax ranks. Vocabulary-sized input, pair-
    * vocabulary-sized output. */
  private def bpePairCounts(ws: DataFrame): DataFrame = ws
    .select(col("c"), symsArr.as("a"))
    .filter(size(col("a")) >= 2)
    .select(col("c"), explode(transform(
      sequence(lit(1), size(col("a")) - 1),
      j => struct(element_at(col("a"), j).as("l"),
                  element_at(col("a"), j + 1).as("r")))).as("p"))
    .groupBy(col("p.l").as("l"), col("p.r").as("r"))
    .agg(sum(col("c")).as("cnt"))

  /** Session memo over [[bpeTrainState]] ([[OpCaches.memo]]): the four
    * published BPE artifacts (merge table, segmentation, encoded
    * corpus, fertility report) all ride the SAME trained tokenizer, and
    * a production tokenizer trains once — without the memo each
    * artifact re-ran the full merge loop. Keyed by the training corpus
    * plus (numMerges, textCol). The memoized `words` frame stays
    * persisted (vocabulary-sized, bounded model state) until the memo
    * drops it; a cache miss after an external unpersist merely
    * retrains. Cleared by `OpCaches.resetQueryState` — between bench
    * queries (Bench keeps the memo only within one query's best-of-N so
    * each BPE query's record measures its own training), at the end of
    * a Verify run, and in spec teardown. */
  private val bpeMemo =
    OpCaches.memo[(DataFrame, Seq[(Long, String, String, String, Long)])](
      _._1.unpersist())

  private def bpeTrainCached(docs: DataFrame, numMerges: Int,
                             textCol: String)
      : (DataFrame, Seq[(Long, String, String, String, Long)]) =
    bpeMemo(docs, numMerges, textCol)(
      bpeTrainState(docs, numMerges, textCol))

  /** Unpersist and drop every memoized BPE training state. */
  private[graft] def clearBpeCache(): Unit = bpeMemo.clear()

  /** Shared BPE training loop: returns the final (w, syms, c) symbol
    * state (persisted — [[bpeMemo]] owns release) plus the merge list.
    * Pair counts are DELTA-maintained (see [[bpeTrain]] scale notes):
    * round N's only vocabulary-wide work is the `contains` filter and
    * the per-row `replace`; the pair re-count aggregates affected
    * words only, and the maintained table is exactly equal (integer
    * arithmetic, no drift) to a from-scratch re-count, so the argmax —
    * and therefore the merge list — is bit-identical to the naive
    * loop the DuckDB oracle unrolls. */
  private def bpeTrainState(docs: DataFrame, numMerges: Int,
                            textCol: String)
      : (DataFrame, Seq[(Long, String, String, String, Long)]) = {
    require(numMerges >= 1)
    var words = docs.select(explode(toks(col(textCol))).as("w"))
      .filter(length(col("w")) >= 1)
      // enforce the bracketed-symbol encoding's precondition: a token
      // containing a literal '<' or '>' would let `replace` fuse across
      // symbol-character boundaries and silently corrupt the merge
      // table — drop such tokens (documented policy on bpeTrain)
      .filter(!col("w").rlike("[<>]"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .select(col("w"),
        regexp_replace(col("w"), "(.)", "<$1>").as("syms"), col("c"))
      .persist()
    var pairs = bpePairCounts(words).persist()
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, String, Long)]
    var done = false
    var i = 1
    // caches from round N-1 that round N's lazy pair table still reads;
    // released only after the next argmax job has materialized it
    var deferred: Seq[DataFrame] = Seq.empty
    while (i <= numMerges && !done) {
      val top = pairs
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val (l, r, cnt) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((i.toLong, l, r, l + r, cnt))
        val pat = s"<$l><$r>"
        val fused = s"<$l$r>"
        // only words containing the merged pair change their adjacent
        // pairs; re-count those before and after the fuse and apply
        // the signed delta — unaffected words' counts carry over
        val affected = words.filter(col("syms").contains(pat))
        val affectedNext = affected.select(col("w"),
          replace(col("syms"), lit(pat), lit(fused)).as("syms"), col("c"))
        val nextPairs = pairs
          .unionByName(bpePairCounts(affected)
            .select(col("l"), col("r"), (-col("cnt")).as("cnt")))
          .unionByName(bpePairCounts(affectedNext))
          .groupBy(col("l"), col("r")).agg(sum(col("cnt")).as("cnt"))
          .filter(col("cnt") > 0)
        val nextWords = words.select(col("w"),
          when(col("syms").contains(pat),
            replace(col("syms"), lit(pat), lit(fused)))
            .otherwise(col("syms")).as("syms"),
          col("c"))
        // Job economy (2 per round, the dominating fixed cost at demo
        // vocabularies): the new WORD state materializes eagerly (one
        // cheap cached-projection job) because the next round's delta
        // reads it; the new PAIR table stays LAZY — the next round's
        // argmax is the job that fills it. Its parents (this round's
        // words+pairs caches) therefore must outlive this round: they
        // move to `deferred` and unpersist only after the next argmax
        // has run. Eagerly counting both (the old shape) spent a third
        // job per round for nothing.
        val (wm, pm) =
          if (i % 4 == 0)
            (OpCaches.cutNow(nextWords), OpCaches.cutNow(nextPairs))
          else {
            val w2 = nextWords.persist(); val p2 = nextPairs.persist()
            w2.count()
            (w2, p2)
          }
        deferred.foreach(_.unpersist())
        deferred = Seq(words, pairs)
        words = wm; pairs = pm
        i += 1
      }
    }
    deferred.foreach(_.unpersist())
    pairs.unpersist()
    (words, merges.toSeq)
  }

  // -------------------------------------------------------------------
  // Unigram-LM (SentencePiece-style) tokenizer — the second production
  // tokenizer family beside BPE (Kudo 2018, ACL: "Subword
  // Regularization"): seed a piece vocabulary from high-frequency
  // substrings, then run hard-EM (Viterbi) rounds — segment every word
  // with the current piece probabilities, re-estimate piece counts from
  // the chosen segmentations, prune to the vocabulary budget — and ship
  // the surviving (piece, cnt, logp) table as the tokenizer artifact.
  // Deterministic end to end: scores are integer MICRO-NATS
  // (round(ln(cnt/T)·1e6) as long — summed exactly; ties break by fewer
  // pieces then lexicographic piece sequence), so the learned vocabulary
  // and every segmentation are engine-exact, and a DuckDB oracle can
  // replay the unrolled EM rounds (path enumeration + the same total
  // order) bit-for-bit.
  // -------------------------------------------------------------------

  /** (w, c) word-frequency table — the corpus's ONLY appearance in the
    * unigram trainer (everything after is vocabulary-sized). Pinned
    * via [[OpCaches.pin]]: every EM round's E-step (and the seed's
    * substring explode) re-reads it, and without the pin each re-ran
    * the corpus tokenize+count (r19). */
  private def unigramWordCounts(docs: DataFrame, textCol: String): DataFrame =
    OpCaches.pin(
      docs.select(explode(toks(col(textCol))).as("w"))
        .filter(length(col("w")) >= 1)
        .groupBy("w").agg(count(lit(1)).as("c")))

  /** Seed vocabulary: every single character (never pruned — they keep
    * all words segmentable, SentencePiece's coverage set) plus the
    * `seedSize` highest-frequency multi-char substrings of length ≤
    * `maxPieceLen`, counted per OCCURRENCE weighted by word frequency
    * ("aaa" contributes "aa" twice per occurrence). The rank window is
    * vocabulary-sized (single ordered task over the substring table —
    * bounded by |distinct words|·maxPieceLen·max word length, model
    * state, never the corpus). */
  private def unigramSeedFrom(wc: DataFrame, maxPieceLen: Int,
                              seedSize: Int): DataFrame = {
    val subs = wc.select(col("c"),
        explode(flatten(transform(sequence(lit(1), length(col("w"))),
          st => transform(
            sequence(lit(1),
              least(lit(maxPieceLen), length(col("w")) - st + 1)),
            l => col("w").substr(st, l))))).as("piece"))
      .groupBy("piece").agg(sum(col("c")).as("cnt"))
    val singles = subs.filter(length(col("piece")) === 1)
    // the distinct-substring table is the one CORPUS-shaped input in
    // the seed (distinct words × positions × piece lengths) — an
    // unpartitioned rank window here would drag it through a single
    // partition. orderBy+limit plans TakeOrderedAndProject instead:
    // each task keeps its own top seedSize, the driver merges
    // seedSize-sized heaps — same deterministic (cnt desc, piece asc)
    // selection, no global sort, no single-partition stage.
    val multis = subs.filter(length(col("piece")) > 1)
      .orderBy(col("cnt").desc, col("piece"))
      .limit(seedSize)
    singles.unionByName(multis)
  }

  /** (piece, cnt) → (piece, cnt, logp_micro): integer micro-nat log
    * probability round(ln(cnt/ΣT)·1e6) as LONG — quantized once per
    * round so Viterbi scores sum exactly (no float accumulation order
    * anywhere in the selection). */
  private def unigramWithLogp(vocab: DataFrame): DataFrame = {
    val tot = vocab.agg(sum(col("cnt")).as("__t"))
    vocab.crossJoin(broadcast(tot))
      .select(col("piece"), col("cnt"),
        round(log(col("cnt").cast("double") / col("__t").cast("double")) *
          lit(1e6)).cast("long").as("logp_micro"))
  }

  /** Unreachable-position sentinel for the Viterbi DP: far enough below
    * any real score that additions cannot wrap, detectable with `>`. */
  private val unigramSentinel: Long = Long.MinValue / 4

  /** Hard cap on the word length admitted to the Viterbi lattice. The
    * DP carries, per position, a path string that grows with the word —
    * O(len²) bytes of per-row fold state — so one whitespace-free blob
    * (minified JS, a base64 dump, a URL wall) of 100 kB would allocate
    * ~10 GB inside a single projection. SentencePiece caps input length
    * for the same reason. Words past the cap BYPASS the lattice (the
    * guard keeps the fold expression unevaluated) and come back
    * unsegmentable — NULL pieces from segment, one OOV id from encode —
    * the same contract as a word with an out-of-vocabulary character. */
  private[graft] val unigramMaxWordLen = 256

  /** Viterbi best segmentation of each distinct word under a scored
    * vocabulary — maximize Σ logp_micro; ties prefer FEWER pieces, then
    * the smallest SPACE-JOINED path string (a total order, so the
    * winner is unique and any engine reproduces it — both the DP and
    * the oracle compare the same joined strings). Joined-string order
    * equals true piece-SEQUENCE lexicographic order exactly when the
    * token alphabet is space-free and > 0x20 — which `toks()`'s
    * single-space split guarantees for spaces, and every shipped corpus
    * satisfies for sub-0x20 control characters; a corpus with tabs or
    * newlines INSIDE tokens would keep engine-exactness (both sides
    * compare joined strings) but could diverge from per-piece sequence
    * order on ties.
    *
    * The DP is ONE codegen-planned projection: per word, an `aggregate`
    * HOF folds positions 1..len(w), keeping per position the best
    * (score, n_pieces, path) reachable state over the ≤ maxPieceLen
    * candidate pieces ending there (vocabulary lookups against a
    * broadcast piece→logp map — model state bound into the plan, no
    * driver loop). Input is the DISTINCT-WORD table, so cost is
    * vocabulary-sized: the corpus never flows through the lattice.
    * Words containing a character outside the vocabulary come back with
    * NULL pieces (the encode path maps them to one OOV id); on the
    * training corpus itself every single char is in the seed, so all
    * words segment. */
  private def unigramViterbi(words: DataFrame, scored: DataFrame,
                             maxPieceLen: Int): DataFrame = {
    val vmap = scored.agg(map_from_entries(collect_list(
      struct(col("piece"), col("logp_micro")))).as("__m"))
    def st(s: Column, k: Column, p: Column): Column =
      struct(s.as("s"), k.as("k"), p.as("p"))
    val sent = lit(unigramSentinel)
    val dp = aggregate(
      sequence(lit(1), length(col("w"))),
      array(st(lit(0L), lit(0), lit(""))),
      (acc: Column, i: Column) => concat(acc, array(
        aggregate(
          filter(
            transform(sequence(lit(1), lit(maxPieceLen)), l => {
              val piece = col("w").substr(i - l + lit(1), l)
              val prev = element_at(acc, i - l + lit(1))
              when(l <= i && element_at(col("__m"), piece).isNotNull &&
                   prev("s") > sent,
                st(prev("s") + element_at(col("__m"), piece),
                   prev("k") + lit(1),
                   when(prev("k") === 0, piece)
                     .otherwise(concat(prev("p"), lit(" "), piece))))
            }),
            x => x.isNotNull),
          st(sent, lit(0), lit("")),
          (b: Column, c2: Column) => when(
            c2("s") > b("s") ||
              (c2("s") === b("s") && (c2("k") < b("k") ||
                (c2("k") === b("k") && c2("p") < b("p")))), c2)
            .otherwise(b)))))
    words.crossJoin(broadcast(vmap))
      .select(col("w"), col("c"),
        // the length gate must wrap the WHOLE fold: If/CaseWhen
        // evaluates branches lazily, so a past-cap word never allocates
        // the O(len²) lattice state (see unigramMaxWordLen)
        when(length(col("w")) <= lit(unigramMaxWordLen),
            element_at(dp, length(col("w")) + 1))
          .otherwise(st(sent, lit(0), lit(""))).as("__best"))
      .select(col("w"), col("c"),
        when(col("__best.s") > sent, col("__best.p")).as("pieces"),
        when(col("__best.s") > sent, col("__best.k").cast("long"))
          .as("n_pieces"),
        when(col("__best.s") > sent, col("__best.s")).as("score_micro"))
  }

  /** Train the unigram tokenizer: seed → `rounds` hard-EM rounds →
    * (piece, cnt, logp_micro), ordered by the caller. Each round:
    * score the vocabulary (micro-nat logp), Viterbi-segment the
    * distinct-word table, re-count piece usage weighted by word
    * frequency (the M-step), prune — single chars always survive (usage
    * floored at 1 so their next-round logp is finite: the coverage
    * floor), multi-char pieces must be USED and rank in the top
    * `vocabSize` by (usage desc, piece asc). All selections are integer
    * + lexicographic, so the learned vocabulary is engine-exact.
    *
    * Scale shape: the corpus is touched exactly once (the word-count
    * aggregate, persisted); every round is vocabulary-sized — the
    * Viterbi projection over distinct words, a piece-count aggregate,
    * and a model-sized TakeOrdered prune (per-task top-k heaps, no
    * single-partition window stage anywhere in seed or prune). Each
    * round's vocabulary is cut ([[OpCaches.cut]]) because round r+1
    * reads it twice (score map + surviving-singles join). */
  def unigramTrain(docs: DataFrame, vocabSize: Int, maxPieceLen: Int = 4,
                   rounds: Int = 2, seedSize: Int = 40,
                   textCol: String = "text"): DataFrame = {
    require(vocabSize >= 1 && maxPieceLen >= 1 && rounds >= 1 &&
      seedSize >= 0)
    uniMemo(docs, vocabSize, maxPieceLen, rounds, seedSize, textCol)(
      unigramTrainModel(docs, vocabSize, maxPieceLen, rounds, seedSize,
        textCol).persist())
  }

  /** Session memo over [[unigramTrainModel]] — the [[bpeMemo]] pattern
    * applied to the unigram family: the four published artifacts
    * (vocabulary, segmentation, stored round trip, encoded corpus) all
    * ride the SAME trained model, and a production tokenizer trains
    * once. Keyed by the corpus plus (vocabSize, maxPieceLen, rounds,
    * seedSize, textCol). The memoized frame is the PERSISTED
    * model-sized (piece, cnt, logp_micro) table, unpersisted when the
    * memo drops it. Cleared by `OpCaches.resetQueryState`, so each
    * q_unigram_* bench row measures its own training. */
  private val uniMemo = OpCaches.memo[DataFrame](_.unpersist())

  /** Unpersist and drop every memoized unigram model. */
  private[graft] def clearUnigramCache(): Unit = uniMemo.clear()

  private def unigramTrainModel(docs: DataFrame, vocabSize: Int,
                                maxPieceLen: Int, rounds: Int,
                                seedSize: Int,
                                textCol: String): DataFrame = {
    val wc = unigramWordCounts(docs, textCol)
    // each round's vocabulary feeds three consumers (the logp total,
    // the score map, the surviving-singles join) — a lazy local
    // checkpoint makes it a plan leaf computed once (r19): the inline
    // form compounded to ~1700–2000-operator physical plans across the
    // family (plans/r19/q_unigram_*_before.txt)
    var vocab = OpCaches.cut(unigramSeedFrom(wc, maxPieceLen, seedSize))
    for (_ <- 1 to rounds) {
      val seg = unigramViterbi(wc, unigramWithLogp(vocab), maxPieceLen)
      val usage = seg.filter(col("pieces").isNotNull)
        .select(col("c"), explode(split(col("pieces"), " ")).as("piece"))
        .groupBy("piece").agg(sum(col("c")).as("u"))
      val singles = vocab.filter(length(col("piece")) === 1)
        .select("piece").join(usage, Seq("piece"), "left")
        .select(col("piece"),
          greatest(coalesce(col("u"), lit(0L)), lit(1L)).as("cnt"))
      // model-sized input (usage pieces ⊆ current vocab), but the same
      // TakeOrderedAndProject shape as the seed keeps even the prune
      // free of single-partition window stages
      val multis = usage.filter(length(col("piece")) > 1 && col("u") >= 1)
        .orderBy(col("u").desc, col("piece"))
        .limit(vocabSize)
        .select(col("piece"), col("u").as("cnt"))
      vocab = OpCaches.cut(singles.unionByName(multis))
    }
    unigramWithLogp(vocab)
  }

  /** The word → piece segmentation a TRAINED unigram vocabulary
    * induces, published as a vocabulary-sized table (word, cnt,
    * n_pieces, pieces) — the unigram twin of [[bpeSegment]], and the
    * serve path when the vocabulary comes back from storage (pass any
    * (piece, cnt, logp_micro) frame, e.g. a ManifestTable read): zero
    * training jobs, one Viterbi projection over the distinct words. */
  def unigramSegmentWithVocab(docs: DataFrame, vocab: DataFrame,
                              maxPieceLen: Int = 4,
                              textCol: String = "text"): DataFrame = {
    val wc = docs.select(explode(toks(col(textCol))).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy("w").agg(count(lit(1)).as("c"))
    unigramViterbi(wc, vocab, maxPieceLen)
      .select(col("w").as("word"), col("c").as("cnt"),
        col("n_pieces"), col("pieces"))
  }

  /** Corpus → token-id sequences from a stored unigram vocabulary — the
    * unigram twin of [[bpeEncodeWithMerges]]: ids dense-ranked by piece
    * string (engine-independent); each batch's DISTINCT words segment
    * once (Viterbi projection), tokens join their segmentation, pieces
    * join their ids in (token position, piece position) order. Words
    * with a character outside the vocabulary are unsegmentable and
    * encode as ONE `oovId`. Output schema matches [[bpeEncode]]:
    * (idCol, n_toks, n_ids, token_ids). */
  def unigramEncodeWithVocab(encodeDocs: DataFrame, vocab: DataFrame,
                             maxPieceLen: Int = 4, idCol: String = "doc_id",
                             textCol: String = "text",
                             oovId: Long = 0L): DataFrame = {
    val ids = vocab.select(col("piece"),
      row_number().over(Window.orderBy(col("piece"))).cast("long").as("id"))
    val tok = encodeDocs
      .select(col(idCol), posexplode(toks(col(textCol))))
      .withColumnRenamed("pos", "__tp").withColumnRenamed("col", "w")
      .filter(length(col("w")) >= 1)
    val seg = unigramViterbi(
      tok.select("w").distinct().withColumn("c", lit(1L)), vocab,
      maxPieceLen)
    // unsegmentable word → one sentinel piece that matches no vocab id,
    // so the left join below assigns it exactly one oovId
    tok.join(seg.select(col("w"), col("pieces")), Seq("w"), "left")
      .select(col(idCol), col("__tp"),
        posexplode(coalesce(split(col("pieces"), " "),
          array(lit("\u0000OOV")))))
      .withColumnRenamed("pos", "__sp").withColumnRenamed("col", "piece")
      .join(ids, Seq("piece"), "left")
      .groupBy(col(idCol))
      .agg(
        count_distinct(col("__tp")).as("n_toks"),
        count(lit(1)).as("n_ids"),
        array_join(transform(
          array_sort(collect_list(struct(col("__tp"), col("__sp"),
            coalesce(col("id"), lit(oovId)).as("id")))),
          x => x("id").cast("string")), ",").as("token_ids"))
  }

  /** Bigram language-model score per document: mean log-probability of
    * the document's token TRANSITIONS, log P(w_i | w_{i-1}) with MLE
    * counts from the corpus itself — the sequential-coherence twin of
    * [[unigramLogProb]]. A bag of frequent tokens in random order scores
    * high under a unigram model but low here (its transitions are rare);
    * template/boilerplate text scores near 0 (its transitions are
    * near-deterministic). The two scores together separate "common
    * words" from "common word ORDER", which is what perplexity filters
    * actually want. Documents with fewer than 2 tokens have no
    * transitions and are dropped.
    *
    * P(w_i | w_{i-1}) = c(w_{i-1} w_i) / c(w_{i-1} ·), the context count
    * c(w_{i-1} ·) derived by re-aggregating the bigram table on its
    * first token — no second corpus pass. Self-scoring has no unseen
    * transitions, so no smoothing is needed.
    *
    * Engine-exact contract (the [[unigramLogProb]] quantize mode, always
    * on): each distinct bigram's log-prob is one IEEE `ln` of an exact
    * integer ratio, rounded to `quantizeDecimals`; per-doc sums run over
    * those rounded values in exact DECIMAL — order- and
    * engine-independent, so a DuckDB oracle hash-matches bit-for-bit.
    *
    * Plan shape: one bigram explode + count aggregate builds the model
    * (|bigram vocab| rows); context counts re-aggregate IT, broadcast
    * back; the only corpus-sized shuffles are the model build and the
    * per-doc regroup — same envelope as unigramLogProb. */
  def bigramLogProb(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text",
                    quantizeDecimals: Int = 9): DataFrame = {
    val grams = docs
      .select(col(idCol).as("doc_id"),
        explode(ngramArray(col(textCol), 2)).as("bg"))
    val model = grams.groupBy("bg").agg(count(lit(1)).as("c_bg"))
    val ctx = model
      .groupBy(split(col("bg"), " ").getItem(0).as("__w"))
      .agg(sum(col("c_bg")).as("c_ctx"))
    val logp = model
      .join(ctx, split(col("bg"), " ").getItem(0) === col("__w"))
      .select(col("bg"),
        round(log(col("c_bg").cast("double") / col("c_ctx")),
          quantizeDecimals).as("logp"))
    // no broadcast hint: a BIGRAM vocabulary grows far past its unigram
    // counterpart at corpus scale — let AQE broadcast when it measures
    // small, shuffle-join otherwise
    grams.join(logp, Seq("bg"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(col("logp").cast(
            org.apache.spark.sql.types.DecimalType(28, quantizeDecimals)))
          .cast("double") / count(lit(1))).as("avg_logp"))
  }

  /** DSIR-style importance weights for domain-targeted data selection
    * (Xie et al., NeurIPS 2023): per document, the length-normalized mean
    * of per-token log-likelihood ratios ln P_target(t) / P_raw(t) under
    * Laplace-smoothed unigram models — documents that "sound like" the
    * target domain get positive weight, generic documents negative; the
    * standard importance-resampling signal for carving a domain corpus
    * out of a web-scale crawl. `isTarget` marks the in-domain rows (an
    * expression over the input, e.g. `col("source") === "wiki"`), so
    * BOTH models build from ONE corpus pass: the token aggregation
    * counts raw and target occurrences together.
    *
    * Engine-exact contract: each distinct token's ratio
    * (c_t+1)·(N_r+V) / ((c_r+1)·(N_t+V)) is a quotient of exact integer
    * products (exact in Double below 2^53 — beyond that, shard), one
    * IEEE divide + `ln`, rounded to `quantizeDecimals`; per-doc sums
    * ride DECIMAL. Same treatment as [[unigramLogProb]].
    *
    * Plan shape: one token-count aggregate builds the joint model (the
    * only corpus-sized shuffle), totals ride in broadcast, the per-doc
    * regroup joins the token stream with the (vocabulary-sized) delta
    * table — AQE decides broadcast vs shuffle, like [[bigramLogProb]].
    * Output: (doc_id, n_tokens, imp). */
  def importanceWeights(docs: DataFrame, isTarget: Column,
                        idCol: String = "doc_id", textCol: String = "text",
                        quantizeDecimals: Int = 9): DataFrame = {
    val toksT = docs.select(col(idCol).as("doc_id"), isTarget.as("__t"),
      explode(toks(col(textCol))).as("tok"))
    val model = OpCaches.pin(toksT.groupBy("tok")
      .agg(count(lit(1)).as("c_r"),
        sum(when(col("__t"), 1L).otherwise(0L)).as("c_t")))
    val totals = model.agg(sum(col("c_r")).as("n_r"),
      sum(col("c_t")).as("n_t"), count(lit(1)).as("v"))
    val delta = model.crossJoin(broadcast(totals))
      .select(col("tok"), round(log(
        ((col("c_t") + lit(1L)).cast("double") *
          (col("n_r") + col("v")).cast("double")) /
        ((col("c_r") + lit(1L)).cast("double") *
          (col("n_t") + col("v")).cast("double"))),
        quantizeDecimals).as("delta"))
    toksT.join(delta, "tok")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        (sum(col("delta").cast(
            org.apache.spark.sql.types.DecimalType(28, quantizeDecimals)))
          .cast("double") / count(lit(1))).as("imp"))
  }

  /** PMI collocation mining — the corpus-analysis pass that surfaces
    * multiword units ("new york", "machine learning") for tokenizer
    * vocabulary decisions and phrase-aware dedup (Church & Hanks, 1990).
    * For every adjacent token pair with `c_ab >= minCount`:
    * pmi = ln( c_ab · N / (c_left(a) · c_right(b)) ), the marginals
    * taken over bigram POSITIONS (left / right occurrence counts), so
    * probabilities are self-consistent with N = total bigram tokens.
    * `minCount` is a significance floor, not an optimization: PMI is
    * notoriously inflated for hapax pairs.
    *
    * Engine-exact contract: c_ab·N and c_left·c_right are products of
    * exact integer counts, exact in Double while below 2^53 (at 2^53
    * total bigrams — petabytes of text — both factors of each product
    * are far below 2^26.5 only for the marginals, so the practical bound
    * is N·c_ab < 2^53: beyond that, shard the corpus before colloc
    * mining); one IEEE divide and one `ln`, rounded to
    * `quantizeDecimals`, land bit-identically in any engine.
    *
    * Plan shape: one bigram explode + count builds the model
    * (|bigram vocab| rows, persisted — four consumers: two marginal
    * re-aggregations, the total, the final join); marginals re-aggregate
    * the MODEL, never the corpus; the total rides in broadcast. The only
    * corpus-sized shuffle is the model build. */
  def collocations(docs: DataFrame, minCount: Long = 5L,
                   textCol: String = "text",
                   quantizeDecimals: Int = 9): DataFrame = {
    val model = OpCaches.pin(docs
      .select(explode(ngramArray(col(textCol), 2)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c_ab"))
      .select(split(col("bg"), " ").getItem(0).as("w1"),
        split(col("bg"), " ").getItem(1).as("w2"), col("c_ab")))
    val left = model.groupBy("w1").agg(sum("c_ab").as("c_left"))
    val right = model.groupBy("w2").agg(sum("c_ab").as("c_right"))
    val total = model.agg(sum("c_ab").as("n_total"))
    model.filter(col("c_ab") >= minCount)
      .join(left, "w1").join(right, "w2")
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), col("c_ab"),
        round(log((col("c_ab").cast("double") * col("n_total").cast("double"))
            / (col("c_left").cast("double") * col("c_right").cast("double"))),
          quantizeDecimals).as("pmi"))
  }

  /** Log-likelihood-ratio collocations (Dunning, CL 1993) — the
    * significance-robust companion of [[collocations]]' PMI: PMI
    * explodes for rare pairs (two hapaxes co-occurring once score
    * maximal PMI), while G² = 2·Σ over the 2×2 contingency cells of
    * O·ln(O/E) weighs evidence MASS, so "New York" outranks a
    * once-seen typo pair. The standard multiword-unit miner when
    * minCount must stay low. Same one-corpus-shuffle model as the PMI
    * miner (bigram aggregate, marginals re-aggregated from it);
    * engine-exact — all four observed cells are integers, each
    * O·ln(O/E) term rounds to 9 decimals in a fixed order, zero cells
    * contribute 0 (the O→0 limit). */
  def logLikelihoodCollocations(docs: DataFrame, minCount: Long = 5L,
                                textCol: String = "text"): DataFrame = {
    val model = OpCaches.pin(docs
      .select(explode(ngramArray(col(textCol), 2)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c_ab"))
      .select(split(col("bg"), " ").getItem(0).as("w1"),
        split(col("bg"), " ").getItem(1).as("w2"), col("c_ab")))
    val left = model.groupBy("w1").agg(sum("c_ab").as("c_left"))
    val right = model.groupBy("w2").agg(sum("c_ab").as("c_right"))
    val total = model.agg(sum("c_ab").as("n_total"))
    // 2×2 cells: k11 = c_ab, k12 = c_left−c_ab, k21 = c_right−c_ab,
    // k22 = N − c_left − c_right + c_ab; E_ij from the margins
    def term(o: Column, rowSum: Column, colSum: Column, n: Column) = {
      val e = rowSum.cast("double") * colSum.cast("double") / n
      when(o > 0, round(o.cast("double") * log(o.cast("double") / e), 9))
        .otherwise(lit(0.0))
    }
    model.filter(col("c_ab") >= minCount)
      .join(left, "w1").join(right, "w2")
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), col("c_ab"),
        round(lit(2.0) * (
          term(col("c_ab"), col("c_left"), col("c_right"),
            col("n_total")) +
          term(col("c_left") - col("c_ab"), col("c_left"),
            col("n_total") - col("c_right"), col("n_total")) +
          term(col("c_right") - col("c_ab"),
            col("n_total") - col("c_left"), col("c_right"),
            col("n_total")) +
          term(col("n_total") - col("c_left") - col("c_right") +
              col("c_ab"),
            col("n_total") - col("c_left"),
            col("n_total") - col("c_right"), col("n_total"))), 9)
          .as("g2"))
  }

  /** TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004): rank
    * every corpus token by PageRank over the word co-occurrence graph
    * (adjacent-token pairs, symmetrized; co-occurrence count = edge
    * weight) and emit the top `topK` — the unsupervised keyword/
    * keyphrase-seed extractor, here at corpus scope so the graph is
    * built once for the whole collection.
    *
    * Rides [[Graphs.pageRankWeighted]]'s exact fixed-point arithmetic:
    * the bigram explode collapses map-side to the (w1, w2, count)
    * co-occurrence model — the ONLY corpus-sized pass — and the three
    * rank iterations then join vocabulary-sized tables only (the same
    * "model-sized after one corpus pass" shape as [[collocations]]).
    * Ranks are integer fixed-point, so the top-k cut (rank desc, token
    * asc) is engine-exact — no float argsort ambiguity — and plans as
    * TakeOrderedAndProject (per-task heaps), never a global sort. */
  def textRank(docs: DataFrame, iterations: Int = 3, topK: Int = 50,
               textCol: String = "text"): DataFrame = {
    val pairs = docs
      .select(explode(ngramArray(col(textCol), 2)).as("bg"))
      .select(split(col("bg"), " ").getItem(0).as("w1"),
              split(col("bg"), " ").getItem(1).as("w2"))
    val edges = pairs.unionByName(
        pairs.select(col("w2").as("w1"), col("w1").as("w2")))
      .groupBy("w1", "w2").agg(count(lit(1)).as("wt"))
    Graphs.pageRankWeighted(edges, "w1", "w2", "wt", iterations)
      .orderBy(col("rank_fp").desc, col("node"))
      .limit(topK)
      .select(col("node").as("tok"), col("rank_fp"), col("rank"))
  }

  /** Gopher-style repetition statistics: per document, the number of
    * full word n-gram windows, the number of distinct ones, and the
    * duplicate fraction rep_ratio = 1 - distinct/total. Docs with fewer
    * than `n` tokens are dropped (no windows). Entirely per-row native
    * expressions — zero shuffle. */
  /** Cross-source shingle-overlap matrix — the dataset-overlap /
    * contamination report published before mixing corpora: for every
    * source pair, the EXACT Jaccard overlap of their distinct word
    * n-gram sets, plus both directional containments (how much of the
    * smaller source is subsumed — high containment with low Jaccard is
    * the "one corpus swallowed another" signature symmetric overlap
    * hides).
    *
    * Plan shape: one (source, shingle) distinct (linear shuffle on the
    * shingle table, persisted — it feeds three consumers), per-source
    * sizes (tiny, broadcast back), and a shingle-keyed self-join whose
    * output is bounded by Σ_sh s_sh² ≤ G·|shingles| for G sources — the
    * group count, not the corpus, bounds the quadratic term, so this
    * scales to any corpus with a bounded source list. Jaccard and
    * containment are single IEEE divisions of exact integer counts —
    * engine-reproducible bit-for-bit. */
  def sourceOverlap(docs: DataFrame, groupCol: String = "source",
                    textCol: String = "text", n: Int = 3): DataFrame = {
    val sh = OpCaches.pin(docs
      .select(col(groupCol).as("__g"),
        explode(ngramArray(col(textCol), n)).as("__sh"))
      .distinct())
    val sz = sh.groupBy(col("__g")).agg(count(lit(1)).as("__sz"))
    val inter = sh.as("a")
      .join(sh.as("b"),
        col("a.__sh") === col("b.__sh") && col("a.__g") < col("b.__g"))
      .groupBy(col("a.__g").as("src_a"), col("b.__g").as("src_b"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(sz.withColumnRenamed("__g", "src_a")
              .withColumnRenamed("__sz", "sz_a"), "src_a")
      .join(sz.withColumnRenamed("__g", "src_b")
              .withColumnRenamed("__sz", "sz_b"), "src_b")
      .select(col("src_a"), col("src_b"), col("n_common"),
        col("sz_a"), col("sz_b"),
        (col("n_common").cast("double") /
          (col("sz_a") + col("sz_b") - col("n_common"))).as("jaccard"),
        (col("n_common").cast("double") / col("sz_a")).as("containment_a"),
        (col("n_common").cast("double") / col("sz_b")).as("containment_b"))
  }

  /** Pairwise Jensen–Shannon divergence between source unigram
    * distributions — the DISTRIBUTIONAL twin of [[sourceOverlap]]: two
    * sources can share almost no exact n-grams yet be linguistically
    * near-identical (or vice versa); JSD over token frequencies is the
    * "which corpora are the same kind of text" matrix that drives
    * mixing and dedup-policy decisions. Symmetric, bounded by ln 2.
    *
    * Engine-exact contract: each intersection token contributes the
    * INTEGER term `c · round(ln(P/M)·1e9)` (the [[graft.operators.Profiling.distributionDrift]]
    * nanonat trick; the ratio `P/M = 2·c_a·n_b / (c_a·n_b + c_b·n_a)`
    * is computed in a fixed IEEE sequence over exact integer inputs),
    * summed as longs — order-independent — and tokens private to one
    * side close the telescope as `(n − Σc_inter) · round(ln 2·1e9)`.
    * The final combination is rounded to 9 decimals, absorbing any
    * last-ulp libm disagreement inside the rounded ln terms.
    *
    * Plan shape: one (source, token) count aggregate (linear, persisted
    * — both join sides and the totals read it), a broadcast totals
    * attach, and a token-keyed self-join whose output is bounded by the
    * SOURCE count × vocabulary, not the corpus. */
  def sourceDivergence(docs: DataFrame, groupCol: String = "source",
                       textCol: String = "text"): DataFrame = {
    val L2 = lit(693147181L) // round(ln 2 · 1e9)
    val cnt = OpCaches.pin(docs
      .select(col(groupCol).as("g"), explode(toks(col(textCol))).as("tok"))
      .groupBy(col("g"), col("tok")).agg(count(lit(1)).as("c")))
    val tot = cnt.groupBy(col("g")).agg(sum(col("c")).as("n"))
    val sided = cnt.join(tot, "g")
    val a = sided.select(col("g").as("ga"), col("tok"),
      col("c").as("ca"), col("n").as("na"))
    val b = sided.select(col("g").as("gb"), col("tok"),
      col("c").as("cb"), col("n").as("nb"))
    val denom = col("ca").cast("double") * col("nb") +
      col("cb").cast("double") * col("na")
    def nano(r: Column): Column = round(log(r) * lit(1e9), 0).cast("long")
    val joined = a.join(b, Seq("tok"))
      .filter(col("ga") < col("gb"))
      .select(col("ga"), col("gb"), col("na"), col("nb"),
        col("ca"), col("cb"),
        (nano(lit(2.0) * col("ca") * col("nb") / denom) * col("ca"))
          .as("ta"),
        (nano(lit(2.0) * col("cb") * col("na") / denom) * col("cb"))
          .as("tb"))
      .groupBy(col("ga").as("src_a"), col("gb").as("src_b"),
        col("na"), col("nb"))
      .agg(sum(col("ta")).as("sa_int"), sum(col("tb")).as("sb_int"),
        sum(col("ca")).as("ia"), sum(col("cb")).as("ib"),
        count(lit(1)).as("n_common_tokens"))
    joined.select(col("src_a"), col("src_b"), col("n_common_tokens"),
      round(lit(0.5) *
        ((col("sa_int") + (col("na") - col("ia")) * L2).cast("double") /
           col("na") +
         (col("sb_int") + (col("nb") - col("ib")) * L2).cast("double") /
           col("nb")) / lit(1e9), 9).as("jsd"))
  }

  def repetitionRatio(docs: DataFrame, n: Int, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    val t = toks(col(textCol))
    val hashes = VectorExprs.shingleHash64(t, n)
    docs
      .filter(size(t) >= n)
      .select(col(idCol),
        (size(t) - n + 1).cast("long").as("n_total"),
        size(array_distinct(hashes)).cast("long").as("n_distinct"))
      .withColumn("rep_ratio",
        lit(1.0) - col("n_distinct").cast("double") / col("n_total"))
  }

  /** Skip-gram PPMI co-occurrence (the word-embedding-era association
    * table): counts of (center, context) token pairs within a symmetric
    * window of `window` positions, with positive pointwise mutual
    * information against the pair marginals — the statistic SGNS
    * implicitly factorizes and the standard input for distributional
    * similarity. Unlike [[collocations]] (adjacent bigrams only), this
    * sees every pair up to `window` apart.
    *
    * The context pairing is an EQUI-join, not a per-doc cross join:
    * each (doc, pos, token) row expands to its 2·window candidate
    * context positions, then joins back to the position table on the
    * exact (doc, pos) key — O(tokens · window) rows through one hash
    * join, linear at corpus scale. The marginals never touch the pair
    * table at all: a token occurrence at position p in an L-token doc
    * has exactly `min(p+window, L-1) − max(p−window, 0)` contexts, so
    * c_a and T come from one token-keyed aggregation of that per-row
    * closed form — the pair table is built once, for c_ab only.
    * PPMI = max(0, ln(c_ab·T/(c_a·c_b))) rounded to 9 places; with the
    * symmetric window the center and context marginals coincide. */
  def ppmiCooc(docs: DataFrame, window: Int = 2, minCount: Long = 5L,
               idCol: String = "doc_id", textCol: String = "text")
      : DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val pos = docs.select(col(idCol).as("__d"), size(toks(col(textCol)))
        .as("__L"), posexplode(toks(col(textCol))).as(Seq("__p", "__w")))
    val offsets = ((-window to window).filter(_ != 0)).map(lit(_))
    val centers = pos.select(col("__d"), col("__w").as("w1"),
      explode(array(offsets: _*)).as("__off"),
      (col("__p") + col("__off")).as("__cp"))
    val pairs = centers.join(
        pos.select(col("__d"), col("__p").as("__cp"), col("__w").as("w2")),
        Seq("__d", "__cp"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_ab"))
    val nCtx = (least(col("__p") + window, col("__L") - 1) -
      greatest(col("__p") - window, lit(0))).cast("long")
    val marg = pos.groupBy(col("__w")).agg(sum(nCtx).as("__m"))
    val total = marg.agg(sum("__m").as("__T"))
    pairs.filter(col("c_ab") >= minCount)
      .join(marg.select(col("__w").as("w1"), col("__m").as("__ma")), "w1")
      .join(marg.select(col("__w").as("w2"), col("__m").as("__mb")), "w2")
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), col("c_ab"),
        round(greatest(
          log(col("c_ab").cast("double") * col("__T") /
            (col("__ma").cast("double") * col("__mb"))), lit(0.0)),
          9).as("ppmi"))
  }

  /** Lexical-diversity health report per `groupCol`: token count, type
    * (distinct-token) count, hapax count (types occurring exactly once)
    * and the derived type–token and hapax ratios — the quick corpus-QA
    * screen that separates natural text (hapax share ~0.4–0.6 by
    * Zipf's law) from template spam (few types, no hapax tail) and
    * from OCR noise (hapax share near 1). Two stacked aggregations on
    * the (group, token) key, all-integer until two final rounded
    * divisions. */
  def lexicalDiversity(docs: DataFrame, groupCol: String = "source",
                       textCol: String = "text"): DataFrame =
    docs.select(col(groupCol), explode(toks(col(textCol))).as("__tok"))
      .groupBy(col(groupCol), col("__tok"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col(groupCol))
      .agg(sum("__c").as("n_tokens"),
           count(lit(1)).as("n_types"),
           sum(when(col("__c") === 1L, 1L).otherwise(0L)).as("n_hapax"))
      .select(col(groupCol), col("n_tokens"), col("n_types"),
        col("n_hapax"),
        round(col("n_types").cast("double") / col("n_tokens"), 9)
          .as("ttr"),
        round(col("n_hapax").cast("double") / col("n_types"), 9)
          .as("hapax_share"))

  /** Chi-square term–class association (the classic feature-selection
    * statistic): for every (class, token) with document frequency >=
    * `minDf`, the chi² of the 2×2 presence table — docs in/out of the
    * class × docs containing/not containing the token. High scores mark
    * tokens that characterize a class (a language, a source domain);
    * the per-class ranking is the vocabulary a classifier or a
    * quality-filter wordlist is built from.
    *
    * All four cell counts derive from one distinct-presence aggregation
    * (per-doc `array_distinct`, so no extra dedup shuffle): a =
    * per-(class, token) doc count, df = its per-token marginal
    * (re-aggregated from `a`, same token key — co-located), class sizes
    * and N are broadcast one-row/`|classes|`-row aggregates. The chi²
    * formula runs in doubles with a fixed multiplication order, so the
    * oracle reproduces it bit-for-bit; tokens present in every document
    * (df = N) drop — their table is degenerate and the statistic
    * undefined. */
  def chiSquareTerms(docs: DataFrame, classCol: String = "lang",
                     idCol: String = "doc_id", textCol: String = "text",
                     minDf: Long = 5L): DataFrame = {
    val pres = docs.select(col(classCol).as("__cls"),
        explode(array_distinct(toks(col(textCol)))).as("tok"))
    val a = pres.groupBy(col("__cls"), col("tok"))
      .agg(count(lit(1)).as("__a"))
    val dfTok = a.groupBy(col("tok")).agg(sum(col("__a")).as("__df"))
    val nCls = docs.groupBy(col(classCol).as("__cls"))
      .agg(count(lit(1)).as("__nc"))
    val total = docs.agg(count(lit(1)).as("__N"))
    val adbc = (col("__a") * (col("__N") - col("__df") -
        (col("__nc") - col("__a"))) -
      (col("__df") - col("__a")) * (col("__nc") - col("__a")))
      .cast("double")
    val num = col("__N").cast("double") * adbc * adbc
    val den = col("__df").cast("double") * (col("__N") - col("__df")) *
      col("__nc") * (col("__N") - col("__nc"))
    a.join(dfTok, "tok")
      .join(broadcast(nCls), "__cls")
      .crossJoin(broadcast(total))
      .filter(col("__df") >= minDf && col("__df") < col("__N") &&
              col("__nc") < col("__N"))
      .select(col("__cls").as(classCol), col("tok"),
        col("__a").as("n_in_class"), col("__df").as("df"),
        round(num / den, 9).as("chi2"))
  }

  /** Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken, the MOSS
    * algorithm): hash every word `k`-gram, then in each window of `w`
    * consecutive k-gram hashes keep the minimum (ties break to the
    * RIGHTMOST position, the paper's rule). The selected set is the
    * document's winnowed sketch — unlike a full shingle set it is ~1/w
    * the size, yet any shared substring of `k + w - 1` tokens between two
    * documents is guaranteed to surface a shared fingerprint, which makes
    * it the standard sketch for plagiarism-style overlap detection.
    *
    * Hash = the portable char-polynomial (fold h*31+c mod 1e9+7) over the
    * k-gram string, so the DuckDB oracle reproduces values exactly; the
    * Spark side runs it as the codegen'd PolyHash expression.
    *
    * Plan shape: posexplode of the per-doc k-gram array, then two window
    * aggregates over one (doc, pos) sort — min-of-frame and frame-size —
    * followed by a distinct on the decoded (doc, pos, hash). One shuffle
    * on the doc key shared by both windows and reused by the distinct's
    * partial aggregation; nothing leaves the doc's partition.
    *
    * The min/tie selection is one 64-bit key: `hash * 2^21 + (2^21-1 -
    * pos)` — minimal hash wins, equal hashes prefer larger pos.
    * Precondition: documents under 2^21 (~2M) tokens, the usual shape for
    * training corpora (giant blobs should be chunked upstream anyway). */
  def winnow(docs: DataFrame, k: Int = 3, w: Int = 4,
             idCol: String = "doc_id", textCol: String = "text")
      : DataFrame = {
    require(k > 0 && w > 0, s"k and w must be positive, got k=$k w=$w")
    val M = 2097152L // 2^21 position slots per hash value
    val grams = docs.select(col(idCol),
        posexplode(ngramArray(col(textCol), k)).as(Seq("pos", "gram")))
      .select(col(idCol),
        (VectorExprs.polyHash(col("gram")) * M +
          (lit(M - 1) - col("pos"))).as("__comb"),
        col("pos"))
    val frame = Window.partitionBy(idCol).orderBy("pos").rowsBetween(0, w - 1)
    grams
      .select(col(idCol),
        min(col("__comb")).over(frame).as("__sel"),
        count(lit(1)).over(frame).as("__n"))
      .filter(col("__n") === w)
      .select(col(idCol),
        expr(s"__sel div $M").as("fp"),
        (lit(M - 1) - (col("__sel") % M)).cast("long").as("pos"))
      .distinct()
  }

  /** Zipf fit of the corpus token-frequency distribution: the
    * least-squares slope of ln(tf) on ln(rank) over all token types
    * with tf ≥ `minTf`, plus the type count — the one-number
    * naturalness screen for a text source (natural language sits near
    * slope ≈ −1; templated/boilerplate corpora flatten, spam with
    * generated vocab steepens).
    *
    * The rank is built WITHOUT a whole-vocabulary single-partition
    * sort: the tf-distribution table (one row per DISTINCT frequency —
    * O(√tokens) rows by Heaps'-law shapes) carries the
    * count-of-strictly-higher prefix in a tiny unpartitioned window,
    * and the within-frequency tiebreak (`tok` ascending) is a window
    * PARTITIONED by tf — distributed, skew bounded by the largest
    * frequency class. rank = higher + rn, identical to the global sort.
    *
    * The regression sums ride the repo's exact-sum rule: each per-type
    * term (ln rank, ln tf, their products) is rounded to 9 places and
    * summed as DECIMAL(38,9) — order-independent, so the slope is
    * bit-identical across engines and layouts; the closing normal
    * equation is scalar IEEE arithmetic on those exact sums. */
  def zipfSlope(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text", minTf: Long = 5L): DataFrame = {
    val tf = docs.select(explode(toks(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("tf"))
      .filter(col("tf") >= minTf)
    val dist = tf.groupBy("tf").agg(count(lit(1)).as("__cnt"))
    val wHigher = Window.orderBy(col("tf").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val higher = dist.select(col("tf"),
      coalesce(sum(col("__cnt")).over(wHigher), lit(0L)).as("__higher"))
    val wTie = Window.partitionBy("tf").orderBy("tok")
    val ranked = tf.join(higher, "tf")
      .select(col("tf"),
        (col("__higher") + row_number().over(wTie)).as("rank"))
    val x = round(log(col("rank").cast("double")), 9)
    val y = round(log(col("tf").cast("double")), 9)
    def decSum(c: Column) = sum(c.cast(
      org.apache.spark.sql.types.DecimalType(38, 9))).cast("double")
    val s = ranked.agg(count(lit(1)).as("n_types"),
      decSum(x).as("__sx"), decSum(y).as("__sy"),
      decSum(round(x * x, 9)).as("__sxx"),
      decSum(round(x * y, 9)).as("__sxy"))
    val nD = col("n_types").cast("double")
    val det = nD * col("__sxx") - col("__sx") * col("__sx")
    s.select(col("n_types"),
      when(det > 1e-6, round(
        (nD * col("__sxy") - col("__sx") * col("__sy")) / det, 9))
        .as("slope"))
  }

  /** T5-style span corruption over encoded token-id sequences — the
    * denoising pretraining objective's data op: mask contiguous spans,
    * replace each with a per-doc-sequential SENTINEL id in the input,
    * and emit the masked content behind its sentinel as the target
    * (Raffel et al. 2020's ~15% noise / mean-span-3 shape at the
    * defaults spanLen=3, blockSize=20).
    *
    * Deterministic blocked formulation (replayable in SQL, no RNG, no
    * sequential scan state): positions partition into fixed blocks of
    * `blockSize`; each block masks ONE span of `spanLen` starting at a
    * Knuth-hashed offset of (doc, block) — spans can't overlap by
    * construction, coverage is spanLen/blockSize exactly on full
    * blocks, and the (doc, block) coin makes the corruption stable
    * under any layout or re-run (the curriculum/replay property).
    * Sentinel for block b is `sentinelBase + b` — per-doc sequential,
    * like <extra_id_k>; callers pick sentinelBase above their vocab.
    * Tail blocks shorter than the drawn offset mask nothing (the
    * documented edge; a partial overlap truncates at the doc end).
    *
    * Scale: one posexplode, two thin grouped reassemblies
    * (sort_array-of-struct — layout-independent order), everything
    * keyed by doc id; ids and positions only on every exchange. The
    * doc-id domain guard raises at the scan (the bootstrapCI
    * convention) instead of letting the hash wrap. Output: (idCol,
    * n_tokens, input_ids, target_ids). */
  def spanCorrupt(enc: DataFrame, blockSize: Int = 20, spanLen: Int = 3,
                  sentinelBase: Long = 1000000L,
                  idCol: String = "doc_id",
                  idsCol: String = "token_ids"): DataFrame = {
    require(blockSize >= 2 && spanLen >= 1 && spanLen < blockSize,
      s"need 1 <= spanLen < blockSize, got spanLen=$spanLen blockSize=$blockSize")
    require(sentinelBase > 0, "sentinelBase must be positive")
    val m = (blockSize - spanLen + 1).toLong
    // guard the ACTUAL hash key doc·31 + block per row (not a doc-id
    // bound alone — a long document's block index contributes too, so
    // an id-only bound would let the product wrap for blk > ~30)
    val maxKey = Long.MaxValue / 2654435761L - 1
    val doc = when(col(idCol).isNull || col(idCol) < 0,
      raise_error(concat(
        lit("spanCorrupt: doc id must be a non-negative long, got "),
        col(idCol).cast("string"))))
      .otherwise(col(idCol).cast("long"))
    val rawKey = col("__doc") * 31 + col("__blk")
    val key = when(rawKey > maxKey, raise_error(concat(
        lit(s"spanCorrupt: hash key doc*31+block exceeds $maxKey for doc "),
        col("__doc").cast("string"))))
      .otherwise(rawKey)
    val ex = enc.select(doc.as("__doc"), posexplode(col(idsCol)))
      .withColumnRenamed("pos", "__p").withColumnRenamed("col", "__id")
      .withColumn("__pos", col("__p").cast("long"))
      .withColumn("__blk",
        call_function("div", col("__pos"), lit(blockSize.toLong)))
      .withColumn("__pib", col("__pos") - col("__blk") * blockSize)
      .withColumn("__off", pmod(pmod(
        key * lit(2654435761L), lit(4294967296L)), lit(m)))
      .withColumn("__masked", col("__pib") >= col("__off") &&
        col("__pib") < col("__off") + spanLen)
    val inputs = ex
      .filter(!col("__masked") || col("__pib") === col("__off"))
      .select(col("__doc"),
        struct(col("__pos"),
          when(col("__masked"), col("__blk") + sentinelBase)
            .otherwise(col("__id")).as("__out")).as("__s"))
      .groupBy(col("__doc"))
      .agg(transform(array_sort(collect_list(col("__s"))),
        x => x("__out")).as("input_ids"))
    val maskedRows = ex.filter(col("__masked"))
    val tgt = maskedRows
      .select(col("__doc"), (col("__pos") * 2).as("__tp"),
        col("__id").as("__out"))
      .unionByName(maskedRows.groupBy(col("__doc"), col("__blk"))
        .agg(min(col("__pos")).as("__p0"))
        .select(col("__doc"), (col("__p0") * 2 - 1).as("__tp"),
          (col("__blk") + sentinelBase).as("__out")))
      .groupBy(col("__doc"))
      .agg(transform(array_sort(collect_list(
        struct(col("__tp"), col("__out")))), x => x("__out"))
        .as("target_ids"))
    enc.select(col(idCol), size(col(idsCol)).cast("long").as("n_tokens"))
      .join(inputs.withColumnRenamed("__doc", idCol), Seq(idCol), "left")
      .join(tgt.withColumnRenamed("__doc", idCol), Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("input_ids"), array().cast("array<bigint>"))
          .as("input_ids"),
        coalesce(col("target_ids"), array().cast("array<bigint>"))
          .as("target_ids"))
  }
}
