package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** End-to-end training-corpus cleaning: the individual operators
  * composed the way a production pipeline runs them.
  *
  *   0. (optional) canonical normalization, within-document repetition
  *      trim, cross-document boilerplate kill, corpus-level chunk
  *      dedup, cross-document duplicated-span cut (Lee et al.
  *      ExactSubstr), eval-corpus span scrub (span-level
  *      decontamination — keep the document, lose the quote) — the
  *      C4/RefinedWeb text-surgery ladder, each stage off by default;
  *      documents the surgery reduces to EMPTY text are dropped (an
  *      empty string can't train and would otherwise collapse into one
  *      ghost survivor at the exact-dedup stage),
  *   1. exact dedup (smallest id per identical text wins),
  *   2. MinHash-LSH near-dup removal (for each surviving near-dup pair,
  *      the larger id is dropped),
  *   3. quality floor,
  *   4. PII-style redaction.
  *
  * Every stage is a shuffle-by-key or per-row plan — the composition
  * inherits the per-operator scale properties (no cross joins, native
  * codegen signatures, candidate joins on ids only).
  */
object CorpusPipeline {

  def clean(docs: DataFrame, idCol: String = "doc_id",
            textCol: String = "text",
            minQuality: Double = 0.3,
            shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4,
            jaccardThreshold: Double = 0.8,
            transitive: Boolean = false,
            normalize: Boolean = false,
            intraDocDedupTokens: Option[Int] = None,
            boilerplateMinDocs: Option[Int] = None,
            boilerplateChunkTokens: Int = 10,
            chunkDedupTokens: Option[Int] = None,
            substringCutTokens: Option[Int] = None,
            scrubEval: Option[DataFrame] = None,
            scrubTokens: Int = 8,
            gopherMinWords: Option[Long] = None): DataFrame = {
    val id = col(idCol); val text = col(textCol)

    // 0 (optional). canonical normalization — dedup keys off exact text,
    //    so cleaning BEFORE hashing is what makes near-identical docs
    //    actually collide; then the text surgery, narrowing scope:
    //    within-doc repetition trim (zero-shuffle), cross-doc frequent-
    //    chunk (boilerplate) kill, corpus-level chunk (line) keep-first
    //    dedup — each strips noise before whole-doc comparison.
    val normalized =
      if (normalize)
        docs.select(id, TextAnalysis.normalizeText(text).as(textCol))
      else docs.select(id, text)
    val trimmed = intraDocDedupTokens match {
      case Some(n) => Dedup.dedupChunksWithinDoc(normalized, idCol, textCol, n)
      case None => normalized
    }
    val deBoiled = boilerplateMinDocs match {
      case Some(m) => Dedup.removeBoilerplate(trimmed, idCol, textCol,
        boilerplateChunkTokens, m)
      case None => trimmed
    }
    val preDeduped = chunkDedupTokens match {
      case Some(n) => Dedup.dedupChunksGlobal(deBoiled, idCol, textCol, n)
      case None => deBoiled
    }
    // finest-grain cross-doc surgery last in the ladder: cut every
    // occurrence of any cross-document duplicated >= n-token run at any
    // alignment (Lee et al. ExactSubstr) before whole-doc comparison.
    // The span pass consumes its input TWICE (window-marking side +
    // cut side), so the surgery-ladder lineage above is checkpointed
    // once instead of recomputing the trim/boilerplate/chunk shuffle
    // chains per consumer (the multi-consumer-seam convention).
    val spanCut = substringCutTokens match {
      case Some(n) =>
        Dedup.removeSubstringDups(OpCaches.cutNow(preDeduped),
            idCol, textCol, n)
          .select(id, col("text_cut").as(textCol))
      case None => preDeduped
    }
    // eval-corpus span scrub LAST in the surgery ladder (VERDICT r17
    // item 6): cut every >= scrubTokens-token run covered by eval-
    // verbatim windows out of the surviving text — span-level
    // decontamination riding the same pipeline pass as the self-
    // similar cut, instead of a separate standalone scrub job.
    val scrubbed = scrubEval match {
      case Some(ev) =>
        Dedup.scrubContamSpans(spanCut, ev, idCol, textCol, scrubTokens)
          .select(id, col("text_cut").as(textCol))
      case None => spanCut
    }
    // a cross-doc cut stage can reduce a fully-duplicated / fully-
    // contaminated document to the empty string; all such ghosts would
    // collapse in the exact-dedup groupBy and ONE empty-text document
    // would survive the whole pipeline (and feed MinHash shingling).
    // Drop them here — only when a cut stage actually ran, so the
    // no-surgery pipeline's behavior (and its committed oracles) is
    // byte-identical to before. NULL text is NOT a surgery ghost: every
    // cut stage passes NULL through untouched (the applySpanCut
    // contract), and the no-surgery path lets NULL-text docs reach
    // exact dedup (where SQL GROUP BY collapses them to one
    // representative) — so the gate explicitly preserves that
    // pass-through instead of letting the NULL predicate silently drop
    // them (r18 ADVICE).
    val surgeryRan = boilerplateMinDocs.isDefined ||
      chunkDedupTokens.isDefined || substringCutTokens.isDefined ||
      scrubEval.isDefined
    val nonEmpty =
      if (surgeryRan) scrubbed.filter(text.isNull || length(text) > 0)
      else scrubbed

    // 1. exact: keep the smallest id per identical text. groupBy + min
    //    rather than the window formulation: with only (id, text) in
    //    flight they are equivalent, and the aggregate combines map-side
    //    (duplicate texts collapse before the shuffle — the window form
    //    ships every row and sorts per group).
    val exact = nonEmpty
      .groupBy(text).agg(min(id).as(idCol))
      .select(id, text)

    // 2. near-dup removal. Pairwise (default): drop the larger id of each
    //    verified pair — the standard one-pass production choice.
    //    Transitive: close the pair list into clusters first
    //    (Dedup.connectedComponents) so a≈b≈c keeps exactly one doc.
    val deduped =
      if (transitive)
        Dedup.dedupNearClusters(exact, idCol, textCol,
          shingleN, numHashes, bands, jaccardThreshold)
      else {
        val dropIds = Dedup.minhashNearDups(exact, idCol, textCol,
            shingleN, numHashes, bands, jaccardThreshold)
          .select(col("doc_b").as(idCol)).distinct()
        exact.join(dropIds, Seq(idCol), "left_anti")
      }

    // 3 + 4. quality floor (score floor, optionally the Gopher rule
    // verdict on top), then redact
    val floored = deduped
      .filter(TextAnalysis.qualityScore(text) >= minQuality)
    val gated = gopherMinWords match {
      case Some(mw) => floored.filter(TextAnalysis.gopherPass(text, mw))
      case None => floored
    }
    gated.withColumn(textCol, TextAnalysis.redact(text))
  }

  /** The whole train-set materialization in one call — [[clean]]'s
    * hygiene ladder, then the selection/composition stages a pipeline
    * runs on the survivors:
    *
    *   5. re-attach the grouping column (clean deliberately carries only
    *      id+text; an id-keyed join restores `sourceCol`),
    *   6. per-source quality-percentile cut ([[TextAnalysis.qualityPrune]];
    *      `keepFrac = 1.0` keeps all),
    *   7. deterministic per-source mixing sample
    *      ([[Mixing.systematicSampleByRates]] — rates typically come out
    *      of [[Mixing.allocateBudget]]),
    *   8. fixed-budget sequence packing with trainer boundary arrays
    *      ([[Mixing.packWithBoundaries]], weights = post-clean text
    *      length).
    *
    * Output: packed training rows (source, shard, seq, doc_ids,
    * doc_lens, doc_starts). Every stage is the already-audited operator
    * — the composition adds one id-keyed join and inherits each stage's
    * plan shape (no cross joins, candidates on ids, one group-key
    * shuffle to pack). */
  def prepare(docs: DataFrame, rates: Map[String, Double],
              packBudget: Long,
              idCol: String = "doc_id", textCol: String = "text",
              sourceCol: String = "source",
              keepFrac: Double = 1.0,
              minQuality: Double = 0.3,
              shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4,
              jaccardThreshold: Double = 0.8,
              sep: String = " <eos> "): DataFrame = {
    val cleaned = clean(docs, idCol, textCol, minQuality,
      shingleN, numHashes, bands, jaccardThreshold)
    val sourced = cleaned
      .join(docs.select(col(idCol), col(sourceCol)), Seq(idCol))
    val pruned = TextAnalysis.qualityPrune(sourced, keepFrac,
      sourceCol, idCol, textCol)
    val sampled = Mixing.systematicSampleByRates(pruned, sourceCol,
      idCol, rates)
    val sized = sampled
      .withColumn("__len", length(col(textCol)).cast("long"))
    Mixing.packWithBoundaries(sized, sourceCol, idCol, "__len", textCol,
      packBudget, sep)
  }

  /** [[prepare]] with the mixing rates DERIVED from the token-budget
    * waterfall instead of caller-supplied — the full production story in
    * one call: clean → re-source → prune → PLAN ([[Mixing.allocateBudget]]
    * over the post-clean sizes — planning on raw sizes would allocate
    * budget to text the hygiene ladder is about to drop) → sample each
    * source at its realized epochs → pack.
    *
    * The plan's `epochs` column (alloc/avail per source) IS the
    * per-source sampling rate; with `maxEpochs` ≤ 1 (required) every
    * rate is ≤ 1 and [[Mixing.systematicSampleByRates]] realizes it
    * deterministically. Epoch mixes above 1.0 need the
    * [[Mixing.upsampleByRates]] composition instead — not this method.
    *
    * Driver state: the waterfall collects one row per source (the
    * [[Mixing.allocateBudget]] bound — model-state, never row data).
    * The cleaned+pruned table feeds both the planner's size aggregate
    * and the final sample→pack plan, so it is pinned
    * ([[OpCaches.pin]]) rather than running the LSH dedup ladder twice. */
  def prepareWithBudget(docs: DataFrame, weights: Map[String, Long],
                        budget: Long, packBudget: Long,
                        maxEpochs: Double = 1.0,
                        idCol: String = "doc_id", textCol: String = "text",
                        sourceCol: String = "source",
                        keepFrac: Double = 1.0,
                        minQuality: Double = 0.3,
                        shingleN: Int = 3, numHashes: Int = 16,
                        bands: Int = 4,
                        jaccardThreshold: Double = 0.8,
                        sep: String = " <eos> "): DataFrame = {
    require(maxEpochs <= 1.0,
      "epochs > 1 need the upsampleByRates composition, not sampling")
    val spark = docs.sparkSession
    import spark.implicits._
    val cleaned = clean(docs, idCol, textCol, minQuality,
      shingleN, numHashes, bands, jaccardThreshold)
    val sourced = cleaned
      .join(docs.select(col(idCol), col(sourceCol)), Seq(idCol))
    val pruned = TextAnalysis.qualityPrune(sourced, keepFrac,
      sourceCol, idCol, textCol)
    val sized = OpCaches.pin(pruned
      .withColumn("__len", length(col(textCol)).cast("long")))
    val plan = Mixing.allocateBudget(sized, weights, budget, maxEpochs,
      sourceCol, "__len")
    val rates = plan.select(col(sourceCol), col("epochs"))
      .as[(String, Double)].collect().toMap
    val sampled = Mixing.systematicSampleByRates(sized, sourceCol,
      idCol, rates)
    Mixing.packWithBoundaries(sampled, sourceCol, idCol, "__len", textCol,
      packBudget, sep)
  }

  /** Per-document outcome report of [[clean]] (pairwise mode): one row
    * per input document with the stage that removed it —
    * `contam_scrubbed` (the eval-corpus span scrub actually CUT spans
    * and left NO text: a fully-contaminated document, dropped by the
    * empty-survivor gate), `born_empty` (scrub mode only: the input
    * text was already empty — the same gate kills it, but the scrub
    * did not; NULL text is neither — it passes the gate untouched and
    * reports like any other doc),
    * `exact_dup` (not the smallest id of its identical-text group),
    * `near_dup` (dropped side of a verified MinHash pair),
    * `low_quality`, `gopher_fail`, or `kept` — the attrition audit a
    * production corpus pipeline publishes next to its output (what
    * fraction died where, per source, per snapshot). Outcomes follow
    * the pipeline's stage order, so a document failing several gates
    * reports the FIRST one, exactly as [[clean]] would have removed
    * it; with `scrubEval` set, every downstream gate evaluates on the
    * SCRUBBED text (a partially-scrubbed doc that then fails the
    * quality floor reports `low_quality`, exactly as [[clean]]
    * removes it). The `kept` set equals `clean(...)`'s surviving ids
    * by construction (spec-pinned, scrub mode included).
    *
    * Same plan shapes as the pipeline itself — the two drop sets arrive
    * as id-keyed left joins, the quality/Gopher gates are per-row
    * expressions; nothing is counted driver-side. */
  def cleanReport(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text",
                  minQuality: Double = 0.3,
                  shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4,
                  jaccardThreshold: Double = 0.8,
                  normalize: Boolean = false,
                  scrubEval: Option[DataFrame] = None,
                  scrubTokens: Int = 8,
                  gopherMinWords: Option[Long] = None): DataFrame = {
    val id = col(idCol); val text = col(textCol)
    val normalized =
      if (normalize)
        docs.select(id, TextAnalysis.normalizeText(text).as(textCol))
      else docs.select(id, text)
    // eval-corpus span scrub first, mirroring [[clean]]'s ladder order
    // for the stages this report models: downstream gates see the
    // scrubbed text, and a doc scrubbed to EMPTY is the stage's kill.
    // n_cut rides along so the attrition label can tell a SCRUB-emptied
    // doc (something was actually cut) from a born-empty one (r18
    // ADVICE — length===0 alone can't distinguish the two).
    val scrubbed = scrubEval match {
      case Some(ev) =>
        Dedup.scrubContamSpans(normalized, ev, idCol, textCol, scrubTokens)
          .select(id, col("text_cut").as(textCol),
            col("n_cut").as("__ncut"))
      case None => normalized.withColumn("__ncut", lit(null).cast("long"))
    }
    // the [[clean]] empty-survivor gate verbatim, NULL pass-through
    // included — kept-set parity requires the identical predicate
    val survivors =
      if (scrubEval.isDefined)
        scrubbed.filter(text.isNull || length(text) > 0)
      else scrubbed
    val exactKeep = survivors
      .groupBy(text).agg(min(id).as(idCol))
      .select(id, text)
    val nearDrop = Dedup.minhashNearDups(exactKeep, idCol, textCol,
        shingleN, numHashes, bands, jaccardThreshold)
      .select(col("doc_b").as(idCol)).distinct()
    val gopherOk: Column = gopherMinWords match {
      case Some(mw) => TextAnalysis.gopherPass(text, mw)
      case None => lit(true)
    }
    scrubbed
      .join(exactKeep.select(id, lit(1).as("__keep")), Seq(idCol), "left")
      .join(nearDrop.select(id, lit(1).as("__nd")), Seq(idCol), "left")
      .select(id,
        when(lit(scrubEval.isDefined) && length(text) === 0 &&
          col("__ncut") > 0, "contam_scrubbed")
          // empty BEFORE the scrub touched it (n_cut = 0): the same
          // empty-survivor gate kills it, but attributing it to the
          // scrub would misstate the kill stage (r18 ADVICE)
          .when(lit(scrubEval.isDefined) && length(text) === 0,
            "born_empty")
          .when(col("__keep").isNull, "exact_dup")
          .when(col("__nd").isNotNull, "near_dup")
          .when(TextAnalysis.qualityScore(text) < minQuality, "low_quality")
          .when(!gopherOk, "gopher_fail")
          .otherwise("kept").as("outcome"))
  }
}
