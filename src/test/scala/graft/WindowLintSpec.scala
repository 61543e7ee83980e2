package graft

import org.scalatest.funsuite.AnyFunSuite

/** Unpartitioned-window lint (VERDICT r15 item 3), CollectLintSpec's
  * sibling: a `Window.orderBy(...)` with no `partitionBy` moves its
  * ENTIRE input to one task — fine over histogram/model/domain-sized
  * tables, a silent scale-killer over corpus rows. Every such call site
  * in the library was audited by hand this round; this spec makes the
  * audit MECHANICAL: a new unpartitioned window anywhere in
  * `src/main/scala/graft` fails the build until the author audits the
  * input's cardinality and registers the site here with its
  * "bounded because…" argument. Counts are per file, so moving a site
  * within a file never trips the lint, while adding one always does.
  *
  * (Partitioned windows — `Window.partitionBy(...).orderBy(...)` — are
  * not counted: they shuffle by key like any aggregate.)
  */
class WindowLintSpec extends AnyFunSuite {

  /** file → (allowed `Window.orderBy` count, why each input is bounded). */
  private val registry: Map[String, (Int, String)] = Map(
    "operators/Search.scala" -> (1,
      "ranking window over the pre-cut topN table — the orderBy+limit " +
      "above it fuses to a distributed TakeOrderedAndProject, so the " +
      "single task sees topN rows, never the corpus"),
    "operators/Similarity.scala" -> (1,
      "cell-id assignment over the nlist hash-sampled seed centroids " +
      "(limit(nlist) upstream) — coarse-quantizer model state"),
    "operators/EventOps.scala" -> (1,
      "survivalCurve's reverse-cumulative walk over the LIFESPAN " +
      "HISTOGRAM (one row per observed lifespan ≤ day-span of the " +
      "corpus), never over users"),
    "operators/Mixing.scala" -> (1,
      "interleaveSources' source-index rank over distinct(sourceCol) — " +
      "|sources| rows; the per-row rank beside it is partitioned"),
    "operators/Profiling.scala" -> (5,
      "ECDF walk over the fixed PSI/KS bin table (bounded by bin " +
      "count); thresholdForPrecision's cumulative precision curve over " +
      "DISTINCT rounded scores of a labeled calibration sample (the " +
      "operator's documented bounded-state contract); paretoCoverage's " +
      "cumulative share over per-GROUP sums (|groups| rows); " +
      "benjaminiHochberg's two global ranks over the TESTS table — m " +
      "hypotheses, never data rows (the procedure is a global rank by " +
      "definition)"),
    "operators/Ops.scala" -> (1,
      "skyline cross-bucket max over the nBuckets-row per-bucket-max " +
      "table (buckets from percentile_approx cutpoints)"),
    "operators/Ngrams.scala" -> (5,
      "heapsCurve's cumulative walk over the `checkpoints`-row grid; " +
      "bpeVocab + bpeEncode symbol-id ranking over the BPE symbol " +
      "vocabulary (≤ alphabet + numMerges rows of model state); " +
      "unigramEncodeWithVocab piece-id ranking over the |vocab|-row " +
      "trained vocabulary; zipfSlope's higher-count walk over the " +
      "tf-HISTOGRAM (distinct tf values, not tokens)"),
    "queries/TokenizerQueries.scala" -> (2,
      "q_encode_tokens and q_span_corrupt vocab rankings, both over " +
      "the post-minDf vocabulary — model-vocabulary-sized " +
      "(Heaps-sublinear in the corpus), stated in the registration " +
      "comments")
  )

  test("every unpartitioned Window.orderBy call site in the library is " +
       "registered with a boundedness argument") {
    SourceLint.check("Window.orderBy", registry,
      "unaudited unpartitioned-window site(s)",
      "a Window.orderBy with no partitionBy serializes its whole input " +
      "into one task; it may only run over bounded histogram/model/" +
      "domain-sized tables. Audit the new site's input cardinality and " +
      "register it in WindowLintSpec.")
  }
}
