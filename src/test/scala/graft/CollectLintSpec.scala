package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bounded-collect lint (VERDICT r10 item 7): every `.collect()` in the
  * library is driver-side MODEL/MANIFEST state by contract — centroids
  * (nlist×dim), PQ codebooks (m×ksub), k-row BPE merge lists, per-source
  * rate maps, manifest entries, |rules|-row audit reports — never row
  * data. All sites were audited by hand in rounds 9–10; this spec makes
  * the audit MECHANICAL: a new `.collect()` anywhere in
  * `src/main/scala/graft` fails the build until the author audits it
  * and registers it here with its boundedness argument. Counts are per
  * file, so moving a site within a file never trips the lint, while
  * adding one always does.
  */
class CollectLintSpec extends AnyFunSuite {

  /** file → (allowed `.collect()` count, why each site is bounded). */
  private val registry: Map[String, (Int, String)] = Map(
    "operators/Similarity.scala" -> (10,
      "k-means seed/mean + IVF centroid tables (nlist×dim), PQ " +
      "codebooks (m×ksub×subdim), labelSeparability's |labels|×dim " +
      "centroid table, and pcaTopComponent's d² covariance cells — " +
      "all bounded model state bound into expressions or driver math"),
    "operators/CorpusPipeline.scala" -> (1,
      "per-source keep-rate map (|sources| rows) for the quality cut"),
    "operators/Mixing.scala" -> (1,
      "per-source budget table (|sources| rows) for the waterfall " +
      "allocator's driver loop"),
    "operators/Ngrams.scala" -> (1,
      "BPE per-round argmax — limit(1), ONE row per merge round"),
    "operators/TextAnalysis.scala" -> (1,
      "logistic trainer's per-iteration gradient row — ONE row of " +
      "model state (n + 4 fp-gradient sums) per GD iteration"),
    "operators/OpCaches.scala" -> (0, ""),
    "streaming/StreamOps.scala" -> (1,
      "stored BPE merge list (k rows of model state) for encodeStream"),
    "sources/ManifestTable.scala" -> (3,
      "manifest entries (≈ nBuckets rows), recorded batch ids, and the " +
      "|rules|-row expectations audit"),
    "SparkEntry.scala" -> (3,
      "stored BPE merge lists (k rows) for the bpe-stored serve " +
      "queries, plus the logistic trainer's final 4-long weight row " +
      "for the q_logreg_score serve composition"),
    // harness mains, not library surface — but linted anyway so a row
    // collection cannot hide in the entry points either
    "Bench.scala" -> (2,
      "one-row warm-up aggregates (range-sum / groupBy-count smoke)"),
    "Smoke.scala" -> (1, "one-row smoke-check aggregate")
  )

  test("every .collect() call site in the library is registered as " +
       "bounded driver state") {
    SourceLint.check(".collect()", registry,
      "unaudited .collect() site(s)",
      "a library collect may only gather BOUNDED model/manifest state " +
      "(centroids, codebooks, merge lists, manifest entries), never " +
      "row data. " +
      "Audit the new site and register it in CollectLintSpec.")
  }
}
