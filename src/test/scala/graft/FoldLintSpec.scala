package graft

import org.scalatest.funsuite.AnyFunSuite

/** Array-growing-fold lint (VERDICT r16 item 2), WindowLintSpec's
  * sibling: an `aggregate` HOF whose accumulator grows an ARRAY via
  * `concat(acc…)` copies the whole accumulated array each step —
  * O(n²) element copies inside ONE task for an n-element input. Fine
  * over parameter- or document-bounded arrays; a silent single-task
  * quadratic over grouped corpus rows (the `collect_list` fold class
  * holtSmooth sits in). Every such call site was audited by hand in
  * r17; this spec makes the audit MECHANICAL: a new `concat(acc`
  * accumulator anywhere in `src/main/scala/graft` fails the build
  * until the author audits the folded array's length and registers
  * the site here with its "bounded because…" argument (or a loud
  * length guard, the holtSmooth maxLen convention).
  *
  * (Scalar-accumulator folds — running sums, Viterbi best-state,
  * funnel stage counters — are not counted: they are linear.)
  */
class FoldLintSpec extends AnyFunSuite {

  /** file → (allowed `concat(acc` count, why each fold is bounded). */
  private val registry: Map[String, (Int, String)] = Map(
    "operators/EventOps.scala" -> (1,
      "holtSmooth's recurrence fold over a grouped collect_list — the " +
      "one genuinely-grouped site, LOUD-guarded: series longer than " +
      "maxLen (default 16384) raise at the fold's input instead of " +
      "running a silent single-task quadratic (EventOpsSpec pins the " +
      "raise)"),
    "operators/Mixing.scala" -> (1,
      "packWithBoundaries' doc_starts prefix sum over ONE shard's " +
      "docs — shard membership is budget-capped upstream by " +
      "packByBudget, so the fold length is budget/min(weight), a " +
      "packing parameter, never the corpus"),
    "operators/Ngrams.scala" -> (1,
      "unigramViterbi's DP lattice over the CHARS OF ONE WORD on the " +
      "distinct-word table — fold length = word length (corpus words " +
      "are dozens of chars), and the input table is vocabulary-sized"),
    "operators/Multimodal.scala" -> (1,
      "resizePayload's strided byte gather — fold length = " +
      "targetBytes, the caller's fixed output size parameter")
  )

  test("every array-growing aggregate accumulator in the library is " +
       "registered with a boundedness argument") {
    SourceLint.check("concat(acc", registry,
      "unaudited array-growing fold site(s)",
      "a concat(acc…) accumulator copies the whole array each step, " +
      "O(n²) inside one task. Bound the folded array's length (a " +
      "parameter, a doc, a loud maxLen guard) and register the site " +
      "in FoldLintSpec with the argument.")
  }
}
