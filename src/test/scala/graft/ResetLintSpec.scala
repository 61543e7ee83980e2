package graft

import org.scalatest.funsuite.AnyFunSuite

/** Per-query-reset lint, modelled on `CollectLintSpec`: the harness
  * reset between timed or profiled queries is ONE call,
  * `OpCaches.resetQueryState`, which releases the pinned frames AND
  * clears every session memo (BPE and unigram training states, PQ
  * codebooks). A harness that released the frames but missed a memo
  * would price a later query's training as a memo hit, so the BPE and
  * unigram clears may appear in `src/main/scala/graft` only at their
  * definitions in `Ngrams`; every caller goes through the reset.
  */
class ResetLintSpec extends AnyFunSuite {

  /** file → (allowed mentions, why each is allowed), per memo clear. */
  private def registry(clear: String): Map[String, (Int, String)] = Map(
    "operators/Ngrams.scala" -> (1, s"the definition of $clear"))

  test("training-memo clears are called only from " +
       "OpCaches.resetQueryState") {
    for (clear <- Seq("clearBpeCache", "clearUnigramCache"))
      SourceLint.check(clear, registry(clear),
        s"$clear mentioned outside its definition and the reset",
        "call graft.operators.OpCaches.resetQueryState() instead, so the " +
        "pinned frames and every session memo are reset together.")
  }
}
