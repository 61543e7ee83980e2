package graft

import org.scalatest.funsuite.AnyFunSuite

/** Persist lint, modelled on `CheckpointLintSpec`: how long an operator
  * holds an intermediate is decided in `OpCaches` — `pin` persists a
  * per-query frame at the session's default storage level and holds it
  * until `release`, and a session memo frees its entries as it drops
  * them. A `.persist(` or `.cache()` anywhere else in
  * `src/main/scala/graft` must be a scoped persist/unpersist pair whose
  * owner frees it itself, listed here with its reason; any other site
  * fails this spec.
  */
class PersistLintSpec extends AnyFunSuite {

  /** needle → file → (allowed count, why each site is allowed). */
  private val registry: Map[String, Map[String, (Int, String)]] = Map(
    ".persist(" -> Map(
      "operators/OpCaches.scala" -> (1,
        "OpCaches.pin: the per-query persist, unpersisted by release"),
      "operators/Ngrams.scala" -> (5,
        "the BPE merge loop's seed and per-round word and pair states " +
        "(4), each unpersisted a round later or at loop end except the " +
        "final words, which the BPE memo frees as it drops them; and " +
        "the unigram model (1), which the unigram memo frees"),
      "operators/Dedup.scala" -> (1,
        "connectedComponents' edge table, unpersisted once the labels " +
        "converge"),
      "streaming/StreamOps.scala" -> (2,
        "each foreachBatch body's survivors, unpersisted when the " +
        "batch commits")),
    ".cache()" -> Map(
      "etl/SparkifyEtl.scala" -> (2,
        "the song and cleaned log inputs, each read by several sinks " +
        "and unpersisted once those sinks are written")))

  test("every persist in the library goes through OpCaches or is a " +
       "registered scoped pair") {
    for ((needle, sites) <- registry)
      SourceLint.check(needle, sites,
        s"unaudited $needle site(s)",
        "hold a per-query intermediate with graft.operators.OpCaches.pin " +
        "(freed by OpCaches.release) and cross-query model state in an " +
        "OpCaches.memo, so one module decides how long state lives.")
  }
}
