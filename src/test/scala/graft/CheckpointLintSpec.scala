package graft

import org.scalatest.funsuite.AnyFunSuite

/** Lineage-cut lint, modelled on `CollectLintSpec`: where and how an
  * intermediate is materialized as a plan leaf is ONE engine decision,
  * made in `OpCaches.cut` (lazy) and `OpCaches.cutNow` (eager). Their
  * docs hold the durability trade-off (non-replicated local blocks) and
  * the escalation menu, so switching every cut to reliable checkpoints
  * or replicated persists is an edit to those two functions. A
  * `localCheckpoint(` or `.checkpoint(` anywhere else in
  * `src/main/scala/graft` would bypass that choice, and fails this spec.
  */
class CheckpointLintSpec extends AnyFunSuite {

  /** needle → file → (allowed count, why each site is allowed). */
  private val registry: Map[String, Map[String, (Int, String)]] = Map(
    "localCheckpoint(" -> Map("operators/OpCaches.scala" -> (2,
      "OpCaches.cut (lazy) and OpCaches.cutNow (eager)")),
    ".checkpoint(" -> Map("operators/OpCaches.scala" -> (0,
      "none yet: the reliable-checkpoint switch would land in " +
      "OpCaches.cut/cutNow")))

  test("every lineage cut in the library goes through OpCaches.cut or " +
       "OpCaches.cutNow") {
    for ((needle, sites) <- registry)
      SourceLint.check(needle, sites,
        s"unaudited $needle site(s)",
        "materialize through graft.operators.OpCaches.cut (lazy leaf; " +
        "pass the join keys to keep the layout parallel) or cutNow " +
        "(eager), so the durability choice stays in one place.")
  }
}
