package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-census roster lint (VERDICT r16 item 6): every registered query
  * must have a committed row in `plans/census.jsonl`, and no row may go
  * stale. This makes the "regenerate the census" step mechanical — a
  * query registered after the last `sbt "runMain graft.PlanDump"` fails
  * the build here until the census is regenerated, so the plan census
  * can no longer lag the registry round over round. Pure file parse —
  * no Spark session. */
class PlanRosterSpec extends AnyFunSuite {

  test("plans/census.jsonl has a row for every registered query and no " +
       "stale rows") {
    val path = java.nio.file.Paths.get("plans/census.jsonl")
    assert(java.nio.file.Files.isRegularFile(path),
      "plans/census.jsonl missing — run `sbt \"runMain graft.PlanDump\"`")
    val nameField = """^\{"name": "([^"]+)"""".r.unanchored
    val rows = java.nio.file.Files.readString(path).linesIterator
      .collect { case nameField(n) => n }
      .toSet
    val registered = SparkEntry.queries.keySet
    val missing = (registered -- rows).toSeq.sorted
    assert(missing.isEmpty,
      s"registered queries with no plans/census.jsonl row: $missing — " +
      "regenerate with `sbt \"runMain graft.PlanDump\"`")
    val stale = (rows -- registered).toSeq.sorted
    assert(stale.isEmpty,
      s"plans/census.jsonl rows for unregistered queries: $stale — " +
      "regenerate with `sbt \"runMain graft.PlanDump\"`")
  }
}
