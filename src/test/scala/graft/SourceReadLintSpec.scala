package graft

import org.scalatest.funsuite.AnyFunSuite

/** JSON-read lint, modelled on `CollectLintSpec`: a `spark.read...json(`
  * call without a `.schema(...)` runs a schema-inference pass, a second
  * full read of the input at scale (SURVEY.md S1/S2). The only audited
  * JSON reader in `src/main/scala/graft` is `Sources.readJson`, which
  * always applies a declared schema and builds its scan through
  * `GlobScan` (no `.json(` call left, so its count is 0); any new
  * `.json(` read site fails this spec until it is audited and
  * registered here. Sink lines (their receiver is a writer, so the line
  * mentions `write`) are not reads and are not counted. Counts are per file, as in `CollectLintSpec`.
  */
class SourceReadLintSpec extends AnyFunSuite {

  /** file → (allowed `.json(` read count, why each site is audited). */
  private val registry: Map[String, (Int, String)] = Map(
    "sources/Sources.scala" -> (0,
      "Sources.readJson — explicit StructType, no inference pass; reads " +
        "through GlobScan, not spark.read.json")
  )

  test("every JSON read in the library is registered and declares its " +
       "schema") {
    SourceLint.check(".json(", registry,
      "unaudited JSON read site(s)",
      "read JSON through Sources.readJson with a declared StructType " +
      "(an inferred read scans the input twice), or audit the site " +
      "and register it in SourceReadLintSpec.",
      skipLine = _.contains("write"))
  }
}
