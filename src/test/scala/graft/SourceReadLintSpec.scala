package graft

import org.scalatest.funsuite.AnyFunSuite

/** JSON-read lint, modelled on `CollectLintSpec`: a `spark.read...json(`
  * call without a `.schema(...)` runs a schema-inference pass, a second
  * full read of the input at scale (SURVEY.md S1/S2). The only audited
  * JSON reader in `src/main/scala/graft` is `Sources.readJson`, which
  * always applies a declared schema; any new `.json(` read site fails
  * this spec until it is audited and registered here. Sink lines (their
  * receiver is a writer, so the line mentions `write`) are not reads and
  * are not counted. Counts are per file, as in `CollectLintSpec`.
  */
class SourceReadLintSpec extends AnyFunSuite {

  /** file → (allowed `.json(` read count, why each site is audited). */
  private val registry: Map[String, (Int, String)] = Map(
    "sources/Sources.scala" -> (1,
      "Sources.readJson — explicit StructType, no inference pass")
  )

  test("every JSON read in the library is registered and declares its " +
       "schema") {
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    assert(java.nio.file.Files.isDirectory(root),
      s"lint must run from the repo root, cwd=${System.getProperty("user.dir")}")
    val walk = java.nio.file.Files.walk(root)
    val files =
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala
          .filter(p => p.toString.endsWith(".scala")).toList
      } finally walk.close()
    assert(files.nonEmpty)
    val counts = files.map { p =>
      val rel = root.relativize(p).toString.replace('\\', '/')
      val src = java.nio.file.Files.readString(p)
      val n = src.linesIterator
        .filterNot(_.trim.startsWith("//"))
        .filterNot(_.trim.startsWith("*"))
        .filterNot(_.contains("write"))
        .map(l => l.sliding(".json(".length).count(_ == ".json("))
        .sum
      rel -> n
    }.filter(_._2 > 0).toMap
    val unregistered = counts.filter { case (f, n) =>
      registry.get(f).forall(_._1 < n)
    }
    assert(unregistered.isEmpty,
      s"unaudited JSON read site(s): $unregistered — read JSON through " +
      "Sources.readJson with a declared StructType (an inferred read " +
      "scans the input twice), or audit the site and register it in " +
      "SourceReadLintSpec.")
    val stale = registry.filter { case (f, (n, _)) =>
      n > 0 && counts.getOrElse(f, 0) < n
    }
    assert(stale.isEmpty,
      s"registry overcounts: $stale — prune the allowlist to match")
  }
}
