package graft

import org.scalatest.Assertions._

/** The census behind the source lints (`CollectLintSpec`,
  * `SourceReadLintSpec`, `WindowLintSpec`, `FoldLintSpec`,
  * `ResetLintSpec`, `CheckpointLintSpec`, `CodegenLintSpec`): count a
  * needle per file under a source root (`src/main/scala/graft` unless
  * the spec names another), outside comment lines, and hold the counts
  * against the spec's registry of audited sites. Counts are per file, so
  * moving a site within a file never trips a lint, while adding one
  * always does. Must run from the repo root.
  */
object SourceLint {

  /** Per-file needle counts under `dir` (files with no hit omitted).
    * Line comments and scaladoc lines are skipped, so prose that names
    * the pattern never counts; so is any line `skipLine` accepts. */
  private def counts(needle: String, skipLine: String => Boolean,
                     dir: String): Map[String, Int] = {
    val root = java.nio.file.Paths.get(dir)
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
    files.map { p =>
      val rel = root.relativize(p).toString.replace('\\', '/')
      val src = java.nio.file.Files.readString(p)
      val n = src.linesIterator
        .filterNot(_.trim.startsWith("//"))
        .filterNot(_.trim.startsWith("*"))
        .filterNot(skipLine)
        .map(l => l.sliding(needle.length).count(_ == needle))
        .sum
      rel -> n
    }.filter(_._2 > 0).toMap
  }

  /** Fail on any file with more sites than its registry entry allows
    * (`"$unaudited: <files> — $advice"`), then on any registry entry
    * above its file's count: a stale entry is pruned so the allowlist
    * stays an honest census. `registry` is file → (allowed count, why
    * each site is safe). */
  def check(needle: String, registry: Map[String, (Int, String)],
            unaudited: String, advice: String,
            skipLine: String => Boolean = _ => false,
            dir: String = "src/main/scala/graft"): Unit = {
    val found = counts(needle, skipLine, dir)
    val unregistered = found.filter { case (f, n) =>
      registry.get(f).forall(_._1 < n)
    }
    assert(unregistered.isEmpty, s"$unaudited: $unregistered — $advice")
    val stale = registry.filter { case (f, (n, _)) =>
      n > 0 && found.getOrElse(f, 0) < n
    }
    assert(stale.isEmpty,
      s"registry overcounts: $stale — prune the allowlist to match")
  }
}
