package graft

import java.nio.file.{Files, Paths}

/** Round-19 optimization evidence: dump `.explain("formatted")` for a
  * named set of queries into plans/r20/<query>_<tag>.txt — the
  * before/after plan artifacts the optimization judge checks claims
  * against (the full-roster twin is PlanDump → PLANS.md).
  *
  * Usage: runMain graft.PlanSnap <tag> <q1,q2,...> [sfDir]
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    val tag = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val d = if (args.length > 2) args(2) else "/root/testdata/sf0.001"
    val spark = SparkSessionFactory.create(appName = "graft-plansnap")
    Files.createDirectories(Paths.get("plans/r20"))
    for (name <- names) {
      val df =
        if (name == "entry") SparkEntry.entry(spark)
        else SparkEntry.queries(name)(spark, d)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      Files.writeString(Paths.get(s"plans/r20/${name}_$tag.txt"), txt)
      println(s"[plansnap] plans/r20/${name}_$tag.txt " +
        s"(${txt.linesIterator.length} lines)")
      graft.operators.OpCaches.resetQueryState()
    }
    spark.stop()
  }
}
