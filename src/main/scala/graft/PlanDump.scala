package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.{ExplainMode, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
  BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec,
  SortMergeJoinExec}

/** Writes the plan census of EVERY registered query to
  * `plans/census.jsonl`: one JSON line per query, sorted by name, with
  * its family, counts by physical node type, the exchange count, join
  * strategies, checkpoint (ExistingRDD) leaves and the line count of the
  * formatted explain. The plans are the unexecuted physical plans at
  * sf0.001 on `local[8]`. Regenerate with `sbt "runMain graft.PlanDump"`
  * after plan-affecting changes or a new registration (PlanRosterSpec
  * fails the build until the census is current); `PlanSnap` gives full
  * explains on demand. */
object PlanDump extends AdaptiveSparkPlanHelper {

  /** One census line; keys and node types in a fixed order, so two runs
    * over the same plans write identical bytes. */
  private def censusLine(q: Query, plan: SparkPlan, explainLines: Int)
      : String = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    val types = nodes.groupBy(_.getClass.getSimpleName)
      .map { case (k, v) => k -> v.size }.toSeq.sorted
    def count(f: PartialFunction[SparkPlan, Unit]) = nodes.count(f.isDefinedAt)
    val joins = Seq(
      "broadcast_hash" -> count { case _: BroadcastHashJoinExec => },
      "shuffled_hash" -> count { case _: ShuffledHashJoinExec => },
      "sort_merge" -> count { case _: SortMergeJoinExec => },
      "nested_loop" -> count {
        case _: BroadcastNestedLoopJoinExec | _: CartesianProductExec => })
    def obj(kv: Seq[(String, Int)]) =
      kv.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
    s"""{"name": "${q.name}", "family": "${q.family}", """ +
      s""""nodes": ${obj(types)}, """ +
      s""""exchanges": ${count { case _: Exchange => }}, """ +
      s""""joins": ${obj(joins)}, """ +
      s""""checkpoint_leaves": ${count {
        case r: RDDScanExec if r.nodeName.contains("ExistingRDD") => }}, """ +
      s""""explain_lines": $explainLines}"""
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSessionFactory.create(master = "local[8]",
      shufflePartitions = 8, appName = "graft-plandump")
    val d = "/root/testdata/sf0.001"
    val lines = SparkEntry.records.sortBy(_.name).map { q =>
      val qe = q.build(spark, d).queryExecution
      val explain = qe.explainString(ExplainMode.fromString("formatted"))
      val line = censusLine(q, qe.executedPlan,
        explain.linesIterator.size)
      println(s"[plandump] ${q.name}")
      // ~350 queries build in this one JVM: free each one's persisted
      // frames and training memos before the next builds
      graft.operators.OpCaches.resetQueryState()
      line
    }
    Files.createDirectories(Paths.get("plans"))
    Files.writeString(Paths.get("plans/census.jsonl"),
      lines.mkString("", "\n", "\n"))
    println(s"[plandump] wrote plans/census.jsonl (${lines.size} queries)")
    spark.stop()
  }
}
