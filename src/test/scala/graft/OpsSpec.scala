package graft

import org.apache.spark.sql.catalyst.plans.logical.Range
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col

import graft.operators.{OpCaches, Ops}

class OpsSpec extends SparkTestBase {
  import spark.implicits._

  test("skyline2D: frontier equals the NOT-EXISTS dominance definition " +
       "on a closed-form staircase") {
    // staircase {(1,4),(2,3),(4,1)} is the frontier; (2,2) is dominated
    // by (2,3) via strict y; (0,4) by (1,4) via strict x; (4,1) twice
    // collapses to one point; (3,1) dominated by (4,1)
    val pts = Seq(
      (1.0, 4.0), (2.0, 3.0), (4.0, 1.0), (4.0, 1.0),
      (2.0, 2.0), (0.0, 4.0), (3.0, 1.0))
      .toDF("x0", "y0")
    val got = Ops.skyline2D(pts, "x0", "y0")
      .as[(Double, Double)].collect().toSet
    assert(got === Set((1.0, 4.0), (2.0, 3.0), (4.0, 1.0)))
    // single max point dominates everything
    val one = Ops.skyline2D(
      Seq((1.0, 1.0), (2.0, 2.0), (0.0, 3.0)).toDF("x0", "y0"),
      "x0", "y0").as[(Double, Double)].collect().toSet
    assert(one === Set((2.0, 2.0), (0.0, 3.0)))
  }

  test("skyline2D: bucketing never changes the frontier (randomized " +
       "cross-check vs brute force, multiple bucket counts)") {
    val rnd = new scala.util.Random(7)
    val pts = Seq.fill(120)((rnd.nextInt(30).toDouble,
      rnd.nextInt(30).toDouble))
    val df = pts.toDF("x0", "y0")
    val brute = pts.distinct.filter { case (x, y) =>
      !pts.exists { case (sx, sy) =>
        sx >= x && sy >= y && (sx > x || sy > y) }
    }.toSet
    // collapse to per-x max-y representation, as the operator returns
    val bruteFrontier = brute
    for (b <- Seq(2, 5, 64)) {
      val got = Ops.skyline2D(df, "x0", "y0", nBuckets = b)
        .as[(Double, Double)].collect().toSet
      assert(got === bruteFrontier,
        s"frontier must be bucketing-independent (nBuckets=$b)")
    }
  }

  test("skyline2D: empty and all-null inputs flow through") {
    assert(Ops.skyline2D(
      Seq.empty[(Option[Double], Option[Double])].toDF("x0", "y0"),
      "x0", "y0").count() === 0)
    assert(Ops.skyline2D(
      Seq((Option.empty[Double], Option(1.0))).toDF("x0", "y0"),
      "x0", "y0").count() === 0)
  }

  test("OpCaches.cut: keyed cuts pin the layout at defaultParallelism, " +
       "unkeyed cuts keep it; both are lineage-free plan leaves") {
    val par = spark.sparkContext.defaultParallelism
    assert(par > 1, "the pin is only observable with > 1 core")
    val oneSplit = spark.range(1000).toDF("k").coalesce(1)
    val keyed = OpCaches.cut(oneSplit, col("k"))
    val unkeyed = OpCaches.cut(oneSplit)
    assert(keyed.rdd.getNumPartitions === par)
    assert(unkeyed.rdd.getNumPartitions === 1)
    for (df <- Seq(keyed, unkeyed)) {
      val plan = df.queryExecution.optimizedPlan
      assert(plan.isInstanceOf[LogicalRDD], plan.treeString)
      assert(plan.collectFirst { case r: Range => r }.isEmpty,
        plan.treeString)
    }
  }

  test("skyline2D plan: local window partitioned by bucket, cross-bucket " +
       "table broadcast, no cartesian") {
    val df = Seq((1.0, 2.0), (2.0, 1.0)).toDF("x0", "y0")
    val p = Ops.skyline2D(df, "x0", "y0").queryExecution
      .executedPlan.toString
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("__b"), "bucketed construction must survive planning")
  }
}
