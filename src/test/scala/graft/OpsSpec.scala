package graft

import org.apache.spark.sql.catalyst.plans.logical.Range
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.operators.{OpCaches, Ops, Similarity}

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

  test("OpCaches.pin: cached at the session default level, counted by " +
       "registered, unpersisted by release") {
    OpCaches.release(blocking = true)
    val base = OpCaches.registered
    val df = OpCaches.pin(spark.range(100).toDF("k").filter(col("k") > 7))
    assert(df.storageLevel === StorageLevel.fromString(
      spark.conf.get("spark.sql.defaultCacheStorageLevel")))
    assert(df.storageLevel === StorageLevel.MEMORY_AND_DISK)
    assert(OpCaches.registered === base + 1)
    assert(df.count() === 92)
    OpCaches.release(blocking = true)
    assert(df.storageLevel === StorageLevel.NONE)
    assert(OpCaches.registered === base)
  }

  test("OpCaches.memo: a hit does not recompute; past the cap the oldest " +
       "entry is freed and evicted; resetQueryState empties it") {
    val freed = scala.collection.mutable.ListBuffer.empty[Int]
    val memo = OpCaches.memo[Int](v => freed += v)
    var computed = 0
    def get(df: org.apache.spark.sql.DataFrame, p: Int): Int =
      memo(df, p) { computed += 1; p * 10 }
    val base = OpCaches.registered
    assert(get(spark.range(3).toDF("k"), 1) === 10)
    // an independent build of the same plan canonicalizes to the same key
    assert(get(spark.range(3).toDF("k"), 1) === 10)
    assert(computed === 1, "a hit must not recompute")
    assert(OpCaches.registered === base + 1, "registered counts entries")
    val df = spark.range(3).toDF("k")
    (2 to OpCaches.MemoCap).foreach(get(df, _))
    assert(memo.size === OpCaches.MemoCap && freed.isEmpty)
    assert(get(df, OpCaches.MemoCap + 1) === 10 * (OpCaches.MemoCap + 1))
    assert(memo.size === OpCaches.MemoCap, "the memo is bounded")
    assert(freed.toSeq === Seq(10), "the oldest entry is freed first")
    assert(computed === OpCaches.MemoCap + 1)
    get(df, 1)
    assert(computed === OpCaches.MemoCap + 2, "an evicted key recomputes")
    assert(freed.toSeq === Seq(10, 20))
    OpCaches.resetQueryState()
    assert(memo.size === 0 && OpCaches.registered === 0)
    assert(freed.size === 2 + OpCaches.MemoCap, "a clear frees every entry")
  }

  test("resetQueryState empties the PQ codebook memo: a probe of the same " +
       "stored codebook collects again") {
    val corpus = (0 until 32).map(i => (i.toLong,
      Seq.tabulate(4)(j => ((i * 7 + j * 3) % 11).toFloat)))
      .toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 3)
    val dir = java.nio.file.Files.createTempDirectory("graft-ops-pq")
      .toString
    val (cb0, codes0) = Similarity.pqIndex(corpus, m = 2, ksub = 2)
    Similarity.writePqIndex(dir, cb0, codes0)
    val (cb, codes) = Similarity.readPqIndex(spark, dir)
    def probe(): Int =
      jobsDuring(Similarity.pqTopKFromIndex(cb, codes, corpus, queries,
        k = 2, shortlist = 4))._2
    OpCaches.resetQueryState()
    val first = probe()
    assert(first > 0, "the first probe collects the stored codebook")
    assert(OpCaches.registered === 1)
    assert(probe() === 0, "a repeat probe binds the memoized codebook")
    OpCaches.resetQueryState()
    assert(OpCaches.registered === 0)
    assert(probe() === first, "after the reset the probe collects again")
    OpCaches.resetQueryState()
  }

  test("firstSharedBandJoin: each pair sharing a band exits once, at its " +
       "smallest shared band (seeded random signatures, self and cross)") {
    val bands = 4
    val r = 4
    val bandOf = Ops.longBand(r)
    def band(s: Long, j: Int): Long = (s >>> (j * r)) & 0xFL
    val rnd = new scala.util.Random(11)
    // full 64-bit signatures (the bits above bands·r must be masked off)
    // with 4-bit bands, so random collisions are common; planted rows
    // copy a random set of bands from an earlier row, so pairs sharing
    // several bands, none of them band 0, are common too
    val sigs = (0 until 60).foldLeft(Vector.empty[Long]) { (acc, i) =>
      val fresh = rnd.nextLong()
      if (i < 10 || rnd.nextBoolean()) acc :+ fresh
      else {
        val src = acc(rnd.nextInt(acc.size))
        val copied = (0 until bands).filter(_ => rnd.nextBoolean())
        acc :+ copied.foldLeft(fresh) { (s, j) =>
          val m = 0xFL << (j * r)
          (s & ~m) | (src & m)
        }
      }
    }
    def firstShared(x: Long, y: Long): Option[Int] =
      (0 until bands).find(j => band(x, j) == band(y, j))
    def banded(ids: Seq[Int]) = Ops.explodeBands(
      ids.map(i => (i, sigs(i))).toDF("id", "sig"), "sig", bands, bandOf)
    def got(a: Seq[Int], b: Seq[Int],
            on: org.apache.spark.sql.Column): Seq[(Int, Int, Int)] =
      Ops.firstSharedBandJoin(banded(a), banded(b), "sig", bands, bandOf, on)
        .select(col("a.id"), col("b.id"), col("a.band_id"))
        .as[(Int, Int, Int)].collect().toSeq.sorted
    def brute(pairs: Seq[(Int, Int)]): Seq[(Int, Int, Int)] =
      pairs.flatMap { case (i, j) =>
        firstShared(sigs(i), sigs(j)).map((i, j, _)) }.sorted
    val all = sigs.indices
    val self = got(all, all, col("a.id") < col("b.id"))
    val selfWant = brute(for (i <- all; j <- all if i < j) yield (i, j))
    assert(selfWant.map(_._3).distinct.size === bands,
      "the fixture must exercise every band as a first shared band")
    assert(self === selfWant)
    val (left, right) = all.partition(_ % 3 == 0)
    val cross = got(left, right, org.apache.spark.sql.functions.lit(true))
    assert(cross === brute(for (i <- left; j <- right) yield (i, j)))
  }

  test("longBand: a 64-bit band is the whole signature") {
    val sigs = Seq(-1L, Long.MinValue, 42L, 0L)
    val got = Ops.explodeBands(sigs.toDF("sig"), "sig", 1, Ops.longBand(64))
      .select(col("band_id"), col("band_val")).as[(Int, Long)].collect()
    assert(got.toSeq === sigs.map((0, _)))
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
