package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Shared operator utilities. */
object Ops {

  /** 2-D skyline (Pareto frontier), both dimensions maximized: the
    * DISTINCT (x, y) points no other point dominates (≥ in both, > in
    * at least one) — the "best trade-offs" selection behind
    * cost-vs-quality triage (biggest recent orders, longest cleanest
    * docs) that a plain ORDER BY can't express.
    *
    * Sort-based and TWO-LEVEL, never the naive n² dominance anti-join
    * and never a whole-corpus single-partition sort: (1) collapse to
    * the per-x maximum y (one grouped aggregate — x is unique after
    * it); (2) range-bucket x by `nBuckets` quantile boundaries from a
    * bounded rank sketch ("boundaries strictly below x" counting, so
    * every point in a higher bucket has STRICTLY larger x — the strict
    * dominance the frontier rule needs); (3) the running "best y at
    * larger x" is then greatest(per-bucket window running max,
    * cross-bucket max from higher buckets) — the local window is
    * PARTITIONED by bucket and the cross-bucket table is nBuckets
    * rows, broadcast. A point survives iff its y strictly exceeds that
    * bound. Double-tied points survive as one collapsed frontier row,
    * matching the NOT-EXISTS dominance definition. The sketch
    * boundaries only shape the plan; the frontier is
    * bucketing-independent. */
  def skyline2D(df: DataFrame, xCol: String, yCol: String,
                nBuckets: Int = 64): DataFrame = {
    require(nBuckets > 1, s"need at least 2 buckets, got $nBuckets")
    val pts = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
    val perX = pts.groupBy(col(xCol).cast("double").as("x"))
      .agg(max(col(yCol).cast("double")).as("y"))
    val bArr = pts.agg(percentile_approx(col(xCol).cast("double"),
      array((1 until nBuckets).map(i =>
        lit(i.toDouble / nBuckets)): _*), lit(10000)).as("__bs"))
    val withB = perX.crossJoin(broadcast(bArr))
      .select(col("x"), col("y"),
        size(filter(col("__bs"), b => b < col("x"))).cast("long").as("__b"))
    val bmax = withB.groupBy(col("__b")).agg(max(col("y")).as("__bm"))
    val wHigher = Window.orderBy(col("__b").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val crossMax = bmax.select(col("__b"),
      max(col("__bm")).over(wHigher).as("__cm"))
    val wLocal = Window.partitionBy(col("__b")).orderBy(col("x").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val bound = greatest(max(col("y")).over(wLocal), col("__cm"))
    withB.join(broadcast(crossMax), "__b")
      .select(col("x"), col("y"), bound.as("__d"))
      .filter(col("__d").isNull || col("y") > col("__d"))
      .select(col("x"), col("y"))
  }

  /** Ensure a compute-bound stage runs with cluster-wide parallelism even
    * when the source collapses to a handful of input splits (small files:
    * one parquet row-group = one task). Repartitions by `by` to
    * `defaultParallelism` only when the input has fewer partitions than
    * the cluster has slots — at 100 TB a real source has thousands of
    * splits and this is a no-op, so the extra shuffle is only ever paid
    * on inputs small enough for it to be cheap.
    *
    * The input's parallelism is ESTIMATED from logical-plan statistics
    * (`stats.sizeInBytes / filesMaxPartitionBytes` — the same quantity
    * Spark's file-split planning divides by), which costs a metadata
    * lookup only. The two rejected alternatives both misbehave:
    * `df.rdd.getNumPartitions` forces physical planning + RDD conversion
    * (and codegen) of every composed query at build time, and
    * `executedPlan.outputPartitioning` reads `UnknownPartitioning(0)`
    * for any scan under AQE — which would turn spread into an
    * unconditional shuffle, exactly the failure it exists to avoid.
    * The size estimate errs on the safe side at scale: any source
    * bigger than cores × maxPartitionBytes (a few GB) is left alone.
    */
  def spread(df: DataFrame, by: Column): DataFrame = {
    val spark = df.sparkSession
    val par = spark.sparkContext.defaultParallelism
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
    val estSplits =
      df.queryExecution.optimizedPlan.stats.sizeInBytes / maxSplit + 1
    if (estSplits < par) df.repartition(par, by) else df
  }

  /** Band `j`'s key of a single-long signature cut into `r`-bit bands
    * (SimHash chunks, hyperplane-LSH bands): `(sig >>> j·r) & mask`. The
    * mask is `-1L >>> (64 - r)`: at r = 64 `(1L << r) - 1` is 0 on the
    * JVM (`1L << 64 == 1L`), which would put every signature in one
    * bucket and turn the banded join into all-pairs. */
  private[graft] def longBand(r: Int): (Column, Int) => Column = {
    require(r >= 1 && r <= 64, s"band width must be 1..64 bits, got $r")
    val mask = -1L >>> (64 - r)
    (sig, j) => shiftrightunsigned(sig, j * r).bitwiseAND(mask)
  }

  /** One row per (row, band) of `df`: every input column plus
    * `band_id` (0-based) and `valCol`, band `band_id`'s key
    * `bandOf(sig, band_id)`. The band keys are built as one unrolled
    * array of codegen'd expressions, no lambda. The bucket side of
    * [[firstSharedBandJoin]]. */
  private[graft] def explodeBands(df: DataFrame, sig: String, bands: Int,
                                  bandOf: (Column, Int) => Column,
                                  valCol: String = "band_val"): DataFrame =
    df.select(col("*"),
      posexplode(array((0 until bands).map(bandOf(col(sig), _)): _*))
        .as(Seq("band_id", valCol)))

  /** Banded candidate join with first-shared-band emission — the one
    * place every LSH / SimHash / MinHash candidate join decides which
    * bucket emits a pair. `a` and `b` are [[explodeBands]] tables
    * (aliased "a" and "b" here, so `on` — the caller's id order or
    * Hamming bound — and the caller's select use `a.` / `b.`).
    *
    * A pair colliding in k bands meets in k buckets. Instead of a
    * `dropDuplicates` exchange over the whole candidate space, the join
    * keeps only the row whose band is the pair's FIRST shared band: each
    * pair exits the join exactly once and the only exchange is the
    * bucket shuffle, linear in the input. "No earlier band shared" is
    * the unrolled chain `a.band_id <= j || bandOf(a.sig, j) !=
    * bandOf(b.sig, j)` for j < bands − 1: codegen'd comparisons on the
    * signature each row already carries, no per-candidate array and no
    * interpreted lambda (the `zip_with`/`array_position` form it
    * replaced measured 0.79 s against 0.72 s on `q_knn_graph`). */
  private[graft] def firstSharedBandJoin(a: DataFrame, b: DataFrame,
                                         sig: String, bands: Int,
                                         bandOf: (Column, Int) => Column,
                                         on: Column = lit(true),
                                         valCol: String = "band_val"): DataFrame = {
    val noEarlierShared = (0 until bands - 1).map { j =>
      col("a.band_id") <= j ||
        bandOf(col(s"a.$sig"), j) =!= bandOf(col(s"b.$sig"), j)
    }
    a.as("a").join(b.as("b"),
      (Seq(col("a.band_id") === col("b.band_id"),
           col(s"a.$valCol") === col(s"b.$valCol"), on) ++ noEarlierShared)
        .reduce(_ && _))
  }
}
