package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-quality profiling: per-column statistics in ONE pass over the
  * data — the pre-ingestion health check a corpus pipeline runs before
  * committing a source.
  */
object Profiling {

  /** Per-column profile of `cols`: row count, null count, distinct
    * count, and min/max rendered as strings (one output row per column,
    * heterogeneous types unified by the cast).
    *
    * All statistics compute in a single global aggregation — Spark
    * plans the multi-column distinct counts with one Expand + aggregate
    * family, so the input is scanned once regardless of how many
    * columns are profiled. The per-column rows are then exploded from
    * the single aggregate row: driver never touches data. */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty)
    val aggs = cols.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nulls_$c"),
        count_distinct(col(c)).as(s"__nd_$c"),
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"))
    } :+ count(lit(1)).as("__n")
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = array(cols.map(c => struct(
      lit(c).as("col_name"),
      col("__n").as("n_rows"),
      col(s"__nulls_$c").as("n_nulls"),
      col(s"__nd_$c").as("n_distinct"),
      col(s"__min_$c").as("min_s"),
      col(s"__max_$c").as("max_s"))): _*)
    one.select(explode(rows).as("p")).select("p.*")
  }

  /** Declarative constraint rules for [[validate]] — the
    * expectation-suite surface (the Deequ / Great Expectations idea):
    * each rule compiles to aggregate expressions, so a whole suite
    * evaluates in ONE scan. */
  sealed trait Rule { def label: String; def column: String }
  /** No NULLs in `column`. */
  final case class NotNull(column: String) extends Rule {
    def label = s"not_null($column)"
  }
  /** `column` values are unique across the frame (NULLs count as one
    * duplicate group like any other value — count(*) vs distinct). */
  final case class Unique(column: String) extends Rule {
    def label = s"unique($column)"
  }
  /** Non-NULL `column` values lie in [lo, hi] (inclusive; NULLs are
    * NotNull's business, not a range violation). */
  final case class InRange(column: String, lo: Double, hi: Double)
      extends Rule {
    def label = s"in_range($column)"
  }
  /** Non-NULL `column` values belong to `values`. */
  final case class OneOf(column: String, values: Seq[String]) extends Rule {
    def label = s"one_of($column)"
  }

  /** Evaluate a constraint suite in one pass: for each rule, the number
    * of violating rows and a pass verdict — the pre-commit gate a corpus
    * pipeline publishes next to its output (violations = 0 → promote the
    * snapshot; the counts, not just booleans, make the failure
    * actionable). Output: (rule, column, n_rows, violations, passed),
    * one row per rule in suite order.
    *
    * All rules compile into a single aggregate family over one scan —
    * sums combine map-side; Unique's count_distinct plans as Spark's
    * Expand-based distinct aggregate alongside them. The per-rule rows
    * explode from the single aggregate row; the driver never touches
    * data. */
  def validate(df: DataFrame, rules: Seq[Rule]): DataFrame = {
    require(rules.nonEmpty)
    val aggs = rules.zipWithIndex.map { case (r, i) =>
      // coalesce: sum over ZERO rows is NULL — an empty frame violates
      // nothing and must pass, not return NULL verdicts
      coalesce((r match {
        case NotNull(c) => sum(when(col(c).isNull, 1L).otherwise(0L))
        case Unique(c) => count(lit(1)) - count_distinct(col(c)) -
          // count_distinct skips NULLs, but they form ONE distinct group
          // like any other value — subtract exactly that one group when
          // present, so n NULL rows contribute n-1 violations
          when(sum(when(col(c).isNull, 1L).otherwise(0L)) > 0, 1L)
            .otherwise(0L)
        case InRange(c, lo, hi) => sum(when(
          col(c).isNotNull && (col(c) < lo || col(c) > hi), 1L).otherwise(0L))
        case OneOf(c, vs) => sum(when(
          col(c).isNotNull && !col(c).isInCollection(vs), 1L).otherwise(0L))
      }).cast("long"), lit(0L)).as(s"__v_$i")
    } :+ count(lit(1)).as("__n")
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = array(rules.zipWithIndex.map { case (r, i) => struct(
      lit(r.label).as("rule"),
      lit(r.column).as("column"),
      col("__n").as("n_rows"),
      col(s"__v_$i").as("violations"),
      (col(s"__v_$i") === 0L).as("passed"))
    }: _*)
    one.select(explode(rows).as("p")).select("p.*")
  }

  /** Per-slice HyperLogLog sketch table: one row per `sliceExpr` value
    * (day, source, shard …) carrying a mergeable Datasketches HLL binary
    * for `keyCol` plus the slice's row count.
    *
    * This is the incremental-statistics pattern for 100 TB corpora: each
    * ingestion batch sketches ONLY its own slice (one linear scan,
    * map-side partial merge), the sketch table is persisted, and any
    * later union of slices — global, rolling-window, per-source —
    * answers distinct-count questions by merging kilobyte sketches via
    * [[hllMergedEstimate]] instead of rescanning the corpus. Accuracy is
    * ~1.04/sqrt(2^lgK) relative standard deviation (lgK=12 → ~1.6%). */
  def hllSlices(df: DataFrame, sliceExpr: org.apache.spark.sql.Column,
                keyCol: String, lgK: Int = 12): DataFrame =
    df.groupBy(sliceExpr.as("slice"))
      .agg(hll_sketch_agg(col(keyCol), lgK).as("hll"),
           count(lit(1)).as("n_rows"))

  /** Merge a [[hllSlices]] table (or any subset of its rows) into one
    * global distinct-count estimate. Sketch union is exact over the
    * sketch state — merging per-day sketches equals sketching the whole
    * corpus at once — so estimates stay consistent no matter how slices
    * are grouped. */
  def hllMergedEstimate(slices: DataFrame): DataFrame =
    slices.agg(
      hll_sketch_estimate(hll_union_agg(col("hll"))).as("approx_distinct"),
      sum(col("n_rows")).as("n_rows"))

  /** Distribution drift between two snapshots of a corpus: one row per
    * `keyCol` value (source, language, domain, shard …) with each side's
    * smoothed share and its KL-divergence contribution
    * share_a·ln(share_a/share_b) — the monitoring primitive that
    * catches a source silently vanishing or flooding between two
    * pipeline runs (sum the contributions for total KL(a‖b); large
    * positive contributions mark keys over-represented in `a`).
    *
    * Add-one smoothing over the union key set keeps every share
    * positive, so keys present on one side only still produce a finite,
    * comparison-ready row instead of a division by zero. Shares divide
    * exact longs and the ln is rounded to 9 decimals (the repo's
    * engine-exactness convention), so drift reports hash-compare across
    * engines. Plan: one grouped count per side (map-side combined), a
    * key-keyed full-outer join, broadcast totals — linear, no vectors of
    * state anywhere. */
  def distributionDrift(a: DataFrame, b: DataFrame,
                        keyCol: String): DataFrame = {
    def counts(df: DataFrame, out: String) =
      df.groupBy(col(keyCol)).agg(count(lit(1)).as(out))
    val joined = counts(a, "cnt_a").join(counts(b, "cnt_b"),
        Seq(keyCol), "full_outer")
      .select(col(keyCol),
        coalesce(col("cnt_a"), lit(0L)).as("cnt_a"),
        coalesce(col("cnt_b"), lit(0L)).as("cnt_b"))
    val totals = joined.agg(
      sum(col("cnt_a")).as("__ta"), sum(col("cnt_b")).as("__tb"),
      count(lit(1)).as("__k"))
    joined.crossJoin(broadcast(totals))
      .select(col(keyCol), col("cnt_a"), col("cnt_b"),
        ((col("cnt_a") + lit(1)).cast("double") /
          (col("__ta") + col("__k")).cast("double")).as("share_a"),
        ((col("cnt_b") + lit(1)).cast("double") /
          (col("__tb") + col("__k")).cast("double")).as("share_b"))
      .withColumn("kl_contrib",
        round(col("share_a") * log(col("share_a") / col("share_b")), 9))
  }

  /** Population Stability Index — the model-monitoring industry's
    * standard drift score, sitting next to [[distributionDrift]]'s KL
    * and [[ksTwoSample]]'s KS: per key, (share_a − share_b)·ln(share_a
    * / share_b) — always ≥ 0 per term, so contributions never cancel
    * the way signed KL terms can (the property scorecard monitors want;
    * rule of thumb: total < 0.1 stable, > 0.25 shifted). Same add-one
    * smoothing over the union key set as the KL monitor, so one-sided
    * keys contribute finite terms. Output per key: counts, smoothed
    * shares, `psi_term` (9-dec rounded, engine-exact — shares divide
    * exact longs, ln rounds once); the headline PSI is their sum. */
  def psi(a: DataFrame, b: DataFrame, keyCol: String): DataFrame =
    distributionDrift(a, b, keyCol)
      .drop("kl_contrib")
      .withColumn("psi_term",
        round((col("share_a") - col("share_b")) *
          log(col("share_a") / col("share_b")), 9))

  /** Exact weighted percentiles per group — the lower weighted quantile
    * (smallest value whose cumulative weight reaches p% of the group's
    * total weight), all-integer until the output: the right statistic
    * when rows carry mass (token counts, bytes, revenue) and "median
    * document" should mean the median TOKEN's document, not the median
    * row. Values collapse to (group, value, Σweight) first — grouped
    * percentile state is bounded by distinct values — then ONE rank
    * window per group over the collapsed table and one aggregate per
    * requested percentile.
    *
    * Weights become integer NANO-UNIT mass per row (round(w·1e9):
    * double-to-INTEGER rounding is engine-portable, and fractional
    * weights like revenue keep their mass instead of truncating to 0),
    * carried as TWO 2³⁰-radix LONG limbs — hi = floor(mass/2³⁰),
    * lo = mass − hi·2³⁰, both splits exact in IEEE doubles (the 2³⁰
    * divide is a pure exponent shift; the subtraction is Sterbenz-
    * exact) — so every sum in the plan (the per-value collapse AND both
    * window frames) rides the codegen long fast path, yet the
    * recombined DECIMAL(38,0) mass is exact to 2⁹³ nano-units per group
    * (≈ 9.9e18 unit-mass — 100 TB byte-mass pipelines included), where
    * a single per-row long hop would silently saturate past a
    * 9.2e9-unit weight. Contract: per-row weight < 9.9e18 — ENFORCED:
    * a row past it (or +Inf) raises instead of silently saturating the
    * limb split; above ~9e6 the double nano product quantizes sub-nano
    * digits, as any 1e9-scaled double must.
    * The cumulative and total sums share ONE window spec (same
    * partition + order; the total is the unbounded-following frame), so
    * the collapsed table sorts once; the p·W cut is a per-pct
    * conditional MIN in one grouped aggregate (no |pcts|× row explode),
    * comparing 100·cum ≥ pct·W in exact integer decimals so any engine
    * reproduces the cut row. Null/non-positive weights drop. */
  def weightedPercentiles(df: DataFrame, groupCol: String, valCol: String,
                          weightCol: String,
                          pcts: Seq[Int] = Seq(25, 50, 75, 90)): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p > 0 && p <= 100),
      s"percentiles must lie in (0, 100], got $pcts")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val radix = 1073741824L // 2³⁰
    // loud per-row guard on the documented contract: a weight at or
    // past 2⁹³ nano-units (or +Inf) would saturate the limb split
    // itself — raise instead of silently clipping (the "diverge loudly
    // together" principle; the oracle's HUGEINT cast errors likewise).
    // Residual unguarded surface: a single GROUP whose |mass| total
    // exceeds 2⁹³ wraps the limb sums — ~2⁴⁰ max-mass rows per group,
    // far past the documented per-group bound.
    val rawMass = round(col(weightCol) * lit(1e9)) // integer-valued double
    val mass = when(rawMass < lit(math.pow(2, 93)), rawMass)
      .otherwise(raise_error(concat(
        lit("weightedPercentiles: per-row weight mass saturates the " +
          "2^93 limb split: "), rawMass.cast("string"))).cast("double"))
    val hi = floor(mass / lit(radix.toDouble)) // long out; exact 2³⁰ divide
    val lo = (mass - hi.cast("double") * lit(radix.toDouble)).cast("long")
    val byVal = df
      .filter(col(valCol).isNotNull && col(weightCol).isNotNull &&
        col(weightCol) > 0)
      .groupBy(col(groupCol).as("grp"), col(valCol).as("value"))
      .agg(sum(hi).as("__whi"), sum(lo).as("__wlo"))
    val ord = Window.partitionBy(col("grp")).orderBy(col("value"))
    val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = ord.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    def mass38(h: org.apache.spark.sql.Column,
               l: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      h.cast(dec) * lit(radix) + l.cast(dec)
    val cum = byVal.select(col("grp"), col("value"),
      mass38(sum(col("__whi")).over(run), sum(col("__wlo")).over(run))
        .as("__cum"),
      mass38(sum(col("__whi")).over(all), sum(col("__wlo")).over(all))
        .as("__tot"))
    val minCols = pcts.map(p =>
      min(when(col("__cum") * 100 >= lit(p) * col("__tot"), col("value")))
        .as(s"__p$p"))
    cum.groupBy(col("grp")).agg(minCols.head, minCols.tail: _*)
      .select(col("grp"),
        explode(array(pcts.map(p =>
          struct(lit(p).as("pct"), col(s"__p$p").as("value"))): _*)).as("kv"))
      .select(col("grp"), col("kv.pct").as("pct"), col("kv.value").as("value"))
  }

  /** Key-skew report: the `k` heaviest values of `keyCol` with their row
    * counts and corpus share — the diagnostic that decides whether a
    * join on this key needs salting ([[Joins.saltedJoin]]) or AQE skew
    * handling. One grouped count (map-side combined) + a
    * TakeOrderedAndProject for the top-k: no global sort materializes.
    * Share divides exact longs, so values are engine-exact. */
  /** Approximate per-group percentile with an in-plan accuracy audit —
    * the quantile counterpart of [[graft.operators.EventOps.approxDistinctUsersChecked]].
    *
    * `percentile_approx` is the 100 TB path: a mergeable bounded-memory
    * rank sketch whose partials combine map-side, vs exact `percentile`'s
    * collected value lists. Sketch VALUES are engine- and layout-specific,
    * so the CHECKABLE output is (group, exact percentile, within_tol): the
    * verdict asserts the sketch's rank guarantee — the approx value must
    * lie between the exact percentiles at p ± 2/accuracy (twice the
    * documented ≤ 1/accuracy rank error) — and an oracle reproduces the
    * exact value and asserts the verdict without reproducing the sketch.
    * (Exact percentiles are affordable here because the audit is the
    * point; production pipelines run the sketch alone.) */
  def approxPercentilesChecked(df: DataFrame, groupCol: String,
                               valCol: String, p: Double = 0.5,
                               accuracy: Int = 100): DataFrame = {
    require(accuracy >= 10, "accuracy < 10 gives a vacuous audit window")
    val eps = 2.0 / accuracy
    val lo = math.max(0.0, p - eps); val hi = math.min(1.0, p + eps)
    df.groupBy(col(groupCol))
      .agg(
        percentile_approx(col(valCol), lit(p), lit(accuracy)).as("__approx"),
        expr(s"percentile($valCol, $p)").as("__exact"),
        expr(s"percentile($valCol, $lo)").as("__lo"),
        expr(s"percentile($valCol, $hi)").as("__hi"))
      .select(col(groupCol),
        round(col("__exact"), 9).as(s"p_$valCol"),
        col("__approx").between(col("__lo"), col("__hi")).as("within_tol"))
  }

  /** Exact two-sample Kolmogorov–Smirnov statistic between the
    * `valueCol` distributions of `a` and `b` — the NUMERIC drift
    * monitor ([[distributionDrift]] covers categorical keys; this
    * covers lengths, scores, latencies): D = max_v |F_a(v) − F_b(v)|
    * over the empirical CDFs. One row out: (n_a, n_b, d_num, ks_d)
    * where `d_num` = max |cum_a·n_b − cum_b·n_a| is the EXACT integer
    * numerator (engine-reproducible; `ks_d` = d_num/(n_a·n_b) is its
    * one IEEE division).
    *
    * `binWidth` quantizes values to floor(v/w)·w bins first. ECDFs on
    * binned data are exact for the binned distribution — drift between
    * corpus snapshots needs stable resolution, not raw floats. On
    * integer-valued columns, binWidth = 1 (the default) is the exact
    * raw statistic.
    *
    * Plan shape at 100 TB: both sides collapse to per-bin counts FIRST
    * (one linear shuffle; partial aggregation map-side), so the running
    * ECDF window — necessarily a single ordered task — runs over the
    * BIN table, whose size callers bound via binWidth, never over rows.
    * The final max is a scalar aggregate.
    *
    * Empty-side contract: if either side has no non-NULL values the KS
    * statistic is undefined; this returns ks_d = 0.0 (d_num is 0 — no
    * bin can differ from an empty ECDF in integer numerator terms) so
    * drift monitors see "no evidence of drift", never NULL/NaN. */
  def ksTwoSample(a: DataFrame, b: DataFrame, valueCol: String,
                  binWidth: Double = 1.0): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    def side(df: DataFrame, tag: Int) =
      df.filter(col(valueCol).isNotNull)
        .select(
          (floor(col(valueCol).cast("double") / binWidth) * binWidth)
            .as("__v"),
          lit(tag).as("__side"))
    val perBin = side(a, 0).unionByName(side(b, 1))
      .groupBy(col("__v"))
      .agg(sum(when(col("__side") === 0, 1L).otherwise(0L)).as("__ca"),
           sum(when(col("__side") === 1, 1L).otherwise(0L)).as("__cb"))
    // bounded by the bin count, not the corpus — safe to run twice
    // (totals + ECDF) and to window over one ordered task
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("__v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val totals = perBin.agg(
      coalesce(sum(col("__ca")), lit(0L)).as("n_a"),
      coalesce(sum(col("__cb")), lit(0L)).as("n_b"))
    perBin
      .select(sum(col("__ca")).over(w).as("__cuma"),
              sum(col("__cb")).over(w).as("__cumb"))
      .crossJoin(broadcast(totals))
      .agg(coalesce(
        max(abs(col("__cuma") * col("n_b") - col("__cumb") * col("n_a"))),
        lit(0L)).as("d_num"))
      .crossJoin(broadcast(totals))
      .select(col("n_a"), col("n_b"), col("d_num"),
        // guard the empty-side case: n_a*n_b = 0 would yield NULL
        when(col("n_a") * col("n_b") > 0,
          col("d_num").cast("double") / (col("n_a") * col("n_b")))
          .otherwise(lit(0.0)).as("ks_d"))
  }

  /** Exact two-sample Wasserstein-1 (earth-mover) distance per group —
    * the drift metric that reports HOW FAR a numeric distribution
    * moved in the value's own units, where [[ksTwoSample]] reports the
    * worst single-point gap and [[psi]] a unitless mix score:
    * W1 = ∫|F_a − F_b| dv = Σ over consecutive distinct values of
    * |cum_a·n_b − cum_b·n_a| · gap / (n_a·n_b).
    *
    * Values quantize to integer `scale`-ths first (round(v·scale) —
    * the engine-portable double→INTEGER rounding every nano-mass
    * operator here uses), so each per-interval term is an EXACT
    * integer: the ECDF-difference numerator rides DECIMAL(38,0)
    * (cum·n products pass long range once both sides exceed ~3e9
    * rows), the gap is integer ticks, and the sum is
    * order-independent — the published `w1` is one IEEE division of
    * exact integers, 9-dec rounded, engine-exact.
    *
    * Plan shape at 100 TB: both sides collapse map-side to per-(group,
    * value) counts — the only corpus-sized pass; ONE grouped window
    * family (cum/total/gap share the (group, value) sort, the
    * [[weightedPercentiles]] shape) over the collapsed table, whose
    * size is bounded by distinct quantized values per group; one
    * grouped aggregate closes. Empty-side contract mirrors
    * [[ksTwoSample]]: a group seen on only one side reads w1 = 0.0
    * (no evidence), never NULL. */
  def wasserstein1(a: DataFrame, b: DataFrame, groupCol: String,
                   valCol: String, scale: Long = 100L): DataFrame = {
    require(scale > 0, "scale must be positive")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    def side(df: DataFrame, tag: Int) =
      df.filter(col(valCol).isNotNull)
        .select(col(groupCol).as("__g"),
          round(col(valCol) * scale).cast("long").as("__v"),
          lit(tag).as("__side"))
    val perVal = side(a, 0).unionByName(side(b, 1))
      .groupBy(col("__g"), col("__v"))
      .agg(sum(when(col("__side") === 0, 1L).otherwise(0L)).as("__ca"),
           sum(when(col("__side") === 1, 1L).otherwise(0L)).as("__cb"))
    val wOrd = Window.partitionBy(col("__g")).orderBy(col("__v"))
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding,
                                Window.currentRow)
    val wAll = wOrd.rowsBetween(Window.unboundedPreceding,
                                Window.unboundedFollowing)
    val terms = perVal
      .withColumn("__cuma", sum(col("__ca")).over(wCum))
      .withColumn("__cumb", sum(col("__cb")).over(wCum))
      .withColumn("__na", sum(col("__ca")).over(wAll))
      .withColumn("__nb", sum(col("__cb")).over(wAll))
      .withColumn("__gap", lead(col("__v"), 1).over(wOrd) - col("__v"))
    terms.groupBy(col("__g").as(groupCol))
      .agg(max(col("__na")).as("n_a"), max(col("__nb")).as("n_b"),
        sum(when(col("__gap").isNotNull,
            abs(col("__cuma").cast(dec) * col("__nb") -
                col("__cumb").cast(dec) * col("__na")) * col("__gap"))
          .otherwise(lit(0L).cast(dec))).as("__num"))
      .select(col(groupCol), col("n_a"), col("n_b"),
        when(col("n_a") > 0 && col("n_b") > 0,
          round(col("__num").cast("double") /
            (col("n_a").cast(dec) * col("n_b") * scale).cast("double"), 9))
          .otherwise(lit(0.0)).as("w1"))
  }

  /** Exact Mann–Whitney U per group — the NON-PARAMETRIC two-sample
    * test statistic beside [[graft.operators.EventOps.abTest]]'s
    * pooled z (medians/ranks, no normality assumption; the standard
    * check when value distributions are skewed, as latencies and
    * prices are): U counts (a, b) pairs with a < b, ties half. To stay
    * in integers, the published `u2` = 2U = Σ_v 2·cA_v·cumB_{>v} +
    * cA_v·cB_v — exact DECIMAL(38,0) interior (pair counts pass long
    * range once both sides exceed ~2e9 rows), published BIGINT behind
    * the loud [[graft.operators.EventOps.ohlcBars]]-style range guard.
    * `rank_biserial` = u2/(n_a·n_b) − 1 ∈ [−1, 1] is the effect size
    * (+1: every a below every b), one 9-dec-rounded IEEE division of
    * exact integers.
    *
    * Same collapsed-value plan as [[wasserstein1]]: map-side collapse
    * to (group, value) counts, ONE grouped window for the running
    * B-count, one closing aggregate. One-sided groups read NULL
    * effect (undefined, unlike the "no drift evidence" 0 of the
    * drift monitors — a test with an empty arm has no verdict). */
  def mannWhitney(a: DataFrame, b: DataFrame, groupCol: String,
                  valCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    def side(df: DataFrame, tag: Int) =
      df.filter(col(valCol).isNotNull)
        .select(col(groupCol).as("__g"), col(valCol).as("__v"),
          lit(tag).as("__side"))
    val perVal = side(a, 0).unionByName(side(b, 1))
      .groupBy(col("__g"), col("__v"))
      .agg(sum(when(col("__side") === 0, 1L).otherwise(0L)).as("__ca"),
           sum(when(col("__side") === 1, 1L).otherwise(0L)).as("__cb"))
    // 2U = Σ_v 2·ca_v·cbAbove_v + ca_v·cb_v with cbAbove = n_b − cbCum
    // folds to 2·n_a·n_b − 2·Σ(ca·cbCum) + Σ(ca·cb): ONE incremental
    // running-sum frame and one grouped aggregate — never the
    // (1 FOLLOWING, UNBOUNDED FOLLOWING) shape, whose sliding lower
    // bound Spark re-aggregates from scratch per row (O(n²) in
    // distinct values per group; and if a downstream single-partition
    // requirement is pushed below the window, all groups serialize
    // onto one core and the quadratic goes global — the q_bh lesson,
    // SURVEY §6.6e). Exact integers, same values, same oracle.
    val wCum = Window.partitionBy(col("__g")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val terms = perVal
      .withColumn("__cbCum", sum(col("__cb")).over(wCum))
    terms.groupBy(col("__g").as(groupCol))
      .agg(sum(col("__ca")).as("n_a"), sum(col("__cb")).as("n_b"),
        sum(col("__ca").cast(dec) * col("__cbCum")).as("__sCaCum"),
        sum(col("__ca").cast(dec) * col("__cb")).as("__sCaCb"))
      .withColumn("__u2",
        lit(2L).cast(dec) * col("n_a") * col("n_b") -
          lit(2L).cast(dec) * col("__sCaCum") + col("__sCaCb"))
      .select(col(groupCol), col("n_a"), col("n_b"),
        when(abs(col("__u2")) <= lit(Long.MaxValue).cast(dec),
            col("__u2").cast("long"))
          .otherwise(raise_error(concat(
            lit("mannWhitney: 2U overflows BIGINT: "),
            col("__u2").cast("string"))).cast("long")).as("u2"),
        when(col("n_a") > 0 && col("n_b") > 0,
          round(col("__u2").cast("double") /
            (col("n_a").cast(dec) * col("n_b")).cast("double") - 1.0, 9))
          .otherwise(lit(null).cast("double")).as("rank_biserial"))
  }

  /** Exact ROC AUC of a score against a boolean label, per group — THE
    * evaluation number for a corpus-filter model ([[calibration]] says
    * whether to trust the score's magnitude, [[thresholdForPrecision]]
    * where to cut it; this says whether it ranks at all): AUC =
    * P(score⁺ > score⁻) + ½·P(score⁺ = score⁻), which is exactly the
    * Mann–Whitney identity U/(n₊·n₋) — so it RIDES [[mannWhitney]]'s
    * exact integer u2 = 2U verbatim (negatives as side a, positives as
    * side b; same collapsed-value plan, same loud BIGINT guard, no new
    * machinery) and closes with the one 9-dec-rounded IEEE division
    * u2/(2·n₋·n₊) of exact integers. NULL labels drop; NULL scores
    * follow [[mannWhitney]] (dropped). One-sided groups (no positives
    * or no negatives) read NULL — an AUC with an empty class has no
    * verdict. Output: (groupCol, n_neg, n_pos, auc). */
  def auc(df: DataFrame, groupCol: String, scoreCol: String,
          labelCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val lbl = col(labelCol).cast("boolean")
    mannWhitney(df.filter(!lbl), df.filter(lbl), groupCol, scoreCol)
      .select(col(groupCol),
        col("n_a").as("n_neg"), col("n_b").as("n_pos"),
        when(col("n_a") > 0 && col("n_b") > 0,
          round(col("u2").cast("double") /
            (lit(2L).cast(dec) * col("n_a") * col("n_b")).cast("double"),
            9))
          .otherwise(lit(null).cast("double")).as("auc"))
  }

  /** Exact per-group Spearman rank correlation — the robust
    * monotonic-association screen beside the Pearson family
    * ([[covarianceExact]], [[graft.operators.EventOps.autocorrelation]]):
    * Pearson on AVERAGE ranks, which outlier-heavy columns (prices,
    * latencies, counts) need. Exact in integers: the doubled average
    * rank of a tie block is 2·cum_before + cnt + 1 — an integer — so
    * every moment sum rides DECIMAL(38,0) (bound: Σ(2r)² products stay
    * in 38 digits to ~10⁹ rows per group) and the closing Pearson is
    * the one fixed-order IEEE formula the autocorrelation uses, 9-dec
    * rounded. Degenerate groups (constant x or y → zero rank variance)
    * read NULL, not NaN.
    *
    * Plan shape: per variable one map-side-combined (group, value)
    * collapse + ONE grouped window over the collapsed table (the
    * [[wasserstein1]] shape), then two equi-joins attach the rank of
    * each row's value and one grouped aggregate closes — the rank
    * tables are distinct-value-sized, never row-sized. */
  def spearman(df: DataFrame, groupCol: String, xCol: String,
               yCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val rows = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(groupCol).as("__g"), col(xCol).as("__x"),
        col(yCol).as("__y"))
    def ranks(vCol: String, out: String) = {
      val w = Window.partitionBy(col("__g")).orderBy(col(vCol))
        .rowsBetween(Window.unboundedPreceding, -1)
      rows.groupBy(col("__g"), col(vCol)).agg(count(lit(1)).as("__c"))
        .select(col("__g"), col(vCol),
          (lit(2L) * coalesce(sum(col("__c")).over(w), lit(0L)) +
            col("__c") + lit(1L)).as(out))
    }
    val withR = rows
      .join(ranks("__x", "__rx"), Seq("__g", "__x"))
      .join(ranks("__y", "__ry"), Seq("__g", "__y"))
    val agg = withR.groupBy(col("__g").as(groupCol)).agg(
      count(lit(1)).as("n"),
      sum(col("__rx").cast(dec)).as("__sx"),
      sum(col("__ry").cast(dec)).as("__sy"),
      sum(col("__rx").cast(dec) * col("__ry")).as("__sxy"),
      sum(col("__rx").cast(dec) * col("__rx")).as("__sxx"),
      sum(col("__ry").cast(dec) * col("__ry")).as("__syy"))
    val num = (col("n").cast(dec) * col("__sxy") -
      col("__sx") * col("__sy")).cast("double")
    val vx = (col("n").cast(dec) * col("__sxx") -
      col("__sx") * col("__sx")).cast("double")
    val vy = (col("n").cast(dec) * col("__syy") -
      col("__sy") * col("__sy")).cast("double")
    agg.select(col(groupCol), col("n"),
      when(vx > 0 && vy > 0, round(num / sqrt(vx * vy), 9))
        .otherwise(lit(null).cast("double")).as("spearman"))
  }

  /** Exact Kendall τ-b per group — the third member of the rank trio
    * beside [[spearman]] (monotone association via ranks) and
    * [[mannWhitney]] (two-sample dominance): the PAIRWISE concordance
    * score, with the tie-adjusted τ-b denominator, in exact integer
    * arithmetic end-to-end.
    *
    *   τ-b = (C − D) / √((n₀ − n₁)(n₀ − n₂)),   n₀ = n(n−1)/2,
    *   n₁/n₂ = Σ t(t−1)/2 over x-/y-tie groups.
    *
    * Everything reduces to the collapsed (x, y) CELL table first:
    * C − D = Σ over cell pairs with xₐ < x_b of cₐ·c_b·sign(y_b − yₐ)
    * (one equi-join on the group key with the lexicographic pair
    * predicate in-join — each unordered pair visited once), and the
    * tie terms come from the x- and y-MARGINAL counts (two
    * aggregates), never from pairs. All sums DECIMAL(38,0); the close
    * is one IEEE division rounded to 9.
    *
    * Scale contract (the fixed-bin [[psi]] argument): the pair join is
    * quadratic in DISTINCT CELLS per group — domain-sized, not
    * row-sized. Quantize wide-domain values to buckets first (prices →
    * fixed price bands, …); τ on quantized values is τ of the
    * quantized ordering, stated in the output by construction. A 50×20
    * cell grid costs ~0.5M cheap pair rows per group; raw
    * double-precision values would cost rows² — don't. That contract
    * is now LOUD, not documentation-only: any group whose distinct
    * (x, y) cell count exceeds `maxCells` raises at the pair-join scan
    * (the positiveWeight / hits limb-wrap convention) instead of
    * silently running a rows²-shaped join — the default 10k cells caps
    * a group's pair join at ~50M cheap integer rows; callers with a
    * deliberately wide quantized grid raise `maxCells` explicitly.
    * Output: (groupCol, n, n_cells, tau_b). */
  def kendallTau(df: DataFrame, groupCol: String, xCol: String,
                 yCol: String, maxCells: Int = 10000): DataFrame = {
    require(maxCells > 0, s"maxCells must be positive, got $maxCells")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    // cut: feeds marginals AND the pair join
    val cells = OpCaches.cutNow(
      df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
        .select(col(groupCol).as("__g"), col(xCol).as("__x"),
          col(yCol).as("__y"))
        .groupBy(col("__g"), col("__x"), col("__y"))
        .agg(count(lit(1)).as("__c")))
    // loud cells-cap guard: count cells per group (group-count-sized,
    // broadcast onto the checkpointed cell table) and raise BEFORE the
    // quadratic pair join sees an over-cap group — the guard rides the
    // __ca projection, so it evaluates at the join's scan side
    val ncg = cells.groupBy(col("__g")).agg(count(lit(1)).as("__ncg"))
    val a = cells.join(broadcast(ncg), Seq("__g")).select(
      col("__g"), col("__x").as("__xa"), col("__y").as("__ya"),
      when(col("__ncg") > maxCells, raise_error(concat(
          lit("kendallTau: group "), col("__g").cast("string"),
          lit(" has "), col("__ncg").cast("string"),
          lit(s" distinct (x, y) cells > maxCells=$maxCells — quantize" +
            " wide domains first, or raise maxCells deliberately"))))
        .otherwise(col("__c")).as("__ca"))
    val b = cells.select(col("__g").as("__gb"), col("__x").as("__xb"),
      col("__y").as("__yb"), col("__c").as("__cb"))
    // x-tied pairs contribute neither C nor D: only xa < xb pairs join
    // (each unordered distinct-x pair exits once, from its lower-x side)
    // __ca casts to DECIMAL(38,0) BEFORE the product (the oracle's
    // HUGEINT-first convention) — a long·long product of huge cell
    // counts could wrap silently, violating the loud-overflow rule
    val cd = a.join(b, col("__g") === col("__gb") &&
        col("__xa") < col("__xb"))
      .groupBy(col("__g"))
      .agg(sum((col("__ca").cast(dec) * col("__cb")) *
          signum(col("__yb") - col("__ya")).cast("long")).as("__cd"))
    def tiePairs(vCol: String, out: String) = cells
      .groupBy(col("__g"), col(vCol)).agg(sum(col("__c")).as("__t"))
      .groupBy(col("__g"))
      .agg(sum((col("__t").cast(dec) * (col("__t") - 1)) / 2).as(out))
    val marg = cells.groupBy(col("__g"))
      .agg(sum(col("__c")).as("__n"), count(lit(1)).as("__ncells"))
      .join(tiePairs("__x", "__tx"), Seq("__g"))
      .join(tiePairs("__y", "__ty"), Seq("__g"))
    val n0 = (col("__n").cast(dec) * (col("__n") - 1)) / 2
    val den = (n0 - col("__tx")).cast("double") *
      (n0 - col("__ty")).cast("double")
    marg.join(cd, Seq("__g"), "left")
      .select(col("__g").as(groupCol), col("__n").as("n"),
        col("__ncells").as("n_cells"),
        when(den > 0, round(
            coalesce(col("__cd"), lit(0L).cast(dec)).cast("double") /
              sqrt(den), 9))
          .otherwise(lit(null).cast("double")).as("tau_b"))
  }

  def keySkew(df: DataFrame, keyCol: String, k: Int = 20): DataFrame = {
    require(k > 0)
    val total = df.select(count(lit(1)).as("__total"))
    df.groupBy(col(keyCol))
      .agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .select(col(keyCol), col("cnt"),
        (col("cnt").cast("double") / col("__total")).as("share"))
      .orderBy(col("cnt").desc, col(keyCol))
      .limit(k)
  }

  /** Shared exact-integer moment machinery of [[covarianceExact]] /
    * [[covarianceExactBy]]: inputs scale to UNSCALED integers
    * xi = x·10^scale (one decimal cast — exact whenever x carries
    * ≤ `scale` fractional digits, and never at a rounding tie for
    * binary-double inputs), every sum and numerator is then pure
    * integer arithmetic in DECIMAL widths chosen so neither Spark's
    * precision-loss scale reduction nor DuckDB's width-38 cap can
    * round anything, and the ONLY float operations are the final
    * int→double conversion plus one division by the exact power of
    * ten — the identical two-step both engines perform, so outputs
    * agree bit-for-bit (the r18 fix: the former DECIMAL(38,4)-sum
    * form was exact in value but Spark and DuckDB rounded the
    * decimal→double conversion through different intermediate scales,
    * diverging by one ulp on some corpora).
    *
    * Integer-width bounds (documented contract, loud in the widths):
    * |x|·10^scale < 1e14, Σ|x|·10^scale < 1e18, Σ(x·y)·10^2scale
    * < 1e25, n < 1e12 — comfortable for profiling scans at 100 TB
    * with sane scales; beyond them the computation goes LOUD, never
    * silently wrong: under ANSI mode (the Spark 4 default) the per-row
    * decimal cast RAISES on overflow; with ANSI off it NULLs just that
    * row's xi and sum() would silently SKIP it while n still counts it
    * (r18 ADVICE) — so the aggregate also counts the surviving xi/yi
    * rows and NULLs every output whenever either count disagrees
    * with n. */
  private def covarianceMoments(df: DataFrame, groupCols: Seq[String],
                                xCol: String, yCol: String,
                                scale: Int): DataFrame = {
    require(scale >= 0 && scale <= 11, "scale must be in [0, 11]")
    val one = "1" + "0" * scale
    def toInt(c: String) =
      expr(s"CAST(CAST($c AS DECIMAL(${14 + scale},$scale)) * " +
        s"CAST($one AS DECIMAL(${scale + 1},0)) AS DECIMAL(18,0))")
    val base = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(groupCols.map(col) :+ toInt(xCol).as("__xi") :+
        toInt(yCol).as("__yi"): _*)
    val grouped =
      if (groupCols.isEmpty) base.groupBy()
      else base.groupBy(groupCols.map(col): _*)
    // per-row products are (18,0)×(18,0)=(37,0), sums cap at (38,0) —
    // all exact; the n·Σ products cast through (12,0)×(25,0)=(38,0)
    val agg = grouped.agg(
      count(lit(1)).as("n"),
      // NULL inputs were filtered above, so a NULL __xi/__yi can ONLY
      // be a per-row decimal-cast overflow — these counts disagreeing
      // with n is the exact (and cheap, same aggregation pass)
      // overflow detector.
      count(col("__xi")).as("__nx"), count(col("__yi")).as("__ny"),
      sum(col("__xi")).as("__sx"), sum(col("__yi")).as("__sy"),
      sum(col("__xi") * col("__yi")).as("__sxy"),
      sum(col("__xi") * col("__xi")).as("__sxx"),
      sum(col("__yi") * col("__yi")).as("__syy"))
    import org.apache.spark.sql.types.DecimalType
    val nD = col("n").cast(DecimalType(12, 0))
    def s18(c: String) = col(c).cast(DecimalType(18, 0))
    def s25(c: String) = col(c).cast(DecimalType(25, 0))
    val p1 = math.pow(10, scale)      // exact doubles for scale <= 11
    val p2 = math.pow(10, 2 * scale)
    val ok = col("__nx") === col("n") && col("__ny") === col("n")
    def loud(c: Column) = when(ok, c)  // overflow anywhere -> all NULL
    agg.select(groupCols.map(col) ++ Seq(col("n"),
      loud(col("__sx").cast("double") / p1).as("sum_x"),
      loud(col("__sy").cast("double") / p1).as("sum_y"),
      loud((nD * s25("__sxy") - s18("__sx") * s18("__sy")).cast("double") / p2)
        .as("cov_num"),
      loud((nD * s25("__sxx") - s18("__sx") * s18("__sx")).cast("double") / p2)
        .as("var_num_x"),
      loud((nD * s25("__syy") - s18("__sy") * s18("__sy")).cast("double") / p2)
        .as("var_num_y")): _*)
  }

  /** Engine-exact pairwise linear-relationship report between two
    * numeric columns: n, the moment sums, and the covariance/variance
    * NUMERATORS n·Σxy − Σx·Σy (and the per-column variance twins) —
    * every intermediate exact integer arithmetic, no IEEE accumulation
    * order anywhere, so two engines (or two partitionings) agree
    * bit-for-bit (see [[covarianceMoments]] for the exact-integer
    * contract and width bounds). Pearson's r is one driver-side
    * `covNum / sqrt(varNumX·varNumY)` away; published in exact
    * numerator form because THAT is the part a distributed engine can
    * get wrong (float sums drift with partition order) — the final
    * sqrt is a local scalar. One aggregation pass, no shuffle beyond
    * the single global aggregate. NULL rows (either side) drop. */
  def covarianceExact(df: DataFrame, xCol: String, yCol: String,
                      scale: Int = 4): DataFrame =
    covarianceMoments(df, Nil, xCol, yCol, scale)

  /** [[covarianceExact]] per group — "does the x→y relationship hold
    * in every segment, or is one source driving it" (the grouped
    * refutation of a spurious pooled correlation). Same exact
    * arithmetic; one hash aggregation on the group keys. */
  def covarianceExactBy(df: DataFrame, groupCols: Seq[String],
                        xCol: String, yCol: String,
                        scale: Int = 4): DataFrame = {
    require(groupCols.nonEmpty)
    covarianceMoments(df, groupCols, xCol, yCol, scale)
  }

  /** k-anonymity audit over quasi-identifier columns: every
    * quasi-identifier COMBINATION occurring in fewer than `k` rows,
    * with its count — the re-identification risk report a governance
    * pass runs before releasing grouped data (a combination shared by
    * < k individuals singles people out). One hash aggregation on the
    * quasi columns; output is violation-sized, empty = k-anonymous.
    * NULLs group as values (SQL GROUP BY semantics), matching how a
    * release would bucket them. */
  def kAnonymityViolations(df: DataFrame, quasiCols: Seq[String],
                           k: Long): DataFrame = {
    require(quasiCols.nonEmpty && k >= 2)
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"))
      .filter(col("n_rows") < k)
  }

  /** l-diversity audit — [[kAnonymityViolations]]' necessary companion:
    * a k-anonymous group is still attackable when everyone in it shares
    * the SAME sensitive value (homogeneity attack — group size says
    * nothing about what the group reveals). Reports every
    * quasi-identifier combination whose count of DISTINCT sensitive
    * values falls below `l`, with group size and the diversity count.
    * One hash aggregation (count + count_distinct on the quasi keys);
    * output is violation-sized, empty = l-diverse. */
  def lDiversityViolations(df: DataFrame, quasiCols: Seq[String],
                           sensitiveCol: String, l: Long): DataFrame = {
    require(quasiCols.nonEmpty && l >= 2)
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        count_distinct(col(sensitiveCol)).as("n_distinct_sensitive"))
      .filter(col("n_distinct_sensitive") < l)
  }

  /** EXACT heavy hitters with sketch-bounded shuffle: every value of
    * `keyCol` whose count strictly exceeds n/(k+1) (n = non-null rows),
    * with its exact count and corpus share.
    *
    * Two passes, neither shuffling the full key space — the point at
    * 100 TB where `keyCol` is an n-gram or URL with billions of
    * distincts and [[keySkew]]'s full `groupBy` shuffles every one of
    * them:
    *   1. a Misra–Gries summary
    *      ([[graft.functions.MisraGriesAggregator]]) reduces each
    *      partition to ≤ k entries before the exchange and is a
    *      GUARANTEED superset of every key above the threshold; its ≤ k
    *      candidate keys are collected (bounded model state, the
    *      kmeans-centroid pattern, not a data collect);
    *   2. an exact count restricted to those candidates — non-candidates
    *      collapse into one NULL group, so the map-side combine emits at
    *      most k+1 rows per task — then the threshold filter
    *      `cnt·(k+1) > n` in exact integer arithmetic.
    *
    * The sketch's order-dependent weights never reach the output: the
    * superset guarantee + exact filter make the result deterministic
    * and engine-portable (same rows as a full grouped count with
    * `HAVING cnt*(k+1) > n`). NULL keys are excluded. */
  def heavyHitters(df: DataFrame, keyCol: String, k: Int = 20): DataFrame = {
    require(k > 0)
    val spark = df.sparkSession
    import spark.implicits._
    val keys = df.filter(col(keyCol).isNotNull)
      .select(col(keyCol).cast("string").as("__key"))
    val summary = keys.as[String]
      .select(new graft.functions.MisraGriesAggregator(k).toColumn)
      .head()
    val cand = summary.keys.toSeq.sorted
    val grouped = keys
      .groupBy(when(col("__key").isin(cand: _*), col("__key")).as(keyCol))
      .agg(count(lit(1)).as("cnt"))
    val total = grouped.agg(sum(col("cnt")).as("__n"))
    grouped.crossJoin(broadcast(total))
      .filter(col(keyCol).isNotNull && col("cnt") * (k + 1) > col("__n"))
      .select(col(keyCol), col("cnt"),
        (col("cnt").cast("double") / col("__n")).as("share"))
      .orderBy(col("cnt").desc, col(keyCol))
  }

  /** Per-group EXACT heavy hitters — the values of `keyCol` whose count
    * within their `groupCol` group strictly exceeds n_group/(k+1) — the
    * trending-tokens-per-source / hot-URLs-per-domain shape.
    *
    * Same two-pass contract as [[heavyHitters]], grouped: pass 1 runs
    * the Misra–Gries udaf per group (the map-side partial carries ≤ k
    * entries per group per task — never the group's key space; the
    * superset guarantee holds per group because each group's summary
    * merges only its own partials), pass 2 semi-joins the input to the
    * exploded candidate pairs — an equi-join on (group, key), linear —
    * and exact-counts only those, with per-group totals (one small
    * grouped count) joined for the threshold. Candidates here never
    * touch the driver, unlike the global variant's bounded collect.
    * NULL keys are excluded; NULL groups form their own group. */
  def heavyHittersByGroup(df: DataFrame, groupCol: String, keyCol: String,
                          k: Int = 20): DataFrame = {
    require(k > 0)
    val mg = udaf(new graft.functions.MisraGriesAggregator(k),
      org.apache.spark.sql.Encoders.STRING)
    val keyed = df.filter(col(keyCol).isNotNull)
      .select(col(groupCol).as("__g"), col(keyCol).cast("string").as("__key"))
    val cand = keyed.groupBy(col("__g"))
      .agg(mg(col("__key")).as("__cand"))
      .select(col("__g"), explode(map_keys(col("__cand"))).as("__key"))
    val totals = keyed.groupBy(col("__g")).agg(count(lit(1)).as("__n"))
    // joins on the group must be NULL-SAFE (<=>): a NULL group is a
    // legitimate group here, and plain equality would silently drop its
    // candidates at both the semi-join and the totals join
    val counted = keyed.join(cand,
        keyed("__g") <=> cand("__g") && keyed("__key") === cand("__key"),
        "left_semi")
      .groupBy(col("__g"), col("__key"))
      .agg(count(lit(1)).as("cnt"))
    counted.join(totals, counted("__g") <=> totals("__g"))
      .filter(col("cnt") * (k + 1) > col("__n"))
      .select(counted("__g").as(groupCol), col("__key").as(keyCol),
        col("cnt"),
        (col("cnt").cast("double") / col("__n")).as("share"))
      .orderBy(col(groupCol), col("cnt").desc, col(keyCol))
  }

  /** Benford first-digit audit: the observed leading-digit distribution
    * of a positive numeric column against Benford's law — the classic
    * screen for fabricated or truncated numeric data (organically grown
    * magnitudes follow log(1+1/d); generator artifacts, caps and
    * padding do not). Values below 1 are excluded (no leading digit in
    * Benford's sense). One aggregation to nine rows; the leading digit
    * comes from the decimal rendering, so no float log10 edge cases.
    * Shares and the expected-law values round to 9 places with the same
    * fixed arithmetic on both engines. */
  def benford(df: DataFrame, valueCol: String): DataFrame = {
    val v = col(valueCol)
    // floor-then-cast: a straight double->long cast truncates in Spark
    // but rounds in some engines — floor makes the value integral first
    val digit = substring(floor(v).cast("long").cast("string"), 1, 1)
      .cast("long")
    df.filter(v.isNotNull && v >= 1)
      .groupBy(digit.as("digit"))
      .agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(
        df.filter(v.isNotNull && v >= 1).agg(count(lit(1)).as("__n"))))
      .select(col("digit"), col("cnt"),
        round(col("cnt").cast("double") / col("__n"), 9).as("share"),
        round(log(lit(1.0) + lit(1.0) / col("digit")) / log(lit(10.0)), 9)
          .as("expected"))
  }

  /** Pairwise categorical-dependence audit: the pointwise mutual
    * information of every observed (colA, colB) value pair against the
    * independence baseline — the screen for confounded corpus columns
    * (is `lang` just a proxy for `source`? does a label leak through a
    * shard key?). Positive cells mark over-represented combinations;
    * the count-weighted sum of `pmi` is the columns' mutual
    * information. Cells with either value NULL are excluded (NULLs are
    * a missingness question, not a dependence one).
    *
    * Three aggregations on one pass family (cell counts + both
    * marginals re-aggregated from the cells, same keys — co-located),
    * marginal joins on the value keys, N as a one-row broadcast. The
    * pmi is one ln of an integer ratio, rounded to 9 places — the
    * engine-exact arithmetic the other association ops use. */
  def mutualInformation(df: DataFrame, colA: String, colB: String)
      : DataFrame = {
    val cells = df
      .filter(col(colA).isNotNull && col(colB).isNotNull)
      .groupBy(col(colA), col(colB)).agg(count(lit(1)).as("n"))
    val ma = cells.groupBy(col(colA)).agg(sum("n").as("__ca"))
    val mb = cells.groupBy(col(colB)).agg(sum("n").as("__cb"))
    val tot = cells.agg(sum("n").as("__N"))
    cells.join(ma, colA).join(mb, colB).crossJoin(broadcast(tot))
      .select(col(colA), col(colB), col("n"),
        round(log(col("n").cast("double") * col("__N") /
          (col("__ca").cast("double") * col("__cb"))), 9).as("pmi"))
  }

  /** Per-group winsorization report: clip `valueCol` to its group's
    * exact [pLo, pHi] percentiles and report what the clip did — row
    * count, clipped-low/high counts, and the mean before/after — the
    * outlier-robustification step run on a numeric feature (doc length,
    * score) before it feeds a threshold or a mixing weight, plus the
    * audit trail that says how much the clip moved the distribution.
    *
    * Two aggregates over one shuffle key: the grouped exact-percentile
    * pass (state bounded by distinct values per group, not rows), then
    * the clip + re-aggregate with the boundaries joined back on the
    * group key — a broadcast join at any realistic group count. Clipped
    * values are doubles, so their sum rides a Decimal(18,6) cast and
    * surfaces as double: order-independent, exact across engines.
    * Means round to 9 places, the repo's transcendental-double rule. */
  def winsorize(df: DataFrame, groupCol: String, valueCol: String,
                pLo: Double = 0.05, pHi: Double = 0.95): DataFrame = {
    require(0 <= pLo && pLo < pHi && pHi <= 1,
      s"need 0 <= pLo < pHi <= 1, got [$pLo, $pHi]")
    val v = col(valueCol).cast("double")
    val bounds = df.groupBy(col(groupCol))
      .agg(percentile(v, lit(pLo)).as("__lo"),
           percentile(v, lit(pHi)).as("__hi"))
    val clipped = greatest(col("__lo"), least(col("__hi"), v))
    def decSum(c: org.apache.spark.sql.Column) =
      sum(c.cast(org.apache.spark.sql.types.DecimalType(18, 6)))
        .cast("double")
    df.join(broadcast(bounds), Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
           sum(when(v < col("__lo"), 1L).otherwise(0L)).as("n_clipped_lo"),
           sum(when(v > col("__hi"), 1L).otherwise(0L)).as("n_clipped_hi"),
           decSum(v).as("__sum_before"),
           decSum(clipped).as("__sum_after"))
      .select(col(groupCol), col("n"), col("n_clipped_lo"),
        col("n_clipped_hi"),
        round(col("__sum_before") / col("n"), 9).as("mean_before"),
        round(col("__sum_after") / col("n"), 9).as("mean_after"))
  }

  /** Per-group Gini coefficient of an integer `valueCol` — the
    * concentration audit behind "is 1% of sources contributing 90% of
    * the tokens?": 0 = perfectly even, →1 = all mass on one row. Uses
    * the rank formulation G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx) over the
    * group-ascending sort, which is EXACT integer arithmetic until the
    * closing division — engine- and layout-independent (ties swap equal
    * x between ranks, leaving Σ i·xᵢ unchanged).
    *
    * Plan shape: one shuffle on the group key (the rank window), then a
    * groups-sized aggregate — grouped windows scale with the group, not
    * the corpus. Products stay in Long: rank·value ≤ rows/group ×
    * max(value); overflow would need ~10⁹ rows of 10⁹-sized values in
    * ONE group — cast `valueCol` down or pre-aggregate first if a group
    * can hold that. NULL and negative values are excluded (the Lorenz
    * construction needs a non-negative measure). */
  def gini(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val v = col(valueCol).cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(v)
    df.filter(v.isNotNull && v >= 0)
      .select(col(groupCol), v.as("__x"),
        row_number().over(w).cast("long").as("__i"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
           sum(col("__x")).as("sum_value"),
           sum(col("__i") * col("__x")).as("__w"))
      .filter(col("sum_value") > 0)
      .select(col(groupCol), col("n"), col("sum_value"),
        round((lit(2L) * col("__w") - (col("n") + 1L) * col("sum_value"))
          .cast("double") / (col("n") * col("sum_value")).cast("double"), 9)
          .as("gini"))
  }

  /** Cohen's kappa between two boolean raters — the agreement audit run
    * before trusting a cheap heuristic label against a reference one
    * (are the char-length screen and the token-count screen the same
    * rater in disguise, or genuinely independent checks?). Per group:
    * the 2×2 contingency counts, observed agreement `po`, chance
    * agreement `pe`, and κ = (po − pe)/(1 − pe); κ is NULL when the
    * raters are degenerate (pe = 1: both constant). Rows where either
    * rater abstains (NULL) are excluded.
    *
    * One grouped aggregation — the contingency cells are four boolean
    * sums in a single pass, so the whole audit costs one shuffle on the
    * group key with map-side partial aggregation. The ratios are single
    * IEEE divisions of exact integer counts, rounded to 9 places. */
  def cohenKappa(df: DataFrame, groupCol: String,
                 raterA: org.apache.spark.sql.Column,
                 raterB: org.apache.spark.sql.Column): DataFrame = {
    val a = raterA.cast("boolean")
    val b = raterB.cast("boolean")
    def cell(p: org.apache.spark.sql.Column) =
      sum(when(p, 1L).otherwise(0L))
    val g = df.filter(a.isNotNull && b.isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
           cell(a && b).as("n11"), cell(a && !b).as("n10"),
           cell(!a && b).as("n01"), cell(!a && !b).as("n00"))
    val nD = col("n").cast("double")
    val po = (col("n11") + col("n00")).cast("double") / nD
    val pe = ((col("n11") + col("n10")) * (col("n11") + col("n01")) +
              (col("n01") + col("n00")) * (col("n10") + col("n00")))
      .cast("double") / (nD * nD)
    g.select(col(groupCol), col("n"), col("n11"), col("n10"),
      col("n01"), col("n00"),
      round(po, 9).as("po"), round(pe, 9).as("pe"),
      when(pe < 1.0, round((po - pe) / (lit(1.0) - pe), 9)).as("kappa"))
  }

  /** Tukey-fence outlier census per group: the exact interpolated
    * quartiles, the 1.5·IQR fences, and how many rows fall outside
    * each — the distribution-shape complement of [[winsorize]] (which
    * clips): it answers "how contaminated is this column?" before
    * anyone decides a clip policy. Fences, not z-scores, because the
    * quartiles are robust to the very outliers being counted.
    *
    * Two aggregates on ONE shuffle key: the grouped exact-percentile
    * pass (state bounded by distinct values per group), then the fence
    * comparison re-aggregated with the bounds broadcast back on the
    * group key. Counts are exact integers; the fence values are the
    * IEEE interpolation both engines share, rounded to 9 places only
    * for display (comparisons use the unrounded bound). */
  def iqrOutliers(df: DataFrame, groupCol: String, valueCol: String,
                  k: Double = 1.5): DataFrame = {
    require(k >= 0, s"fence multiplier must be non-negative, got $k")
    val v = col(valueCol).cast("double")
    val bounds = df.filter(v.isNotNull).groupBy(col(groupCol))
      .agg(percentile(v, lit(0.25)).as("__q1"),
           percentile(v, lit(0.75)).as("__q3"))
      .select(col(groupCol), col("__q1"), col("__q3"),
        (col("__q1") - lit(k) * (col("__q3") - col("__q1"))).as("__lo"),
        (col("__q3") + lit(k) * (col("__q3") - col("__q1"))).as("__hi"))
    df.filter(v.isNotNull).join(broadcast(bounds), Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
           sum(when(v < col("__lo"), 1L).otherwise(0L)).as("n_low"),
           sum(when(v > col("__hi"), 1L).otherwise(0L)).as("n_high"),
           first(col("__q1")).as("__q1f"),
           first(col("__q3")).as("__q3f"))
      .select(col(groupCol), col("n"), col("n_low"), col("n_high"),
        round(col("__q1f"), 9).as("q1"),
        round(col("__q3f"), 9).as("q3"))
  }

  /** In-plan count-min sketch with a per-key audit — point-frequency
    * estimation as a MERGEABLE d×w counter table instead of driver
    * state: `depth` hash rows of `width` counters each, built by one
    * explode + aggregate (the sketch is just a (row, bucket, count)
    * DataFrame, so shards' sketches union+re-aggregate into the
    * corpus sketch — the property that makes CMS the streaming /
    * distributed frequency structure). The probe side reads each
    * key's `depth` counters and takes the min; the output row is the
    * EXACT count (so the result is engine-checkable) plus the CMS
    * verdict: est ≥ exact (structural) and est ≤ exact + ⌈(e/w)·N⌉
    * (the Cormode–Muthukrishnan overestimate bound at the sketch's
    * ε). A failing verdict means the width is undersized for the key
    * cardinality — the sizing signal, not an error.
    *
    * Hash family: xxhash64 seeded by the row index — codegen'd, no
    * UDF. Both the sketch (d·w rows) and the probe join are bounded;
    * the only corpus-sized steps are the two linear aggregations. */
  /** The CMS hash family: `depth` (row, bucket) coordinates per key,
    * xxhash64 seeded by the row index — codegen'd, shared by the batch
    * builder, the probe, and the streaming twin so their sketches are
    * interchangeable. */
  private[graft] def cmsBuckets(key: org.apache.spark.sql.Column,
                                width: Int, depth: Int) = array(
    (0 until depth).map(i => struct(lit(i).as("i"),
      pmod(xxhash64(lit(i), key), lit(width.toLong)).as("b"))): _*)

  /** Build the d×w CMS counter table over `keyCol`: one explode + one
    * aggregate; output ≤ d·w rows of (i, b, c). Sketches over shards
    * (or stream windows) union + re-aggregate into the corpus sketch —
    * the mergeability that makes CMS the distributed frequency
    * structure. */
  def cmsSketch(df: DataFrame, keyCol: String, width: Int = 1024,
                depth: Int = 5): DataFrame = {
    require(width > 0 && depth > 0, s"need positive w/d, got $width/$depth")
    val k = col(keyCol)
    df.filter(k.isNotNull)
      .select(explode(cmsBuckets(k, width, depth)).as("h"))
      .groupBy(col("h.i").as("i"), col("h.b").as("b"))
      .agg(count(lit(1)).as("c"))
  }

  /** Probe a [[cmsSketch]] table: each key in `keys` reads its `depth`
    * counters and estimates min over them (absent counter rows read as
    * 0 — the sketch is stored sparse). `width`/`depth` must match the
    * build. The join is equi on (i, b) against a ≤ d·w-row table —
    * broadcastable at any sane sketch size. */
  def cmsProbe(keys: DataFrame, sketch: DataFrame, keyCol: String,
               width: Int = 1024, depth: Int = 5): DataFrame = {
    require(width > 0 && depth > 0, s"need positive w/d, got $width/$depth")
    keys.filter(col(keyCol).isNotNull)
      .select(col(keyCol).as("key")).distinct()
      .select(col("key"),
        explode(cmsBuckets(col("key"), width, depth)).as("h"))
      .join(broadcast(sketch),
        col("h.i") === col("i") && col("h.b") === col("b"), "left")
      .groupBy(col("key"))
      .agg(min(coalesce(col("c"), lit(0L))).as("est"))
  }

  /** In-plan count-min sketch with a per-key audit — point-frequency
    * estimation as a MERGEABLE d×w counter table instead of driver
    * state (build: [[cmsSketch]]; read: [[cmsProbe]]). The output row
    * is the EXACT count (so the result is engine-checkable) plus the
    * CMS verdict: est ≥ exact (structural) and est ≤ exact +
    * ⌈(e/w)·N⌉ (the Cormode–Muthukrishnan overestimate bound at the
    * sketch's ε). A failing verdict means the width is undersized for
    * the key cardinality — the sizing signal, not an error. */
  def cmsCheckedCounts(df: DataFrame, keyCol: String, width: Int = 1024,
                       depth: Int = 5): DataFrame = {
    val rows = df.filter(col(keyCol).isNotNull)
    val exact = rows.groupBy(col(keyCol).as("key"))
      .agg(count(lit(1)).as("cnt"))
    val tot = rows.agg(count(lit(1)).as("__N"))
    exact
      .join(cmsProbe(rows, cmsSketch(rows, keyCol, width, depth),
        keyCol, width, depth), "key")
      .crossJoin(broadcast(tot))
      .select(col("key"), col("cnt"),
        (col("est") >= col("cnt") &&
          (col("est") - col("cnt")).cast("double") <=
            ceil(lit(math.E / width) * col("__N")).cast("double"))
          .as("cms_ok"))
  }

  /** Equi-join cardinality pre-flight from two CMS sketches — the AMS/
    * CMS inner-product estimate (Cormode & Muthukrishnan 2005, §4.2):
    * |A ⋈ B on k| = Σ_k cntA(k)·cntB(k), estimated WITHOUT touching the
    * key space as min over the `depth` hash rows of
    * Σ_b cA[i][b]·cB[i][b]. The planner's sizing probe before
    * committing to a join strategy (broadcast? salt? bloom-prefilter?)
    * on two 100 TB inputs: each side reduces to a ≤ d·w-row mergeable
    * sketch (streamable, shard-unionable), and the estimate is a
    * d·w-row join — no key-space shuffle. Collisions only ADD, so
    * est ≥ exact structurally; the ε-bound verdict
    * (est ≤ exact + ⌈(e/w)·Na·Nb⌉) failing is the width-sizing signal.
    * Output (one row): n_a, n_b, exact_join_rows, overest_ok,
    * bound_ok — the exact count makes the row engine-checkable; the
    * hash-dependent estimate stays out of it, like
    * [[cmsCheckedCounts]]. */
  def cmsJoinSize(a: DataFrame, keyA: String, b: DataFrame, keyB: String,
                  width: Int = 1024, depth: Int = 5): DataFrame = {
    val ra = a.filter(col(keyA).isNotNull)
    val rb = b.filter(col(keyB).isNotNull)
    val sa = cmsSketch(ra, keyA, width, depth)
      .withColumnRenamed("c", "ca")
    val sb = cmsSketch(rb, keyB, width, depth)
      .withColumnRenamed("c", "cb")
    // min over ALL depth rows: a hash row with no shared buckets has
    // inner product 0, so fewer than `depth` grouped rows ⇒ est = 0
    val est = sa.join(sb, Seq("i", "b"))
      .groupBy(col("i")).agg(sum(col("ca") * col("cb")).as("__ip"))
      .agg(count(lit(1)).as("__rows"), min(col("__ip")).as("__min"))
      .select(when(col("__rows") < depth, lit(0L))
        .otherwise(col("__min")).as("est"))
    val exact = ra.groupBy(col(keyA).as("__k"))
      .agg(count(lit(1)).as("__na"))
      .join(rb.groupBy(col(keyB).as("__k"))
        .agg(count(lit(1)).as("__nb")), "__k")
      .agg(coalesce(sum(col("__na") * col("__nb")), lit(0L))
        .as("exact_join_rows"))
    val tots = ra.agg(count(lit(1)).as("n_a"))
      .crossJoin(rb.agg(count(lit(1)).as("n_b")))
    tots.crossJoin(broadcast(exact)).crossJoin(broadcast(est))
      .select(col("n_a"), col("n_b"), col("exact_join_rows"),
        (col("est") >= col("exact_join_rows")).as("overest_ok"),
        ((col("est") - col("exact_join_rows")).cast("double") <=
          ceil(lit(math.E / width) * col("n_a").cast("double") *
            col("n_b")).cast("double")).as("bound_ok"))
  }

  /** Operating-point picker for a score-gated filter: the LOWEST score
    * threshold whose kept set still meets a target precision on a
    * labeled sample — i.e. the most-coverage cut that satisfies the
    * quality bar, the number a corpus-filter rollout actually deploys
    * ([[calibration]] says whether to trust the score; this says where
    * to cut it). Target arrives in basis points so the comparison is
    * exact integers (10000·cum_pos ≥ bp·cum_n) — no float precision
    * boundary. Rows collapse per distinct score (bounded state), ONE
    * descending window computes the cumulative precision curve, and
    * the answer is the max-coverage qualifying cut. Output: one row
    * (threshold, n_kept, n_pos_kept, precision) — empty when no cut
    * meets the bar. */
  def thresholdForPrecision(df: DataFrame, scoreCol: String,
                            labelCol: String,
                            targetBp: Int): DataFrame = {
    require(targetBp > 0 && targetBp <= 10000,
      s"target is basis points in (0, 10000], got $targetBp")
    val byScore = df
      .filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .groupBy(round(col(scoreCol).cast("double"), 9).as("threshold"))
      .agg(count(lit(1)).as("__n"),
        sum(when(col(labelCol).cast("boolean"), 1L).otherwise(0L))
          .as("__p"))
    val w = Window.orderBy(col("threshold").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byScore
      .select(col("threshold"),
        sum(col("__n")).over(w).as("n_kept"),
        sum(col("__p")).over(w).as("n_pos_kept"))
      .filter(col("n_pos_kept") * 10000 >= lit(targetBp.toLong) *
        col("n_kept"))
      .orderBy(col("n_kept").desc, col("threshold"))
      .limit(1)
      .select(col("threshold"), col("n_kept"), col("n_pos_kept"),
        round(col("n_pos_kept").cast("double") / col("n_kept"), 9)
          .as("kept_precision"))
  }

  /** Full precision–recall operating curve of a score against a boolean
    * label, PER GROUP — the artifact the point tools project from:
    * [[auc]] says whether the score ranks at all,
    * [[thresholdForPrecision]] picks ONE deployable cut,
    * [[calibration]] says whether to trust the magnitude; this is the
    * whole curve those are views of, one row per distinct (group,
    * rounded score): keeping everything scored ≥ that threshold,
    * (n_kept, n_pos_kept, precision, recall). Rows collapse per
    * distinct 9-dec-rounded score first (the
    * [[thresholdForPrecision]] bounded-state contract — curve length
    * is score-DOMAIN-sized, quantize a raw continuous score before
    * calling), ONE descending group-partitioned window walks the
    * cumulative counts, and the two fractions are 9-dec-rounded IEEE
    * divisions of exact integers. Groups with zero positives read
    * NULL recall (no denominator), precision still defined. NULL
    * scores/labels drop. Output: (groupCol, threshold, n_kept,
    * n_pos_kept, precision, recall), descending thresholds. */
  def prCurve(df: DataFrame, groupCol: String, scoreCol: String,
              labelCol: String): DataFrame = {
    val byScore = df
      .filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .groupBy(col(groupCol).as("__g"),
        round(col(scoreCol).cast("double"), 9).as("threshold"))
      .agg(count(lit(1)).as("__n"),
        sum(when(col(labelCol).cast("boolean"), 1L).otherwise(0L))
          .as("__p"))
    val w = Window.partitionBy(col("__g"))
      .orderBy(col("threshold").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(col("__g"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    byScore
      .select(col("__g").as(groupCol), col("threshold"),
        sum(col("__n")).over(w).as("n_kept"),
        sum(col("__p")).over(w).as("n_pos_kept"),
        sum(col("__p")).over(tot).as("__tp"))
      .select(col(groupCol), col("threshold"), col("n_kept"),
        col("n_pos_kept"),
        round(col("n_pos_kept").cast("double") / col("n_kept"), 9)
          .as("precision"),
        when(col("__tp") > 0,
          round(col("n_pos_kept").cast("double") / col("__tp"), 9))
          .otherwise(lit(null).cast("double")).as("recall"))
  }

  /** Doc-level diff between two corpus SNAPSHOTS — the crawl-regression
    * audit ([[graft.sources.ManifestTable.diff]] answers "which FILES
    * changed between versions"; this answers "which DOCUMENTS", for any
    * two corpora regardless of storage): per id, `added` (after only),
    * `removed` (before only), `changed` (both, content fingerprint
    * differs), `unchanged`. Content compares by the engine-portable
    * [[graft.operators.TextAnalysis.fingerprint]] polynomial hash, so
    * (a) the full-outer join shuffles (id, one long) — text never
    * rides the exchange, the 100 TB shape — and (b) a DuckDB oracle
    * replays the verdict bit-for-bit (a hash collision reads
    * `unchanged` on BOTH engines; at mod 1e9+7 that risk is the
    * documented price of the narrow shuffle). NULL texts fingerprint
    * NULL and compare via null-safe equality, so two NULL-text
    * snapshots of a doc read `unchanged`. Output: (idCol, status). */
  def snapshotDiff(before: DataFrame, after: DataFrame,
                   idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    def side(df: DataFrame, id: String, fp: String) =
      df.select(col(idCol).as(id),
        TextAnalysis.fingerprint(col(textCol)).as(fp))
    side(before, "__ib", "__fb")
      .join(side(after, "__ia", "__fa"),
        col("__ib") === col("__ia"), "full_outer")
      .select(coalesce(col("__ib"), col("__ia")).as(idCol),
        when(col("__ib").isNull, lit("added"))
          .when(col("__ia").isNull, lit("removed"))
          .when(!(col("__fa") <=> col("__fb")), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
  }

  /** Reliability / calibration table for a [0, 1] score against a
    * boolean outcome — the table behind a reliability diagram and ECE:
    * rows bucket by ⌊score·bins⌋ (top-clamped), each bucket reports n,
    * mean predicted score, observed positive rate, and the signed gap.
    * A well-calibrated scorer keeps |gap| small in every populated
    * bucket; systematic sign says over/under-confidence. The ML-ops
    * check a quality/toxicity/language classifier gets before its
    * threshold is trusted to gate a corpus. One scan, one |bins|-row
    * aggregation; engine-exact (9-dec rounds, DECIMAL sums,
    * fixed-order division). */
  def calibration(df: DataFrame, scoreCol: String, labelCol: String,
                  bins: Int = 10): DataFrame = {
    require(bins > 0, s"need positive bins, got $bins")
    val s = col(scoreCol).cast("double")
    val dec = org.apache.spark.sql.types.DecimalType(28, 9)
    df.filter(s.isNotNull && col(labelCol).isNotNull)
      .select(
        least(floor(s * bins).cast("long"), lit(bins - 1L)).as("bin"),
        round(s, 9).as("__s"),
        when(col(labelCol).cast("boolean"), 1L).otherwise(0L).as("__y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("__s").cast(dec)).cast("double") / count(lit(1)), 9)
          .as("mean_score"),
        round(sum(col("__y")).cast("double") / count(lit(1)), 9)
          .as("pos_rate"))
      .withColumn("gap", round(col("mean_score") - col("pos_rate"), 9))
  }

  /** Pearson χ² test of independence between two categorical columns —
    * the one-number sibling of [[mutualInformation]] (which localizes
    * dependence to cells; this says whether the table as a whole could
    * plausibly be independent). Reports N, the observed-cell count,
    * the degrees of freedom (R−1)(C−1), and the χ² statistic; compare
    * against the caller's critical value for the test proper. Absent
    * cells (observed 0) contribute their expectation; the identity
    * Σ_absent e = N − Σ_present e folds them in without materializing
    * the dense R×C grid, so a high-cardinality pair can't explode the
    * plan. NULL-carrying rows are excluded.
    *
    * Everything derives from the observed-cell table (one corpus
    * aggregation): marginals re-aggregate from cells on the same keys,
    * N broadcasts, and the per-cell terms round to 9 places and sum as
    * DECIMAL(38,9) — layout- and engine-exact. */
  def chi2Independence(df: DataFrame, colA: String, colB: String)
      : DataFrame = {
    val cells = df
      .filter(col(colA).isNotNull && col(colB).isNotNull)
      .groupBy(col(colA).as("__a"), col(colB).as("__b"))
      .agg(count(lit(1)).as("__o"))
    val ma = cells.groupBy(col("__a")).agg(sum("__o").as("__ca"))
    val mb = cells.groupBy(col("__b")).agg(sum("__o").as("__cb"))
    val tot = cells.agg(sum("__o").as("__N"),
      count_distinct(col("__a")).as("__R"),
      count_distinct(col("__b")).as("__C"))
    val e = col("__ca").cast("double") * col("__cb") / col("__N")
    def decSum(c: org.apache.spark.sql.Column) =
      sum(c.cast(org.apache.spark.sql.types.DecimalType(38, 9)))
        .cast("double")
    cells.join(ma, "__a").join(mb, "__b").crossJoin(broadcast(tot))
      .agg(first(col("__N")).as("n"),
           count(lit(1)).as("n_cells"),
           first((col("__R") - 1) * (col("__C") - 1)).as("dof"),
           decSum(round(pow(col("__o") - e, 2) / e, 9)).as("__present"),
           decSum(round(e, 9)).as("__e_present"))
      .select(col("n"), col("n_cells"), col("dof"),
        round(col("__present") +
          (col("n").cast("double") - col("__e_present")), 9).as("chi2"))
  }

  /** Per-group quantile normalization: each row's value mapped to its
    * exact percent-rank (rank−1)/(n−1) within the group — the
    * rank-based feature scaling that makes scores comparable ACROSS
    * sources with different scales before they feed a shared
    * threshold or mixing weight (min-max scaling would let one
    * outlier compress everyone else). Ties share the same rank (the
    * `rank` function's gap semantics — equal values MUST normalize
    * equally or the tie-break leaks into the feature); single-row
    * groups normalize to 0.
    *
    * One grouped window (shuffle on the group key, sort within), the
    * closing division rounded to 9. Output keeps the id so the
    * normalized column joins back losslessly. */
  def quantileNormalize(df: DataFrame, groupCol: String, idCol: String,
                        valueCol: String): DataFrame = {
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(valueCol))
    df.filter(col(valueCol).isNotNull)
      .select(col(groupCol), col(idCol), col(valueCol),
        rank().over(w).cast("long").as("__r"),
        count(lit(1)).over(Window.partitionBy(col(groupCol))).as("__n"))
      .select(col(groupCol), col(idCol), col(valueCol),
        when(col("__n") > 1L, round((col("__r") - 1L).cast("double") /
          (col("__n") - 1L), 9)).otherwise(lit(0.0)).as("qnorm"))
  }

  /** Pareto coverage point — the "80/20" answer [[gini]] compresses
    * away: how many of the heaviest groups cover `target` of the total
    * weight, and the exact share those groups hold. One row:
    * (n_groups, n_top, share). The capacity/curation headline ("6 of
    * 20 sources are 80% of the corpus — dedup those first").
    *
    * Group sums are exact integers; the cumulative walk runs in ONE
    * unpartitioned window over the GROUP-SUM table — bounded by the
    * group count, never the corpus (same justification as the
    * tf-distribution window in the Zipf fit). Deterministic ordering
    * by (weight desc, group); the threshold compare is integer-exact
    * (cum·1 ≥ target·total evaluated as cum ≥ target·total in double
    * on both engines — identical operands, identical verdict). */
  def paretoCoverage(df: DataFrame, groupCol: String, weightCol: String,
                     target: Double = 0.8): DataFrame = {
    require(target > 0 && target <= 1, s"target in (0,1], got $target")
    val sums = df
      .filter(col(groupCol).isNotNull && col(weightCol).isNotNull)
      .groupBy(col(groupCol).as("__g"))
      .agg(sum(col(weightCol).cast("long")).as("__s"))
    val order = Window.orderBy(col("__s").desc, col("__g"))
    val cum = sums.select(col("__s"),
      sum(col("__s")).over(order.rowsBetween(
        Window.unboundedPreceding, Window.currentRow)).as("__cum"),
      row_number().over(order).cast("long").as("__k"))
    val tot = sums.agg(count(lit(1)).as("n_groups"),
      sum(col("__s")).as("__tot"))
    cum.crossJoin(broadcast(tot))
      .filter(col("__cum").cast("double") >=
        lit(target) * col("__tot").cast("double"))
      .groupBy(col("n_groups"), col("__tot"))
      .agg(min(col("__k")).as("n_top"),
        min_by(col("__cum"), col("__k")).as("__cumAt"))
      .select(col("n_groups"), col("n_top"),
        round(col("__cumAt").cast("double") /
          when(col("__tot") > 0, col("__tot").cast("double")), 9)
          .as("share"))
  }

  /** Fact-to-header reconciliation: does the parent's stored total
    * equal the sum of its children's amounts? The financial-close
    * audit (order total vs line extended prices, invoice vs postings)
    * that catches silent drops and double-loads an FK check can't
    * see. Reports parent counts (total, with children, mismatched at
    * `relTol`+), and the worst relative difference; parents with no
    * children always count as mismatched (their total reconciles
    * against nothing).
    *
    * Child sums ride DECIMAL(18,6) — order-independent — and join the
    * parents on the key (one shuffle each side); the closing census
    * is a one-row aggregate. The relative difference is rounded to 9
    * BEFORE the tolerance compare, so the verdict set is engine-
    * exact. */
  def reconcile(parent: DataFrame, parentKey: String, parentVal: String,
                child: DataFrame, childKey: String, childVal: String,
                relTol: Double = 0.01): DataFrame = {
    require(relTol >= 0, s"tolerance must be non-negative, got $relTol")
    val sums = child.filter(col(childKey).isNotNull)
      .groupBy(col(childKey).as("__k"))
      .agg(sum(col(childVal).cast(
        org.apache.spark.sql.types.DecimalType(18, 6)))
        .cast("double").as("__cs"))
    // exact equality (incl. both zero) reconciles even when the
    // relative scale is undefined; otherwise a zero parent total with
    // nonzero children has no relative measure -> NULL -> mismatched
    val rel = when(col("__pv") === col("__cs"), lit(0.0))
      .otherwise(round(abs(col("__pv") - col("__cs")) /
        when(abs(col("__pv")) > 0.0, abs(col("__pv"))), 9))
    parent.filter(col(parentKey).isNotNull)
      .select(col(parentKey).as("__k"),
        col(parentVal).cast("double").as("__pv"))
      .join(sums, Seq("__k"), "left")
      .select(col("__pv"),
        col("__cs").isNotNull.as("__has"),
        when(col("__cs").isNull, lit(true))
          .otherwise(rel.isNull || rel > relTol).as("__bad"),
        rel.as("__rel"))
      .agg(count(lit(1)).as("n_parents"),
        // coalesce: sums over ZERO parents are NULL; an empty relation
        // reconciles vacuously with zero counts
        coalesce(sum(when(col("__has"), 1L).otherwise(0L)), lit(0L))
          .as("n_with_children"),
        coalesce(sum(when(col("__bad"), 1L).otherwise(0L)), lit(0L))
          .as("n_mismatched"),
        max(col("__rel")).as("__worst"))
      .select(col("n_parents"), col("n_with_children"),
        col("n_mismatched"), round(col("__worst"), 9).as("worst_rel_diff"))
  }

  /** Referential-integrity audit for one child→parent relation: total
    * child rows, NULL foreign keys (excluded from orphan counting —
    * they're NotNull's finding), orphan ROWS and orphan KEYS (rows
    * whose key exists nowhere in the parent) — the pre-join health
    * check that explains why a fact table silently shrinks through an
    * inner join. `relation` labels the output row so several audits
    * union into one report.
    *
    * One anti-join against the DISTINCT parent keys (column-pruned to
    * the key before the exchange; broadcast when the parent key set is
    * small) plus one child-side aggregate — no corpus joins beyond the
    * key columns. */
  def refIntegrity(child: DataFrame, childKey: String, parent: DataFrame,
                   parentKey: String, relation: String): DataFrame = {
    val keys = child.select(col(childKey).as("__k"))
    val orphans = keys.filter(col("__k").isNotNull)
      .join(parent.select(col(parentKey).as("__k")).distinct(),
        Seq("__k"), "left_anti")
    val base = keys.agg(count(lit(1)).as("n_child"),
      sum(when(col("__k").isNull, 1L).otherwise(0L)).as("n_null_keys"))
    val orp = orphans.agg(count(lit(1)).as("n_orphan_rows"),
      count_distinct(col("__k")).as("n_orphan_keys"))
    base.crossJoin(broadcast(orp))
      .select(lit(relation).as("relation"), col("n_child"),
        col("n_null_keys"), col("n_orphan_rows"), col("n_orphan_keys"))
  }

  /** MAD robust outlier census per group: the median absolute
    * deviation scale (median of |x − median|) and how many rows sit
    * beyond k·MAD of the median — the robust z-score complement of
    * [[iqrOutliers]] (MAD tolerates up to 50% contamination where the
    * quartile fences break down around 25%). Groups whose MAD is 0
    * (a majority-constant column) report the off-median count
    * instead of dividing by zero — the degenerate answer that is
    * actually wanted there.
    *
    * Two grouped exact-percentile aggregates on ONE shuffle key (the
    * median, then the deviation median with the median broadcast
    * back), then the census re-aggregate — three passes, all keyed by
    * the group, no corpus sort. Counts are exact integers; the
    * reported median/MAD are the engines' shared interpolation,
    * rounded to 9 for display only. */
  def madOutliers(df: DataFrame, groupCol: String, valueCol: String,
                  k: Double = 3.0): DataFrame = {
    require(k > 0, s"scale multiplier must be positive, got $k")
    val v = col(valueCol).cast("double")
    val med = df.filter(v.isNotNull).groupBy(col(groupCol))
      .agg(percentile(v, lit(0.5)).as("__med"))
    val mad = df.filter(v.isNotNull).join(broadcast(med), Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(first(col("__med")).as("__med"),
           percentile(abs(v - col("__med")), lit(0.5)).as("__mad"))
    df.filter(v.isNotNull).join(broadcast(mad), Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(when(abs(v - col("__med")) > lit(k) * col("__mad"), 1L)
          .otherwise(0L)).as("n_outliers"),
        first(round(col("__med"), 9)).as("median"),
        first(round(col("__mad"), 9)).as("mad"))
  }

  /** Per-group linear trend: the least-squares slope of `yCol` on
    * `xCol` within each group — "is this segment's metric growing?"
    * asked of every segment in one pass (traffic per event type over
    * hour index, quality per source over ingest day). Returns each
    * group's point count and slope; groups whose x values all coincide
    * get NULL (no determined line).
    *
    * One grouped aggregation — the four regression sums ride the
    * rounded-DECIMAL(38,9) rule, so partial aggregation is map-side
    * combined AND the result is layout/engine-exact; the closing
    * normal equation is per-group scalar arithmetic. The determinant
    * guard scales with the ulp of the subtraction's operands
    * (ε·n·|Σxx|, ε ≫ double ulp) so rounding residue at large x
    * magnitudes can't fabricate a slope, while legitimate
    * tight-spread fits (consecutive epoch hours) still resolve. */
  def groupedTrend(df: DataFrame, groupCol: String, xCol: String,
                   yCol: String): DataFrame = {
    val xd = col(xCol).cast("double")
    val yd = col(yCol).cast("double")
    val x = round(xd, 9)
    val y = round(yd, 9)
    def decSum(c: org.apache.spark.sql.Column) =
      sum(c.cast(org.apache.spark.sql.types.DecimalType(38, 9)))
        .cast("double")
    val s = df.filter(xd.isNotNull && yd.isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_points"),
        decSum(x).as("__sx"), decSum(y).as("__sy"),
        decSum(round(x * x, 9)).as("__sxx"),
        decSum(round(x * y, 9)).as("__sxy"))
    val nD = col("n_points").cast("double")
    val det = nD * col("__sxx") - col("__sx") * col("__sx")
    s.select(col(groupCol), col("n_points"),
      when(det > lit(1e-13) * nD * abs(col("__sxx")) + lit(1e-6), round(
        (nD * col("__sxy") - col("__sx") * col("__sy")) / det, 9))
        .as("slope"))
  }

  /** Log–log least-squares fit of `yCol` on `xCol` over positive
    * points — the power-law exponent estimator (ln y = slope·ln x + c).
    * Run it on a degree histogram and the slope is the scale-free
    * exponent that says whether hubs exist (and therefore whether the
    * skew treatments are mandatory); on a frequency table it is the
    * generic Zipf/Heaps-style fit. Returns the point count and the
    * slope (NULL when all x coincide — no determined line).
    *
    * The per-point terms round to 9 places and sum as DECIMAL(38,9) —
    * the repo's order-independent regression arithmetic — so one
    * global aggregate closes the fit; nothing sorts, nothing windows. */
  def loglogFit(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val xd = col(xCol).cast("double")
    val yd = col(yCol).cast("double")
    val x = round(log(xd), 9)
    val y = round(log(yd), 9)
    def decSum(c: org.apache.spark.sql.Column) =
      sum(c.cast(org.apache.spark.sql.types.DecimalType(38, 9)))
        .cast("double")
    val s = df.filter(xd > 0 && yd > 0)
      .agg(count(lit(1)).as("n_points"),
        decSum(x).as("__sx"), decSum(y).as("__sy"),
        decSum(round(x * x, 9)).as("__sxx"),
        decSum(round(x * y, 9)).as("__sxy"))
    val nD = col("n_points").cast("double")
    val det = nD * col("__sxx") - col("__sx") * col("__sx")
    s.select(col("n_points"),
      when(det > 1e-6, round(
        (nD * col("__sxy") - col("__sx") * col("__sy")) / det, 9))
        .as("slope"))
  }

  /** Fixed-width histogram of a numeric column: bucket = ⌊v / width⌋
    * over the caller-chosen width — the layout-independent profile
    * plot (data-derived bounds would make the buckets drift between
    * runs; a FIXED width keeps time-series of histograms comparable,
    * which is what drift monitoring wants). Reports each occupied
    * bucket's count and inclusive value range; empty buckets are
    * absent (sparse by construction, so a pathological column can't
    * explode the output).
    *
    * One grouped aggregation on the bucket key — map-side combined,
    * output bounded by occupied buckets. Integer bucket ids from a
    * single floor-divide; min/max are exact pass-through values. */
  def equiWidthHistogram(df: DataFrame, valueCol: String,
                         width: Double): DataFrame = {
    require(width > 0, s"bucket width must be positive, got $width")
    val v = col(valueCol).cast("double")
    df.filter(v.isNotNull)
      .groupBy(floor(v / lit(width)).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
           min(v).as("min_value"), max(v).as("max_value"))
  }

  /** Deterministic Poisson-bootstrap percentile confidence interval for
    * a per-group mean — the cluster-scale resampling design: instead of
    * multinomial resampling (which needs the group size n and a
    * row-numbering pass before any replicate can draw), each row draws
    * an INDEPENDENT Poisson(1) replication weight per replicate, so the
    * whole bootstrap is one stateless map over the data. The classic
    * large-scale approximation: a multinomial(n, 1/n) marginal is
    * Binomial(n, 1/n) → Poisson(1) as n grows.
    *
    * Seedless and engine-exact: replicate b of row key k draws its
    * uniform from the Knuth multiplicative hash pmod((k·reps + b) ·
    * 2654435761, 2³²) — the repo's shared coin ([[graft.operators.Mixing.hashSample]]
    * family) — and inverts the Poisson(1) CDF by comparing that 32-bit
    * integer against PRECOMPUTED integer thresholds ⌊CDF(w)·2³²⌋ (the
    * tail mass beyond w = 8, ≈1.1·10⁻⁶, collapses onto w = 9). Pure
    * integer comparisons: no floating-point RNG, no libm, bit-identical
    * in any engine. Keys must be non-negative and small enough that
    * (k·reps + reps)·2654435761 < 2⁶³ — violations RAISE at the scan
    * (the positiveWeight convention) instead of silently wrapping into
    * a correlated stream.
    *
    * Replicate means use the house exact arithmetic (terms rounded to
    * 9 places, DECIMAL(38,9) sums, one IEEE division rounded to 9);
    * the interval is the percentile method on the replicate means:
    * ci_lo = the ⌈(α/2)·n_boot⌉-th smallest, ci_hi its symmetric twin
    * (n_boot + 1 − that rank), replicate index breaking ties so the
    * selection is total. Replicates whose total weight is 0 (possible
    * only for tiny groups) drop out of the order statistics; n_boot
    * reports the survivors.
    *
    * Scale: one explode (reps× rows, map-side — no shuffle carries the
    * blow-up: the (group, replicate) aggregate partial-combines before
    * its exchange), then a reps-bounded window per group. The data is
    * scanned twice (the point-estimate aggregate and the replicate
    * pass — fusing them would thread every raw row through the explode
    * for no shuffle saving); everything downstream of the two scans is
    * groups×reps-sized. Output: (groupCol, n, mean, n_boot, ci_lo,
    * ci_hi). */
  def bootstrapCI(df: DataFrame, groupCol: String, keyCol: String,
                  valueCol: String, reps: Int = 48,
                  alpha: Double = 0.05): DataFrame = {
    require(reps >= 8 && reps <= 4096,
      s"reps must be in [8, 4096], got $reps")
    require(alpha > 0 && alpha < 1, s"alpha must be in (0, 1), got $alpha")
    val dec = org.apache.spark.sql.types.DecimalType(38, 9)
    // largest key whose every replicate product stays inside a long
    val maxKey = (Long.MaxValue / 2654435761L - reps - 1) / reps
    val key = when(col(keyCol).isNull || col(keyCol) < 0 ||
        col(keyCol) > maxKey,
      raise_error(concat(
        lit(s"bootstrapCI: resampling key must be in [0, $maxKey], got "),
        col(keyCol).cast("string"))))
      .otherwise(col(keyCol).cast("long"))
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"), key.as("__k"),
        round(col(valueCol).cast("double"), 9).as("__v"))
    val pt = base.groupBy(col("__g"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("__v").cast(dec)).cast("double") / count(lit(1)), 9)
          .as("mean"))
    // ⌊CDF(w)·2³²⌋ for Poisson(1), w = 0..8; u ≥ last ⇒ w = 9
    val thresholds = Seq(1580030168L, 3160060337L, 3950075421L,
      4213413783L, 4279248373L, 4292415291L, 4294609777L, 4294923276L,
      4294962463L)
    val u = pmod((col("__k") * reps + col("__b")) * lit(2654435761L),
      lit(4294967296L))
    val wgt = thresholds.zipWithIndex.foldRight(
        lit(9L): org.apache.spark.sql.Column) {
      case ((t, i), rest) => when(u < lit(t), lit(i.toLong)).otherwise(rest)
    }
    val rep = base
      .withColumn("__b", explode(sequence(lit(1), lit(reps))))
      .select(col("__g"), col("__b"), wgt.as("__w"), col("__v"))
      .groupBy(col("__g"), col("__b"))
      .agg(sum(col("__w")).as("__sw"),
        sum(round(col("__w") * col("__v"), 9).cast(dec)).as("__swx"))
      .filter(col("__sw") > 0)
      .select(col("__g"), col("__b"),
        round(col("__swx").cast("double") / col("__sw"), 9).as("__m"))
    val wOrd = Window.partitionBy(col("__g"))
      .orderBy(col("__m").asc, col("__b").asc)
    val wAll = Window.partitionBy(col("__g"))
    val loRank = ceil(lit(alpha / 2) * col("__nb")).cast("long")
    val ci = rep
      .withColumn("__rn", row_number().over(wOrd).cast("long"))
      .withColumn("__nb", count(lit(1)).over(wAll))
      .groupBy(col("__g"))
      .agg(max(col("__nb")).as("n_boot"),
        min(when(col("__rn") === loRank, col("__m"))).as("ci_lo"),
        min(when(col("__rn") === col("__nb") + 1 - loRank, col("__m")))
          .as("ci_hi"))
    pt.join(ci, Seq("__g"), "left")
      .select(col("__g").as(groupCol), col("n"), col("mean"),
        coalesce(col("n_boot"), lit(0L)).as("n_boot"),
        col("ci_lo"), col("ci_hi"))
  }

  /** Benjamini–Hochberg FDR correction — the multiple-testing step
    * every experiment/metric platform runs after computing a BATCH of
    * p-values: rank the m tests by p, find the largest k with
    * p₍ₖ₎ ≤ k·q/m, declare tests 1..k significant, and report the
    * step-up adjusted p (the reverse running min of m·p/rank, capped
    * at 1 — monotone by construction). Works on any p-LIKE score in
    * (0, 1] whose ordering matches evidence strength; ties break by
    * test id so the selection is total.
    *
    * The two windows are UNPARTITIONED by nature (the procedure is a
    * global rank over the test battery) and run over the TESTS table —
    * m rows, the number of hypotheses, never data rows
    * (WindowLintSpec-registered boundedness). The k* scalar broadcasts
    * back. All comparisons are single IEEE expressions both engines
    * evaluate identically; adjusted p rounds to 9. Output: (testCol,
    * p, rank, p_adj, significant). */
  def benjaminiHochberg(df: DataFrame, testCol: String, pCol: String,
                        q: Double = 0.05): DataFrame = {
    require(q > 0 && q < 1, s"q must be in (0, 1), got $q")
    val p = col(pCol).cast("double")
    // the battery materializes ONCE (m rows — the number of hypotheses,
    // bounded by definition): the rank table and the k* scalar both
    // consume it, and WITHOUT the cut Catalyst may satisfy the BH
    // windows' single-partition requirement with ONE low exchange that
    // also serializes the (possibly heavy) upstream p-value
    // computation onto one core — measured 135 s vs 0.7 s on the
    // q_bh registration (SURVEY §6.6e)
    val base = OpCaches.cutNow(df.filter(p.isNotNull && p > 0 && p <= 1)
      .select(col(testCol).as("__t"), p.as("__p")))
    val wUp = Window.orderBy(col("__p").asc, col("__t").asc)
    val wDown = Window.orderBy(col("__p").desc, col("__t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = base
      .withColumn("__i", row_number().over(wUp).cast("long"))
      .withColumn("__m", count(lit(1)).over(
        Window.partitionBy(lit(1))))
      .withColumn("__padj", round(least(lit(1.0),
        min(col("__p") * col("__m") / col("__i")).over(wDown)), 9))
    val kstar = ranked
      .agg(coalesce(max(when(
        col("__p") <= col("__i") * lit(q) / col("__m"), col("__i"))),
        lit(0L)).as("__k"))
    ranked.crossJoin(broadcast(kstar))
      .select(col("__t").as(testCol), col("__p").as("p"),
        col("__i").as("rank"), col("__padj").as("p_adj"),
        (col("__i") <= col("__k")).as("significant"))
  }

  /** Fleiss' κ — chance-corrected agreement among MANY raters (the
    * multi-annotator generalization of [[cohenKappa]]'s two-rater
    * matrix): the number a labeling pipeline reports when several
    * annotators — or several LLM judges — categorize the same items,
    * answering "do they agree more than chance would?". Input is the
    * long (item, rater, category) table; raters-per-item may vary (the
    * generalized form: per-item agreement is the fraction of
    * concordant PAIRS, n_ij(n_ij−1)/(n_i(n_i−1))); items with fewer
    * than 2 ratings carry no pair and drop out (of both P̄ and the
    * chance marginals — the two sides must see the same item set or κ
    * is biased).
    *
    * Engine-exact: everything reduces to the (item, category) CELL
    * table (one map-side-combined aggregate, checkpointed — it feeds
    * the item sums AND the category marginals); pair counts are exact
    * integers; P_i, the category shares and their squares each round
    * to 9 and sum in DECIMAL; the closing κ division is one IEEE op
    * rounded to 9. Output: ONE row — (n_items, n_ratings, p_bar, p_e,
    * kappa); κ is NULL when P_e = 1 (a single category — agreement is
    * undefined, not perfect). */
  def fleissKappa(df: DataFrame, itemCol: String, raterCol: String,
                  catCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 9)
    val cells = OpCaches.cutNow(df
      .filter(col(itemCol).isNotNull && col(raterCol).isNotNull &&
        col(catCol).isNotNull)
      .groupBy(col(itemCol).as("__i"), col(catCol).as("__c"))
      .agg(count(lit(1)).as("__n")))
    val items = cells.groupBy(col("__i"))
      .agg(sum(col("__n")).as("__ni"),
        sum(col("__n") * (col("__n") - 1)).as("__agree"))
      .filter(col("__ni") >= 2)
    val pbar = items
      .select(col("__i"), col("__ni"),
        round(col("__agree").cast("double") /
          (col("__ni") * (col("__ni") - 1)).cast("double"), 9).as("__pi"))
      .agg(count(lit(1)).as("n_items"),
        coalesce(sum(col("__ni")), lit(0L)).as("n_ratings"),
        sum(col("__pi").cast(dec)).as("__pisum"))
    val kept = cells.join(items.select(col("__i")), Seq("__i"), "left_semi")
    val tot = kept.agg(sum(col("__n")).as("__tot"))
    val pe = kept.groupBy(col("__c")).agg(sum(col("__n")).as("__cj"))
      .crossJoin(broadcast(tot))
      .select(round(col("__cj").cast("double") /
        col("__tot").cast("double"), 9).as("__pj"))
      .select(round(col("__pj") * col("__pj"), 9).as("__pj2"))
      .agg(sum(col("__pj2").cast(dec)).as("__pesum"))
    pbar.crossJoin(broadcast(pe))
      .select(col("n_items"), col("n_ratings"),
        round(col("__pisum").cast("double") / col("n_items"), 9)
          .as("p_bar"), col("__pesum").cast("double").as("p_e"),
        when(lit(1.0) - col("__pesum").cast("double") > 0, round(
          (round(col("__pisum").cast("double") / col("n_items"), 9) -
            col("__pesum").cast("double")) /
          (lit(1.0) - col("__pesum").cast("double")), 9))
          .as("kappa"))
  }
}
