package graft
package queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.SparkEntry.{docsSpread, t}
import graft.operators.Ngrams

/** Profiling queries: column profiles, sketches, drift, outlier
  * censuses, rank statistics, agreement, least-squares fits (Zipf,
  * Heaps, power law, trend) and constraint validation. */
object ProfilingQueries {

  private val family = "profiling"

  /** The Mann–Whitney collapse over orders per priority `g`: side a is
    * o_orderkey % 2 = `a`, side b the other parity; per distinct price
    * `v` the side counts (ca, cb) and `cumbp`, the b-count above v. */
  private def priorityRanks(a: Int): String =
    s"""WITH s AS (
       |  SELECT o_orderpriority AS g, o_totalprice AS v,
       |    CASE WHEN o_orderkey % 2 = $a THEN 1 ELSE 0 END AS sa,
       |    CASE WHEN o_orderkey % 2 = ${1 - a} THEN 1 ELSE 0 END AS sb
       |  FROM orders WHERE o_totalprice IS NOT NULL),
       |pv AS (SELECT g, v, SUM(sa) AS ca, SUM(sb) AS cb
       |       FROM s GROUP BY 1, 2),
       |w AS (SELECT g, ca, cb,
       |        COALESCE(SUM(cb) OVER (PARTITION BY g ORDER BY v
       |          ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0)
       |          AS cumbp
       |      FROM pv)""".stripMargin

  /** Two-sample category counts (CTEs `ca`, `cb` keyed by `key`)
    * full-outer-joined, and the opening select list of the add-one
    * smoothed shares both drift oracles compare. */
  private def smoothedShares(key: String): String =
    s"""j AS (SELECT COALESCE(ca.$key, cb.$key) AS $key,
       |        COALESCE(cnt_a, 0) AS cnt_a, COALESCE(cnt_b, 0) AS cnt_b
       |      FROM ca FULL OUTER JOIN cb ON ca.$key = cb.$key),
       |t AS (SELECT sum(cnt_a) AS ta, sum(cnt_b) AS tb, count(*) AS k
       |      FROM j)
       |SELECT $key, CAST(cnt_a AS BIGINT) AS cnt_a,
       |  CAST(cnt_b AS BIGINT) AS cnt_b,
       |  CAST(cnt_a + 1 AS DOUBLE) / (ta + k) AS share_a,
       |  CAST(cnt_b + 1 AS DOUBLE) / (tb + k) AS share_b""".stripMargin

  /** Exact least-squares sums over the (x, y) points of CTE `terms`,
    * each summed as DECIMAL(38,9) then read as DOUBLE. */
  private val fitSums: String =
    """        CAST(sum(CAST(x AS DECIMAL(38,9))) AS DOUBLE) AS sx,
      |        CAST(sum(CAST(y AS DECIMAL(38,9))) AS DOUBLE) AS sy,
      |        CAST(sum(CAST(round(x*x, 9) AS DECIMAL(38,9)))
      |          AS DOUBLE) AS sxx,
      |        CAST(sum(CAST(round(x*y, 9) AS DECIMAL(38,9)))
      |          AS DOUBLE) AS sxy
      |      FROM terms)""".stripMargin

  val all: Seq[Query] = Seq(

    // ---- E20 engine-exact covariance report: quantity vs price over
    // lineitem — DECIMAL moment sums, numerator-form cov/var (no IEEE
    // accumulation order anywhere), one global aggregate ----
    Query("q_covariance", family, (s, d) =>
      operators.Profiling.covarianceExact(t(s, d, "lineitem"),
        "l_quantity", "l_extendedprice"),
      // exact-integer moment form (r18): values scale to unscaled BIGINTs,
      // numerators stay exact in HUGEINT, and the ONLY float ops are the
      // final int->double conversion + one division by the power of ten —
      // the identical two-step the engine performs, so both sides agree
      // bit-for-bit (the old DECIMAL(38,4)-sum form rounded the
      // decimal->double conversion through different scales per engine).
      // The int->double hop goes VIA VARCHAR because DuckDB's direct
      // HUGEINT->DOUBLE converts the two 64-bit halves separately (two
      // roundings, off by one ulp on some values — measured at sf0.01);
      // string->double is correctly rounded, matching Spark's
      // BigDecimal.doubleValue exactly
      """WITH i AS (
        |  SELECT CAST(CAST(l_quantity AS DECIMAL(18,4)) * 10000 AS BIGINT) AS xi,
        |         CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * 10000 AS BIGINT) AS yi
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
        |m AS (
        |  SELECT COUNT(*) AS n, SUM(xi) AS sx, SUM(yi) AS sy,
        |    SUM(CAST(xi AS HUGEINT) * yi) AS sxy,
        |    SUM(CAST(xi AS HUGEINT) * xi) AS sxx,
        |    SUM(CAST(yi AS HUGEINT) * yi) AS syy
        |  FROM i)
        |SELECT n,
        |  CAST(CAST(sx AS VARCHAR) AS DOUBLE) / 1e4 AS sum_x,
        |  CAST(CAST(sy AS VARCHAR) AS DOUBLE) / 1e4 AS sum_y,
        |  CAST(CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS VARCHAR) AS DOUBLE) / 1e8 AS cov_num,
        |  CAST(CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS VARCHAR) AS DOUBLE) / 1e8 AS var_num_x,
        |  CAST(CAST(n * syy - CAST(sy AS HUGEINT) * sy AS VARCHAR) AS DOUBLE) / 1e8 AS var_num_y
        |FROM m""".stripMargin),

    // ---- E20 covariance per segment: the grouped refutation of a
    // spurious pooled correlation ----
    Query("q_covariance_by_flag", family, (s, d) =>
      operators.Profiling.covarianceExactBy(t(s, d, "lineitem"),
          Seq("l_returnflag"), "l_quantity", "l_extendedprice")
        .orderBy("l_returnflag"),
      """WITH i AS (
        |  SELECT l_returnflag,
        |    CAST(CAST(l_quantity AS DECIMAL(18,4)) * 10000 AS BIGINT) AS xi,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * 10000 AS BIGINT) AS yi
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
        |m AS (
        |  SELECT l_returnflag, COUNT(*) AS n, SUM(xi) AS sx, SUM(yi) AS sy,
        |    SUM(CAST(xi AS HUGEINT) * yi) AS sxy,
        |    SUM(CAST(xi AS HUGEINT) * xi) AS sxx,
        |    SUM(CAST(yi AS HUGEINT) * yi) AS syy
        |  FROM i GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  CAST(CAST(sx AS VARCHAR) AS DOUBLE) / 1e4 AS sum_x,
        |  CAST(CAST(sy AS VARCHAR) AS DOUBLE) / 1e4 AS sum_y,
        |  CAST(CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS VARCHAR) AS DOUBLE) / 1e8 AS cov_num,
        |  CAST(CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS VARCHAR) AS DOUBLE) / 1e8 AS var_num_x,
        |  CAST(CAST(n * syy - CAST(sy AS HUGEINT) * sy AS VARCHAR) AS DOUBLE) / 1e8 AS var_num_y
        |FROM m ORDER BY l_returnflag""".stripMargin),

    // ---- E20 k-anonymity audit: quasi-identifier combinations shared
    // by fewer than k=10 customers — the re-identification risk report
    // (35 violating groups of 125 at sf0.01) ----
    Query("q_k_anonymity", family, (s, d) =>
      operators.Profiling.kAnonymityViolations(t(s, d, "customer"),
          Seq("c_nationkey", "c_mktsegment"), k = 10L)
        .orderBy("c_nationkey", "c_mktsegment"),
      """SELECT c_nationkey, c_mktsegment, COUNT(*) AS n_rows
        |FROM customer GROUP BY 1, 2 HAVING COUNT(*) < 10
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin),

    // ---- E20 categorical-dependence audit: PMI of (lang, source)
    // cells against independence ----
    Query("q_mutual_info", family, (s, d) =>
      operators.Profiling.mutualInformation(t(s, d, "documents"),
          "lang", "source")
        .orderBy("lang", "source"),
      """WITH c AS (SELECT lang, source, count(*) AS n FROM documents
        |           WHERE lang IS NOT NULL AND source IS NOT NULL
        |           GROUP BY 1, 2),
        |ma AS (SELECT lang, CAST(sum(n) AS BIGINT) AS ca FROM c
        |       GROUP BY 1),
        |mb AS (SELECT source, CAST(sum(n) AS BIGINT) AS cb FROM c
        |       GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM c)
        |SELECT c.lang, c.source, n,
        |  round(ln(CAST(n AS DOUBLE) * nn
        |    / (CAST(ca AS DOUBLE) * cb)), 9) AS pmi
        |FROM c JOIN ma USING (lang) JOIN mb USING (source), t
        |ORDER BY c.lang, c.source""".stripMargin),

    // ---- E20 Benford first-digit screen over order totals ----
    Query("q_benford", family, (s, d) =>
      operators.Profiling.benford(t(s, d, "orders"), "o_totalprice")
        .orderBy("digit"),
      """WITH f AS (SELECT o_totalprice AS v FROM orders
        |           WHERE o_totalprice IS NOT NULL AND o_totalprice >= 1),
        |n AS (SELECT count(*) AS n FROM f)
        |SELECT CAST(substr(CAST(CAST(floor(v) AS BIGINT) AS VARCHAR),
        |    1, 1) AS BIGINT) AS digit,
        |  count(*) AS cnt,
        |  round(CAST(count(*) AS DOUBLE) / n.n, 9) AS share,
        |  round(ln(1.0 + 1.0 / CAST(substr(CAST(CAST(floor(v) AS BIGINT)
        |    AS VARCHAR), 1, 1) AS BIGINT)) / ln(10.0), 9) AS expected
        |FROM f, n GROUP BY 1, n.n ORDER BY 1""".stripMargin),

    // ---- E20 Lorenz concentration: Gini of document length per
    // source (is one source's mass dominated by a few giants?) ----
    Query("q_gini", family, (s, d) =>
      operators.Profiling.gini(t(s, d, "documents"), "source", "n_chars")
        .orderBy("source"),
      // exact integer arithmetic to the closing division (rank formula);
      // ties are sum-invariant, so the rank order-by needs no tiebreak
      """WITH r AS (SELECT source, n_chars AS x,
        |        CAST(row_number() OVER (PARTITION BY source
        |          ORDER BY n_chars) AS BIGINT) AS i
        |      FROM documents WHERE n_chars IS NOT NULL AND n_chars >= 0),
        |a AS (SELECT source, count(*) AS n,
        |        CAST(sum(x) AS BIGINT) AS sum_value,
        |        CAST(sum(i * x) AS BIGINT) AS w
        |      FROM r GROUP BY 1)
        |SELECT source, n, sum_value,
        |  round(CAST(2 * w - (n + 1) * sum_value AS DOUBLE)
        |    / CAST(n * sum_value AS DOUBLE), 9) AS gini
        |FROM a WHERE sum_value > 0 ORDER BY source""".stripMargin),

    // ---- E20 rater-agreement audit: Cohen's kappa between the
    // char-length screen and the token-count screen, per lang ----
    Query("q_kappa", family, (s, d) =>
      operators.Profiling.cohenKappa(t(s, d, "documents"), "lang",
          col("n_chars") >= 300, size(split(col("text"), " ")) >= 55)
        .orderBy("lang"),
      """WITH l AS (SELECT lang, n_chars >= 300 AS a,
        |        length(string_split(text, ' ')) >= 55 AS b
        |      FROM documents),
        |g AS (SELECT lang, count(*) AS n,
        |        CAST(sum(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT)
        |          AS n11,
        |        CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)
        |          AS BIGINT) AS n10,
        |        CAST(sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END)
        |          AS BIGINT) AS n01,
        |        CAST(sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END)
        |          AS BIGINT) AS n00
        |      FROM l WHERE a IS NOT NULL AND b IS NOT NULL GROUP BY 1)
        |SELECT lang, n, n11, n10, n01, n00,
        |  round(CAST(n11 + n00 AS DOUBLE) / n, 9) AS po,
        |  round(CAST((n11+n10)*(n11+n01) + (n01+n00)*(n10+n00) AS DOUBLE)
        |    / (CAST(n AS DOUBLE) * n), 9) AS pe,
        |  CASE WHEN CAST((n11+n10)*(n11+n01) + (n01+n00)*(n10+n00)
        |      AS DOUBLE) / (CAST(n AS DOUBLE) * n) < 1.0 THEN
        |    round((CAST(n11 + n00 AS DOUBLE) / n
        |        - CAST((n11+n10)*(n11+n01) + (n01+n00)*(n10+n00)
        |          AS DOUBLE) / (CAST(n AS DOUBLE) * n))
        |      / (1.0 - CAST((n11+n10)*(n11+n01) + (n01+n00)*(n10+n00)
        |          AS DOUBLE) / (CAST(n AS DOUBLE) * n)), 9)
        |  END AS kappa
        |FROM g ORDER BY lang""".stripMargin),

    // ---- E20 Tukey-fence outlier census (robust-quartile fences) ----
    Query("q_iqr_outliers", family, (s, d) =>
      operators.Profiling.iqrOutliers(t(s, d, "lineitem"),
          "l_returnflag", "l_extendedprice")
        .orderBy("l_returnflag"),
      // fences compare against the UNROUNDED interpolated quartiles;
      // only the reported q1/q3 round
      """WITH b AS (SELECT l_returnflag,
        |        quantile_cont(l_extendedprice, 0.25) AS q1,
        |        quantile_cont(l_extendedprice, 0.75) AS q3
        |      FROM lineitem WHERE l_extendedprice IS NOT NULL
        |      GROUP BY 1),
        |f AS (SELECT l_returnflag, q1, q3,
        |        q1 - 1.5 * (q3 - q1) AS lo, q3 + 1.5 * (q3 - q1) AS hi
        |      FROM b)
        |SELECT l.l_returnflag, count(*) AS n,
        |  CAST(sum(CASE WHEN l_extendedprice < lo THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_low,
        |  CAST(sum(CASE WHEN l_extendedprice > hi THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_high,
        |  round(f.q1, 9) AS q1, round(f.q3, 9) AS q3
        |FROM lineitem l JOIN f USING (l_returnflag)
        |WHERE l_extendedprice IS NOT NULL
        |GROUP BY l.l_returnflag, f.q1, f.q3
        |ORDER BY l.l_returnflag""".stripMargin),

    // ---- E20 χ² independence of (lang, source) — the one-number
    // sibling of q_mutual_info, absent cells folded in closed-form ----
    Query("q_chi2_indep", family, (s, d) =>
      operators.Profiling.chi2Independence(t(s, d, "documents"),
          "lang", "source")
        .orderBy("n"),
      // absent cells fold in via chi2 = Σ_present (o-e)²/e + (N - Σ_present e)
      """WITH c AS (SELECT lang AS a, source AS b, count(*) AS o
        |      FROM documents
        |      WHERE lang IS NOT NULL AND source IS NOT NULL
        |      GROUP BY 1, 2),
        |ma AS (SELECT a, CAST(sum(o) AS BIGINT) AS ca FROM c GROUP BY 1),
        |mb AS (SELECT b, CAST(sum(o) AS BIGINT) AS cb FROM c GROUP BY 1),
        |t AS (SELECT CAST(sum(o) AS BIGINT) AS n,
        |        count(DISTINCT a) AS r, count(DISTINCT b) AS cc FROM c)
        |SELECT t.n AS n, count(*) AS n_cells,
        |  CAST((t.r - 1) * (t.cc - 1) AS BIGINT) AS dof,
        |  round(CAST(sum(CAST(round(
        |      pow(o - CAST(ca AS DOUBLE) * cb / t.n, 2)
        |        / (CAST(ca AS DOUBLE) * cb / t.n), 9)
        |      AS DECIMAL(38,9))) AS DOUBLE)
        |    + (CAST(t.n AS DOUBLE)
        |      - CAST(sum(CAST(round(CAST(ca AS DOUBLE) * cb / t.n, 9)
        |        AS DECIMAL(38,9))) AS DOUBLE)), 9) AS chi2
        |FROM c JOIN ma USING (a) JOIN mb USING (b), t
        |GROUP BY t.n, t.r, t.cc ORDER BY n""".stripMargin),

    // ---- E20 referential-integrity audit: a clean FK relation and a
    // deliberately partial one (customers without event activity) ----
    Query("q_ref_integrity", family, (s, d) =>
      operators.Profiling.refIntegrity(t(s, d, "lineitem"), "l_orderkey",
          t(s, d, "orders"), "o_orderkey", "lineitem->orders")
        .unionByName(operators.Profiling.refIntegrity(t(s, d, "orders"),
          "o_custkey", t(s, d, "events"), "user_id",
          "orders->active_users"))
        .orderBy("relation"),
      """WITH r1 AS (SELECT 'lineitem->orders' AS relation,
        |    (SELECT count(*) FROM lineitem) AS n_child,
        |    (SELECT count(*) FROM lineitem WHERE l_orderkey IS NULL)
        |      AS n_null_keys,
        |    (SELECT count(*) FROM lineitem l
        |     WHERE l_orderkey IS NOT NULL AND NOT EXISTS
        |       (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        |      AS n_orphan_rows,
        |    (SELECT count(DISTINCT l_orderkey) FROM lineitem l
        |     WHERE l_orderkey IS NOT NULL AND NOT EXISTS
        |       (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        |      AS n_orphan_keys),
        |r2 AS (SELECT 'orders->active_users' AS relation,
        |    (SELECT count(*) FROM orders) AS n_child,
        |    (SELECT count(*) FROM orders WHERE o_custkey IS NULL)
        |      AS n_null_keys,
        |    (SELECT count(*) FROM orders r
        |     WHERE o_custkey IS NOT NULL AND NOT EXISTS
        |       (SELECT 1 FROM events e WHERE e.user_id = r.o_custkey))
        |      AS n_orphan_rows,
        |    (SELECT count(DISTINCT o_custkey) FROM orders r
        |     WHERE o_custkey IS NOT NULL AND NOT EXISTS
        |       (SELECT 1 FROM events e WHERE e.user_id = r.o_custkey))
        |      AS n_orphan_keys)
        |SELECT * FROM r1 UNION ALL SELECT * FROM r2
        |ORDER BY relation""".stripMargin),

    // ---- E23 count-min sketch as a mergeable d×w counter TABLE (no
    // driver state), audited per key against the exact counts ----
    Query("q_cms_counts", family, (s, d) =>
      operators.Profiling.cmsCheckedCounts(t(s, d, "events"), "user_id")
        .orderBy("key"),
      // sketch-audit oracle shape (q_approx_users): exact counts are the
      // checkable payload; the CMS estimate itself is plan-internal
      """SELECT user_id AS key, count(*) AS cnt, TRUE AS cms_ok
        |FROM events WHERE user_id IS NOT NULL
        |GROUP BY 1 ORDER BY key""".stripMargin),

    // ---- E23 join-cardinality pre-flight: CMS inner-product estimate
    // of |orders ⋈ lineitem| with the structural overestimate verdict
    // and the ε-bound sizing check — the planner probe that costs two
    // d×w sketches instead of a key-space shuffle ----
    Query("q_join_size_est", family, (s, d) =>
      operators.Profiling.cmsJoinSize(t(s, d, "orders"), "o_orderkey",
        t(s, d, "lineitem"), "l_orderkey"),
      """SELECT
        |  CAST((SELECT COUNT(*) FROM orders WHERE o_orderkey IS NOT NULL)
        |    AS BIGINT) AS n_a,
        |  CAST((SELECT COUNT(*) FROM lineitem WHERE l_orderkey IS NOT NULL)
        |    AS BIGINT) AS n_b,
        |  CAST((SELECT COUNT(*) FROM orders JOIN lineitem
        |        ON o_orderkey = l_orderkey) AS BIGINT) AS exact_join_rows,
        |  TRUE AS overest_ok, TRUE AS bound_ok""".stripMargin),

    // ---- E20 fixed-width value histogram with per-bucket ranges (the
    // operator form of q_histogram's inline shape) ----
    Query("q_value_histogram", family, (s, d) =>
      operators.Profiling.equiWidthHistogram(t(s, d, "orders"),
          "o_totalprice", width = 20000.0)
        .orderBy("bucket"),
      """SELECT CAST(floor(o_totalprice / 20000) AS BIGINT) AS bucket,
        |  count(*) AS n_rows,
        |  min(o_totalprice) AS min_value, max(o_totalprice) AS max_value
        |FROM orders WHERE o_totalprice IS NOT NULL
        |GROUP BY 1 ORDER BY bucket""".stripMargin),

    // ---- E20 per-source quantile normalization of document length
    // (rank-based feature scaling; ties normalize equally) ----
    Query("q_quantile_norm", family, (s, d) =>
      operators.Profiling.quantileNormalize(t(s, d, "documents"),
          "source", "doc_id", "n_chars")
        .orderBy("doc_id"),
      """SELECT source, doc_id, n_chars,
        |  CASE WHEN count(*) OVER (PARTITION BY source) > 1 THEN
        |    round(CAST(rank() OVER (PARTITION BY source
        |        ORDER BY n_chars) - 1 AS DOUBLE)
        |      / (count(*) OVER (PARTITION BY source) - 1), 9)
        |  ELSE 0.0 END AS qnorm
        |FROM documents WHERE n_chars IS NOT NULL
        |ORDER BY doc_id""".stripMargin),

    // ---- E20 Pareto coverage point: how many of the heaviest
    // sources carry 80% of the corpus characters ----
    Query("q_pareto", family, (s, d) =>
      operators.Profiling.paretoCoverage(t(s, d, "documents"),
          "source", "n_chars", target = 0.8)
        .orderBy("n_groups"),
      """WITH s AS (SELECT source AS g, CAST(sum(n_chars) AS BIGINT) AS s
        |      FROM documents
        |      WHERE source IS NOT NULL AND n_chars IS NOT NULL
        |      GROUP BY 1),
        |c AS (SELECT s,
        |        CAST(sum(s) OVER (ORDER BY s DESC, g
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS BIGINT) AS cum,
        |        CAST(row_number() OVER (ORDER BY s DESC, g) AS BIGINT)
        |          AS k
        |      FROM s),
        |t AS (SELECT count(*) AS n_groups, CAST(sum(s) AS BIGINT) AS tot
        |      FROM s)
        |SELECT t.n_groups, CAST(min(c.k) AS BIGINT) AS n_top,
        |  round(CAST(min_by(c.cum, c.k) AS DOUBLE)
        |    / CAST(t.tot AS DOUBLE), 9) AS share
        |FROM c, t
        |WHERE CAST(c.cum AS DOUBLE) >= 0.8 * CAST(t.tot AS DOUBLE)
        |GROUP BY t.n_groups, t.tot ORDER BY n_groups""".stripMargin),

    // ---- E20 fact-to-header reconciliation: order totals vs line
    // sums (the financial-close audit an FK check can't see) ----
    Query("q_reconcile", family, (s, d) =>
      operators.Profiling.reconcile(
        t(s, d, "orders"), "o_orderkey", "o_totalprice",
        t(s, d, "lineitem"), "l_orderkey", "l_extendedprice",
        relTol = 0.01)
        .orderBy("n_parents"),
      // exact-equality short-circuit reconciles both-zero totals; rel
      // diff rounds to 9 BEFORE the tolerance compare on both sides
      """WITH cs AS (SELECT l_orderkey AS k,
        |        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)))
        |          AS DOUBLE) AS cs
        |      FROM lineitem WHERE l_orderkey IS NOT NULL GROUP BY 1),
        |j AS (SELECT CAST(o_totalprice AS DOUBLE) AS pv, cs.cs AS cs
        |      FROM orders LEFT JOIN cs ON cs.k = o_orderkey
        |      WHERE o_orderkey IS NOT NULL),
        |f AS (SELECT pv, cs IS NOT NULL AS has,
        |        CASE WHEN pv = cs THEN 0.0
        |             ELSE round(abs(pv - cs)
        |               / (CASE WHEN abs(pv) > 0.0 THEN abs(pv) END), 9)
        |        END AS rel
        |      FROM j)
        |SELECT count(*) AS n_parents,
        |  CAST(sum(CASE WHEN has THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_with_children,
        |  CAST(sum(CASE WHEN NOT has OR rel IS NULL OR rel > 0.01
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatched,
        |  round(max(rel), 9) AS worst_rel_diff
        |FROM f ORDER BY n_parents""".stripMargin),

    // ---- E20 MAD robust outlier census (the 50%-breakdown-point
    // complement of the IQR fences) ----
    Query("q_mad_outliers", family, (s, d) =>
      operators.Profiling.madOutliers(t(s, d, "lineitem"),
          "l_returnflag", "l_extendedprice")
        .orderBy("l_returnflag"),
      """WITH m AS (SELECT l_returnflag,
        |        quantile_cont(l_extendedprice, 0.5) AS med
        |      FROM lineitem WHERE l_extendedprice IS NOT NULL
        |      GROUP BY 1),
        |md AS (SELECT l.l_returnflag, m.med,
        |        quantile_cont(abs(l_extendedprice - m.med), 0.5) AS mad
        |      FROM lineitem l JOIN m USING (l_returnflag)
        |      WHERE l_extendedprice IS NOT NULL GROUP BY 1, 2)
        |SELECT l.l_returnflag, count(*) AS n,
        |  CAST(sum(CASE WHEN abs(l_extendedprice - md.med)
        |      > 3.0 * md.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  round(md.med, 9) AS median, round(md.mad, 9) AS mad
        |FROM lineitem l JOIN md USING (l_returnflag)
        |WHERE l_extendedprice IS NOT NULL
        |GROUP BY 1, md.med, md.mad ORDER BY l.l_returnflag""".stripMargin),

    // ---- E20 per-segment linear trend: slope of hourly traffic over
    // the hour index, one grouped OLS pass ----
    Query("q_trend", family, (s, d) => {
      val hours = t(s, d, "events")
        .groupBy(col("event_type"),
          expr("unix_micros(date_trunc('HOUR', ts)) div 3600000000")
            .as("h"))
        .agg(count(lit(1)).as("c"))
      operators.Profiling.groupedTrend(hours, "event_type", "h", "c")
        .orderBy("event_type")
    },
      // grouped OLS with the relative determinant guard mirrored exactly
      """WITH h AS (SELECT event_type,
        |        CAST(epoch_us(date_trunc('hour', ts)) // 3600000000
        |          AS BIGINT) AS h,
        |        count(*) AS c
        |      FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, count(*) AS n_points,
        |        CAST(sum(CAST(round(CAST(h AS DOUBLE), 9)
        |          AS DECIMAL(38,9))) AS DOUBLE) AS sx,
        |        CAST(sum(CAST(round(CAST(c AS DOUBLE), 9)
        |          AS DECIMAL(38,9))) AS DOUBLE) AS sy,
        |        CAST(sum(CAST(round(CAST(h AS DOUBLE) * CAST(h AS DOUBLE),
        |          9) AS DECIMAL(38,9))) AS DOUBLE) AS sxx,
        |        CAST(sum(CAST(round(CAST(h AS DOUBLE) * CAST(c AS DOUBLE),
        |          9) AS DECIMAL(38,9))) AS DOUBLE) AS sxy
        |      FROM h GROUP BY 1)
        |SELECT event_type, n_points,
        |  CASE WHEN n_points * sxx - sx * sx >
        |      0.0000000000001 * n_points * abs(sxx) + 0.000001 THEN
        |    round((n_points * sxy - sx * sy)
        |      / (n_points * sxx - sx * sx), 9)
        |  END AS slope
        |FROM s ORDER BY event_type""".stripMargin),

    // ---- data-quality profiling: one-pass per-column statistics ----
    Query("q_profile", family, (s, d) =>
      operators.Profiling.profile(t(s, d, "customer"),
          Seq("c_custkey", "c_name", "c_acctbal", "c_mktsegment"))
        .orderBy("col_name"),
      """SELECT col_name, n_rows, CAST(n_nulls AS BIGINT) AS n_nulls,
        |       n_distinct, min_s, max_s FROM (
        |  SELECT 'c_custkey' AS col_name, COUNT(*) AS n_rows,
        |    SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS n_nulls,
        |    COUNT(DISTINCT c_custkey) AS n_distinct,
        |    CAST(MIN(c_custkey) AS VARCHAR) AS min_s,
        |    CAST(MAX(c_custkey) AS VARCHAR) AS max_s FROM customer
        |  UNION ALL
        |  SELECT 'c_name', COUNT(*),
        |    SUM(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END),
        |    COUNT(DISTINCT c_name),
        |    CAST(MIN(c_name) AS VARCHAR), CAST(MAX(c_name) AS VARCHAR)
        |  FROM customer
        |  UNION ALL
        |  SELECT 'c_acctbal', COUNT(*),
        |    SUM(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END),
        |    COUNT(DISTINCT c_acctbal),
        |    CAST(MIN(c_acctbal) AS VARCHAR), CAST(MAX(c_acctbal) AS VARCHAR)
        |  FROM customer
        |  UNION ALL
        |  SELECT 'c_mktsegment', COUNT(*),
        |    SUM(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END),
        |    COUNT(DISTINCT c_mktsegment),
        |    CAST(MIN(c_mktsegment) AS VARCHAR), CAST(MAX(c_mktsegment) AS VARCHAR)
        |  FROM customer
        |) ORDER BY col_name""".stripMargin),

    // mergeable quantile sketch + in-plan rank-guarantee audit: checkable
    // output is (group, exact percentile, verdict) — the sketch value
    // itself is engine-specific
    Query("q_approx_percentile", family, (s, d) =>
      operators.Profiling.approxPercentilesChecked(
        t(s, d, "events"), "event_type", "value")
        .orderBy("event_type"),
      // the quantile-sketch value is engine-specific; the oracle reproduces
      // the exact percentile and asserts the rank-guarantee verdict
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 9) AS p_value,
        |  TRUE AS within_tol
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // ---- E20 key-skew report (the pre-join salting diagnostic) ----
    Query("q_key_skew", family, (s, d) =>
      operators.Profiling.keySkew(t(s, d, "lineitem"), "l_suppkey", k = 20),
      """SELECT l_suppkey, COUNT(*) AS cnt,
        |  COUNT(*) / CAST((SELECT COUNT(*) FROM lineitem) AS DOUBLE)
        |    AS share
        |FROM lineitem GROUP BY l_suppkey
        |ORDER BY cnt DESC, l_suppkey LIMIT 20""".stripMargin),

    // ---- E20 exact heavy hitters with sketch-bounded shuffle: a
    // Misra–Gries superset pass (≤ k entries per task cross the
    // exchange, never the full key space) + a candidate-restricted
    // exact count. The token table is near-uniform (31 distinct tokens
    // vs k=30 slots) — the sketch's worst case — yet the output is the
    // exact deterministic > n/(k+1) set, which DuckDB recomputes by
    // full grouped count ----
    Query("q_heavy_hitters", family, (s, d) => {
      val toks = t(s, d, "documents").filter(col("text").isNotNull)
        .select(explode(split(col("text"), " ")).as("tok"))
      operators.Profiling.heavyHitters(toks, "tok", k = 30)
    },
      // full grouped count twin of the sketch-bounded two-pass plan: the
      // Misra–Gries superset guarantee + exact candidate filter make the
      // Spark output identical to HAVING cnt*(k+1) > n
      """WITH toks AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
        |  WHERE text IS NOT NULL),
        |c AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok)
        |SELECT tok, cnt,
        |  cnt / CAST((SELECT COUNT(*) FROM toks) AS DOUBLE) AS share
        |FROM c WHERE cnt * 31 > (SELECT COUNT(*) FROM toks)
        |ORDER BY cnt DESC, tok""".stripMargin),

    // ---- E20 per-group heavy hitters (trending tokens per source):
    // grouped MG udaf candidates, semi-join, exact per-group count ----
    Query("q_heavy_by_group", family, (s, d) => {
      val toks = t(s, d, "documents").filter(col("text").isNotNull)
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      operators.Profiling.heavyHittersByGroup(toks, "source", "tok", k = 30)
    },
      """WITH toks AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents WHERE text IS NOT NULL),
        |c AS (SELECT source, tok, COUNT(*) AS cnt FROM toks GROUP BY 1, 2),
        |n AS (SELECT source, COUNT(*) AS n FROM toks GROUP BY 1)
        |SELECT c.source, c.tok, c.cnt,
        |  c.cnt / CAST(n.n AS DOUBLE) AS share
        |FROM c JOIN n USING (source) WHERE c.cnt * 31 > n.n
        |ORDER BY c.source, c.cnt DESC, c.tok""".stripMargin),

    // ---- E20 winsorization report: clip n_chars to per-source exact
    // [p05, p95] and audit the move (clip counts, mean before/after) ----
    Query("q_winsorize", family, (s, d) =>
      operators.Profiling.winsorize(t(s, d, "documents"), "source",
          "n_chars", pLo = 0.05, pHi = 0.95)
        .orderBy("source"),
      // quantile_cont == Spark exact percentile; the Decimal(18,6) sum
      // absorbs any final-ulp interpolation difference in clipped values
      """WITH b AS (
        |  SELECT source,
        |    quantile_cont(CAST(n_chars AS DOUBLE), 0.05) AS lo,
        |    quantile_cont(CAST(n_chars AS DOUBLE), 0.95) AS hi
        |  FROM documents GROUP BY source)
        |SELECT d.source, count(*) AS n,
        |  CAST(sum(CASE WHEN n_chars < lo THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clipped_lo,
        |  CAST(sum(CASE WHEN n_chars > hi THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clipped_hi,
        |  round(CAST(sum(CAST(n_chars AS DECIMAL(18,6))) AS DOUBLE)
        |    / count(*), 9) AS mean_before,
        |  round(CAST(sum(CAST(greatest(lo, least(hi,
        |      CAST(n_chars AS DOUBLE))) AS DECIMAL(18,6))) AS DOUBLE)
        |    / count(*), 9) AS mean_after
        |FROM documents d JOIN b USING (source)
        |GROUP BY d.source ORDER BY d.source""".stripMargin),

    // ---- E20 distribution drift between two corpus snapshots: per-key
    // smoothed shares + KL contributions (the source-mix monitor) ----
    Query("q_dist_drift", family, (s, d) => {
      val docs = t(s, d, "documents")
      operators.Profiling.distributionDrift(
          docs.filter(col("doc_id") < 250),
          docs.filter(col("doc_id") >= 250), "source")
        .orderBy("source")
    },
      s"""WITH ca AS (SELECT source, count(*) AS cnt_a FROM documents
        |            WHERE doc_id < 250 GROUP BY source),
        |cb AS (SELECT source, count(*) AS cnt_b FROM documents
        |       WHERE doc_id >= 250 GROUP BY source),
        |${smoothedShares("source")},
        |  round(CAST(cnt_a + 1 AS DOUBLE) / (ta + k)
        |    * ln((CAST(cnt_a + 1 AS DOUBLE) / (ta + k))
        |          / (CAST(cnt_b + 1 AS DOUBLE) / (tb + k))), 9) AS kl_contrib
        |FROM j, t ORDER BY source""".stripMargin),

    // ---- E20 PSI drift (the scorecard-industry standard): per-key
    // (share_a - share_b)·ln(share_a/share_b) terms, always >= 0, so
    // shifts can't cancel the way signed KL contributions can ----
    Query("q_psi", family, (s, d) => {
      val docs = t(s, d, "documents")
      operators.Profiling.psi(
          docs.filter(col("doc_id") < 250),
          docs.filter(col("doc_id") >= 250), "source")
        .orderBy("source")
    },
      s"""WITH ca AS (SELECT source, count(*) AS cnt_a FROM documents
        |            WHERE doc_id < 250 GROUP BY source),
        |cb AS (SELECT source, count(*) AS cnt_b FROM documents
        |       WHERE doc_id >= 250 GROUP BY source),
        |${smoothedShares("source")},
        |  round((CAST(cnt_a + 1 AS DOUBLE) / (ta + k)
        |         - CAST(cnt_b + 1 AS DOUBLE) / (tb + k))
        |    * ln((CAST(cnt_a + 1 AS DOUBLE) / (ta + k))
        |          / (CAST(cnt_b + 1 AS DOUBLE) / (tb + k))), 9) AS psi_term
        |FROM j, t ORDER BY source""".stripMargin),

    // ---- E20 numeric PSI: the scorecard-standard drift score over
    // FIXED-WIDTH value bins (layout-stable across runs, unlike
    // data-derived quantile bins) — early vs late order halves ----
    Query("q_psi_numeric", family, (s, d) => {
      val o = t(s, d, "orders")
        .withColumn("bin",
          floor(col("o_totalprice") / 50000).cast("long"))
      operators.Profiling.psi(
          o.filter(col("o_orderkey") % 2 === 0),
          o.filter(col("o_orderkey") % 2 === 1), "bin")
        .orderBy("bin")
    },
      s"""WITH b AS (SELECT o_orderkey,
        |    CAST(FLOOR(o_totalprice / 50000) AS BIGINT) AS bin
        |  FROM orders),
        |ca AS (SELECT bin, count(*) AS cnt_a FROM b
        |       WHERE o_orderkey % 2 = 0 GROUP BY bin),
        |cb AS (SELECT bin, count(*) AS cnt_b FROM b
        |       WHERE o_orderkey % 2 = 1 GROUP BY bin),
        |${smoothedShares("bin")},
        |  round((CAST(cnt_a + 1 AS DOUBLE) / (ta + k)
        |         - CAST(cnt_b + 1 AS DOUBLE) / (tb + k))
        |    * ln((CAST(cnt_a + 1 AS DOUBLE) / (ta + k))
        |          / (CAST(cnt_b + 1 AS DOUBLE) / (tb + k))), 9) AS psi_term
        |FROM j, t ORDER BY bin""".stripMargin),

    // ---- E20 exact Wasserstein-1 drift: how far the price
    // distribution moved in dollars (per priority, even vs odd orders)
    // — integer-cent ECDF terms, engine-exact ----
    // Plan: map-side collapse to (group, value) counts, one grouped window, one closing aggregate.
    Query("q_wasserstein", family, (s, d) => {
      val o = t(s, d, "orders")
      operators.Profiling.wasserstein1(
          o.filter(col("o_orderkey") % 2 === 0),
          o.filter(col("o_orderkey") % 2 === 1),
          "o_orderpriority", "o_totalprice", scale = 100L)
        .orderBy("o_orderpriority")
    },
      // integer-cent ECDF replay: |cum_a·n_b − cum_b·n_a|·gap summed in
      // HUGEINT, one closing division
      """WITH s AS (
        |  SELECT o_orderpriority AS g,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS v,
        |    CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END AS sa,
        |    CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END AS sb
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |pv AS (SELECT g, v, SUM(sa) AS ca, SUM(sb) AS cb
        |       FROM s GROUP BY 1, 2),
        |w AS (SELECT g, v, ca, cb,
        |        SUM(ca) OVER (PARTITION BY g ORDER BY v
        |          ROWS UNBOUNDED PRECEDING) AS cuma,
        |        SUM(cb) OVER (PARTITION BY g ORDER BY v
        |          ROWS UNBOUNDED PRECEDING) AS cumb,
        |        SUM(ca) OVER (PARTITION BY g) AS na,
        |        SUM(cb) OVER (PARTITION BY g) AS nb,
        |        LEAD(v) OVER (PARTITION BY g ORDER BY v) - v AS gap
        |      FROM pv)
        |SELECT g AS o_orderpriority,
        |  CAST(MAX(na) AS BIGINT) AS n_a, CAST(MAX(nb) AS BIGINT) AS n_b,
        |  CASE WHEN MAX(na) > 0 AND MAX(nb) > 0 THEN
        |    round(CAST(SUM(CASE WHEN gap IS NOT NULL
        |        THEN abs(CAST(cuma AS HUGEINT) * nb
        |                 - CAST(cumb AS HUGEINT) * na) * gap
        |        ELSE 0 END) AS DOUBLE)
        |      / CAST(CAST(MAX(na) AS HUGEINT) * MAX(nb) * 100 AS DOUBLE), 9)
        |  ELSE 0.0 END AS w1
        |FROM w GROUP BY g ORDER BY g""".stripMargin),

    // ---- E20 exact Spearman rank correlation per return flag:
    // monotonic quantity↔price association, robust to price outliers
    // (integer doubled-average-ranks, exact moments) ----
    // Plan: integer doubled ranks over collapsed distinct values; moments close in one aggregate.
    Query("q_spearman", family, (s, d) =>
      operators.Profiling.spearman(t(s, d, "lineitem"),
          "l_returnflag", "l_quantity", "l_extendedprice")
        .orderBy("l_returnflag"),
      // doubled-average-rank replay: 2r = 2·cum_before + cnt + 1 per tie
      // block, HUGEINT moments, the autocorrelation closing formula
      """WITH r AS (
        |  SELECT l_returnflag AS g, l_quantity AS x, l_extendedprice AS y
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
        |cx AS (SELECT g, x, COUNT(*) AS c FROM r GROUP BY 1, 2),
        |rx AS (SELECT g, x,
        |         2 * COALESCE(SUM(c) OVER (PARTITION BY g ORDER BY x
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |         + c + 1 AS rx2
        |       FROM cx),
        |cy AS (SELECT g, y, COUNT(*) AS c FROM r GROUP BY 1, 2),
        |ry AS (SELECT g, y,
        |         2 * COALESCE(SUM(c) OVER (PARTITION BY g ORDER BY y
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |         + c + 1 AS ry2
        |       FROM cy),
        |j AS (SELECT r.g, rx.rx2, ry.ry2
        |      FROM r JOIN rx ON rx.g = r.g AND rx.x = r.x
        |        JOIN ry ON ry.g = r.g AND ry.y = r.y),
        |a AS (SELECT g, COUNT(*) AS n,
        |        SUM(CAST(rx2 AS HUGEINT)) AS sx,
        |        SUM(CAST(ry2 AS HUGEINT)) AS sy,
        |        SUM(CAST(rx2 AS HUGEINT) * ry2) AS sxy,
        |        SUM(CAST(rx2 AS HUGEINT) * rx2) AS sxx,
        |        SUM(CAST(ry2 AS HUGEINT) * ry2) AS syy
        |      FROM j GROUP BY g)
        |SELECT g AS l_returnflag, CAST(n AS BIGINT) AS n,
        |  CASE WHEN (CAST(n AS HUGEINT) * sxx - sx * sx) > 0
        |        AND (CAST(n AS HUGEINT) * syy - sy * sy) > 0 THEN
        |    round(CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE)
        |      / sqrt(CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE)
        |             * CAST(CAST(n AS HUGEINT) * syy - sy * sy AS DOUBLE)),
        |      9)
        |  ELSE NULL END AS spearman
        |FROM a ORDER BY 1""".stripMargin),

    // ---- E20 exact Kendall τ-b per return flag: pairwise quantity↔
    // price-band concordance with the tie-adjusted denominator — the
    // third rank-statistic beside Spearman (rank Pearson) and
    // Mann–Whitney (dominance); price quantized to 10k bands so the
    // cell-pair join stays domain-sized (the fixed-bin PSI contract) ----
    // Plan: one checkpointed (x, y) cell table feeds marginals and the cell-sized pair equi-join.
    Query("q_kendall", family, (s, d) =>
      operators.Profiling.kendallTau(
          t(s, d, "lineitem").withColumn("price_band",
            floor(col("l_extendedprice") / 10000).cast("long")),
          "l_returnflag", "l_quantity", "price_band")
        .orderBy("l_returnflag"),
      // the same cell-collapse replay: C−D from the lower-x cell-pair
      // join, tie terms from the marginals, one rounded IEEE close
      """WITH r AS (
        |  SELECT l_returnflag AS g, l_quantity AS x,
        |    CAST(floor(l_extendedprice / 10000) AS BIGINT) AS y
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
        |cells AS (SELECT g, x, y, COUNT(*) AS c FROM r GROUP BY 1, 2, 3),
        |cd AS (
        |  SELECT a.g,
        |    SUM(CAST(a.c AS HUGEINT) * b.c *
        |        CASE WHEN b.y > a.y THEN 1
        |             WHEN b.y < a.y THEN -1 ELSE 0 END) AS cd
        |  FROM cells a JOIN cells b ON b.g = a.g AND a.x < b.x
        |  GROUP BY a.g),
        |tx AS (SELECT g, SUM(CAST(t AS HUGEINT) * (t - 1) // 2) AS tx
        |       FROM (SELECT g, x, SUM(c) AS t FROM cells GROUP BY 1, 2)
        |       GROUP BY g),
        |ty AS (SELECT g, SUM(CAST(t AS HUGEINT) * (t - 1) // 2) AS ty
        |       FROM (SELECT g, y, SUM(c) AS t FROM cells GROUP BY 1, 2)
        |       GROUP BY g),
        |marg AS (SELECT g, SUM(c) AS n, COUNT(*) AS ncells
        |         FROM cells GROUP BY g)
        |SELECT m.g AS l_returnflag, CAST(m.n AS BIGINT) AS n,
        |  CAST(m.ncells AS BIGINT) AS n_cells,
        |  CASE WHEN (CAST(m.n AS HUGEINT) * (m.n - 1) // 2 - tx.tx) > 0
        |        AND (CAST(m.n AS HUGEINT) * (m.n - 1) // 2 - ty.ty) > 0
        |  THEN round(CAST(COALESCE(cd.cd, 0) AS DOUBLE) /
        |    sqrt(CAST(CAST(m.n AS HUGEINT) * (m.n - 1) // 2 - tx.tx
        |           AS DOUBLE)
        |       * CAST(CAST(m.n AS HUGEINT) * (m.n - 1) // 2 - ty.ty
        |           AS DOUBLE)), 9)
        |  ELSE NULL END AS tau_b
        |FROM marg m JOIN tx ON tx.g = m.g JOIN ty ON ty.g = m.g
        |LEFT JOIN cd ON cd.g = m.g
        |ORDER BY 1""".stripMargin),

    // ---- E20 exact Mann–Whitney U (rank-biserial effect) per
    // priority: the non-parametric twin of q_ab_test's z — do even-key
    // orders price-dominate odd-key ones? ----
    // Plan: map-side collapse to (group, value) counts; ranks from one grouped window over them.
    Query("q_mannwhitney", family, (s, d) => {
      val o = t(s, d, "orders")
      operators.Profiling.mannWhitney(
          o.filter(col("o_orderkey") % 2 === 0),
          o.filter(col("o_orderkey") % 2 === 1),
          "o_orderpriority", "o_totalprice")
        .orderBy("o_orderpriority")
    },
      // exact 2U = Σ 2·cA·cumB_prev + cA·cB in HUGEINT, cast BIGINT
      // (errors on overflow like the engine's guard)
      s"""${priorityRanks(0)}
        |SELECT g AS o_orderpriority,
        |  CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b,
        |  CAST(SUM(2 * CAST(ca AS HUGEINT) * cumbp
        |           + CAST(ca AS HUGEINT) * cb) AS BIGINT) AS u2,
        |  CASE WHEN SUM(ca) > 0 AND SUM(cb) > 0 THEN
        |    round(CAST(SUM(2 * CAST(ca AS HUGEINT) * cumbp
        |             + CAST(ca AS HUGEINT) * cb) AS DOUBLE)
        |      / CAST(CAST(SUM(ca) AS HUGEINT) * SUM(cb) AS DOUBLE)
        |      - 1.0, 9)
        |  ELSE NULL END AS rank_biserial
        |FROM w GROUP BY g ORDER BY g""".stripMargin),

    // ---- E20 exact ROC AUC per priority (the Mann–Whitney identity
    // U/(n⁺·n⁻) riding the same exact u2): does price "score" rank
    // even-key orders above odd-key ones? ≈0.5 by construction — the
    // null-model calibration point a filter model must beat ----
    Query("q_auc", family, (s, d) =>
      operators.Profiling.auc(
          t(s, d, "orders").withColumn("is_even",
            col("o_orderkey") % 2 === 0),
          "o_orderpriority", "o_totalprice", "is_even")
        .orderBy("o_orderpriority"),
      // as side b: AUC = u2 / (2·n_neg·n_pos), same exact HUGEINT u2
      s"""${priorityRanks(1)}
        |SELECT g AS o_orderpriority,
        |  CAST(SUM(ca) AS BIGINT) AS n_neg,
        |  CAST(SUM(cb) AS BIGINT) AS n_pos,
        |  CASE WHEN SUM(ca) > 0 AND SUM(cb) > 0 THEN
        |    round(CAST(SUM(2 * CAST(ca AS HUGEINT) * cumbp
        |             + CAST(ca AS HUGEINT) * cb) AS DOUBLE)
        |      / CAST(2 * CAST(SUM(ca) AS HUGEINT) * SUM(cb) AS DOUBLE),
        |      9)
        |  ELSE NULL END AS auc
        |FROM w GROUP BY g ORDER BY g""".stripMargin),

    // ---- E20 Benjamini–Hochberg FDR step-up over the Mann–Whitney
    // battery (one test per priority; p-like = 1 − |rank_biserial|, a
    // monotone evidence score — the even/odd split is null by
    // construction, so the battery exercises the selection machinery
    // on near-1 scores with total tie-breaking) ----
    Query("q_bh", family, (s, d) => {
      val o = t(s, d, "orders")
      val mw = operators.Profiling.mannWhitney(
        o.filter(col("o_orderkey") % 2 === 0),
        o.filter(col("o_orderkey") % 2 === 1),
        "o_orderpriority", "o_totalprice")
      val tests = mw.select(col("o_orderpriority").as("test"),
        round(lit(1.0) - abs(col("rank_biserial")), 9).as("p"))
      operators.Profiling.benjaminiHochberg(tests, "test", "p", q = 0.25)
        .orderBy("rank")
    },
      // the Mann–Whitney identity with negatives as side a / positives
      // the Mann–Whitney battery CTEs verbatim, then the BH step-up:
      // global rank, suffix-min adjusted p, k* scalar crossed back
      s"""${priorityRanks(0)},
        |mw AS (SELECT g AS test,
        |  CASE WHEN SUM(ca) > 0 AND SUM(cb) > 0 THEN
        |    round(CAST(SUM(2 * CAST(ca AS HUGEINT) * cumbp
        |             + CAST(ca AS HUGEINT) * cb) AS DOUBLE)
        |      / CAST(CAST(SUM(ca) AS HUGEINT) * SUM(cb) AS DOUBLE)
        |      - 1.0, 9)
        |  ELSE NULL END AS rb
        |  FROM w GROUP BY g),
        |tests AS (SELECT test, round(1.0 - abs(rb), 9) AS p FROM mw),
        |base AS (SELECT test AS t, CAST(p AS DOUBLE) AS p FROM tests
        |         WHERE p IS NOT NULL AND p > 0 AND p <= 1),
        |rk AS (SELECT t, p,
        |         CAST(ROW_NUMBER() OVER (ORDER BY p ASC, t ASC)
        |           AS BIGINT) AS i,
        |         CAST(COUNT(*) OVER () AS BIGINT) AS m
        |       FROM base),
        |adj AS (SELECT t, p, i, m,
        |          round(least(1.0, MIN(p * m / i) OVER (
        |            ORDER BY p DESC, t DESC
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |            9) AS padj
        |        FROM rk),
        |ks AS (SELECT COALESCE(MAX(CASE
        |         WHEN p <= i * CAST(0.25 AS DOUBLE) / m THEN i END), 0)
        |         AS k FROM rk)
        |SELECT t AS test, p, i AS rank, padj AS p_adj,
        |  (i <= k) AS significant
        |FROM adj CROSS JOIN ks
        |ORDER BY rank""".stripMargin),

    // ---- E20 deterministic Poisson-bootstrap CI for the mean event
    // value per type: the cluster-scale resampling design (per-row
    // Poisson(1) weights off the Knuth coin, integer-threshold CDF
    // inversion — no RNG, no row numbering), percentile interval over
    // 48 replicate means ----
    Query("q_bootstrap", family, (s, d) =>
      operators.Profiling.bootstrapCI(t(s, d, "events"),
          "event_type", "event_id", "value", reps = 48, alpha = 0.05)
        .orderBy("event_type"),
      // Poisson-bootstrap replay: same Knuth coin, same ⌊CDF·2³²⌋ integer
      // thresholds, same percentile-rank selection — pure integer/decimal
      // arithmetic end-to-end, so the interval reproduces bit-for-bit
      """WITH base AS (
        |  SELECT event_type AS g, event_id AS k, round(value, 9) AS v
        |  FROM events WHERE value IS NOT NULL),
        |pt AS (
        |  SELECT g, COUNT(*) AS n,
        |    round(CAST(SUM(CAST(v AS DECIMAL(38,9))) AS DOUBLE)
        |      / COUNT(*), 9) AS mean
        |  FROM base GROUP BY g),
        |expl AS (
        |  SELECT g, r.b AS b,
        |    ((k * 48 + r.b) * 2654435761) % 4294967296 AS u, v
        |  FROM base CROSS JOIN (SELECT UNNEST(range(1, 49)) AS b) r),
        |wts AS (SELECT g, b, v,
        |    CASE WHEN u < 1580030168 THEN 0 WHEN u < 3160060337 THEN 1
        |         WHEN u < 3950075421 THEN 2 WHEN u < 4213413783 THEN 3
        |         WHEN u < 4279248373 THEN 4 WHEN u < 4292415291 THEN 5
        |         WHEN u < 4294609777 THEN 6 WHEN u < 4294923276 THEN 7
        |         WHEN u < 4294962463 THEN 8 ELSE 9 END AS wt
        |  FROM expl),
        |rep AS (
        |  SELECT g, b, SUM(wt) AS sw,
        |    SUM(CAST(round(wt * v, 9) AS DECIMAL(38,9))) AS swx
        |  FROM wts GROUP BY g, b HAVING SUM(wt) > 0),
        |m AS (
        |  SELECT g, b, round(CAST(swx AS DOUBLE) / sw, 9) AS m,
        |    ROW_NUMBER() OVER (PARTITION BY g
        |      ORDER BY round(CAST(swx AS DOUBLE) / sw, 9), b) AS rn,
        |    COUNT(*) OVER (PARTITION BY g) AS nb
        |  FROM rep),
        |ci AS (
        |  SELECT g, MAX(nb) AS n_boot,
        |    MIN(CASE WHEN rn = CAST(ceil(0.025 * nb) AS BIGINT)
        |        THEN m END) AS ci_lo,
        |    MIN(CASE WHEN rn = nb + 1 - CAST(ceil(0.025 * nb) AS BIGINT)
        |        THEN m END) AS ci_hi
        |  FROM m GROUP BY g)
        |SELECT pt.g AS event_type, pt.n, pt.mean,
        |  CAST(COALESCE(ci.n_boot, 0) AS BIGINT) AS n_boot,
        |  ci.ci_lo, ci.ci_hi
        |FROM pt LEFT JOIN ci ON ci.g = pt.g
        |ORDER BY 1""".stripMargin),

    // ---- E20 Fleiss' κ over three heuristic "judges" of document
    // quality (length ≥ 300 chars / ≥ 55 words / ≥ 250 chars — two
    // strongly agree, one is a looser rubric): the multi-annotator
    // agreement statistic every labeling pipeline reports ----
    Query("q_fleiss", family, (s, d) => {
      val docs = t(s, d, "documents")
      def judge(id: Long, cat: Column, in: DataFrame = docs) = in.select(
        col("doc_id"), lit(id).as("rater"), cat.cast("long").as("cat"))
      // Rater 2 inspects text: filter nulls explicitly rather than
      // relying on ANSI size(null)=NULL being dropped downstream.
      val ratings = judge(1L, col("n_chars") >= 300)
        .unionAll(judge(2L, size(split(col("text"), " ")) >= 55,
          docs.filter(col("text").isNotNull)))
        .unionAll(judge(3L, col("n_chars") >= 250))
      operators.Profiling.fleissKappa(ratings, "doc_id", "rater", "cat")
        .orderBy("n_items")
    },
      // generalized Fleiss: per-item pair agreement over the cell table,
      // chance marginals over the SAME n_i >= 2 item set
      """WITH r AS (
        |  SELECT doc_id AS i, 1 AS rater,
        |    CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS c
        |  FROM documents WHERE n_chars IS NOT NULL
        |  UNION ALL
        |  SELECT doc_id, 2,
        |    CASE WHEN len(string_split(text, ' ')) >= 55 THEN 1 ELSE 0 END
        |  FROM documents WHERE text IS NOT NULL
        |  UNION ALL
        |  SELECT doc_id, 3,
        |    CASE WHEN n_chars >= 250 THEN 1 ELSE 0 END
        |  FROM documents WHERE n_chars IS NOT NULL),
        |cells AS (SELECT i, c, COUNT(*) AS n FROM r GROUP BY 1, 2),
        |items AS (SELECT i, SUM(n) AS ni, SUM(n * (n - 1)) AS agree
        |          FROM cells GROUP BY i HAVING SUM(n) >= 2),
        |pb AS (SELECT COUNT(*) AS n_items, SUM(ni) AS n_ratings,
        |         SUM(CAST(round(CAST(agree AS DOUBLE) /
        |           CAST(ni * (ni - 1) AS DOUBLE), 9) AS DECIMAL(38,9)))
        |           AS pisum
        |       FROM items),
        |kept AS (SELECT c.c, c.n FROM cells c JOIN items it ON it.i = c.i),
        |tot AS (SELECT SUM(n) AS tot FROM kept),
        |cj AS (SELECT c, SUM(n) AS cj FROM kept GROUP BY c),
        |pe AS (SELECT SUM(CAST(round(pj * pj, 9) AS DECIMAL(38,9)))
        |         AS pesum
        |       FROM (SELECT round(CAST(cj.cj AS DOUBLE) /
        |               CAST(t.tot AS DOUBLE), 9) AS pj
        |             FROM cj CROSS JOIN tot t))
        |SELECT CAST(n_items AS BIGINT) AS n_items,
        |  CAST(n_ratings AS BIGINT) AS n_ratings,
        |  round(CAST(pisum AS DOUBLE) / n_items, 9) AS p_bar,
        |  CAST(pesum AS DOUBLE) AS p_e,
        |  CASE WHEN 1.0 - CAST(pesum AS DOUBLE) > 0 THEN
        |    round((round(CAST(pisum AS DOUBLE) / n_items, 9)
        |      - CAST(pesum AS DOUBLE)) / (1.0 - CAST(pesum AS DOUBLE)), 9)
        |  END AS kappa
        |FROM pb CROSS JOIN pe
        |ORDER BY n_items""".stripMargin),

    // ---- E20 doc-level snapshot diff (the crawl-regression audit):
    // after = documents minus every 7th id (removed), every 5th
    // surviving text appended-to (changed), ids < 40 re-keyed +1M
    // (added) — fingerprint compare, ids+longs on the only exchange ----
    // Plan: both sides reduce to (id, fingerprint) at the scan: text never rides the outer join.
    Query("q_snapshot_diff", family, (s, d) => {
      val before = t(s, d, "documents").select("doc_id", "text")
      val after = before.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" x")))
            .otherwise(col("text")).as("text"))
        .unionAll(before.filter(col("doc_id") < 40)
          .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
      operators.Profiling.snapshotDiff(before, after).orderBy("doc_id")
    },
      // snapshot-diff replay: the same polynomial fingerprint (q_fingerprint's
      // list_reduce recurrence) computed once over the tagged union of both
      // sides, then the full-outer verdict — a hash collision reads
      // 'unchanged' on both engines by construction
      """WITH af AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN text || ' x' ELSE text END AS text
        |  FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 40),
        |sides AS (
        |  SELECT 0 AS side, doc_id, text FROM documents
        |  UNION ALL
        |  SELECT 1 AS side, doc_id, text FROM af),
        |fp AS (
        |  SELECT side, doc_id,
        |    list_reduce(
        |      list_prepend(CAST(0 AS BIGINT),
        |        list_transform(string_split(text, ''),
        |          c -> CAST(unicode(c) AS BIGINT))),
        |      (a, b) -> (a * 31 + b) % 1000000007) AS f
        |  FROM sides),
        |b AS (SELECT doc_id, f FROM fp WHERE side = 0),
        |a AS (SELECT doc_id, f FROM fp WHERE side = 1)
        |SELECT COALESCE(b.doc_id, a.doc_id) AS doc_id,
        |  CASE WHEN b.doc_id IS NULL THEN 'added'
        |       WHEN a.doc_id IS NULL THEN 'removed'
        |       WHEN a.f IS DISTINCT FROM b.f THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM b FULL OUTER JOIN a ON b.doc_id = a.doc_id
        |ORDER BY doc_id""".stripMargin),

    // ---- E20 full precision–recall operating curve per priority over
    // 10k-price-band thresholds (the quantize-first curve-length
    // contract): the whole curve q_auc/q_threshold project from ----
    Query("q_pr_curve", family, (s, d) =>
      operators.Profiling.prCurve(
          t(s, d, "orders")
            .withColumn("band",
              floor(col("o_totalprice") / 10000).cast("long"))
            .withColumn("is_even", col("o_orderkey") % 2 === 0),
          "o_orderpriority", "band", "is_even")
        .orderBy(col("o_orderpriority"), col("threshold").desc),
      // cumulative curve replay: per-band collapse, one descending
      // group window (RANGE default == ROWS here: thresholds are
      // distinct per group), two rounded closes
      """WITH s AS (
        |  SELECT o_orderpriority AS g,
        |    round(CAST(floor(o_totalprice / 10000) AS DOUBLE), 9) AS t,
        |    CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END AS p
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |b AS (SELECT g, t, COUNT(*) AS n, SUM(p) AS pos
        |      FROM s GROUP BY 1, 2),
        |c AS (SELECT g, t,
        |        SUM(n) OVER (PARTITION BY g ORDER BY t DESC) AS n_kept,
        |        SUM(pos) OVER (PARTITION BY g ORDER BY t DESC) AS pos_kept,
        |        SUM(pos) OVER (PARTITION BY g) AS tp
        |      FROM b)
        |SELECT g AS o_orderpriority, t AS threshold,
        |  CAST(n_kept AS BIGINT) AS n_kept,
        |  CAST(pos_kept AS BIGINT) AS n_pos_kept,
        |  round(CAST(pos_kept AS DOUBLE) / n_kept, 9) AS "precision",
        |  CASE WHEN tp > 0
        |    THEN round(CAST(pos_kept AS DOUBLE) / tp, 9)
        |  END AS recall
        |FROM c ORDER BY 1, 2 DESC""".stripMargin),

    // ---- E20 exact weighted percentiles: the quantity-weighted price
    // quartiles per return flag — "the price of the median unit", not
    // the median row; all-integer threshold arithmetic ----
    Query("q_weighted_percentile", family, (s, d) =>
      operators.Profiling.weightedPercentiles(t(s, d, "lineitem"),
          "l_returnflag", "l_extendedprice", "l_quantity",
          pcts = Seq(25, 50, 75, 90))
        .orderBy("grp", "pct"),
      """WITH bv AS (
        |  SELECT l_returnflag AS grp, l_extendedprice AS value,
        |    SUM(CAST(round(l_quantity * 1000000000.0) AS HUGEINT)) AS w
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
        |    AND l_quantity > 0
        |  GROUP BY 1, 2),
        |c AS (
        |  SELECT grp, value,
        |    SUM(w) OVER (PARTITION BY grp ORDER BY value
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    SUM(w) OVER (PARTITION BY grp) AS tot
        |  FROM bv)
        |SELECT grp, pct, MIN(value) AS value
        |FROM c, (SELECT unnest([25, 50, 75, 90]) AS pct)
        |WHERE cum * 100 >= pct * tot
        |GROUP BY grp, pct ORDER BY grp, pct""".stripMargin),

    // ---- E20 l-diversity audit (k-anonymity's homogeneity-attack
    // companion): nation/segment groups whose balance-band diversity
    // collapses below l = 8 (70 of 125 groups violate at sf0.01; the
    // filter bites in both directions across SFs) ----
    Query("q_l_diversity", family, (s, d) =>
      operators.Profiling.lDiversityViolations(
          t(s, d, "customer")
            .withColumn("bal_bin",
              floor(col("c_acctbal") / 1000).cast("int")),
          Seq("c_nationkey", "c_mktsegment"), "bal_bin", l = 8L)
        .orderBy("c_nationkey", "c_mktsegment"),
      """SELECT c_nationkey, c_mktsegment,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(COUNT(DISTINCT CAST(FLOOR(c_acctbal / 1000) AS INTEGER))
        |    AS BIGINT) AS n_distinct_sensitive
        |FROM customer GROUP BY 1, 2
        |HAVING COUNT(DISTINCT CAST(FLOOR(c_acctbal / 1000) AS INTEGER)) < 8
        |ORDER BY 1, 2""".stripMargin),

    // ---- E19+E20 the Heaps exponent itself: ln(vocab) ~ β·ln(tokens)
    // over the growth curve — organic text sits β ≈ 0.4–0.6 ----
    Query("q_heaps_fit", family, (s, d) =>
      operators.Profiling.loglogFit(
        Ngrams.heapsLaw(t(s, d, "documents"), checkpoints = 20),
        "n_tokens", "vocab"),
      s"""WITH mx AS (SELECT max(doc_id) AS m FROM documents),
        |tk AS (SELECT CAST(doc_id * 20 // (m + 1) AS BIGINT) AS b, doc_id,
        |         unnest(string_split(text, ' ')) AS tok
        |       FROM documents, mx),
        |tc AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS nt
        |       FROM tk GROUP BY b),
        |fs AS (SELECT tok, MIN(b) AS b FROM tk GROUP BY tok),
        |fv AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS nv FROM fs GROUP BY b),
        |cks AS (SELECT unnest(range(0, 20)) AS ck),
        |curve AS (SELECT ck,
        |    SUM(COALESCE(nt, 0)) OVER (ORDER BY ck
        |      ROWS UNBOUNDED PRECEDING) AS n_tokens,
        |    SUM(COALESCE(nv, 0)) OVER (ORDER BY ck
        |      ROWS UNBOUNDED PRECEDING) AS vocab
        |  FROM cks LEFT JOIN tc ON tc.b = cks.ck
        |    LEFT JOIN fv ON fv.b = cks.ck),
        |terms AS (SELECT round(ln(CAST(n_tokens AS DOUBLE)), 9) AS x,
        |        round(ln(CAST(vocab AS DOUBLE)), 9) AS y
        |      FROM curve WHERE n_tokens > 0 AND vocab > 0),
        |s AS (SELECT count(*) AS n_points,
        |$fitSums
        |SELECT n_points,
        |  CASE WHEN n_points * sxx - sx * sx > 0.000001 THEN
        |    round((n_points * sxy - sx * sy)
        |      / (n_points * sxx - sx * sx), 9)
        |  END AS slope
        |FROM s""".stripMargin),

    // ---- E19 Zipf-slope naturalness screen over the token-frequency
    // distribution (natural text ≈ −1) ----
    Query("q_zipf", family, (s, d) =>
      Ngrams.zipfSlope(docsSpread(s, d), minTf = 5)
        .orderBy("n_types"),
      // per-type terms round to 9 then sum as DECIMAL(38,9): the slope is
      // order-independent; rank built from the tf-distribution prefix +
      // within-tf row_number (identical to the global frequency sort)
      s"""WITH tf AS (SELECT tok, count(*) AS tf
        |      FROM (SELECT unnest(string_split(text, ' ')) AS tok
        |            FROM documents)
        |      GROUP BY tok HAVING count(*) >= 5),
        |d AS (SELECT tf AS f, count(*) AS cnt FROM tf GROUP BY 1),
        |c AS (SELECT f, COALESCE(sum(cnt) OVER (ORDER BY f DESC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |        AS higher FROM d),
        |r AS (SELECT t.tf,
        |        c.higher + row_number() OVER (PARTITION BY t.tf
        |          ORDER BY t.tok) AS rank
        |      FROM tf t JOIN c ON c.f = t.tf),
        |terms AS (SELECT round(ln(CAST(rank AS DOUBLE)), 9) AS x,
        |        round(ln(CAST(tf AS DOUBLE)), 9) AS y FROM r),
        |s AS (SELECT count(*) AS n_types,
        |$fitSums
        |SELECT n_types,
        |  CASE WHEN n_types * sxx - sx * sx > 0.000001 THEN
        |    round((n_types * sxy - sx * sy) / (n_types * sxx - sx * sx), 9)
        |  END AS slope
        |FROM s ORDER BY n_types""".stripMargin),

    // ---- E24 power-law exponent of that degree distribution (the
    // hubs-exist? screen: generic log-log OLS over the histogram) ----
    Query("q_powerlaw", family, (s, d) => {
      val edges = t(s, d, "orders").select("o_orderkey", "o_custkey")
        .join(t(s, d, "lineitem").select("l_orderkey", "l_suppkey"),
          col("o_orderkey") === col("l_orderkey"))
      operators.Profiling.loglogFit(
        operators.Graphs.degreeHistogram(edges, "o_custkey", "l_suppkey"),
        "degree", "n_nodes")
        .orderBy("n_points")
    },
      // same rounded-decimal OLS arithmetic as q_zipf, over the degree
      // histogram
      s"""WITH e AS (SELECT DISTINCT o_custkey AS s, l_suppkey AS d
        |      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |      WHERE o_custkey IS NOT NULL AND l_suppkey IS NOT NULL),
        |dg AS (SELECT s, count(*) AS degree FROM e GROUP BY 1),
        |h AS (SELECT degree, count(*) AS n_nodes FROM dg GROUP BY 1),
        |terms AS (SELECT round(ln(CAST(degree AS DOUBLE)), 9) AS x,
        |        round(ln(CAST(n_nodes AS DOUBLE)), 9) AS y
        |      FROM h WHERE degree > 0 AND n_nodes > 0),
        |s AS (SELECT count(*) AS n_points,
        |$fitSums
        |SELECT n_points,
        |  CASE WHEN n_points * sxx - sx * sx > 0.000001 THEN
        |    round((n_points * sxy - sx * sy)
        |      / (n_points * sxx - sx * sx), 9)
        |  END AS slope
        |FROM s ORDER BY n_points""".stripMargin),

    // ---- E20 constraint-suite validation in one scan (the pre-commit
    // expectation gate): violation counts + verdicts per rule; two
    // rules pass, two fail by construction so counts are exercised ----
    Query("q_validate", family, (s, d) => {
      import operators.Profiling.{InRange, NotNull, OneOf, Unique}
      operators.Profiling.validate(t(s, d, "documents"), Seq(
          NotNull("lang"), Unique("doc_id"),
          InRange("n_chars", 0, 550),
          OneOf("source", Seq("src0", "src1", "src2"))))
        .orderBy("rule")
    },
      """WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows
        |           FROM documents),
        |v1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM documents
        |       WHERE lang IS NULL),
        |v2 AS (SELECT CAST(COUNT(*) - COUNT(DISTINCT doc_id) AS BIGINT)
        |         AS v FROM documents WHERE doc_id IS NOT NULL),
        |v2n AS (SELECT CAST(CASE WHEN COUNT(*) > 0
        |                 THEN COUNT(*) - 1 ELSE 0 END AS BIGINT) AS extra
        |        FROM documents WHERE doc_id IS NULL),
        |v3 AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM documents
        |       WHERE n_chars IS NOT NULL
        |         AND (n_chars < 0 OR n_chars > 550)),
        |v4 AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM documents
        |       WHERE source IS NOT NULL
        |         AND source NOT IN ('src0', 'src1', 'src2'))
        |SELECT 'in_range(n_chars)' AS rule, 'n_chars' AS "column",
        |  n.n_rows, v3.v AS violations, v3.v = 0 AS passed FROM n, v3
        |UNION ALL
        |SELECT 'not_null(lang)', 'lang', n.n_rows, v1.v, v1.v = 0
        |FROM n, v1
        |UNION ALL
        |SELECT 'one_of(source)', 'source', n.n_rows, v4.v, v4.v = 0
        |FROM n, v4
        |UNION ALL
        |SELECT 'unique(doc_id)', 'doc_id', n.n_rows,
        |  v2.v + v2n.extra, v2.v + v2n.extra = 0
        |FROM n, v2, v2n
        |ORDER BY rule""".stripMargin),

    // ---- E20 exact two-sample KS statistic on doc lengths between two
    // sources — the numeric drift monitor (q_dist_drift covers
    // categorical keys); integer numerator is the hash-checked value ----
    Query("q_ks_drift", family, (s, d) => {
      val docs = t(s, d, "documents")
      operators.Profiling.ksTwoSample(
        docs.filter(col("source") === "src0"),
        docs.filter(col("source") === "src1"), "n_chars")
    },
      """WITH u AS (
        |  SELECT CAST(floor(n_chars / 1.0) * 1.0 AS DOUBLE) AS v,
        |         0 AS side
        |  FROM documents WHERE source = 'src0'
        |  UNION ALL
        |  SELECT CAST(floor(n_chars / 1.0) * 1.0 AS DOUBLE) AS v,
        |         1 AS side
        |  FROM documents WHERE source = 'src1'),
        |pb AS (SELECT v,
        |         SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS ca,
        |         SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS cb
        |       FROM u GROUP BY v),
        |t AS (SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
        |             CAST(SUM(cb) AS BIGINT) AS n_b FROM pb),
        |c AS (SELECT
        |        CAST(SUM(ca) OVER (ORDER BY v
        |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cuma,
        |        CAST(SUM(cb) OVER (ORDER BY v
        |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumb
        |      FROM pb)
        |SELECT t.n_a, t.n_b,
        |  CAST(MAX(ABS(cuma * t.n_b - cumb * t.n_a)) AS BIGINT) AS d_num,
        |  CAST(MAX(ABS(cuma * t.n_b - cumb * t.n_a)) AS DOUBLE)
        |    / (t.n_a * t.n_b) AS ks_d
        |FROM c, t GROUP BY t.n_a, t.n_b""".stripMargin),

    // ---- E20 incremental distinct: per-day HLL sketch slices, merged.
    // The sketch binary is engine-specific; the oracle checks the exact
    // companion count and asserts the merged estimate's tolerance
    // verdict (±5% ≈ 3·rsd at lgK=12) ----
    Query("q_sketch_distinct", family, (s, d) => {
      val ev = t(s, d, "events")
      val est = operators.Profiling.hllMergedEstimate(
        operators.Profiling.hllSlices(ev, to_date(col("ts")), "user_id"))
      ev.agg(count_distinct(col("user_id")).as("exact_users"))
        .crossJoin(est)
        .select(col("exact_users"), col("n_rows"),
          (abs(col("approx_distinct").cast("double") - col("exact_users"))
            <= col("exact_users") * lit(0.05)).as("within_tol"))
    },
      // merged-sketch estimate is engine-specific; the oracle pins the
      // exact count, the sliced row total, and the tolerance verdict
      """SELECT COUNT(DISTINCT user_id) AS exact_users,
        |  COUNT(*) AS n_rows, TRUE AS within_tol
        |FROM events""".stripMargin),
  )
}
