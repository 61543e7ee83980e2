package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.SparkEntry.{docsSpread, entry, sumDec, t}
import graft.operators.{Joins, Ngrams}

/** Relational queries: scans, filters, casts, joins (dimension,
  * multi-key, as-of, interval, salted, bloom, fuzzy), set operations,
  * space-filling layouts and the TPC-H-shaped suite, with the flagship
  * star join. */
object RelationalQueries {

  private val family = "relational"

  /** q_hilbert oracle, generated: the xy2d walk unrolled as one CTE per
    * level with level-indexed column names (x0/y0/d0 → x8/y8/d8), so no
    * SELECT ever references an alias it also defines — immune to
    * lateral-alias precedence differences between engines. Quantization
    * is the q_zorder oracle's integer formula verbatim. */
  private val hilbertOracle: String = {
    val sb = new StringBuilder
    sb ++= """WITH qd AS (SELECT user_id, event_id,
      |  ((least(greatest(CAST(user_id AS BIGINT), 0), 256) - 0) * 255) // 256 AS u,
      |  ((least(greatest(CAST(event_id AS BIGINT), 0), 16384) - 0) * 255) // 16384 AS e
      |  FROM events),
      |lvl0 AS (SELECT user_id, event_id, u AS x0, e AS y0, 0 AS d0 FROM qd)""".stripMargin
    for (k <- 1 to 8) {
      val s = 1L << (8 - k)
      val (x, y, dd) = (s"x${k - 1}", s"y${k - 1}", s"d${k - 1}")
      sb ++= s""",
        |lvl$k AS (SELECT user_id, event_id,
        |  CASE WHEN ($y & $s) > 0 THEN $x
        |       WHEN ($x & $s) > 0 THEN ${s - 1} - $y ELSE $y END AS x$k,
        |  CASE WHEN ($y & $s) > 0 THEN $y
        |       WHEN ($x & $s) > 0 THEN ${s - 1} - $x ELSE $x END AS y$k,
        |  $dd + ${s * s} * (CASE
        |    WHEN ($x & $s) > 0 AND ($y & $s) > 0 THEN 2
        |    WHEN ($x & $s) > 0 THEN 3
        |    WHEN ($y & $s) > 0 THEN 1 ELSE 0 END) AS d$k
        |  FROM lvl${k - 1})""".stripMargin
    }
    sb ++= """
      |SELECT CAST(d8 >> 8 AS BIGINT) AS bucket, COUNT(*) AS n,
      |  MIN(user_id) AS min_u, MAX(user_id) AS max_u,
      |  MIN(event_id) AS min_e, MAX(event_id) AS max_e
      |FROM lvl8 GROUP BY 1 ORDER BY 1""".stripMargin
    sb.toString
  }

  val all: Seq[Query] = Seq(
    // ---- flagship (oracle-checked like every other query) ----
    Query("entry", family, (s, d) => entry(s, d),
      """SELECT r_name, n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
        |    AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin),

    // ---- §2.1/2.3 scans, projection, rename (S1–S3, P1, P2) ----
    Query("q_scan_project", family, (s, d) =>
      t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
                col("l_extendedprice").as("price"))
        .orderBy("l_orderkey", "l_linenumber", "price"),
      """SELECT l_orderkey, l_linenumber, l_extendedprice AS price
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, price""".stripMargin),

    // ---- P6 dropna ----
    Query("q_dropna", family, (s, d) =>
      t(s, d, "customer")
        .na.drop("any", Seq("c_name", "c_acctbal", "c_mktsegment"))
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey"),
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE c_name IS NOT NULL AND c_acctbal IS NOT NULL
        |  AND c_mktsegment IS NOT NULL
        |ORDER BY c_custkey""".stripMargin),

    // ---- P7 OR-chain non-empty filter (preserved OR semantics) ----
    Query("q_filter_or_nonempty", family, (s, d) =>
      t(s, d, "customer")
        .filter(col("c_name") =!= "" || col("c_mktsegment") =!= "")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey"),
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE c_name <> '' OR c_mktsegment <> ''
        |ORDER BY c_custkey""".stripMargin),

    // ---- P8 equality filter (page = 'NextSong' analogue) ----
    Query("q_filter_eq", family, (s, d) =>
      t(s, d, "orders")
        .filter(col("o_orderstatus") === "F")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey"),
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE o_orderstatus = 'F' ORDER BY o_orderkey""".stripMargin),

    // ---- A1 distinct ----
    Query("q_distinct", family, (s, d) =>
      t(s, d, "lineitem")
        .select("l_returnflag", "l_linestatus").distinct()
        .orderBy("l_returnflag", "l_linestatus"),
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // ---- J1 single-key dim join (broadcast) ----
    Query("q_join_dim", family, (s, d) =>
      t(s, d, "orders")
        .join(broadcast(t(s, d, "customer")),
              col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "c_name", "o_totalprice")
        .orderBy("o_orderkey"),
      """SELECT o_orderkey, c_name, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin),

    // ---- J2 multi-key equi-join with a Double key, bit-exact ----
    Query("q_join_multikey", family, (s, d) => {
      val p = t(s, d, "part")
      val a = p.as("a"); val b = p.as("b")
      a.join(b,
          col("a.p_brand") === col("b.p_brand") &&
          col("a.p_type") === col("b.p_type") &&
          col("a.p_retailprice") === col("b.p_retailprice") &&
          col("a.p_partkey") < col("b.p_partkey"))
        .select(col("a.p_partkey").as("pk_a"), col("b.p_partkey").as("pk_b"),
                col("a.p_retailprice").as("price"))
        .orderBy("pk_a", "pk_b")
    },
      """SELECT a.p_partkey AS pk_a, b.p_partkey AS pk_b,
        |  a.p_retailprice AS price
        |FROM part a JOIN part b
        |  ON a.p_brand = b.p_brand AND a.p_type = b.p_type
        | AND a.p_retailprice = b.p_retailprice
        | AND a.p_partkey < b.p_partkey
        |ORDER BY pk_a, pk_b""".stripMargin),

    // ---- J1+J2 star join + grouped agg (songplays-shaped) ----
    Query("q_join_star", family, (s, d) =>
      t(s, d, "orders")
        .join(broadcast(t(s, d, "customer")),
              col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "nation")),
              col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")),
              col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n_orders"),
             sumDec(col("o_totalprice")).as("total"))
        .orderBy("r_name", "n_name"),
      """SELECT r_name, n_name, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin),

    // ---- TPC-H Q3-shaped: shipping-priority revenue ----
    Query("q_tpch3", family, (s, d) =>
      t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
        .join(t(s, d, "orders"),
              col("c_custkey") === col("o_custkey") &&
              col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .join(t(s, d, "lineitem"),
              col("o_orderkey") === col("l_orderkey") &&
              col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(sumDec(col("l_extendedprice") * (lit(1) - col("l_discount")), 6)
               .as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(20),
      """SELECT l_orderkey, o_orderdate,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
        |    AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |JOIN lineitem ON o_orderkey = l_orderkey
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 20""".stripMargin),

    // ---- TPC-H Q10-shaped: returned-item revenue per customer ----
    Query("q_tpch10", family, (s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"))
        .join(t(s, d, "lineitem"),
              col("o_orderkey") === col("l_orderkey") &&
              col("l_returnflag") === "R")
        .join(broadcast(t(s, d, "nation")),
              col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(sumDec(col("l_extendedprice") * (lit(1) - col("l_discount")), 6)
               .as("revenue"),
             count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20),
      """SELECT c_custkey, c_name, n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
        |    AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey AND l_returnflag = 'R'
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin),

    // ---- TPC-H Q6-shaped: selective-scan forecast revenue (the classic
    // predicate-pushdown benchmark: every filter reaches the scan) ----
    Query("q_tpch6", family, (s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1997-01-01") &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
        .agg(sumDec(col("l_extendedprice") * col("l_discount"), 6)
               .as("revenue"),
             count(lit(1)).as("n_items")),
      """SELECT
        |  CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6)))
        |    AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin),

    // ---- TPC-H Q7-shaped: bilateral trade volume between two nations
    // by ship year. Both nation dims broadcast (filtered to the two
    // names scan-side); the fact tables chain through hash joins and
    // ONE final tiny aggregate — the 6-table join is the point. ----
    Query("q_tpch7", family, (s, d) => {
      val n1 = t(s, d, "nation")
        .filter(col("n_name").isin("NATION_1", "NATION_2"))
        .select(col("n_nationkey").as("__snk"),
                col("n_name").as("supp_nation"))
      val n2 = t(s, d, "nation")
        .filter(col("n_name").isin("NATION_1", "NATION_2"))
        .select(col("n_nationkey").as("__cnk"),
                col("n_name").as("cust_nation"))
      t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, d, "supplier")),
              col("l_suppkey") === col("s_suppkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("s_nationkey") === col("__snk"))
        .join(broadcast(n2), col("c_nationkey") === col("__cnk"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
                 year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(sumDec(col("l_extendedprice") * (lit(1) - col("l_discount")), 6)
               .as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    },
      """SELECT supp_nation, cust_nation, l_year,
        |  CAST(SUM(CAST(volume AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |    CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |    l_extendedprice * (1 - l_discount) AS volume
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  WHERE n1.n_name IN ('NATION_1', 'NATION_2')
        |    AND n2.n_name IN ('NATION_1', 'NATION_2')
        |    AND n1.n_name <> n2.n_name)
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin),

    // ---- TPC-H Q8-shaped: one nation's market share inside one
    // region's orders for one part type, by order year — the widest
    // star join in the suite (8 tables; every dim broadcast, the two
    // fact tables chain through hash joins, one tiny final aggregate) ----
    Query("q_tpch8", family, (s, d) => {
      val n1 = t(s, d, "nation")
        .select(col("n_nationkey").as("__snk"), col("n_name").as("nation"))
      val n2 = t(s, d, "nation")
        .select(col("n_nationkey").as("__cnk"),
                col("n_regionkey").as("__crk"))
      t(s, d, "lineitem")
        .join(broadcast(t(s, d, "part")
                .filter(col("p_type") === "ECONOMY")),
              col("l_partkey") === col("p_partkey"))
        .join(broadcast(t(s, d, "supplier")),
              col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("__snk"))
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n2), col("c_nationkey") === col("__cnk"))
        .join(broadcast(t(s, d, "region")
                .filter(col("r_name") === "EUROPE")),
              col("__crk") === col("r_regionkey"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg((lit(100.0) *
                sumDec(when(col("nation") === "NATION_1",
                    col("l_extendedprice") * (lit(1) - col("l_discount")))
                  .otherwise(lit(0.0)), 6) /
                sumDec(col("l_extendedprice") * (lit(1) - col("l_discount")),
                  6)).as("mkt_share"),
             count(lit(1)).as("n_items"))
        .orderBy("o_year")
    },
      """SELECT o_year,
        |  100.0 * CAST(SUM(CAST(CASE WHEN nation = 'NATION_1'
        |      THEN volume ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE) /
        |  CAST(SUM(CAST(volume AS DECIMAL(18,6))) AS DOUBLE)
        |    AS mkt_share,
        |  COUNT(*) AS n_items
        |FROM (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |    l_extendedprice * (1 - l_discount) AS volume,
        |    n1.n_name AS nation
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  JOIN region ON n2.n_regionkey = r_regionkey
        |    AND r_name = 'EUROPE')
        |GROUP BY o_year ORDER BY o_year""".stripMargin),

    // ---- TPC-H Q13-shaped: customer order-count distribution — the
    // classic LEFT join + double aggregate (zero-order customers must
    // survive to the c_count=0 bucket) ----
    Query("q_tpch13", family, (s, d) =>
      t(s, d, "customer").select("c_custkey")
        .join(t(s, d, "orders").select("o_custkey", "o_orderkey"),
              col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc),
      """SELECT c_count, COUNT(*) AS custdist FROM (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin),

    // ---- TPC-H Q14-shaped: promo revenue share for one month. The
    // part dim broadcasts; the conditional sum runs map-side — one
    // scalar row crosses the final exchange. ----
    Query("q_tpch14", family, (s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-03-01").cast("timestamp") &&
                col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
        .join(broadcast(t(s, d, "part")),
              col("l_partkey") === col("p_partkey"))
        .agg((lit(100.0) *
                sumDec(when(col("p_type") === "PROMO",
                    col("l_extendedprice") * (lit(1) - col("l_discount")))
                  .otherwise(lit(0.0)), 6) /
                sumDec(col("l_extendedprice") * (lit(1) - col("l_discount")),
                  6)).as("promo_revenue"),
             count(lit(1)).as("n_items")),
      """SELECT 100.0 *
        |  CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
        |      THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END
        |    AS DECIMAL(18,6))) AS DOUBLE) /
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(18,6))) AS DOUBLE) AS promo_revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-03-01'
        |  AND l_shipdate < TIMESTAMP '1997-04-01'""".stripMargin),

    // ---- TPC-H Q15-shaped: top supplier by quarterly revenue — an
    // aggregate view consumed twice (argmax via broadcast scalar max,
    // not a window), supplier dim broadcast onto the one winning row ----
    Query("q_tpch15", family, (s, d) => {
      val rev = t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
                col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
        .groupBy("l_suppkey")
        .agg(sumDec(col("l_extendedprice") * (lit(1) - col("l_discount")), 6)
               .as("total_revenue"))
      val revP = operators.OpCaches.register(rev.persist())
      val mx = revP.agg(max(col("total_revenue")).as("__mx"))
      revP.join(broadcast(mx), col("total_revenue") === col("__mx"))
        .join(broadcast(t(s, d, "supplier")),
              col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
        .orderBy("s_suppkey")
    },
      """WITH revenue AS (
        |  SELECT l_suppkey,
        |    CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
        |      AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM supplier JOIN revenue ON s_suppkey = l_suppkey
        |WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin),

    // ---- TPC-H Q18-shaped: large-quantity orders — the HAVING
    // semi-join folds into the same aggregate that produces sum_qty
    // (one lineitem shuffle, no IN-subquery re-scan) ----
    Query("q_tpch18", family, (s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_orderkey")
        .agg(sumDec(col("l_quantity")).as("sum_qty"))
        .filter(col("sum_qty") > 250)
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, d, "customer")),
              col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
                col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100),
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
        |  sum_qty
        |FROM (
        |  SELECT l_orderkey,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |      AS sum_qty
        |  FROM lineitem GROUP BY l_orderkey) big
        |JOIN orders ON big.l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE sum_qty > 250
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin),

    // ---- TPC-H Q19-shaped: disjunctive brand/size/quantity predicate
    // evaluated INSIDE the broadcast join (OR-of-ANDs join condition —
    // Catalyst keeps the equi-key, the residual filters in-join) ----
    Query("q_tpch19", family, (s, d) =>
      t(s, d, "lineitem")
        .join(broadcast(t(s, d, "part")),
          col("l_partkey") === col("p_partkey") && (
            (col("p_brand") === "Brand#1" &&
             col("p_size").between(1, 15) &&
             col("l_quantity").between(1, 11)) ||
            (col("p_brand") === "Brand#2" &&
             col("p_size").between(1, 25) &&
             col("l_quantity").between(10, 20)) ||
            (col("p_brand") === "Brand#3" &&
             col("p_size").between(1, 35) &&
             col("l_quantity").between(20, 30))))
        .agg(sumDec(col("l_extendedprice") * (lit(1) - col("l_discount")), 6)
               .as("revenue"),
             count(lit(1)).as("n_items")),
      """SELECT
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |        AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
        |        AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
        |        AND l_quantity BETWEEN 20 AND 30)""".stripMargin),

    // ---- TPC-H Q4-shaped: order-priority checking. EXISTS a late-
    // shipped line (l_shipdate after the order date — the corpus has no
    // commit/receipt dates) = one LEFT SEMI join with a non-equi
    // conjunct; the orders date filter prunes scan-side. ----
    Query("q_tpch4", family, (s, d) =>
      t(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
                col("o_orderdate") < lit("1996-07-01").cast("timestamp"))
        .join(t(s, d, "lineitem"),
              col("o_orderkey") === col("l_orderkey") &&
              col("l_shipdate") > col("o_orderdate"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority"),
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // ---- TPC-H Q5-shaped: local-supplier volume — revenue where the
    // CUSTOMER's nation equals the SUPPLIER's nation, one region, one
    // year. The extra c_nationkey = s_nationkey conjunct is the Q5
    // signature; supplier/nation/region broadcast, facts hash-join. ----
    Query("q_tpch5", family, (s, d) =>
      t(s, d, "lineitem")
        .join(t(s, d, "orders"),
              col("l_orderkey") === col("o_orderkey") &&
              col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .join(broadcast(t(s, d, "supplier")),
              col("l_suppkey") === col("s_suppkey"))
        .join(t(s, d, "customer"),
              col("o_custkey") === col("c_custkey") &&
              col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(t(s, d, "nation")),
              col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")
                .filter(col("r_name") === "EUROPE")),
              col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(sumDec(col("l_extendedprice") * (lit(1) - col("l_discount")), 6)
               .as("revenue"))
        .orderBy(col("revenue").desc, col("n_name")),
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey
        |             AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'EUROPE'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin),

    // ---- TPC-H Q12-shaped: late-shipment priority split by line
    // status (the corpus has no ship mode): conditional aggregation
    // folded map-side into ONE orders⋈lineitem join. ----
    Query("q_tpch12", family, (s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
                col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
            .otherwise(1L)).as("low_line_count"))
        .orderBy("l_linestatus"),
      """SELECT l_linestatus,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin),

    // ---- TPC-H Q17-shaped: small-quantity-order revenue for one
    // brand. The per-part average-quantity threshold is kept EXACT by
    // clearing denominators: qty < 0.2·(sum/n) ⇔ 5·qty·n < sum with
    // integral quantities summed as DECIMAL — no float rounding to
    // diverge between engines. The brand dim broadcasts; the per-part
    // aggregate joins back to the fact on the part key. ----
    Query("q_tpch17", family, (s, d) => {
      val li = t(s, d, "lineitem")
      val perPart = li.groupBy(col("l_partkey").as("pk"))
        .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).as("sq"),
             count(lit(1)).as("nq"))
      li.join(broadcast(t(s, d, "part")
            .filter(col("p_brand") === "Brand#1")),
          col("l_partkey") === col("p_partkey"))
        .join(perPart, col("l_partkey") === col("pk"))
        .filter(lit(5) * col("l_quantity").cast(DecimalType(18, 2)) *
                col("nq") < col("sq"))
        .agg(sumDec(col("l_extendedprice"), 2).as("total_price"),
             count(lit(1)).as("n_items"))
    },
      """WITH pp AS (
        |  SELECT l_partkey AS pk,
        |    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sq,
        |    COUNT(*) AS nq
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_price,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_brand = 'Brand#1'
        |JOIN pp ON l_partkey = pk
        |WHERE 5 * CAST(l_quantity AS DECIMAL(18,2)) * nq < sq""".stripMargin),

    // ---- TPC-H Q22-shaped: global sales opportunity — well-funded
    // customers (acctbal above the positive-balance average, compared
    // exactly via acctbal·n > sum with DECIMAL cents) DORMANT since
    // 2000 (anti join against recent orders — every customer here has
    // SOME order, so the unrestricted Q22 anti join would be the
    // 0-row trap q_anti_join had), counted per nation (the corpus has
    // no phone country codes). The scalar average broadcasts. ----
    Query("q_tpch22", family, (s, d) => {
      val c = t(s, d, "customer")
      val posAvg = c.filter(col("c_acctbal") > 0)
        .agg(sum(col("c_acctbal").cast(DecimalType(18, 2))).as("sb"),
             count(lit(1)).as("nb"))
      c.crossJoin(broadcast(posAvg))
        .filter(col("c_acctbal").cast(DecimalType(18, 2)) * col("nb") >
                col("sb"))
        .join(t(s, d, "orders").filter(
                col("o_orderdate") >= lit("2000-01-01").cast("timestamp")),
              col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey").as("cntry"))
        .agg(count(lit(1)).as("numcust"),
             sumDec(col("c_acctbal"), 2).as("totacctbal"))
        .orderBy("cntry")
    },
      """WITH pa AS (
        |  SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS sb,
        |         COUNT(*) AS nb
        |  FROM customer WHERE c_acctbal > 0)
        |SELECT c_nationkey AS cntry, COUNT(*) AS numcust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |    AS totacctbal
        |FROM customer, pa
        |WHERE CAST(c_acctbal AS DECIMAL(18,2)) * nb > sb
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = customer.c_custkey
        |                    AND o.o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY c_nationkey ORDER BY cntry""".stripMargin),

    // ---- grouped aggregation (TPC-H Q1-shaped pricing summary) ----
    Query("q1_agg", family, (s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sumDec(col("l_quantity")).as("sum_qty"),
             sumDec(col("l_extendedprice")).as("sum_base"),
             sumDec(col("l_extendedprice") * (lit(1) - col("l_discount")), 6)
               .as("revenue"),
             (sumDec(col("l_quantity")) / count(lit(1))).as("avg_qty"),
             count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus"),
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // ---- group + having ----
    Query("q_group_having", family, (s, d) =>
      t(s, d, "orders")
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
             sumDec(col("o_totalprice")).as("total_spent"))
        .filter(col("n_orders") >= 2)
        .orderBy("o_custkey"),
      """SELECT o_custkey, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
        |FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 2
        |ORDER BY o_custkey""".stripMargin),

    // ---- sort + limit top-k ----
    Query("q_topk", family, (s, d) =>
      t(s, d, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10),
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin),

    // ---- set op: union distinct ----
    Query("q_union", family, (s, d) =>
      t(s, d, "customer").select(col("c_nationkey").as("k"))
        .union(t(s, d, "supplier").select(col("s_nationkey").as("k")))
        .distinct()
        .orderBy("k"),
      """SELECT c_nationkey AS k FROM customer
        |UNION SELECT s_nationkey AS k FROM supplier
        |ORDER BY k""".stripMargin),

    // ---- anti join (NOT EXISTS): customers with no big-ticket order.
    // The right side is restricted (o_totalprice > 400k) so the
    // survivor set is non-empty at every SF (202 rows at sf0.01) —
    // an all-customers anti-join matches nobody in this corpus and a
    // 0-row hash match proves nothing about anti-join semantics. ----
    Query("q_anti_join", family, (s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders").filter(col("o_totalprice") > 400000),
              col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey"),
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin),

    // ---- semi join (EXISTS) ----
    Query("q_semi_join", family, (s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders"),
              col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey"),
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin),

    // ---- E1 exact dedup ----
    Query("q_dedup_exact", family, (s, d) =>
      t(s, d, "documents")
        .groupBy("text")
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
        .select("doc_id", "n_copies")
        .orderBy("doc_id"),
      """SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin),

    // ---- Z-order layout: quantize (user_id, event_id) to 8 bits each,
    // interleave to a Morton key, report per-z-run bounding rectangles —
    // the tight per-bucket min/max on BOTH dims in the output IS the
    // multi-column zone-map pruning evidence ----
    Query("q_zorder", family, (s, d) => {
      val z = operators.Layout.zvalue(Seq(
        operators.Layout.quantize(col("user_id"), 0L, 256L, 8),
        operators.Layout.quantize(col("event_id"), 0L, 16384L, 8)), 8)
      t(s, d, "events")
        .withColumn("zv", z)
        .groupBy(shiftright(col("zv"), 8).as("bucket"))
        .agg(count(lit(1)).as("n"),
          min("user_id").as("min_u"), max("user_id").as("max_u"),
          min("event_id").as("min_e"), max("event_id").as("max_e"))
        .orderBy("bucket")
    },
      // same quantize + bit-interleave formula as Layout.zvalue, replayed
      // in closed-form SQL (integer div + shift/and/or — engine-exact)
      """WITH qd AS (SELECT user_id, event_id,
        |  ((least(greatest(CAST(user_id AS BIGINT), 0), 256) - 0) * 255) // 256 AS u,
        |  ((least(greatest(CAST(event_id AS BIGINT), 0), 16384) - 0) * 255) // 16384 AS e
        |  FROM events),
        |z AS (SELECT user_id, event_id,
        |  (((u >> 0) & 1) << 0) | (((e >> 0) & 1) << 1) |
        |  (((u >> 1) & 1) << 2) | (((e >> 1) & 1) << 3) |
        |  (((u >> 2) & 1) << 4) | (((e >> 2) & 1) << 5) |
        |  (((u >> 3) & 1) << 6) | (((e >> 3) & 1) << 7) |
        |  (((u >> 4) & 1) << 8) | (((e >> 4) & 1) << 9) |
        |  (((u >> 5) & 1) << 10) | (((e >> 5) & 1) << 11) |
        |  (((u >> 6) & 1) << 12) | (((e >> 6) & 1) << 13) |
        |  (((u >> 7) & 1) << 14) | (((e >> 7) & 1) << 15) AS zv FROM qd)
        |SELECT zv >> 8 AS bucket, COUNT(*) AS n,
        |  MIN(user_id) AS min_u, MAX(user_id) AS max_u,
        |  MIN(event_id) AS min_e, MAX(event_id) AS max_e
        |FROM z GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- E25 Hilbert-curve layout beside q_zorder's Morton key, same
    // dims/bits/bucketing: consecutive indices are grid NEIGHBORS, so
    // the per-bucket extents profile tighter than Z-order's quadrant
    // jumps — compare the two queries' min/max spans directly ----
    Query("q_hilbert", family, (s, d) => {
      val h = operators.Layout.hilbertValue(
        operators.Layout.quantize(col("user_id"), 0L, 256L, 8),
        operators.Layout.quantize(col("event_id"), 0L, 16384L, 8), 8)
      t(s, d, "events")
        .withColumn("hv", h)
        .groupBy(shiftright(col("hv"), 8).as("bucket"))
        .agg(count(lit(1)).as("n"),
          min("user_id").as("min_u"), max("user_id").as("max_u"),
          min("event_id").as("min_e"), max("event_id").as("max_e"))
        .orderBy("bucket")
    }, hilbertOracle),

    // ---- E20 2-D skyline: Pareto frontier of (price, recency) over
    // orders — two-level bucketed, no corpus-wide sort ----
    Query("q_skyline", family, (s, d) =>
      operators.Ops.skyline2D(
        t(s, d, "orders").select(col("o_totalprice").as("price"),
          unix_date(col("o_orderdate").cast("date")).as("day")),
        "price", "day")
        .orderBy("x"),
      // the frontier is definitionally checkable: NOT EXISTS dominance
      """WITH p AS (SELECT CAST(o_totalprice AS DOUBLE) AS x,
        |        CAST(date_diff('day', DATE '1970-01-01',
        |          CAST(o_orderdate AS DATE)) AS DOUBLE) AS y
        |      FROM orders
        |      WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL)
        |SELECT DISTINCT x, y FROM p p1
        |WHERE NOT EXISTS (SELECT 1 FROM p p2
        |  WHERE p2.x >= p1.x AND p2.y >= p1.y
        |    AND (p2.x > p1.x OR p2.y > p1.y))
        |ORDER BY x""".stripMargin),

    // ---- E26 best-match linkage: each name's highest-similarity
    // partner from the blocked Jaro–Winkler pairs (rank ties broken
    // by partner name, WindowGroupLimit-fused) ----
    Query("q_best_match", family, (s, d) => {
      val pairs = Joins.blockedJaroWinkler(
        t(s, d, "part").select("p_name").distinct(),
        "p_name", "p_name",
        element_at(split(col("p_name"), " "), 2), minSim = 0.0)
        .filter(col("jw") < 1.0)
      val sym = pairs.unionByName(pairs.select(col("id_b").as("id_a"),
        col("id_a").as("id_b"), col("jw")))
      val w = Window.partitionBy("id_a")
        .orderBy(col("jw").desc, col("id_b"))
      sym.select(col("id_a"), col("id_b"), col("jw"),
          row_number().over(w).as("rn"))
        .filter(col("rn") === 1).drop("rn")
        .orderBy("id_a")
    },
      """WITH n AS (SELECT DISTINCT p_name FROM part
        |           WHERE p_name IS NOT NULL),
        |p AS (SELECT p_name, split_part(p_name, ' ', 2) AS blk FROM n),
        |pr AS (SELECT a.p_name AS id_a, b.p_name AS id_b,
        |        round(jaro_winkler_similarity(a.p_name, b.p_name), 9)
        |          AS jw
        |      FROM p a JOIN p b ON a.blk = b.blk
        |        AND a.p_name < b.p_name
        |      WHERE round(jaro_winkler_similarity(a.p_name, b.p_name), 9)
        |        < 1.0),
        |sym AS (SELECT id_a, id_b, jw FROM pr
        |        UNION ALL SELECT id_b, id_a, jw FROM pr),
        |r AS (SELECT id_a, id_b, jw, row_number() OVER (
        |        PARTITION BY id_a ORDER BY jw DESC, id_b) AS rn
        |      FROM sym)
        |SELECT id_a, id_b, jw FROM r WHERE rn = 1
        |ORDER BY id_a""".stripMargin),

    // ---- E26 blocked Jaro–Winkler linkage over DISTINCT part names
    // (native codegen'd comparator; blocking = the noun token) ----
    Query("q_jaro_winkler", family, (s, d) =>
      Joins.blockedJaroWinkler(
        t(s, d, "part").select("p_name").distinct(),
        "p_name", "p_name",
        element_at(split(col("p_name"), " "), 2), minSim = 0.8)
        .filter(col("jw") < 1.0)
        .orderBy("id_a", "id_b"),
      // DuckDB's jaro_winkler_similarity IS the pinned semantics of the
      // native expression (boost only above 0.7; empty -> 0); identical
      // names are excluded to keep the linkage dictionary interesting
      """WITH n AS (SELECT DISTINCT p_name FROM part
        |           WHERE p_name IS NOT NULL),
        |p AS (SELECT p_name, split_part(p_name, ' ', 2) AS blk FROM n)
        |SELECT a.p_name AS id_a, b.p_name AS id_b,
        |  round(jaro_winkler_similarity(a.p_name, b.p_name), 9) AS jw
        |FROM p a JOIN p b ON a.blk = b.blk AND a.p_name < b.p_name
        |WHERE round(jaro_winkler_similarity(a.p_name, b.p_name), 9)
        |    >= 0.8
        |  AND round(jaro_winkler_similarity(a.p_name, b.p_name), 9) < 1.0
        |ORDER BY id_a, id_b""".stripMargin),

    // ---- null-safe equality join (<=>) ----
    Query("q_null_safe_join", family, (s, d) => {
      val p = t(s, d, "part")
        .select(col("p_partkey"),
          when(col("p_size") <= 10, lit(null)).otherwise(col("p_size"))
            .as("size_n"))
      val a = p.as("a"); val b = p.as("b")
      a.join(b, col("a.size_n") <=> col("b.size_n") &&
                col("a.p_partkey") < col("b.p_partkey"))
        .groupBy(col("a.size_n").as("size_n"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("size_n").asc_nulls_first)
    },
      """WITH p AS (SELECT p_partkey,
        |  CASE WHEN p_size <= 10 THEN NULL ELSE p_size END AS size_n FROM part)
        |SELECT a.size_n, COUNT(*) AS n_pairs
        |FROM p a JOIN p b ON a.size_n IS NOT DISTINCT FROM b.size_n
        |  AND a.p_partkey < b.p_partkey
        |GROUP BY a.size_n ORDER BY a.size_n NULLS FIRST""".stripMargin),

    // ---- set op: intersect ----
    Query("q_intersect", family, (s, d) =>
      t(s, d, "part").select(col("p_size").as("k"))
        .intersect(t(s, d, "lineitem").select(col("l_linenumber").as("k")))
        .orderBy("k"),
      """SELECT p_size AS k FROM part
        |INTERSECT SELECT l_linenumber AS k FROM lineitem
        |ORDER BY k""".stripMargin),

    // ---- set op: except ----
    Query("q_except", family, (s, d) =>
      t(s, d, "part").select(col("p_size").as("k"))
        .except(t(s, d, "lineitem").select(col("l_linenumber").as("k")))
        .orderBy("k"),
      """SELECT p_size AS k FROM part
        |EXCEPT SELECT l_linenumber AS k FROM lineitem
        |ORDER BY k""".stripMargin),

    // ---- full outer join with coalesced key ----
    Query("q_full_outer", family, (s, d) => {
      val c = t(s, d, "customer").groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_cust"))
      val su = t(s, d, "supplier").groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_supp"))
      c.join(su, col("c_nationkey") === col("s_nationkey"), "full_outer")
        .select(coalesce(col("c_nationkey"), col("s_nationkey")).as("nk"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
        .orderBy("nk")
    },
      """SELECT COALESCE(c.c_nationkey, s.s_nationkey) AS nk,
        |  COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp
        |FROM (SELECT c_nationkey, COUNT(*) AS n_cust FROM customer
        |      GROUP BY c_nationkey) c
        |FULL OUTER JOIN (SELECT s_nationkey, COUNT(*) AS n_supp FROM supplier
        |      GROUP BY s_nationkey) s
        |  ON c.c_nationkey = s.s_nationkey
        |ORDER BY nk""".stripMargin),

    // ---- cross join (cartesian, small dims) ----
    Query("q_cross_join", family, (s, d) =>
      t(s, d, "region").select(col("r_name"))
        .crossJoin(t(s, d, "nation").select(col("n_name")))
        .orderBy("r_name", "n_name"),
      """SELECT r_name, n_name FROM region CROSS JOIN nation
        |ORDER BY r_name, n_name""".stripMargin),

    // ---- as-of join: latest purchase at-or-before each click ----
    // Plan: union + running last(ignoreNulls): one shuffle on the key, no range-join nested loop.
    Query("q_asof_join", family, (s, d) => {
      val e = t(s, d, "events")
      val clicks = e.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("pts"), col("value"))
      Joins.asofJoin(clicks, purchases, "user_id", "ts", "pts",
          Seq("pts", "value"), rightPrefix = "last_")
        .select("event_id", "user_id", "last_pts", "last_value")
        .orderBy("event_id")
    },
      """SELECT c.event_id, c.user_id, p.ts AS last_pts, p.value AS last_value
        |FROM (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
        |      WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id AND c.ts >= p.ts
        |ORDER BY c.event_id""".stripMargin),

    // ---- forward as-of join: next purchase at-or-after each click ----
    Query("q_asof_forward", family, (s, d) => {
      val e = t(s, d, "events")
      val clicks = e.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("pts"), col("value"))
      Joins.asofJoinForward(clicks, purchases, "user_id", "ts", "pts",
          Seq("pts", "value"), rightPrefix = "next_")
        .select("event_id", "user_id", "next_pts", "next_value")
        .orderBy("event_id")
    },
      """SELECT c.event_id, c.user_id, p.ts AS next_pts, p.value AS next_value
        |FROM (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
        |      WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id AND c.ts <= p.ts
        |ORDER BY c.event_id""".stripMargin),

    // ---- salted skew join: result must equal the plain join (oracle) ----
    Query("q_salted_join", family, (s, d) => {
      val li = t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
                col("l_partkey").as("pk"), col("l_quantity"))
      val p = t(s, d, "part")
        .select(col("p_partkey").as("pk"), col("p_brand"))
      Joins.saltedJoin(li, p, "pk")
        .select("l_orderkey", "l_linenumber", "pk", "l_quantity", "p_brand")
        .orderBy("l_orderkey", "l_linenumber")
    },
      // the salted formulation must be indistinguishable from the plain join
      """SELECT l_orderkey, l_linenumber, l_partkey AS pk, l_quantity, p_brand
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // ---- bloom semi-join reduction: fact rows probe a scalar-subquery
    // bloom of the dim keys BEFORE the join's shuffle; no false
    // negatives, so the result must equal the plain join (oracle) ----
    Query("q_bloom_join", family, (s, d) => {
      val sup = t(s, d, "supplier")
        .filter(col("s_nationkey") === 3)
        .select(col("s_suppkey"), col("s_name"))
      val li = t(s, d, "lineitem")
        .select(col("l_suppkey"), col("l_quantity"))
      Joins.bloomJoin(li, "l_suppkey", sup, "s_suppkey",
          expectedItems = 4000L)
        .groupBy(col("s_suppkey"), col("s_name"))
        .agg(count(lit(1)).as("n_items"), sum(col("l_quantity")).as("sum_qty"))
        .orderBy("s_suppkey")
    },
      // the bloom pre-filter admits no false negatives and the join culls
      // false positives, so the reduced plan equals the plain join
      """SELECT s_suppkey, s_name, COUNT(*) AS n_items,
        |  SUM(l_quantity) AS sum_qty
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |WHERE s_nationkey = 3
        |GROUP BY s_suppkey, s_name ORDER BY s_suppkey""".stripMargin),

    // ---- range join: events bucketed into value bands ----
    Query("q_range_join", family, (s, d) => {
      import s.implicits._
      val bands = Seq((0.0, 50.0, "low"), (50.0, 200.0, "mid"),
                      (200.0, 500.0, "high")).toDF("lo", "hi", "band")
      Joins.rangeJoin(t(s, d, "events").select("event_id", "value"), "value",
          bands, "lo", "hi", bucketWidth = 25.0)
        .select("event_id", "value", "band")
        .orderBy("event_id")
    },
      """WITH bands(lo, hi, band) AS (VALUES
        |  (0.0, 50.0, 'low'), (50.0, 200.0, 'mid'), (200.0, 500.0, 'high'))
        |SELECT e.event_id, e.value, b.band
        |FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
        |ORDER BY e.event_id""".stripMargin),

    // ---- interval-OVERLAP join: click windows × view windows per user
    // (6h half-open intervals; each pair emitted from exactly one
    // shared bucket — no dedup exchange) ----
    // Plan: equi-join on (user, bucket), overlap in-join, one emitting bucket: no dedup, no nested loop.
    Query("q_interval_join", family, (s, d) => {
      val us = unix_micros(col("ts"))
      val wUs = 21600L * 1000000L
      def side(tp: String, id: String) = t(s, d, "events")
        .filter(col("event_type") === tp)
        .select(col("user_id"), col("event_id").as(id),
          us.as("start"), (us + wUs).as("end"))
      Joins.intervalJoin(side("click", "click_id"), side("view", "view_id"),
          Seq("user_id"), "click_id", "view_id",
          bucketWidth = 86400L * 1000000L)
        .orderBy("user_id", "click_id", "view_id")
    },
      """WITH c AS (SELECT user_id, event_id AS click_id,
        |             epoch_us(ts) AS s, epoch_us(ts) + 21600000000 AS e
        |           FROM events WHERE event_type = 'click'),
        |v AS (SELECT user_id, event_id AS view_id,
        |        epoch_us(ts) AS s, epoch_us(ts) + 21600000000 AS e
        |      FROM events WHERE event_type = 'view')
        |SELECT c.user_id, click_id, view_id,
        |  CAST(greatest(c.s, v.s) AS BIGINT) AS ov_start,
        |  CAST(least(c.e, v.e) AS BIGINT) AS ov_end
        |FROM c JOIN v ON c.user_id = v.user_id AND c.s < v.e AND v.s < c.e
        |ORDER BY c.user_id, click_id, view_id""".stripMargin),

    // ---- E26 fuzzy (edit-distance ≤ 1) entity join via FastSS deletion
    // neighborhoods — candidates from a variant-hash equi-join, exact
    // levenshtein verify in-join, output identical to the brute force
    // the oracle runs. Left: distinct word bigrams of the corpus;
    // right: the same bigrams with the first char substituted, so
    // matches exist by construction plus organic cross-matches. ----
    Query("q_fuzzy_join", family, (s, d) => {
      val w = docsSpread(s, d)
        .select(explode(Ngrams.ngramArray(col("text"), 2)).as("s"))
        .distinct()
      val l = w.select(col("s").as("id"), col("s"))
      val r = w.select(
        concat(lit("x"), col("s").substr(lit(2), length(col("s"))))
          .as("s")).distinct()
      Joins.fuzzyJoin(l, r.select(col("s").as("id"), col("s")),
          "id", "s", "id", "s", maxDist = 1)
        .select("left_id", "right_id", "dist")
        .orderBy("left_id", "right_id")
    },
      """WITH t AS (SELECT string_split(text, ' ') AS w FROM documents),
        |b AS (SELECT DISTINCT array_to_string(w[i:i+1], ' ') AS s
        |      FROM t, unnest(range(1, len(w))) AS u(i)
        |      WHERE len(w) >= 2),
        |r AS (SELECT DISTINCT 'x' || s[2:] AS s FROM b)
        |SELECT b.s AS left_id, r.s AS right_id,
        |  CAST(levenshtein(b.s, r.s) AS BIGINT) AS dist
        |FROM b, r
        |WHERE levenshtein(b.s, r.s) <= 1
        |ORDER BY left_id, right_id""".stripMargin),

    // ---- E9 nearest as-of join: temporally closest purchase to each click ----
    Query("q_asof_nearest", family, (s, d) => {
      val e = t(s, d, "events")
      val clicks = e.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("pts"), col("value"))
      Joins.asofJoinNearest(clicks, purchases, "user_id", "ts", "pts",
          Seq("pts", "value"), rightPrefix = "near_")
        .select("event_id", "user_id", "near_pts", "near_value")
        .orderBy("event_id")
    },
      """WITH c AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts, value FROM events
        |      WHERE event_type = 'purchase'),
        |b AS (SELECT c.event_id, c.user_id, c.ts,
        |             p.ts AS bts, p.value AS bval
        |      FROM c ASOF LEFT JOIN p
        |        ON c.user_id = p.user_id AND c.ts >= p.ts),
        |f AS (SELECT c.event_id, p.ts AS fts, p.value AS fval
        |      FROM c ASOF LEFT JOIN p
        |        ON c.user_id = p.user_id AND c.ts <= p.ts)
        |SELECT b.event_id, b.user_id,
        |  CASE WHEN b.bts IS NOT NULL AND (f.fts IS NULL OR
        |       epoch_us(b.ts) - epoch_us(b.bts)
        |         <= epoch_us(f.fts) - epoch_us(b.ts))
        |       THEN b.bts ELSE f.fts END AS near_pts,
        |  CASE WHEN b.bts IS NOT NULL AND (f.fts IS NULL OR
        |       epoch_us(b.ts) - epoch_us(b.bts)
        |         <= epoch_us(f.fts) - epoch_us(b.ts))
        |       THEN b.bval ELSE f.fval END AS near_value
        |FROM b JOIN f USING (event_id)
        |ORDER BY event_id""".stripMargin),

    // ---- set ops: bag (ALL) variants ----
    Query("q_intersect_all", family, (s, d) =>
      t(s, d, "part").select(col("p_size").as("k"))
        .intersectAll(t(s, d, "lineitem").select(col("l_linenumber").as("k")))
        .orderBy("k"),
      """SELECT p_size AS k FROM part
        |INTERSECT ALL SELECT l_linenumber AS k FROM lineitem
        |ORDER BY k""".stripMargin),
    Query("q_except_all", family, (s, d) =>
      t(s, d, "part").select(col("p_size").as("k"))
        .exceptAll(t(s, d, "lineitem").select(col("l_linenumber").as("k")))
        .orderBy("k"),
      """SELECT p_size AS k FROM part
        |EXCEPT ALL SELECT l_linenumber AS k FROM lineitem
        |ORDER BY k""".stripMargin),
  )
}
