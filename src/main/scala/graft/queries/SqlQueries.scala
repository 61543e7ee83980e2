package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.SparkEntry.{docsSpread, sumDec, t}

/** SQL-surface queries: windows, grouping sets / rollup / cube / pivot,
  * array, map, string, math and date functions, JSON and VARIANT paths,
  * and the Spark 4 syntax (LATERAL, WITH RECURSIVE, GROUP BY ALL,
  * listagg). */
object SqlQueries {

  private val family = "sql"

  val all: Seq[Query] = Seq(

    // ---- P3/P11 conditional NULL-ification (year=0 → NULL analogue) ----
    Query("q_nullif_cond", family, (s, d) =>
      t(s, d, "part")
        .select(col("p_partkey"),
          when(col("p_size") <= 10, lit(null)).otherwise(col("p_size"))
            .as("size_n"))
        .orderBy("p_partkey"),
      """SELECT p_partkey,
        |  CASE WHEN p_size <= 10 THEN NULL ELSE p_size END AS size_n
        |FROM part ORDER BY p_partkey""".stripMargin),

    // ---- P10 casts (userId String→Long analogue) ----
    Query("q_cast", family, (s, d) =>
      t(s, d, "customer")
        .select(col("c_custkey"),
                col("c_nationkey").cast("long").as("nation_l"),
                col("c_custkey").cast("string").as("cust_s"))
        .orderBy("c_custkey"),
      """SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS nation_l,
        |  CAST(c_custkey AS VARCHAR) AS cust_s
        |FROM customer ORDER BY c_custkey""".stripMargin),

    // ---- D2–D7 calendar derivations ----
    Query("q_time_derive", family, (s, d) =>
      t(s, d, "orders")
        .select(col("o_orderkey"),
          hour(col("o_orderdate")).cast("long").as("h"),
          dayofmonth(col("o_orderdate")).cast("long").as("dom"),
          weekofyear(col("o_orderdate")).cast("long").as("wk"),
          month(col("o_orderdate")).cast("long").as("mo"),
          year(col("o_orderdate")).cast("long").as("yr"),
          (weekday(col("o_orderdate")) + 1).cast("string").as("dow"))
        .orderBy("o_orderkey"),
      """SELECT o_orderkey, hour(o_orderdate) AS h,
        |  CAST(dayofmonth(o_orderdate) AS BIGINT) AS dom,
        |  CAST(weekofyear(o_orderdate) AS BIGINT) AS wk,
        |  CAST(month(o_orderdate) AS BIGINT) AS mo,
        |  CAST(year(o_orderdate) AS BIGINT) AS yr,
        |  CAST(isodow(o_orderdate) AS VARCHAR) AS dow
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // ---- D1 epoch-millis ↔ timestamp round trip ----
    Query("q_epoch_roundtrip", family, (s, d) =>
      t(s, d, "events")
        .select(col("event_id"),
          unix_millis(col("ts")).as("ms"),
          timestamp_millis(unix_millis(col("ts"))).as("ts_ms"))
        .orderBy("event_id"),
      """SELECT event_id, epoch_ms(ts) AS ms,
        |  epoch_ms(epoch_ms(ts)) AS ts_ms
        |FROM events ORDER BY event_id""".stripMargin),

    // ---- E5 JSON props extraction ----
    Query("q_json_extract", family, (s, d) =>
      t(s, d, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .orderBy("event_id"),
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin),

    // ---- E5 JSON parse to typed struct AND to MapType ----
    Query("q_json_parse", family, (s, d) => {
      import org.apache.spark.sql.types._
      t(s, d, "events")
        .select(col("event_id"),
          from_json(col("props"), StructType(Seq(StructField("k", LongType))))
            .getField("k").as("k_struct"),
          element_at(
            from_json(col("props"), MapType(StringType, StringType)), "k")
            .cast("long").as("k_map"))
        .orderBy("event_id")
    },
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_struct,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_map
        |FROM events ORDER BY event_id""".stripMargin),

    // ---- window analytics: lag / lead ----
    Query("q_window_lag_lead", family, (s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      t(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"))
        .orderBy("o_custkey", "o_orderkey")
    },
      """SELECT o_custkey, o_orderkey,
        |  lag(o_totalprice, 1) OVER w AS prev_price,
        |  lead(o_totalprice, 1) OVER w AS next_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),

    // ---- window analytics: rank / dense_rank ----
    Query("q_window_rank", family, (s, d) => {
      val w = Window.partitionBy("c_nationkey").orderBy(col("c_acctbal").desc, col("c_custkey"))
      t(s, d, "customer")
        .select(col("c_nationkey"), col("c_custkey"),
          rank().over(w).cast("long").as("rnk"),
          dense_rank().over(w).cast("long").as("drnk"),
          row_number().over(w).cast("long").as("rn"))
        .orderBy("c_nationkey", "c_custkey")
    },
      """SELECT c_nationkey, c_custkey,
        |  rank() OVER w AS rnk, dense_rank() OVER w AS drnk,
        |  row_number() OVER w AS rn
        |FROM customer
        |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
        |ORDER BY c_nationkey, c_custkey""".stripMargin),

    // ---- window analytics: running sum with an explicit row frame ----
    Query("q_window_running", family, (s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w)
            .cast("double").as("running_total"))
        .orderBy("o_custkey", "o_orderkey")
    },
      """SELECT o_custkey, o_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS running_total
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin),

    // ---- window analytics: RANGE frame (value-based) ----
    Query("q_window_range", family, (s, d) => {
      val w = Window.partitionBy("c_nationkey").orderBy("c_custkey")
        .rangeBetween(-100, 0)
      t(s, d, "customer")
        .select(col("c_nationkey"), col("c_custkey"),
          count(lit(1)).over(w).as("n_in_range"))
        .orderBy("c_nationkey", "c_custkey")
    },
      """SELECT c_nationkey, c_custkey,
        |  COUNT(*) OVER (PARTITION BY c_nationkey ORDER BY c_custkey
        |    RANGE BETWEEN 100 PRECEDING AND CURRENT ROW) AS n_in_range
        |FROM customer ORDER BY c_nationkey, c_custkey""".stripMargin),

    // ---- window analytics: first_value / last_value over a full frame ----
    Query("q_window_firstlast", family, (s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          first(col("o_totalprice")).over(w).as("first_price"),
          last(col("o_totalprice")).over(w).as("last_price"),
          nth_value(col("o_totalprice"), 2).over(w).as("second_price"))
        .orderBy("o_custkey", "o_orderkey")
    },
      """SELECT o_custkey, o_orderkey,
        |  first_value(o_totalprice) OVER w AS first_price,
        |  last_value(o_totalprice) OVER w AS last_price,
        |  nth_value(o_totalprice, 2) OVER w AS second_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),

    // ---- array higher-order functions (transform / filter / aggregate) ----
    Query("q_array_hof", family, (s, d) => {
      val toks = split(col("text"), " ")
      docsSpread(s, d)
        .filter(col("doc_id") < 50)
        .select(col("doc_id"),
          array_join(transform(toks, t => upper(t)), ",").as("upper_toks"),
          size(filter(toks, t => length(t) > 5)).cast("long").as("n_long"),
          aggregate(toks, lit(0L), (acc, t) => acc + length(t)).as("total_len"))
        .orderBy("doc_id")
    },
      """SELECT doc_id,
        |  array_to_string(list_transform(string_split(text, ' '),
        |    t -> upper(t)), ',') AS upper_toks,
        |  CAST(len(list_filter(string_split(text, ' '),
        |    t -> length(t) > 5)) AS BIGINT) AS n_long,
        |  CAST(list_sum(list_transform(string_split(text, ' '),
        |    t -> length(t))) AS BIGINT) AS total_len
        |FROM documents WHERE doc_id < 50 ORDER BY doc_id""".stripMargin),

    // ---- map functions over parsed JSON ----
    Query("q_map_funcs", family, (s, d) => {
      import org.apache.spark.sql.types._
      val m = from_json(col("props"), MapType(StringType, StringType))
      t(s, d, "events")
        .filter(col("event_id") < 3000)
        .select(col("event_id"),
          array_join(map_keys(m), ",").as("keys"),
          array_join(map_values(m), ",").as("vals"),
          size(map_keys(m)).cast("long").as("n_keys"))
        .orderBy("event_id")
    },
      """SELECT event_id,
        |  array_to_string(json_keys(props), ',') AS keys,
        |  array_to_string(list_transform(json_keys(props),
        |    k -> json_extract_string(props, '$.' || k)), ',') AS vals,
        |  CAST(len(json_keys(props)) AS BIGINT) AS n_keys
        |FROM events WHERE event_id < 3000 ORDER BY event_id""".stripMargin),

    // ---- rollup (hierarchical subtotals) ----
    Query("q_rollup", family, (s, d) =>
      t(s, d, "customer")
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        // rollup by Column, not by name: the by-name overload trips Spark
        // 4.1's ambiguous-self-join detection when the child is a join
        // (the grouping attrs surface both in the Expand and the child)
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"))
        .toDF("r_name", "n_name", "n_cust")
        .sort(asc_nulls_first("r_name"), asc_nulls_first("n_name")),
      """SELECT r_name, n_name, COUNT(*) AS n_cust
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin),

    // ---- cube (all grouping combinations) ----
    Query("q_cube", family, (s, d) =>
      t(s, d, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), sumDec(col("l_quantity")).as("qty"))
        .orderBy(col("l_returnflag").asc_nulls_first,
                 col("l_linestatus").asc_nulls_first),
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),

    // ---- grouping() indicator columns over a cube ----
    Query("q_grouping_id", family, (s, d) =>
      t(s, d, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(grouping("l_returnflag").cast("long").as("g_rf"),
             grouping("l_linestatus").cast("long").as("g_ls"),
             count(lit(1)).as("n"))
        .sort(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus")),
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
        |  CAST(GROUPING(l_linestatus) AS BIGINT) AS g_ls,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),

    // ---- pivot (status counts per nation) ----
    Query("q_pivot", family, (s, d) =>
      t(s, d, "orders")
        .join(broadcast(t(s, d, "customer")), col("o_custkey") === col("c_custkey"))
        .groupBy("c_nationkey").pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("c_nationkey"),
          coalesce(col("F"), lit(0L)).as("n_f"),
          coalesce(col("O"), lit(0L)).as("n_o"),
          coalesce(col("P"), lit(0L)).as("n_p"))
        .orderBy("c_nationkey"),
      """SELECT c_nationkey,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin),

    // ---- SQL surface: GROUPING SETS via spark.sql over temp views ----
    Query("q_sql_groupingsets", family, (s, d) => {
      t(s, d, "nation").createOrReplaceTempView("gs_nation")
      t(s, d, "region").createOrReplaceTempView("gs_region")
      s.sql("""
        SELECT r_name, n_name, COUNT(*) AS n
        FROM gs_nation JOIN gs_region ON n_regionkey = r_regionkey
        GROUP BY GROUPING SETS ((r_name), (r_name, n_name), ())
        ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""")
    },
      """SELECT r_name, n_name, COUNT(*) AS n
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY GROUPING SETS ((r_name), (r_name, n_name), ())
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin),

    // ---- generator: posexplode of a token array ----
    Query("q_explode_tokens", family, (s, d) =>
      t(s, d, "documents")
        .filter(col("doc_id") < 20)
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
                col("col").as("tok"))
        .orderBy("doc_id", "pos"),
      """SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, toks[i] AS tok
        |FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |      FROM documents WHERE doc_id < 20),
        |     unnest(range(1, len(toks) + 1)) AS u(i)
        |ORDER BY doc_id, pos""".stripMargin),

    // ---- array functions: sort, distinct-size, join, contains ----
    Query("q_array_funcs", family, (s, d) => {
      val toks = split(col("text"), " ")
      t(s, d, "documents")
        .filter(col("doc_id") < 50)
        .select(col("doc_id"),
          array_join(sort_array(array_distinct(toks)), ",").as("sorted_uniq"),
          array_contains(toks, "data").as("has_data"),
          element_at(toks, 1).as("first_tok"))
        .orderBy("doc_id")
    },
      """SELECT doc_id,
        |  array_to_string(list_sort(list_distinct(string_split(text, ' '))), ',')
        |    AS sorted_uniq,
        |  list_contains(string_split(text, ' '), 'data') AS has_data,
        |  string_split(text, ' ')[1] AS first_tok
        |FROM documents WHERE doc_id < 50 ORDER BY doc_id""".stripMargin),

    // ---- string functions ----
    Query("q_string_funcs", family, (s, d) =>
      t(s, d, "customer")
        .filter(col("c_custkey") <= 500)
        .select(col("c_custkey"),
          upper(col("c_name")).as("u"),
          lower(col("c_mktsegment")).as("l"),
          substring(col("c_name"), 1, 5).as("pre"),
          lpad(col("c_mktsegment"), 12, "*").as("pad"),
          concat(col("c_name"), lit("_"), col("c_mktsegment")).as("cat"),
          regexp_replace(col("c_name"), "[0-9]", "#").as("masked"),
          regexp_extract(col("c_name"), "([0-9]+)", 1).as("digits"),
          instr(col("c_name"), "1").cast("long").as("pos1"),
          length(trim(col("c_name"))).cast("long").as("len_trim"))
        .orderBy("c_custkey"),
      """SELECT c_custkey, upper(c_name) AS u, lower(c_mktsegment) AS l,
        |  substring(c_name, 1, 5) AS pre,
        |  lpad(c_mktsegment, 12, '*') AS pad,
        |  c_name || '_' || c_mktsegment AS cat,
        |  regexp_replace(c_name, '[0-9]', '#', 'g') AS masked,
        |  regexp_extract(c_name, '([0-9]+)', 1) AS digits,
        |  CAST(strpos(c_name, '1') AS BIGINT) AS pos1,
        |  CAST(length(trim(c_name)) AS BIGINT) AS len_trim
        |FROM customer WHERE c_custkey <= 500 ORDER BY c_custkey""".stripMargin),

    // ---- math functions (engine-exact subset) ----
    Query("q_math_funcs", family, (s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_orderkey") <= 2000)
        .select(col("l_orderkey"), col("l_linenumber"),
          abs(-col("l_extendedprice")).as("abs_p"),
          floor(col("l_extendedprice")).as("fl"),
          ceil(col("l_extendedprice")).as("ce"),
          sqrt(col("l_quantity")).as("sq"),
          (col("l_extendedprice") * col("l_extendedprice")).as("p2"),
          pmod(col("l_partkey"), lit(7L)).as("m7"),
          signum(col("l_discount") - 0.05).as("sgn"))
        .orderBy("l_orderkey", "l_linenumber", "abs_p"),
      """SELECT l_orderkey, l_linenumber,
        |  abs(-l_extendedprice) AS abs_p,
        |  CAST(floor(l_extendedprice) AS BIGINT) AS fl,
        |  CAST(ceil(l_extendedprice) AS BIGINT) AS ce,
        |  sqrt(l_quantity) AS sq,
        |  l_extendedprice * l_extendedprice AS p2,
        |  CAST(l_partkey % 7 AS BIGINT) AS m7,
        |  CAST(sign(l_discount - 0.05) AS DOUBLE) AS sgn
        |FROM lineitem WHERE l_orderkey <= 2000
        |ORDER BY l_orderkey, l_linenumber, abs_p""".stripMargin),

    // ---- date arithmetic ----
    Query("q_date_arith", family, (s, d) =>
      t(s, d, "orders")
        .filter(col("o_orderkey") <= 3000)
        .select(col("o_orderkey"),
          to_date(col("o_orderdate")).as("od"),
          date_add(to_date(col("o_orderdate")), 30).as("plus30"),
          add_months(to_date(col("o_orderdate")), 2).as("plus2mo"),
          last_day(to_date(col("o_orderdate"))).as("eom"),
          trunc(to_date(col("o_orderdate")), "month").as("som"),
          datediff(to_date(col("o_orderdate")), lit("1995-01-01").cast("date"))
            .cast("long").as("days_since"))
        .orderBy("o_orderkey"),
      """SELECT o_orderkey,
        |  CAST(o_orderdate AS DATE) AS od,
        |  CAST(o_orderdate AS DATE) + 30 AS plus30,
        |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE) AS plus2mo,
        |  last_day(CAST(o_orderdate AS DATE)) AS eom,
        |  CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS som,
        |  datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since
        |FROM orders WHERE o_orderkey <= 3000 ORDER BY o_orderkey""".stripMargin),

    // ---- exact percentiles (interpolated median) ----
    Query("q_percentile", family, (s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(expr("percentile(l_quantity, 0.5)").as("med_qty"),
             expr("percentile(l_quantity, 0.25)").as("q1_qty"),
             min(col("l_quantity")).as("min_qty"),
             max(col("l_quantity")).as("max_qty"))
        .orderBy("l_returnflag"),
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS med_qty,
        |  quantile_cont(l_quantity, 0.25) AS q1_qty,
        |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // ---- conditional aggregation ----
    Query("q_cond_agg", family, (s, d) =>
      t(s, d, "orders")
        .groupBy("o_orderpriority")
        .agg(
          sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("n_f"),
          sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L)).as("n_o"),
          sumDec(when(col("o_orderstatus") === "F", col("o_totalprice"))
            .otherwise(lit(0.0))).as("total_f"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority"),
      """SELECT o_orderpriority,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
        |  CAST(SUM(CAST(CASE WHEN o_orderstatus = 'F' THEN o_totalprice
        |                     ELSE 0.0 END AS DECIMAL(18,2))) AS DOUBLE) AS total_f,
        |  COUNT(*) AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // ---- scalar-subquery analogue: filter vs a global exact aggregate ----
    Query("q_scalar_subquery", family, (s, d) => {
      val cust = t(s, d, "customer")
      val agg = cust.agg(
        sum(col("c_acctbal").cast(DecimalType(18, 2))).as("total"),
        count(lit(1)).as("n"))
      cust.crossJoin(broadcast(agg))
        .filter(col("c_acctbal").cast(DecimalType(18, 2)) * col("n") > col("total"))
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey")
    },
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE CAST(c_acctbal AS DECIMAL(18,2))
        |        * (SELECT COUNT(*) FROM customer)
        |      > (SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) FROM customer)
        |ORDER BY c_custkey""".stripMargin),

    // ---- null handling: coalesce / nullif / nvl2-style ----
    Query("q_coalesce_null", family, (s, d) =>
      t(s, d, "part")
        .select(col("p_partkey"),
          coalesce(nullif(col("p_brand"), lit("Brand#11")), lit("OTHER")).as("brand_o"),
          when(nullif(col("p_size"), lit(1)).isNull, lit("unit"))
            .otherwise(lit("multi")).as("size_class"))
        .orderBy("p_partkey"),
      """SELECT p_partkey,
        |  COALESCE(NULLIF(p_brand, 'Brand#11'), 'OTHER') AS brand_o,
        |  CASE WHEN NULLIF(p_size, 1) IS NULL THEN 'unit'
        |       ELSE 'multi' END AS size_class
        |FROM part ORDER BY p_partkey""".stripMargin),

    // ---- typed Aggregator: heap-based top-k per group (map-side k rows,
    //      not a full per-group sort — see functions.TopKAggregator) ----
    // Plan: partial+final objHashAggregate: each map task ships at most k rows per group.
    Query("q_topk_group", family, (s, d) => {
      val topk = udaf(new graft.functions.TopKAggregator(3),
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaDouble,
          org.apache.spark.sql.Encoders.scalaLong))
      t(s, d, "orders")
        .groupBy("o_custkey")
        .agg(topk(col("o_totalprice"), col("o_orderkey")).as("top"))
        .select(col("o_custkey"), posexplode(col("top")))
        .select(col("o_custkey"), (col("pos") + 1).cast("long").as("rank"),
                col("col._1").as("price"), col("col._2").as("o_orderkey"))
        .orderBy("o_custkey", "rank")
    },
      """SELECT o_custkey, rank, price, o_orderkey FROM (
        |  SELECT o_custkey,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rank,
        |    o_totalprice AS price, o_orderkey
        |  FROM orders) WHERE rank <= 3
        |ORDER BY o_custkey, rank""".stripMargin),

    // ---- fixed-width histogram over a measure ----
    Query("q_histogram", family, (s, d) =>
      t(s, d, "events")
        .groupBy(floor(col("value") / 50.0).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"),
             sumDec(col("value"), 6).as("sum_value"))
        .orderBy("bucket"),
      """SELECT CAST(FLOOR(value / 50.0) AS BIGINT) AS bucket,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin),

    // ---- window analytics: distribution functions ----
    Query("q_window_dist", family, (s, d) => {
      val w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
      t(s, d, "customer")
        .select(col("c_nationkey"), col("c_custkey"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
        .orderBy("c_nationkey", "c_custkey")
    },
      """SELECT c_nationkey, c_custkey,
        |  percent_rank() OVER w AS pr, cume_dist() OVER w AS cd
        |FROM customer
        |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
        |ORDER BY c_nationkey, c_custkey""".stripMargin),

    // ---- window analytics: quantile binning via ntile ----
    Query("q_ntile", family, (s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy("o_totalprice", "o_orderkey")
      t(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          ntile(4).over(w).cast("long").as("quartile"))
        .orderBy("o_custkey", "o_orderkey")
    },
      """SELECT o_custkey, o_orderkey,
        |  ntile(4) OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice, o_orderkey) AS quartile
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin),

    // ---- unpivot / melt (wide → long reshape) ----
    Query("q_unpivot", family, (s, d) =>
      t(s, d, "lineitem")
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_discount"), col("l_tax")),
          "metric", "value")
        .orderBy("l_orderkey", "l_linenumber", "metric"),
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
        |       l_quantity AS value FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
        |FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin),

    // ---- statistical moments from exact decimal sums ----
    // stddev/corr computed in DOUBLE from order-independent DECIMAL
    // sums, the same final expression on both engines — bit-exact where
    // built-in stddev/corr (running double accumulation) is not.
    Query("q_stats_moments", family, (s, d) => {
      val x = col("l_quantity"); val y = col("l_extendedprice")
      val agg = t(s, d, "lineitem").groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(x.cast(DecimalType(38, 4))).cast("double").as("sx"),
          sum((x * x).cast(DecimalType(38, 4))).cast("double").as("sxx"),
          sum(y.cast(DecimalType(38, 4))).cast("double").as("sy"),
          sum((y * y).cast(DecimalType(38, 4))).cast("double").as("syy"),
          sum((x * y).cast(DecimalType(38, 4))).cast("double").as("sxy"))
      // round(…,10): the DECIMAL(38,4)→DOUBLE conversion rounds once in
      // the JVM (BigDecimal) but twice in DuckDB (int128→double, then
      // /10^scale) — a 1-ulp seed that survives into the derived stats.
      val nD = col("n").cast("double")
      agg.select(col("l_returnflag"), col("n"),
          round(sqrt((nD * col("sxx") - col("sx") * col("sx")) /
            (nD * (nD - 1))), 10).as("stddev_qty"),
          round((nD * col("sxy") - col("sx") * col("sy")) /
            (sqrt(nD * col("sxx") - col("sx") * col("sx")) *
             sqrt(nD * col("syy") - col("sy") * col("sy"))), 10)
            .as("corr_qty_price"))
        .orderBy("l_returnflag")
    },
      """SELECT l_returnflag, n,
        |  round(sqrt((CAST(n AS DOUBLE) * sxx - sx * sx) /
        |       (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))), 10)
        |    AS stddev_qty,
        |  round((CAST(n AS DOUBLE) * sxy - sx * sy) /
        |  (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx) *
        |   sqrt(CAST(n AS DOUBLE) * syy - sy * sy)), 10) AS corr_qty_price
        |FROM (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,4)))
        |      AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,4)))
        |      AS DOUBLE) AS syy,
        |    CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,4)))
        |      AS DOUBLE) AS sxy
        |  FROM lineitem GROUP BY l_returnflag)
        |ORDER BY l_returnflag""".stripMargin),

    // ---- GROUP BY ALL / ORDER BY ALL (modern SQL shorthand surface) ----
    Query("q_group_by_all", family, (s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders_gba")
      s.sql("""
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total
        FROM orders_gba GROUP BY ALL ORDER BY ALL""")
    },
      """SELECT o_orderstatus, o_orderpriority,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY ALL ORDER BY ALL""".stripMargin),

    // ---- ordered string aggregation (Spark 4 listagg WITHIN GROUP):
    // deterministic because the in-group order is total ----
    Query("q_listagg", family, (s, d) => {
      t(s, d, "customer").createOrReplaceTempView("customer_la")
      s.sql("""
        SELECT c_nationkey,
               listagg(c_name, ',') WITHIN GROUP (ORDER BY c_name) AS names,
               listagg(DISTINCT c_mktsegment, '|')
                 WITHIN GROUP (ORDER BY c_mktsegment) AS segments
        FROM customer_la GROUP BY c_nationkey ORDER BY c_nationkey""")
    },
      """SELECT c_nationkey,
        |  string_agg(c_name, ',' ORDER BY c_name) AS names,
        |  string_agg(DISTINCT c_mktsegment, '|' ORDER BY c_mktsegment)
        |    AS segments
        |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin),

    // ---- edit distance between id-adjacent names (fuzzy-match primitive).
    // Adjacency via a self-equi-join on key+1, NOT an unpartitioned
    // lead() window — a global window is a single task at scale, the
    // join shuffles by key and stays parallel (keys are dense here). ----
    Query("q_edit_distance", family, (s, d) => {
      val p = t(s, d, "part").select("p_partkey", "p_name")
      val a = p.as("a"); val b = p.as("b")
      a.join(b, col("b.p_partkey") === col("a.p_partkey") + 1)
        .select(col("a.p_partkey").as("p_partkey"),
          levenshtein(col("a.p_name"), col("b.p_name")).cast("long")
            .as("dist"))
        .orderBy("p_partkey")
    },
      """SELECT a.p_partkey,
        |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
        |FROM part a JOIN part b ON b.p_partkey = a.p_partkey + 1
        |ORDER BY a.p_partkey""".stripMargin),

    // ---- explode_outer: docs with no qualifying token keep a NULL row ----
    Query("q_explode_outer", family, (s, d) =>
      docsSpread(s, d)
        .filter(col("doc_id") < 200)
        .select(col("doc_id"),
          explode_outer(filter(split(col("text"), " "),
            t => length(t) > 8)).as("tok"))
        .orderBy(col("doc_id"), col("tok").asc_nulls_first),
      """SELECT doc_id,
        |  unnest(CASE WHEN len(l) = 0 THEN [NULL] ELSE l END) AS tok
        |FROM (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '),
        |                x -> length(x) > 8) AS l
        |  FROM documents WHERE doc_id < 200)
        |ORDER BY doc_id, tok""".stripMargin),

    // ---- LATERAL correlated subquery (per-row dependent top-1) ----
    Query("q_lateral", family, (s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders_lat")
      t(s, d, "lineitem").createOrReplaceTempView("lineitem_lat")
      s.sql("""
        SELECT o_orderkey, l.l_linenumber, l.l_quantity
        FROM orders_lat,
        LATERAL (
          SELECT l_linenumber, l_quantity FROM lineitem_lat
          WHERE l_orderkey = o_orderkey
          ORDER BY l_quantity DESC, l_linenumber LIMIT 1) AS l
        WHERE o_orderkey < 1000
        ORDER BY o_orderkey""")
    },
      """SELECT o_orderkey, l.l_linenumber, l.l_quantity
        |FROM orders,
        |LATERAL (
        |  SELECT l_linenumber, l_quantity FROM lineitem
        |  WHERE l_orderkey = o_orderkey
        |  ORDER BY l_quantity DESC, l_linenumber LIMIT 1) AS l
        |WHERE o_orderkey < 1000
        |ORDER BY o_orderkey""".stripMargin),

    // ---- VARIANT semi-structured path (Spark 4): parse once, typed gets.
    // Output columns are plain long/double, so the engine-internal
    // variant encoding stays oracle-comparable. ----
    Query("q_variant", family, (s, d) =>
      t(s, d, "events")
        .select(col("event_id"),
          try_variant_get(parse_json(col("props")), "$.k", "long").as("k"),
          (try_variant_get(parse_json(col("props")), "$.k", "double")
            * col("value")).as("kv"))
        .orderBy("event_id"),
      """SELECT event_id,
        |  CAST(json_extract(props, '$.k') AS BIGINT) AS k,
        |  CAST(json_extract(props, '$.k') AS DOUBLE) * value AS kv
        |FROM events ORDER BY event_id""".stripMargin),

    // ---- recursive CTE (Spark 4 WITH RECURSIVE): spine + outer join ----
    Query("q_recursive_cte", family, (s, d) => {
      t(s, d, "part").createOrReplaceTempView("part_rc")
      s.sql("""
        WITH RECURSIVE sizes(n) AS (
          SELECT 1 AS n
          UNION ALL
          SELECT n + 1 FROM sizes WHERE n < 50
        )
        SELECT n, COUNT(p_partkey) AS n_parts
        FROM sizes LEFT JOIN part_rc ON p_size = n
        GROUP BY n ORDER BY n""")
    },
      """WITH RECURSIVE sizes(n) AS (
        |  SELECT 1 AS n
        |  UNION ALL
        |  SELECT n + 1 FROM sizes WHERE n < 50
        |)
        |SELECT n, COUNT(p_partkey) AS n_parts
        |FROM sizes LEFT JOIN part ON p_size = n
        |GROUP BY n ORDER BY n""".stripMargin),

    // ---- window analytics: time-interval RANGE frame (trailing hour) ----
    Query("q_window_trailing", family, (s, d) => {
      t(s, d, "events").createOrReplaceTempView("ev_trail")
      s.sql("""
        SELECT event_id, user_id,
               COUNT(*) OVER (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
                 AS n_1h
        FROM ev_trail ORDER BY event_id""")
    },
      """SELECT event_id, user_id,
        |  COUNT(*) OVER (PARTITION BY user_id ORDER BY ts
        |    RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        |    AS n_1h
        |FROM events ORDER BY event_id""".stripMargin),

    // ---- grouped collection: per-group sorted member list ----
    Query("q_array_agg", family, (s, d) =>
      t(s, d, "customer")
        .groupBy(col("c_nationkey"))
        .agg(array_join(
               transform(array_sort(collect_list(col("c_custkey"))),
                 x => x.cast("string")), ",").as("custs"),
             count(lit(1)).as("n"))
        .orderBy("c_nationkey"),
      """SELECT c_nationkey,
        |  string_agg(CAST(c_custkey AS VARCHAR), ','
        |             ORDER BY c_custkey) AS custs,
        |  COUNT(*) AS n
        |FROM customer GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin),
  )
}
