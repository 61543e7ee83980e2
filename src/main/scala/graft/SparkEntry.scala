package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.{Dedup, EventOps, Joins, Mixing, Multimodal, Ngrams, Similarity, TextAnalysis}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Conventions shared by every (query, oracleSql) pair so the driver's
  * DuckDB hash-compare is deterministic:
  *   - identical output column names on both sides;
  *   - computed integers are BIGINT on both sides (DuckDB's default);
  *   - double aggregates go through an exact DECIMAL sum, then cast to
  *     DOUBLE — order-independent, engine-independent;
  *   - every query ends in a total ORDER BY (ties broken to uniqueness).
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** documents, spread to cluster parallelism: the corpus parquet is a
    * single row-group, and the per-row text expressions are the cost — one
    * input split would serialize them on one core (Ops.spread is a no-op
    * for well-partitioned sources). */
  private def docsSpread(s: SparkSession, dir: String): DataFrame =
    operators.Ops.spread(t(s, dir, "documents"), col("doc_id"))

  /** Exact, order-independent sum of a double column: sum as decimal,
    * surface as double. */
  private def sumDec(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  /** Run an index-lifecycle query body against a fresh scratch
    * directory, materialize its (small — audit/survivor rows) result so
    * the returned plan no longer reads the scratch files, then delete
    * the tree. The lifecycle queries (`q_incremental_refresh`,
    * `q_ann_ivf_indexed/append`) invoke their body once per bench
    * iteration; without the delete each invocation leaked a temp dir. */
  private def deleteTree(p: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, Path}
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }
  }

  private def withScratchDir(prefix: String)
      (body: String => DataFrame): DataFrame = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    try operators.OpCaches.cutNow(body(p.toString))
    finally deleteTree(p)
  }

  /** On-disk cache root for the SPLIT index-lifecycle queries. The
    * end-to-end proofs (`q_ann_ivf_indexed/append`,
    * `q_incremental_refresh`) time build + commit + read-back + probe
    * as one number; capacity planning needs the halves separated —
    * amortizable index CONSTRUCTION vs per-ingest PROBE cost. The
    * `q_*_build` queries rebuild their index here from scratch on
    * every invocation (their bench rows honestly time construction);
    * the `q_*_probe` twins read what build left — and build-if-missing
    * first, because correctness runs may execute queries in any order,
    * so a probe row's BEST-of-N is pure probe even when its cold run
    * had to construct. Keyed per corpus dir (one JVM can exercise
    * several SFs); removed by a shutdown hook, so bench/verify leave
    * no scratch trees behind. */
  private lazy val indexCacheRoot: String = {
    val p = java.nio.file.Files.createTempDirectory("graft-index-cache")
    Runtime.getRuntime.addShutdownHook(
      new Thread(() => deleteTree(p), "graft-index-cache-cleanup"))
    p.toString
  }

  private def cacheDirFor(d: String, kind: String): String = {
    val h = scala.util.hashing.MurmurHash3.stringHash(d) & 0x7fffffff
    s"$indexCacheRoot/$kind-$h"
  }

  /** Rebuild the IVF embedding index (same parameters as
    * `q_ann_ivf_indexed`) at its cache path, from scratch. */
  private def buildIvfCache(s: SparkSession, d: String): String =
    this.synchronized {
      val dir = cacheDirFor(d, "ivf")
      deleteTree(java.nio.file.Paths.get(dir))
      val e = t(s, d, "embeddings")
      val (cents, cells) = operators.Similarity.ivfIndex(e, nlist = 16,
        iters = 2)
      operators.Similarity.writeIvfIndex(dir, cents, cells)
      dir
    }

  private def ensureIvfCache(s: SparkSession, d: String): String =
    this.synchronized {
      val dir = cacheDirFor(d, "ivf")
      if (!java.nio.file.Files.exists(
          java.nio.file.Paths.get(dir, "cells")))
        buildIvfCache(s, d)
      dir
    }

  /** Standing IVF index over the EVEN-id half of the corpus — the
    * `q_ann_ivf_append_probe` fixture: the odd half plays the incoming
    * ingest batch, so the append-probe row times only the recurring
    * per-batch cost (assign against stored centroids + probe). */
  private def ensureIvfHalfCache(s: SparkSession, d: String): String =
    this.synchronized {
      val dir = cacheDirFor(d, "ivfhalf")
      if (!java.nio.file.Files.exists(
          java.nio.file.Paths.get(dir, "cells"))) {
        deleteTree(java.nio.file.Paths.get(dir))
        val e = t(s, d, "embeddings").filter(col("vec_id") % 2 === 0)
        val (cents, cells) = operators.Similarity.ivfIndex(e, nlist = 16,
          iters = 2)
        operators.Similarity.writeIvfIndex(dir, cents, cells)
      }
      dir
    }

  /** Rebuild the standing MEDIA perceptual-signature index over the
    * `q_media_refresh` fixture's corpus slice (doc_id %4 == 0, 8-byte-
    * periodic patT×4 payloads) as a ManifestTable, from scratch. */
  private def buildMediaSigCache(s: SparkSession, d: String): String =
    this.synchronized {
      val dir = cacheDirFor(d, "mediasig")
      deleteTree(java.nio.file.Paths.get(dir))
      val g = expr("doc_id div 4")
      val corpus = t(s, d, "documents")
        .filter(pmod(col("doc_id"), lit(4)) === 0)
        .select(col("doc_id").as("media_id"),
          concat_ws("", array_repeat(concat(
            lpad(pmod(g, lit(10000000)).cast("string"), 7, "0"),
            lit("T")), 4)).cast("binary").as("payload"))
      graft.sources.ManifestTable.upsertBatch(
        operators.Multimodal.mediaSimhash(corpus), dir, Seq("media_id"),
        nBuckets = 8, targetRowsPerBucket = 1L << 20)
      dir
    }

  private def ensureMediaSigCache(s: SparkSession, d: String): String =
    this.synchronized {
      val dir = cacheDirFor(d, "mediasig")
      if (!java.nio.file.Files.exists(
          java.nio.file.Paths.get(dir, "_manifests")))
        buildMediaSigCache(s, d)
      dir
    }

  /** Rebuild the PQ embedding index (same parameters as `q_ann_pq`) at
    * its cache path, from scratch — codebook training + corpus encode,
    * the amortizable half of the compressed-scan serve path. */
  private def buildPqCache(s: SparkSession, d: String): String =
    this.synchronized {
      val dir = cacheDirFor(d, "pq")
      deleteTree(java.nio.file.Paths.get(dir))
      val e = t(s, d, "embeddings")
      val (cb, codes) = operators.Similarity.pqIndex(e, m = 16, ksub = 16,
        iters = 2)
      operators.Similarity.writePqIndex(dir, cb, codes)
      dir
    }

  private def ensurePqCache(s: SparkSession, d: String): String =
    this.synchronized {
      val dir = cacheDirFor(d, "pq")
      if (!java.nio.file.Files.exists(
          java.nio.file.Paths.get(dir, "codes")))
        buildPqCache(s, d)
      dir
    }

  /** Rebuild the standing MinHash signature index over the refresh
    * fixture's corpus slice (doc_id %4 == 0, text = t<g>×4 — the
    * `q_incremental_refresh` fixture) as a ManifestTable, from
    * scratch. */
  private def buildSigCache(s: SparkSession, d: String): String =
    this.synchronized {
      val dir = cacheDirFor(d, "sig")
      deleteTree(java.nio.file.Paths.get(dir))
      val g = expr("doc_id div 4")
      val corpus = t(s, d, "documents")
        .filter(pmod(col("doc_id"), lit(4)) === 0)
        .select(col("doc_id"),
          concat_ws(" ", array_repeat(
            concat(lit("t"), g.cast("string")), 4)).as("text"))
      graft.sources.ManifestTable.upsertBatch(
        operators.Dedup.signatureIndex(corpus, "doc_id", "text"),
        dir, Seq("doc_id", "band_id"), nBuckets = 8, targetRowsPerBucket = 1L << 20)
      dir
    }

  private def ensureSigCache(s: SparkSession, d: String): String =
    this.synchronized {
      val dir = cacheDirFor(d, "sig")
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(dir)))
        buildSigCache(s, d)
      dir
    }

  /** Flagship query — star-join revenue rollup: lineitem ⋈ orders ⋈
    * customer ⋈ nation ⋈ region, dims broadcast, one shuffle for the
    * final aggregate. Takes `dir` like every other query and is
    * registered in [[queries]]/[[oracleSql]] as "entry", so the
    * flagship gets the same DuckDB hash-check as the rest of the
    * surface; the driver's no-arg smoke contract is the overload below. */
  def entry(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem"); val o = t(spark, dir, "orders")
    val c = t(spark, dir, "customer"); val n = t(spark, dir, "nation")
    val r = t(spark, dir, "region")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(sumDec(col("l_extendedprice") * (lit(1) - col("l_discount")), 6)
             .as("revenue"),
           count(lit(1)).as("n_items"))
      .orderBy("r_name", "n_name")
  }

  /** Driver smoke contract: flagship on sf0.001 (rows > 0 checked). */
  def entry(spark: SparkSession): DataFrame =
    entry(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2 (+ §2.10
    * extensions). Each takes (session, sfDir). */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- flagship (oracle-checked like every other query) ----
    "entry" -> ((s, d) => entry(s, d)),

    // ---- §2.1/2.3 scans, projection, rename (S1–S3, P1, P2) ----
    "q_scan_project" -> ((s, d) =>
      t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
                col("l_extendedprice").as("price"))
        .orderBy("l_orderkey", "l_linenumber", "price")),

    // ---- P3/P11 conditional NULL-ification (year=0 → NULL analogue) ----
    "q_nullif_cond" -> ((s, d) =>
      t(s, d, "part")
        .select(col("p_partkey"),
          when(col("p_size") <= 10, lit(null)).otherwise(col("p_size"))
            .as("size_n"))
        .orderBy("p_partkey")),

    // ---- P6 dropna ----
    "q_dropna" -> ((s, d) =>
      t(s, d, "customer")
        .na.drop("any", Seq("c_name", "c_acctbal", "c_mktsegment"))
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey")),

    // ---- P7 OR-chain non-empty filter (preserved OR semantics) ----
    "q_filter_or_nonempty" -> ((s, d) =>
      t(s, d, "customer")
        .filter(col("c_name") =!= "" || col("c_mktsegment") =!= "")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")),

    // ---- P8 equality filter (page = 'NextSong' analogue) ----
    "q_filter_eq" -> ((s, d) =>
      t(s, d, "orders")
        .filter(col("o_orderstatus") === "F")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")),

    // ---- P10 casts (userId String→Long analogue) ----
    "q_cast" -> ((s, d) =>
      t(s, d, "customer")
        .select(col("c_custkey"),
                col("c_nationkey").cast("long").as("nation_l"),
                col("c_custkey").cast("string").as("cust_s"))
        .orderBy("c_custkey")),

    // ---- W1/W2 window keep-first dedup ----
    "q_dedup_first" -> ((s, d) =>
      // tie-breakers to full uniqueness: (orderkey, linenumber) alone is
      // not unique in the corpus, and row_number among true ties is
      // engine-arbitrary (SURVEY.md §7.4.7)
      Dedup.dedupKeepFirst(t(s, d, "lineitem"),
          Seq(col("l_orderkey")),
          Seq(col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
              col("l_quantity"), col("l_extendedprice")))
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
        .orderBy("l_orderkey")),

    // ---- W3 window keep-latest dedup (users latest-by-ts analogue) ----
    "q_dedup_latest" -> ((s, d) =>
      Dedup.dedupKeepFirst(t(s, d, "orders"),
          Seq(col("o_custkey")),
          Seq(col("o_orderdate").desc, col("o_orderkey").desc))
        .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .orderBy("o_custkey")),

    // ---- A1 distinct ----
    "q_distinct" -> ((s, d) =>
      t(s, d, "lineitem")
        .select("l_returnflag", "l_linestatus").distinct()
        .orderBy("l_returnflag", "l_linestatus")),

    // ---- J1 single-key dim join (broadcast) ----
    "q_join_dim" -> ((s, d) =>
      t(s, d, "orders")
        .join(broadcast(t(s, d, "customer")),
              col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "c_name", "o_totalprice")
        .orderBy("o_orderkey")),

    // ---- J2 multi-key equi-join with a Double key, bit-exact ----
    "q_join_multikey" -> ((s, d) => {
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
    }),

    // ---- J1+J2 star join + grouped agg (songplays-shaped) ----
    "q_join_star" -> ((s, d) =>
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
        .orderBy("r_name", "n_name")),

    // ---- D2–D7 calendar derivations ----
    "q_time_derive" -> ((s, d) =>
      t(s, d, "orders")
        .select(col("o_orderkey"),
          hour(col("o_orderdate")).cast("long").as("h"),
          dayofmonth(col("o_orderdate")).cast("long").as("dom"),
          weekofyear(col("o_orderdate")).cast("long").as("wk"),
          month(col("o_orderdate")).cast("long").as("mo"),
          year(col("o_orderdate")).cast("long").as("yr"),
          (weekday(col("o_orderdate")) + 1).cast("string").as("dow"))
        .orderBy("o_orderkey")),

    // ---- D1 epoch-millis ↔ timestamp round trip ----
    "q_epoch_roundtrip" -> ((s, d) =>
      t(s, d, "events")
        .select(col("event_id"),
          unix_millis(col("ts")).as("ms"),
          timestamp_millis(unix_millis(col("ts"))).as("ts_ms"))
        .orderBy("event_id")),

    // ---- TPC-H Q3-shaped: shipping-priority revenue ----
    "q_tpch3" -> ((s, d) =>
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
        .limit(20)),

    // ---- TPC-H Q10-shaped: returned-item revenue per customer ----
    "q_tpch10" -> ((s, d) =>
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
        .limit(20)),

    // ---- TPC-H Q6-shaped: selective-scan forecast revenue (the classic
    // predicate-pushdown benchmark: every filter reaches the scan) ----
    "q_tpch6" -> ((s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1997-01-01") &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
        .agg(sumDec(col("l_extendedprice") * col("l_discount"), 6)
               .as("revenue"),
             count(lit(1)).as("n_items"))),

    // ---- TPC-H Q7-shaped: bilateral trade volume between two nations
    // by ship year. Both nation dims broadcast (filtered to the two
    // names scan-side); the fact tables chain through hash joins and
    // ONE final tiny aggregate — the 6-table join is the point. ----
    "q_tpch7" -> ((s, d) => {
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
    }),

    // ---- TPC-H Q8-shaped: one nation's market share inside one
    // region's orders for one part type, by order year — the widest
    // star join in the suite (8 tables; every dim broadcast, the two
    // fact tables chain through hash joins, one tiny final aggregate) ----
    "q_tpch8" -> ((s, d) => {
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
    }),

    // ---- TPC-H Q13-shaped: customer order-count distribution — the
    // classic LEFT join + double aggregate (zero-order customers must
    // survive to the c_count=0 bucket) ----
    "q_tpch13" -> ((s, d) =>
      t(s, d, "customer").select("c_custkey")
        .join(t(s, d, "orders").select("o_custkey", "o_orderkey"),
              col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)),

    // ---- TPC-H Q14-shaped: promo revenue share for one month. The
    // part dim broadcasts; the conditional sum runs map-side — one
    // scalar row crosses the final exchange. ----
    "q_tpch14" -> ((s, d) =>
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
             count(lit(1)).as("n_items"))),

    // ---- TPC-H Q15-shaped: top supplier by quarterly revenue — an
    // aggregate view consumed twice (argmax via broadcast scalar max,
    // not a window), supplier dim broadcast onto the one winning row ----
    "q_tpch15" -> ((s, d) => {
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
    }),

    // ---- TPC-H Q18-shaped: large-quantity orders — the HAVING
    // semi-join folds into the same aggregate that produces sum_qty
    // (one lineitem shuffle, no IN-subquery re-scan) ----
    "q_tpch18" -> ((s, d) =>
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
        .limit(100)),

    // ---- TPC-H Q19-shaped: disjunctive brand/size/quantity predicate
    // evaluated INSIDE the broadcast join (OR-of-ANDs join condition —
    // Catalyst keeps the equi-key, the residual filters in-join) ----
    "q_tpch19" -> ((s, d) =>
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
             count(lit(1)).as("n_items"))),

    // ---- TPC-H Q4-shaped: order-priority checking. EXISTS a late-
    // shipped line (l_shipdate after the order date — the corpus has no
    // commit/receipt dates) = one LEFT SEMI join with a non-equi
    // conjunct; the orders date filter prunes scan-side. ----
    "q_tpch4" -> ((s, d) =>
      t(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
                col("o_orderdate") < lit("1996-07-01").cast("timestamp"))
        .join(t(s, d, "lineitem"),
              col("o_orderkey") === col("l_orderkey") &&
              col("l_shipdate") > col("o_orderdate"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")),

    // ---- TPC-H Q5-shaped: local-supplier volume — revenue where the
    // CUSTOMER's nation equals the SUPPLIER's nation, one region, one
    // year. The extra c_nationkey = s_nationkey conjunct is the Q5
    // signature; supplier/nation/region broadcast, facts hash-join. ----
    "q_tpch5" -> ((s, d) =>
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
        .orderBy(col("revenue").desc, col("n_name"))),

    // ---- TPC-H Q12-shaped: late-shipment priority split by line
    // status (the corpus has no ship mode): conditional aggregation
    // folded map-side into ONE orders⋈lineitem join. ----
    "q_tpch12" -> ((s, d) =>
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
        .orderBy("l_linestatus")),

    // ---- TPC-H Q17-shaped: small-quantity-order revenue for one
    // brand. The per-part average-quantity threshold is kept EXACT by
    // clearing denominators: qty < 0.2·(sum/n) ⇔ 5·qty·n < sum with
    // integral quantities summed as DECIMAL — no float rounding to
    // diverge between engines. The brand dim broadcasts; the per-part
    // aggregate joins back to the fact on the part key. ----
    "q_tpch17" -> ((s, d) => {
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
    }),

    // ---- TPC-H Q22-shaped: global sales opportunity — well-funded
    // customers (acctbal above the positive-balance average, compared
    // exactly via acctbal·n > sum with DECIMAL cents) DORMANT since
    // 2000 (anti join against recent orders — every customer here has
    // SOME order, so the unrestricted Q22 anti join would be the
    // 0-row trap q_anti_join had), counted per nation (the corpus has
    // no phone country codes). The scalar average broadcasts. ----
    "q_tpch22" -> ((s, d) => {
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
    }),

    // ---- grouped aggregation (TPC-H Q1-shaped pricing summary) ----
    "q1_agg" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sumDec(col("l_quantity")).as("sum_qty"),
             sumDec(col("l_extendedprice")).as("sum_base"),
             sumDec(col("l_extendedprice") * (lit(1) - col("l_discount")), 6)
               .as("revenue"),
             (sumDec(col("l_quantity")) / count(lit(1))).as("avg_qty"),
             count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")),

    // ---- group + having ----
    "q_group_having" -> ((s, d) =>
      t(s, d, "orders")
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
             sumDec(col("o_totalprice")).as("total_spent"))
        .filter(col("n_orders") >= 2)
        .orderBy("o_custkey")),

    // ---- sort + limit top-k ----
    "q_topk" -> ((s, d) =>
      t(s, d, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)),

    // ---- set op: union distinct ----
    "q_union" -> ((s, d) =>
      t(s, d, "customer").select(col("c_nationkey").as("k"))
        .union(t(s, d, "supplier").select(col("s_nationkey").as("k")))
        .distinct()
        .orderBy("k")),

    // ---- anti join (NOT EXISTS): customers with no big-ticket order.
    // The right side is restricted (o_totalprice > 400k) so the
    // survivor set is non-empty at every SF (202 rows at sf0.01) —
    // an all-customers anti-join matches nobody in this corpus and a
    // 0-row hash match proves nothing about anti-join semantics. ----
    "q_anti_join" -> ((s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders").filter(col("o_totalprice") > 400000),
              col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")),

    // ---- semi join (EXISTS) ----
    "q_semi_join" -> ((s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders"),
              col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")),

    // ---- E1 exact dedup ----
    "q_dedup_exact" -> ((s, d) =>
      t(s, d, "documents")
        .groupBy("text")
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
        .select("doc_id", "n_copies")
        .orderBy("doc_id")),

    // ---- E4 text stats ----
    "q_text_stats" -> ((s, d) => {
      val toks = split(col("text"), " ")
      docsSpread(s, d)
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars_c"),
          size(toks).cast("long").as("n_tokens"),
          size(array_distinct(toks)).cast("long").as("n_uniq_tokens"),
          TextAnalysis.bpeishTokenCount(col("text")).cast("long")
            .as("n_bpeish"))
        .orderBy("doc_id")
    }),

    // ---- E4 language-ID heuristic ----
    "q_lang_id" -> ((s, d) => {
      val scores = TextAnalysis.langIdScores(col("text"))
      val cols = scores.map { case (l, c) => c.cast("long").as(s"${l}_hits") }
      docsSpread(s, d)
        .select(col("doc_id") +: cols :+
          TextAnalysis.langId(col("text")).as("lang_pred"): _*)
        .orderBy("doc_id")
    }),

    // ---- E4 trainable Naive Bayes classifier: train on the even-id
    // half (labeled slice), predict the WHOLE corpus, publish the
    // confusion matrix. Rounded-decimal log-probs make the scores (and
    // so the argmax) engine-exact — the DuckDB oracle retrains the
    // same model from scratch. ----
    "q_nb_classify" -> ((s, d) => {
      val docs = docsSpread(s, d)
      TextAnalysis.nbClassify(
          docs.filter(pmod(col("doc_id"), lit(2)) === 0), docs,
          labelCol = "lang", textCol = "text")
        .orderBy("actual", "predicted")
    }),

    // ---- E4 logistic-style quality classifier, TRAIN trajectory: 3
    // GD iterations on fp(1e6)-quantized scan-side features with the
    // rational squashing link (no libm anywhere) — every iteration's
    // weight vector is integer-exact, so the oracle replays the whole
    // trajectory with the iterations unrolled as CTEs ----
    "q_logreg" -> ((s, d) =>
      TextAnalysis.logregTrain(docsSpread(s, d),
          label = col("n_chars") >= 300, textCol = "text",
          iters = 3, lr = 4.0)
        .orderBy("iter")),

    // ---- E4 logistic classifier SERVE: score the corpus with the
    // trained weights (train composes in — the collect is the final
    // 4-long weight row, bounded model state), then the per-source
    // quality report: n, mean score, and the n_chars>=300 agreement
    // count at the 0.5 threshold ----
    "q_logreg_score" -> ((s, d) => {
      val docs = docsSpread(s, d)
      val last = TextAnalysis.logregTrain(docs,
          label = col("n_chars") >= 300, textCol = "text",
          iters = 3, lr = 4.0)
        .orderBy(col("iter").desc).limit(1).collect()(0)
      val w = (2 to 5).map(last.getLong(_))
      TextAnalysis.logregScore(docs, w, textCol = "text")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("score").cast(DecimalType(28, 9))).cast("double") /
            count(lit(1)), 9).as("mean_score"),
          sum(when((col("score") >= 0.5) === (col("n_chars") >= 300), 1L)
            .otherwise(0L)).as("n_agree"))
        .orderBy("source")
    }),

    // ---- E4+E13 stored-classifier round trip: train once, COMMIT the
    // (token, label, logp) model and (label, prior) tables through
    // ManifestTable, read both back, score the whole corpus from the
    // STORED artifact — the train-once/score-many production shape.
    // Oracle is deliberately the same SQL as q_nb_classify: the green
    // row certifies the DECIMAL log-probs survive the round trip
    // bit-for-bit. ----
    "q_nb_stored" -> ((s, d) => withScratchDir("graft-nb-model") { tmp =>
      import graft.sources.ManifestTable
      val docs = docsSpread(s, d)
      val (model, priors) = TextAnalysis.nbTrain(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0), "lang", "text")
      ManifestTable.upsertBatch(model, s"$tmp/nb_model",
        Seq("token", "label"), nBuckets = 4, targetRowsPerBucket = 1L << 20, batchId = 0L)
      ManifestTable.upsertBatch(priors, s"$tmp/nb_priors",
        Seq("label"), nBuckets = 1, batchId = 0L)
      TextAnalysis.nbScore(docs,
          ManifestTable.read(s, s"$tmp/nb_model"),
          ManifestTable.read(s, s"$tmp/nb_priors"),
          labelCol = "lang", textCol = "text")
        .orderBy("actual", "predicted")
    }),

    // ---- E13 expectations on write: a clean batch commits, a poisoned
    // batch is REJECTED with the table left bit-identical; the output is
    // both audit reports + the surviving table state ----
    // ---- E13 RESTORE lifecycle: commit, corrupt with a bad batch,
    // roll back by committing the v1 file list forward (zero copy,
    // linear history) — the read-back proves the undo round-trip ----
    "q_restore" -> ((s, d) => withScratchDir("graft-restore") { tmp =>
      import graft.sources.ManifestTable
      val path = s"$tmp/tbl"
      val base = t(s, d, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"), col("source"))
      ManifestTable.upsertBatch(base, path, Seq("doc_id"),
        nBuckets = 8, targetRowsPerBucket = 1L << 20, batchId = 0L)
      ManifestTable.upsertBatch(
        base.filter(col("doc_id") < 50)
          .select(col("doc_id"), lit("CORRUPT").as("source")),
        path, Seq("doc_id"), nBuckets = 8, targetRowsPerBucket = 1L << 20, batchId = 1L)
      ManifestTable.restore(s, path, version = 1L)
      ManifestTable.read(s, path).orderBy("doc_id")
    }),

    "q_expectations" -> ((s, d) => withScratchDir("graft-expect") { tmp =>
      import graft.sources.ManifestTable
      import operators.Profiling.{InRange, NotNull}
      val docs = t(s, d, "documents").select("doc_id", "lang", "n_chars")
      val rules = Seq(InRange("n_chars", 0, 1000000), NotNull("lang"))
      val tbl = s"$tmp/governed"
      val good = docs.filter(col("doc_id") < 100)
      val bad = docs.filter(col("doc_id") >= 100)
        .withColumn("n_chars", -col("n_chars") - 1)
      val r1 = ManifestTable.guardedUpsert(good, tbl, Seq("doc_id"), rules)
        .withColumn("attempt", lit(1L))
      val r2 = ManifestTable.guardedUpsert(bad, tbl, Seq("doc_id"), rules)
        .withColumn("attempt", lit(2L))
      val state = ManifestTable.read(s, tbl)
        .agg(count(lit(1)).as("table_rows"))
      r1.unionByName(r2).crossJoin(broadcast(state))
        .select(col("attempt"), col("rule"), col("column"), col("n_rows"),
          col("violations"), col("passed"), col("committed"),
          col("table_rows"))
        .orderBy("attempt", "rule")
    }),

    // ---- E13 incremental view maintenance: roll a grouped summary
    // forward through the CDF diff (O(changes), not O(table)) — output
    // is the maintained summary, oracle is the from-scratch truth ----
    "q_incremental_view" -> ((s, d) => withScratchDir("graft-ivm") { tmp =>
      import graft.sources.ManifestTable
      val docs = t(s, d, "documents").select("doc_id", "source", "n_chars")
      val tbl = s"$tmp/facts"
      ManifestTable.upsertBatch(docs.filter(col("doc_id") < 30), tbl,
        Seq("doc_id"), nBuckets = 8, targetRowsPerBucket = 1L << 20, batchId = 0L)
      val batch2 = docs
        .filter(col("doc_id") >= 10 && col("doc_id") < 20)
        .withColumn("n_chars", col("n_chars") + 1000)
        .unionByName(docs.filter(col("doc_id") >= 30 && col("doc_id") < 40))
      ManifestTable.upsertBatch(batch2, tbl, Seq("doc_id"), nBuckets = 8, targetRowsPerBucket = 1L << 20,
        batchId = 1L)
      val prev = operators.Dimensional.summarizeForMaintenance(
        ManifestTable.readVersion(s, tbl, 1L), "source", "n_chars")
      val cdf = ManifestTable.diff(s, tbl, 1L, 2L, Seq("doc_id"))
      operators.Dimensional.maintainSummary(prev, cdf, "source", "n_chars")
        .select(col("source"), col("n_rows"),
          col("sum_dec").cast("double").as("sum_v"))
        .orderBy("source")
    }),

    // ---- E13 schema evolution round-trip: a second commit adds a
    // column; history null-fills it, time travel keeps the old shape ----
    "q_schema_evolution" -> ((s, d) => withScratchDir("graft-evolve") {
      tmp =>
      import graft.sources.ManifestTable
      val docs = t(s, d, "documents")
      val tbl = s"$tmp/evolving"
      ManifestTable.upsertBatch(
        docs.filter(col("doc_id") < 50).select("doc_id", "lang"),
        tbl, Seq("doc_id"), nBuckets = 8, targetRowsPerBucket = 1L << 20)
      ManifestTable.upsertBatch(
        docs.filter(col("doc_id") >= 50 && col("doc_id") < 100)
          .select("doc_id", "lang", "n_chars"),
        tbl, Seq("doc_id"), nBuckets = 8, targetRowsPerBucket = 1L << 20, allowEvolution = true)
      val v1Cols = ManifestTable.readVersion(s, tbl, 1L).columns.length
      ManifestTable.read(s, tbl)
        .withColumn("v1_cols", lit(v1Cols.toLong))
        .orderBy("doc_id")
    }),

    // ---- E4 PII exposure report (the measurement side of q_redact) ----
    "q_pii_stats" -> ((s, d) =>
      TextAnalysis.piiStats(docsSpread(s, d)).orderBy("doc_id")),

    // ---- E20 engine-exact covariance report: quantity vs price over
    // lineitem — DECIMAL moment sums, numerator-form cov/var (no IEEE
    // accumulation order anywhere), one global aggregate ----
    "q_covariance" -> ((s, d) =>
      operators.Profiling.covarianceExact(t(s, d, "lineitem"),
        "l_quantity", "l_extendedprice")),

    // ---- E20 covariance per segment: the grouped refutation of a
    // spurious pooled correlation ----
    "q_covariance_by_flag" -> ((s, d) =>
      operators.Profiling.covarianceExactBy(t(s, d, "lineitem"),
          Seq("l_returnflag"), "l_quantity", "l_extendedprice")
        .orderBy("l_returnflag")),

    // ---- E20 k-anonymity audit: quasi-identifier combinations shared
    // by fewer than k=10 customers — the re-identification risk report
    // (35 violating groups of 125 at sf0.01) ----
    "q_k_anonymity" -> ((s, d) =>
      operators.Profiling.kAnonymityViolations(t(s, d, "customer"),
          Seq("c_nationkey", "c_mktsegment"), k = 10L)
        .orderBy("c_nationkey", "c_mktsegment")),

    // ---- E4 deterministic MLM masking plan: 15% of (doc, position)
    // pairs masked by the engine-independent Knuth-hash bucket — the
    // reproducible-mask prep a masked-LM data pipeline ships ----
    "q_mask_tokens" -> ((s, d) =>
      TextAnalysis.maskTokens(docsSpread(s, d), maskPct = 15)
        .orderBy("doc_id")),

    // ---- E4 quality score ----
    "q_quality" -> ((s, d) =>
      docsSpread(s, d)
        .select(col("doc_id"),
                TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")),

    // ---- E4 PII-style redaction ----
    "q_redact" -> ((s, d) =>
      docsSpread(s, d)
        .select(col("doc_id"),
                TextAnalysis.redact(col("text")).as("clean"))
        .orderBy("doc_id")),

    // ---- E4 sliding-window chunking (overlapping token windows) ----
    "q_chunk" -> ((s, d) =>
      docsSpread(s, d)
        .filter(col("doc_id") < 50)
        .select(col("doc_id"),
          posexplode(TextAnalysis.chunkTokens(col("text"), 16, 8)))
        .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
                col("col").as("chunk"))
        .orderBy("doc_id", "chunk_idx")),

    // ---- E4 rolling-hash fingerprint ----
    "q_fingerprint" -> ((s, d) =>
      docsSpread(s, d)
        .select(col("doc_id"),
                TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")),

    // ---- E19 winnowing sketch (MOSS): min-hash-per-window k-gram
    // selection with the rightmost-tie rule — the guarantee-bearing
    // ~1/w-size sketch for substring-overlap detection ----
    "q_winnow" -> ((s, d) =>
      Ngrams.winnow(docsSpread(s, d), k = 3, w = 4)
        .orderBy("doc_id", "pos")),

    // ---- E2 exact n-gram Jaccard (linear chained pairs) ----
    "q_chained_jaccard" -> ((s, d) =>
      Dedup.chainedJaccard(t(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_a")),

    // ---- E2 EXACT all-pairs similarity join (prefix filtering) ----
    "q_allpairs_jaccard" -> ((s, d) =>
      Dedup.allPairsJaccard(t(s, d, "documents"), "doc_id", "text", 0.6)
        .orderBy("doc_a", "doc_b")),

    // ---- E2 cross-source near-dup matrix (who copies from whom):
    // the exact pair list rolled up by endpoint sources ----
    "q_dup_source_matrix" -> ((s, d) =>
      Dedup.nearDupSourceMatrix(t(s, d, "documents"), "doc_id", "text",
          "source", threshold = 0.5)
        .orderBy("src_a", "src_b")),

    // ---- E2 sorted-neighborhood (SNM) near-dup pass: block by lang,
    // sort by length, verify exact Jaccard within a 3-position window —
    // O(n·w) candidates, the predictable-cost record-linkage classic ----
    "q_sorted_neighborhood" -> ((s, d) =>
      Dedup.sortedNeighborhood(t(s, d, "documents"), "doc_id", "text",
          col("lang"), col("n_chars"), window = 3, threshold = 0.5)
        .orderBy("doc_a", "doc_b")),

    // ---- E2 EXACT all-pairs WEIGHTED cosine over shingle TF profiles
    // (prefix-filtered by suffix norm — repetition-sensitive twin of
    // q_allpairs_jaccard) ----
    "q_apss_cosine" -> ((s, d) =>
      Dedup.allPairsCosine(t(s, d, "documents"), "doc_id", "text", 0.6)
        .orderBy("doc_a", "doc_b")),

    // ---- E2/E26 blocking-quality audit: SNM (lang block, length sort,
    // window 3) candidates measured against the exact PPJoin truth at
    // the same 0.5 threshold — pair completeness (blocker recall) +
    // reduction ratio (share of the n² space avoided). Truth side
    // SAMPLE-BOUNDED at k=400 Knuth-rank docs (VERDICT r18 item 7, the
    // q_minhash_audit treatment): the exact truth join is O(k²)
    // whatever the corpus size; completeness over sampled truth pairs
    // is the unbiased recall estimate, the SNM candidate side stays
    // the production pipeline over the FULL corpus (and the reduction
    // ratio still measures it against the full n² space) ----
    "q_blocking_quality" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val sampled = docs.select(col("doc_id"), col("text"))
        .orderBy(pmod(col("doc_id") * lit(2654435761L),
          lit(4294967296L)), col("doc_id"))
        .limit(400)
      val truth = Dedup.allPairsJaccard(sampled, "doc_id", "text", 0.5)
        .select("doc_a", "doc_b")
      val cand = Dedup.sortedNeighborhood(docs, "doc_id", "text",
          col("lang"), col("n_chars"), window = 3, threshold = 0.5)
        .select("doc_a", "doc_b")
      Dedup.blockingQuality(truth, cand, docs.count())
    }),

    // ---- E2 EXACT directional containment join (subsumed-document /
    // quote-containment primitive; prefix-filtered on the contained
    // side only — see Dedup.containmentJoin) ----
    "q_containment" -> ((s, d) =>
      Dedup.containmentJoin(t(s, d, "documents"), "doc_id", "text", 0.9)
        .orderBy("doc_a", "doc_b")),

    // ---- E3 brute-force cosine top-k ----
    // ---- E3 per-dimension embedding health audit (dead dims, scale
    // pathologies) — one posexplode + one dim-keyed aggregate ----
    "q_dim_variance" -> ((s, d) =>
      Similarity.dimVariance(t(s, d, "embeddings"))
        .orderBy("dim")),

    // ---- E3 margin-based cross-corpus alignment mining (LASER ratio
    // margin): label-0 vectors vs label-1 vectors, best match per
    // source scored relative to both endpoints' k-NN neighborhood
    // density — hub vectors demote, genuine alignments rise ----
    "q_bitext_margin" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.marginMine(e.filter(col("label") === 0),
          e.filter(col("label") === 1), k = 4)
        .orderBy("src_id")
    }),

    // ---- E3 source-coherence audit: cosine-to-group-centroid stats
    // per label — the mixed/mislabeled-source screen ----
    "q_source_coherence" -> ((s, d) =>
      Similarity.sourceCoherence(t(s, d, "embeddings"), "label",
          floor = 0.0)
        .orderBy("grp")),

    // ---- E3 label-separability audit: own-centroid cosine minus the
    // best foreign-centroid cosine per vector (simplified centroid
    // silhouette) — the classifier go/no-go over these labels ----
    "q_label_separability" -> ((s, d) =>
      Similarity.labelSeparability(t(s, d, "embeddings"), "label")
        .orderBy("label")),

    "q_cosine_topk" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 10), 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),

    // ---- E3 hard-negative mining (triplet construction for
    // contrastive embedding training: top-k most-similar
    // different-label candidates per anchor, with nearest-positive
    // similarity and the FaceNet semi-hard flag) ----
    "q_hard_negatives" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.hardNegatives(e, e.filter(col("vec_id") % 37 === 0), 3)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("anchor_id", "rank")
    }),

    // ---- E5 JSON props extraction ----
    "q_json_extract" -> ((s, d) =>
      t(s, d, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .orderBy("event_id")),

    // ---- E5 JSON parse to typed struct AND to MapType ----
    "q_json_parse" -> ((s, d) => {
      import org.apache.spark.sql.types._
      t(s, d, "events")
        .select(col("event_id"),
          from_json(col("props"), StructType(Seq(StructField("k", LongType))))
            .getField("k").as("k_struct"),
          element_at(
            from_json(col("props"), MapType(StringType, StringType)), "k")
            .cast("long").as("k_map"))
        .orderBy("event_id")
    }),

    // ---- E6 event-time tumbling window rollup ----
    "q_event_hourly" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
             sumDec(col("value"), 6).as("sum_value"))
        .select(col("w.start").as("w_start"), col("event_type"),
                col("n_events"), col("sum_value"))
        .orderBy("w_start", "event_type")),

    // ---- Z-order layout: quantize (user_id, event_id) to 8 bits each,
    // interleave to a Morton key, report per-z-run bounding rectangles —
    // the tight per-bucket min/max on BOTH dims in the output IS the
    // multi-column zone-map pruning evidence ----
    "q_zorder" -> ((s, d) => {
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
    }),

    // ---- E25 Hilbert-curve layout beside q_zorder's Morton key, same
    // dims/bits/bucketing: consecutive indices are grid NEIGHBORS, so
    // the per-bucket extents profile tighter than Z-order's quadrant
    // jumps — compare the two queries' min/max spans directly ----
    "q_hilbert" -> ((s, d) => {
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
    }),

    // ---- batch sessionization (gap-based, twin of StreamOps.sessionize) ----
    "q_sessionize" -> ((s, d) =>
      EventOps.sessionizeBatch(t(s, d, "events"), gapMs = 3600 * 1000L)
        .orderBy("user_id", "session_start")),

    // ---- E6 cohort retention triangle (first-event week × offset —
    // weekly because the corpus spans one month of events) ----
    "q_cohort_retention" -> ((s, d) =>
      EventOps.cohortRetention(t(s, d, "events"), granularity = "week")
        .orderBy("cohort_start", "period_offset")),

    // ---- exact count-distinct companion to E7 ----
    "q_count_distinct" -> ((s, d) =>
      t(s, d, "events")
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy("event_type")),

    // ---- E6 market-basket pairs: event types co-occurring per user,
    // exact support + lift over per-user DISTINCT item sets ----
    "q_itemsets" -> ((s, d) =>
      EventOps.frequentPairs(t(s, d, "events"), minSupport = 2L)
        .orderBy("item_a", "item_b")),

    // ---- E6 hour-of-week seasonality profile (UTC) ----
    "q_time_profile" -> ((s, d) =>
      EventOps.timeProfile(t(s, d, "events"))
        .orderBy("dow", "hour")),

    // ---- E6 lag-1 autocorrelation of the hourly count series per
    // type (integer-sum Pearson — engine-exact) ----
    "q_autocorr" -> ((s, d) =>
      EventOps.autocorrelation(t(s, d, "events"), lag = 1)
        .orderBy("event_type")),

    // ---- E6 hour anomalies vs the hour-of-week baseline (the alert
    // the seasonality fingerprint exists to feed) ----
    "q_anomaly_hours" -> ((s, d) =>
      EventOps.anomalousHours(t(s, d, "events"), zThreshold = 2.0)
        .orderBy("event_type", "hour_start")),

    // ---- E20 categorical-dependence audit: PMI of (lang, source)
    // cells against independence ----
    "q_mutual_info" -> ((s, d) =>
      operators.Profiling.mutualInformation(t(s, d, "documents"),
          "lang", "source")
        .orderBy("lang", "source")),

    // ---- E20 Benford first-digit screen over order totals ----
    "q_benford" -> ((s, d) =>
      operators.Profiling.benford(t(s, d, "orders"), "o_totalprice")
        .orderBy("digit")),

    // ---- E22 NDCG@10 ranking-quality metric (deterministic fixture
    // ranking per lang; graded relevance = doc_id mod 4) ----
    "q_ndcg" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      val ranked = docs.select(col("lang").as("query_id"), col("doc_id"),
        row_number().over(w).as("rank")).filter(col("rank") <= 10)
      val rels = docs.select(col("lang").as("query_id"), col("doc_id"),
        pmod(col("doc_id"), lit(4)).as("rel"))
      operators.Search.ndcgAt(ranked, rels, k = 10).orderBy("query_id")
    }),

    // ---- E22 binary-relevance retrieval scorecard beside q_ndcg's
    // graded gain: MRR + P@10 + R@10 + AP@10 per query over the same
    // ranked lists, relevance = every 4th doc id ----
    "q_rank_eval" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      val ranked = docs.select(col("lang").as("query_id"), col("doc_id"),
        row_number().over(w).as("rank")).filter(col("rank") <= 10)
      val rels = docs.select(col("lang").as("query_id"), col("doc_id"),
        when(pmod(col("doc_id"), lit(4)) === 0, 1L).otherwise(0L)
          .as("rel"))
      operators.Search.rankEval(ranked, rels, k = 10).orderBy("query_id")
    }),

    // ---- E3 approximate kNN-GRAPH construction (the clustering
    // primitive) + ONE NN-descent refinement round, audited against
    // exact kNN on the query subset. The refinement lifts measured
    // recall 0.855/0.875/0.91 → 0.945/0.96/0.93 (sf0.001/0.01/0.1) at
    // fixed banding cost, so the audited floor moves 0.8 → 0.9. ----
    "q_knn_graph" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val g = Similarity.knnGraphRefined(e, k = 10, numPlanes = 64,
        bands = 16, refineRounds = 1)
      Similarity.recallAudit(e, e.filter(col("vec_id") < 20), 10,
        g.filter(col("src") < 20)
          .select(col("src").as("query_id"), col("dst").as("neighbor_id")),
        floor = 0.9)
    }),

    // ---- E6 RFM segmentation grid: 1..5 quintile scores on recency /
    // frequency / monetary per user, boundary-exact (no global ntile) ----
    "q_rfm" -> ((s, d) =>
      EventOps.rfmSegments(t(s, d, "events"))
        .orderBy("r_score", "f_score", "m_score")),

    // ---- E20 Lorenz concentration: Gini of document length per
    // source (is one source's mass dominated by a few giants?) ----
    "q_gini" -> ((s, d) =>
      operators.Profiling.gini(t(s, d, "documents"), "source", "n_chars")
        .orderBy("source")),

    // ---- E20 rater-agreement audit: Cohen's kappa between the
    // char-length screen and the token-count screen, per lang ----
    "q_kappa" -> ((s, d) =>
      operators.Profiling.cohenKappa(t(s, d, "documents"), "lang",
          col("n_chars") >= 300, size(split(col("text"), " ")) >= 55)
        .orderBy("lang")),

    // ---- E19 Zipf-slope naturalness screen over the token-frequency
    // distribution (natural text ≈ −1) ----
    "q_zipf" -> ((s, d) =>
      Ngrams.zipfSlope(docsSpread(s, d), minTf = 5)
        .orderBy("n_types")),

    // ---- corpus mixing: deterministic seedless MD5-ranked sample
    // per source (the reproducible eval-slice extractor) ----
    "q_hash_sample" -> ((s, d) =>
      Mixing.hashSample(t(s, d, "documents"), "source", "doc_id", k = 10)
        .orderBy("source", "rn")),

    // ---- corpus mixing: A-Res weighted priority sample (inclusion
    // ∝ document length), seedless and reproducible from ids ----
    "q_priority_sample" -> ((s, d) =>
      Mixing.weightedPrioritySample(t(s, d, "documents"), "source",
          "doc_id", "n_chars", k = 5)
        .orderBy("source", "rn")),

    // ---- E6 next-event entropy per state: is the journey a rail or
    // a coin flip? (the determinism screen over transitionMatrix) ----
    "q_transition_entropy" -> ((s, d) =>
      EventOps.transitionEntropy(t(s, d, "events"))
        .orderBy("from_type")),

    // ---- E4 LIX-style readability report per source ----
    "q_readability" -> ((s, d) =>
      TextAnalysis.readability(docsSpread(s, d), "source")
        .orderBy("source")),

    // ---- E20 Tukey-fence outlier census (robust-quartile fences) ----
    "q_iqr_outliers" -> ((s, d) =>
      operators.Profiling.iqrOutliers(t(s, d, "lineitem"),
          "l_returnflag", "l_extendedprice")
        .orderBy("l_returnflag")),

    // ---- E7 pairwise audience overlap between event types, HLL
    // inclusion–exclusion audited against the exact intersection ----
    "q_audience_overlap" -> ((s, d) =>
      EventOps.audienceOverlap(t(s, d, "events"))
        .orderBy("type_a", "type_b")),

    // ---- E6 conversion latency: first view → first purchase at or
    // after it (rate + exact interpolated delay percentiles) ----
    "q_time_to_convert" -> ((s, d) =>
      EventOps.timeToConvert(t(s, d, "events"), "view", "purchase")
        .orderBy("n_touched")),

    // ---- E20 χ² independence of (lang, source) — the one-number
    // sibling of q_mutual_info, absent cells folded in closed-form ----
    "q_chi2_indep" -> ((s, d) =>
      operators.Profiling.chi2Independence(t(s, d, "documents"),
          "lang", "source")
        .orderBy("n")),

    // ---- E20 referential-integrity audit: a clean FK relation and a
    // deliberately partial one (customers without event activity) ----
    "q_ref_integrity" -> ((s, d) =>
      operators.Profiling.refIntegrity(t(s, d, "lineitem"), "l_orderkey",
          t(s, d, "orders"), "o_orderkey", "lineitem->orders")
        .unionByName(operators.Profiling.refIntegrity(t(s, d, "orders"),
          "o_custkey", t(s, d, "events"), "user_id",
          "orders->active_users"))
        .orderBy("relation")),

    // ---- E23 count-min sketch as a mergeable d×w counter TABLE (no
    // driver state), audited per key against the exact counts ----
    "q_cms_counts" -> ((s, d) =>
      operators.Profiling.cmsCheckedCounts(t(s, d, "events"), "user_id")
        .orderBy("key")),

    // ---- E23 join-cardinality pre-flight: CMS inner-product estimate
    // of |orders ⋈ lineitem| with the structural overestimate verdict
    // and the ε-bound sizing check — the planner probe that costs two
    // d×w sketches instead of a key-space shuffle ----
    "q_join_size_est" -> ((s, d) =>
      operators.Profiling.cmsJoinSize(t(s, d, "orders"), "o_orderkey",
        t(s, d, "lineitem"), "l_orderkey")),

    // ---- E20 score calibration: the cheap per-doc quality score
    // against the Gopher rule verdict — reliability table (n, mean
    // predicted, observed pass rate, gap) per score decile ----
    "q_calibration" -> ((s, d) => {
      val docs = docsSpread(s, d)
      operators.Profiling.calibration(
        docs.select(col("doc_id"),
          TextAnalysis.qualityScore(col("text")).as("score"),
          TextAnalysis.gopherPass(col("text"), minWords = 20)
            .as("label")),
        "score", "label", bins = 10)
        .orderBy("bin")
    }),

    // ---- E6 frequent length-3 journeys (sequential patterns one hop
    // deeper than the transition matrix) ----
    "q_seq_patterns" -> ((s, d) =>
      EventOps.sequencePatterns(t(s, d, "events"), minSupport = 5)
        .orderBy("e1", "e2", "e3")),

    // ---- E20 fixed-width value histogram with per-bucket ranges (the
    // operator form of q_histogram's inline shape) ----
    "q_value_histogram" -> ((s, d) =>
      operators.Profiling.equiWidthHistogram(t(s, d, "orders"),
          "o_totalprice", width = 20000.0)
        .orderBy("bucket")),

    // ---- E24 degree histogram of the customer→supplier trade graph
    // (the connectivity fingerprint before any graph algorithm) ----
    "q_degree_hist" -> ((s, d) => {
      val edges = t(s, d, "orders").select("o_orderkey", "o_custkey")
        .join(t(s, d, "lineitem").select("l_orderkey", "l_suppkey"),
          col("o_orderkey") === col("l_orderkey"))
      operators.Graphs.degreeHistogram(edges, "o_custkey", "l_suppkey")
        .orderBy("degree")
    }),

    // ---- E24 power-law exponent of that degree distribution (the
    // hubs-exist? screen: generic log-log OLS over the histogram) ----
    "q_powerlaw" -> ((s, d) => {
      val edges = t(s, d, "orders").select("o_orderkey", "o_custkey")
        .join(t(s, d, "lineitem").select("l_orderkey", "l_suppkey"),
          col("o_orderkey") === col("l_orderkey"))
      operators.Profiling.loglogFit(
        operators.Graphs.degreeHistogram(edges, "o_custkey", "l_suppkey"),
        "degree", "n_nodes")
        .orderBy("n_points")
    }),

    // ---- E20 2-D skyline: Pareto frontier of (price, recency) over
    // orders — two-level bucketed, no corpus-wide sort ----
    "q_skyline" -> ((s, d) =>
      operators.Ops.skyline2D(
        t(s, d, "orders").select(col("o_totalprice").as("price"),
          unix_date(col("o_orderdate").cast("date")).as("day")),
        "price", "day")
        .orderBy("x")),

    // ---- E6 burst collapse: keep burst-starting events per user
    // (1-hour debounce), numbered per user ----
    "q_debounce" -> ((s, d) =>
      EventOps.debounce(t(s, d, "events"), gapUs = 3600L * 1000000L)
        .orderBy("event_id")),

    // ---- E26 best-match linkage: each name's highest-similarity
    // partner from the blocked Jaro–Winkler pairs (rank ties broken
    // by partner name, WindowGroupLimit-fused) ----
    "q_best_match" -> ((s, d) => {
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
    }),

    // ---- E20 per-source quantile normalization of document length
    // (rank-based feature scaling; ties normalize equally) ----
    "q_quantile_norm" -> ((s, d) =>
      operators.Profiling.quantileNormalize(t(s, d, "documents"),
          "source", "doc_id", "n_chars")
        .orderBy("doc_id")),

    // ---- E6 seasonality strength: R² of the hour-of-week
    // fingerprint over hourly traffic (the alert-on-residuals gate) ----
    "q_seasonality" -> ((s, d) =>
      EventOps.seasonalityStrength(t(s, d, "events"))
        .orderBy("event_type")),

    // ---- E6 exact inter-event gap percentiles (dwell-time SLAs) ----
    "q_gap_percentiles" -> ((s, d) =>
      EventOps.gapPercentiles(t(s, d, "events"))
        .orderBy("event_type")),

    // ---- E6 user-lifespan survival curve (sparse Kaplan–Meier) ----
    "q_survival" -> ((s, d) =>
      EventOps.survivalCurve(t(s, d, "events"))
        .orderBy("age_days")),

    // ---- E6 per-day bounce rate over 1-hour-gap sessions ----
    "q_bounce_rate" -> ((s, d) =>
      EventOps.bounceRate(t(s, d, "events"), gapMs = 3600000L)
        .orderBy("day")),

    // ---- E6 peak concurrent activity windows per day (day-clipped
    // boundary walk over the merged 10-minute intervals) ----
    "q_peak_concurrency" -> ((s, d) =>
      EventOps.peakConcurrency(
        EventOps.coalesceIntervals(
          t(s, d, "events").select(col("user_id"), col("ts").as("s_ts"),
            (col("ts") + expr("INTERVAL 10 MINUTES")).as("e_ts")),
          "user_id", "s_ts", "e_ts"))
        .orderBy("day")),

    // ---- E20 Pareto coverage point: how many of the heaviest
    // sources carry 80% of the corpus characters ----
    "q_pareto" -> ((s, d) =>
      operators.Profiling.paretoCoverage(t(s, d, "documents"),
          "source", "n_chars", target = 0.8)
        .orderBy("n_groups")),

    // ---- E6 cohort LTV matrix: first-active-month cohorts × age,
    // with per-cell and cumulative revenue ----
    "q_cohort_ltv" -> ((s, d) =>
      EventOps.cohortLtv(t(s, d, "events"), granularity = "week")
        .orderBy("cohort_period", "age_periods")),

    // ---- E6 longest consecutive-day streak histogram (habit
    // strength, gaps-and-islands on distinct activity days) ----
    "q_streaks" -> ((s, d) =>
      EventOps.streakHistogram(t(s, d, "events"))
        .orderBy("streak_days")),

    // ---- E6 top session-opening paths (first-5-event prefixes) ----
    "q_top_paths" -> ((s, d) =>
      EventOps.topPaths(t(s, d, "events"), depth = 3, minSupport = 2)
        .orderBy("path")),

    // ---- E20 fact-to-header reconciliation: order totals vs line
    // sums (the financial-close audit an FK check can't see) ----
    "q_reconcile" -> ((s, d) =>
      operators.Profiling.reconcile(
        t(s, d, "orders"), "o_orderkey", "o_totalprice",
        t(s, d, "lineitem"), "l_orderkey", "l_extendedprice",
        relTol = 0.01)
        .orderBy("n_parents")),

    // ---- E6 two-proportion A/B readout (id-parity assignment,
    // purchase conversion, pooled z statistic) ----
    "q_ab_test" -> ((s, d) =>
      EventOps.abTest(t(s, d, "events"),
          treatment = pmod(col("user_id"), lit(2)) === 1, "purchase")
        .orderBy("n_a")),

    // ---- E6 rolling active users: DAU / trailing-7-day WAU and the
    // stickiness ratio per observed day ----
    "q_rolling_active" -> ((s, d) =>
      EventOps.rollingActiveUsers(t(s, d, "events"), windowDays = 7)
        .orderBy("day")),

    // ---- E26 blocked Jaro–Winkler linkage over DISTINCT part names
    // (native codegen'd comparator; blocking = the noun token) ----
    "q_jaro_winkler" -> ((s, d) =>
      Joins.blockedJaroWinkler(
        t(s, d, "part").select("p_name").distinct(),
        "p_name", "p_name",
        element_at(split(col("p_name"), " "), 2), minSim = 0.8)
        .filter(col("jw") < 1.0)
        .orderBy("id_a", "id_b")),

    // ---- E6 interval coalescing (gaps-and-islands): merge each
    // user's overlapping 10-minute activity windows ----
    "q_interval_merge" -> ((s, d) =>
      EventOps.coalesceIntervals(
        t(s, d, "events").select(col("user_id"), col("ts").as("s_ts"),
          (col("ts") + expr("INTERVAL 10 MINUTES")).as("e_ts")),
        "user_id", "s_ts", "e_ts")
        .orderBy("user_id", "island")),

    // ---- E20 MAD robust outlier census (the 50%-breakdown-point
    // complement of the IQR fences) ----
    "q_mad_outliers" -> ((s, d) =>
      operators.Profiling.madOutliers(t(s, d, "lineitem"),
          "l_returnflag", "l_extendedprice")
        .orderBy("l_returnflag")),

    // ---- E20 per-segment linear trend: slope of hourly traffic over
    // the hour index, one grouped OLS pass ----
    "q_trend" -> ((s, d) => {
      val hours = t(s, d, "events")
        .groupBy(col("event_type"),
          expr("unix_micros(date_trunc('HOUR', ts)) div 3600000000")
            .as("h"))
        .agg(count(lit(1)).as("c"))
      operators.Profiling.groupedTrend(hours, "event_type", "h", "c")
        .orderBy("event_type")
    }),

    // ---- E24 local clustering coefficient over the order-copurchase
    // part graph (community structure vs hub topology) ----
    "q_clustering_coef" -> ((s, d) => {
      val li = t(s, d, "lineitem").select("l_orderkey", "l_partkey")
      val e = li.as("x").join(li.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
          col("x.l_partkey") < col("y.l_partkey"))
        .select(col("x.l_partkey").as("src"), col("y.l_partkey").as("dst"))
        .distinct()
      operators.Graphs.clusteringCoefficient(e, "src", "dst")
        .orderBy("node")
    }),

    // ---- corpus mixing: systematic per-source sampling ----
    "q_sample_mix" -> ((s, d) =>
      Mixing.systematicSampleByRates(t(s, d, "documents"), "source", "doc_id",
          Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.1))
        .select("doc_id", "source")
        .orderBy("doc_id")),

    // ---- corpus packing: fixed-budget shard assignment per source ----
    "q_pack_budget" -> ((s, d) =>
      Mixing.packByBudget(t(s, d, "documents"), "source", "doc_id",
          "n_chars", budget = 1000L)
        .select("doc_id", "source", "n_chars", "shard")
        .orderBy("doc_id")),

    // ---- dynamic-batching planner: quantile length buckets + the
    // pad-to-max waste a fixed batch shape per bucket would carry ----
    "q_length_buckets" -> ((s, d) =>
      Mixing.lengthBuckets(docsSpread(s, d), nBuckets = 4)
        .orderBy("bucket")),

    // ---- multimodal metadata plumbing (binary column) ----
    "q_multimodal_meta" -> ((s, d) =>
      Multimodal.extractMeta(Multimodal.fromDocuments(t(s, d, "documents")))
        .orderBy("media_id")),

    // ---- multimodal decode paths (stub codec, real dataflow) ----
    // The stub codec is CLOSED-FORM (normalized byte histogram mod dim),
    // so the decode output is oracle-checkable: the projection recovers
    // integer byte statistics from the float features (round() is exact —
    // the only float rounding is one count/n division per bucket, error
    // << 0.5 for any document length below ~10^6 bytes), and DuckDB
    // recomputes the same integers straight from the text bytes (the
    // corpus is ASCII, so DuckDB's per-character ord() IS the byte).
    "q_media_features" -> ((s, d) =>
      Multimodal.decodeFeatures(s,
          Multimodal.fromDocuments(docsSpread(s, d)), dim = 16)
        .toDF()
        .select(col("media_id"), col("n_bytes"),
          // sum_j j*f_j*n = sum over payload bytes of (byte mod 16)
          round(aggregate(
              zip_with(col("features"), sequence(lit(0), lit(15)),
                (f, i) => f.cast("double") * i),
              lit(0.0), (acc, x) => acc + x) * col("n_bytes"))
            .cast("long").as("mod_checksum"),
          // f_0*n = count of payload bytes with byte mod 16 = 0
          round(element_at(col("features"), 1).cast("double") * col("n_bytes"))
            .cast("long").as("f0_count"))
        .orderBy("media_id")),
    // batch-shaped embedding over the same stub model; results are
    // batch-size-independent (spec-pinned) and oracle-checked the same
    // way at dim=8
    "q_media_embed" -> ((s, d) =>
      Multimodal.embedBatched(s,
          Multimodal.fromDocuments(docsSpread(s, d)),
          dim = 8, batchSize = 64)
        .toDF()
        .select(col("media_id"), col("n_bytes"),
          round(aggregate(
              zip_with(col("features"), sequence(lit(0), lit(7)),
                (f, i) => f.cast("double") * i),
              lit(0.0), (acc, x) => acc + x) * col("n_bytes"))
            .cast("long").as("mod_checksum"),
          round(element_at(col("features"), 1).cast("double") * col("n_bytes"))
            .cast("long").as("f0_count"))
        .orderBy("media_id")),
    // each frame is a byte window of the payload = a substring of the
    // ASCII text, so DuckDB reproduces the exact frame bytes with
    // substr() and the md5 digests must match digit-for-digit
    "q_media_frames" -> ((s, d) =>
      Multimodal.sampleFrames(s,
          Multimodal.fromDocuments(docsSpread(s, d)),
          frameBytes = 32, stride = 2)
        .toDF()
        .select(col("media_id"), col("frame_idx").cast("long").as("frame_idx"),
                octet_length(col("frame")).cast("long").as("frame_bytes"),
                md5(col("frame")).as("frame_md5"))
        .orderBy("media_id", "frame_idx")),
    // E8 perceptual near-dup over binary payloads (VERDICT r9 item 3),
    // banded via the SimHash chunk pigeonhole — never all-pairs.
    // Closed-form planted-duplicate fixture, the q_simhash_fixture
    // argument lifted to byte space: per div-4 group, payload = one
    // 8-byte pattern P_g ("0000000gX" zero-padded) repeated k∈{2..5}
    // times. With windowBytes=8, stride=4 every window offset is a
    // multiple of 4 and n-8 is too, so the DISTINCT window set is
    // exactly {P_g, rot4(P_g)} for every k — in-group payloads differ
    // byte-for-byte (different lengths) yet share the identical window
    // set, hence identical SimHash, hamming 0, found with pigeonhole
    // CERTAINTY; cross-group window sets are disjoint, so signatures
    // are independent 64-bit values (P(hamming ≤ 3) ≈ 2e-15/pair) and
    // no cross-group pair emits. The pair list is SQL-closed.
    "q_media_neardup" -> ((s, d) => {
      val g = expr("doc_id div 4")
      val pat = concat(lpad(pmod(g, lit(10000000)).cast("string"), 7, "0"),
        lit("X"))
      val media = t(s, d, "documents")
        .select(col("doc_id").as("media_id"),
          concat_ws("", array_repeat(pat,
            (pmod(col("doc_id"), lit(4)) + 2).cast("int")))
            .cast("binary").as("payload"))
      Multimodal.mediaNearDups(media, windowBytes = 8, stride = 4,
          maxHamming = 3)
        .orderBy("media_a", "media_b")
    }),
    // E8+E2f incremental MEDIA dedup lifecycle (VERDICT r10 item 4) —
    // the binary-payload twin of q_incremental_refresh: publish a
    // standing media corpus and its perceptual-signature index as
    // ManifestTables, ingest two batches, each probing the READ-BACK
    // index and extending both tables. Closed-form fixture over div-4
    // groups with 8-byte-periodic payloads (identical window sets ⇒
    // identical SimHash, certain recall; cross-pattern signatures are
    // independent 64-bit values, P(hamming≤3) ≈ 2e-15/pair): corpus
    // (%4==0) = patT×4; batch1 (%4==1) = patU×3, no match → survives,
    // signatures appended; batch2 (%4==2) = patU×2 for EVEN groups — a
    // perceptual dup of batch1's survivor, dropped ONLY IF the index
    // extension committed and round-tripped — and patV×3 for ODD
    // groups (new → survives). Final membership is SQL-closed.
    "q_media_refresh" -> ((s, d) => withScratchDir("graft-media-refresh") { tmp =>
      import graft.sources.ManifestTable
      val g = expr("doc_id div 4")
      val base0 = t(s, d, "documents")
      val idxPath = s"$tmp/media_sig"; val outPath = s"$tmp/media"
      def pat(tag: String) = concat(
        lpad(pmod(g, lit(10000000)).cast("string"), 7, "0"), lit(tag))
      def mk(tag: String, reps: Int) = concat_ws("",
        array_repeat(pat(tag), reps)).cast("binary")
      val corpus = base0.filter(pmod(col("doc_id"), lit(4)) === 0)
        .select(col("doc_id").as("media_id"), mk("T", 4).as("payload"))
      val batch1 = base0.filter(pmod(col("doc_id"), lit(4)) === 1)
        .select(col("doc_id").as("media_id"), mk("U", 3).as("payload"))
      val batch2 = base0.filter(pmod(col("doc_id"), lit(4)) === 2)
        .select(col("doc_id").as("media_id"),
          when(pmod(g, lit(2)) === 0, mk("U", 2))
            .otherwise(mk("V", 3)).as("payload"))
      ManifestTable.upsertBatch(corpus, outPath, Seq("media_id"),
        nBuckets = 8, targetRowsPerBucket = 1L << 20, batchId = 0L)
      ManifestTable.upsertBatch(Multimodal.mediaSimhash(corpus),
        idxPath, Seq("media_id"), nBuckets = 8, targetRowsPerBucket = 1L << 20, batchId = 0L)
      Seq((batch1, 1L), (batch2, 2L)).foreach { case (b, bid) =>
        val idx = ManifestTable.read(s, idxPath)
        val surv = Multimodal.mediaDedupAgainstIndex(b, idx)
        ManifestTable.upsertBatch(surv, outPath, Seq("media_id"),
          nBuckets = 8, targetRowsPerBucket = 1L << 20, batchId = bid)
        ManifestTable.upsertBatch(Multimodal.mediaSimhash(surv),
          idxPath, Seq("media_id"), nBuckets = 8, targetRowsPerBucket = 1L << 20, batchId = bid)
      }
      ManifestTable.read(s, outPath).select("media_id").orderBy("media_id")
    }),
    // E8+E2f media lifecycle SPLIT, build half: hash + commit the
    // standing corpus's perceptual-signature index from scratch —
    // amortizable construction cost; the read-back's SQL-closed shape
    // (one signature row per corpus doc) is the audit
    "q_media_sig_build" -> ((s, d) => {
      val dir = buildMediaSigCache(s, d)
      graft.sources.ManifestTable.read(s, dir)
        .agg(count(lit(1)).as("n_sigs"),
          countDistinct(col("media_id")).as("n_media"))
        .select(col("n_media"), col("n_sigs"))
    }),
    // E8+E2f media lifecycle SPLIT, probe half: dedup two ingest
    // batches against the READ-BACK standing index without extending
    // it — the recurring per-ingest cost (q_media_refresh keeps the
    // full extend-and-round-trip proof). batch1 (%4==1) = patU×3, no
    // corpus match → survives; batch2 (%4==2) = patT×2 for EVEN groups
    // (perceptual dup of the group's corpus doc → dropped) and patV×3
    // for ODD groups (new → survives)
    "q_media_probe" -> ((s, d) => {
      val dir = ensureMediaSigCache(s, d)
      val idx = graft.sources.ManifestTable.read(s, dir)
      val g = expr("doc_id div 4")
      val base0 = t(s, d, "documents")
      def pat(tag: String) = concat(
        lpad(pmod(g, lit(10000000)).cast("string"), 7, "0"), lit(tag))
      def mk(tag: String, reps: Int) = concat_ws("",
        array_repeat(pat(tag), reps)).cast("binary")
      val batch1 = base0.filter(pmod(col("doc_id"), lit(4)) === 1)
        .select(col("doc_id").as("media_id"), mk("U", 3).as("payload"))
      val batch2 = base0.filter(pmod(col("doc_id"), lit(4)) === 2)
        .select(col("doc_id").as("media_id"),
          when(pmod(g, lit(2)) === 0, mk("T", 2))
            .otherwise(mk("V", 3)).as("payload"))
      Multimodal.mediaDedupAgainstIndex(batch1, idx)
        .unionByName(Multimodal.mediaDedupAgainstIndex(batch2, idx))
        .select("media_id").orderBy("media_id")
    }),

    // ---- window analytics: lag / lead ----
    "q_window_lag_lead" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      t(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // ---- window analytics: rank / dense_rank ----
    "q_window_rank" -> ((s, d) => {
      val w = Window.partitionBy("c_nationkey").orderBy(col("c_acctbal").desc, col("c_custkey"))
      t(s, d, "customer")
        .select(col("c_nationkey"), col("c_custkey"),
          rank().over(w).cast("long").as("rnk"),
          dense_rank().over(w).cast("long").as("drnk"),
          row_number().over(w).cast("long").as("rn"))
        .orderBy("c_nationkey", "c_custkey")
    }),

    // ---- window analytics: running sum with an explicit row frame ----
    "q_window_running" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w)
            .cast("double").as("running_total"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // ---- null-safe equality join (<=>) ----
    "q_null_safe_join" -> ((s, d) => {
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
    }),

    // ---- window analytics: RANGE frame (value-based) ----
    "q_window_range" -> ((s, d) => {
      val w = Window.partitionBy("c_nationkey").orderBy("c_custkey")
        .rangeBetween(-100, 0)
      t(s, d, "customer")
        .select(col("c_nationkey"), col("c_custkey"),
          count(lit(1)).over(w).as("n_in_range"))
        .orderBy("c_nationkey", "c_custkey")
    }),

    // ---- window analytics: first_value / last_value over a full frame ----
    "q_window_firstlast" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          first(col("o_totalprice")).over(w).as("first_price"),
          last(col("o_totalprice")).over(w).as("last_price"),
          nth_value(col("o_totalprice"), 2).over(w).as("second_price"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // ---- array higher-order functions (transform / filter / aggregate) ----
    "q_array_hof" -> ((s, d) => {
      val toks = split(col("text"), " ")
      docsSpread(s, d)
        .filter(col("doc_id") < 50)
        .select(col("doc_id"),
          array_join(transform(toks, t => upper(t)), ",").as("upper_toks"),
          size(filter(toks, t => length(t) > 5)).cast("long").as("n_long"),
          aggregate(toks, lit(0L), (acc, t) => acc + length(t)).as("total_len"))
        .orderBy("doc_id")
    }),

    // ---- map functions over parsed JSON ----
    "q_map_funcs" -> ((s, d) => {
      import org.apache.spark.sql.types._
      val m = from_json(col("props"), MapType(StringType, StringType))
      t(s, d, "events")
        .filter(col("event_id") < 3000)
        .select(col("event_id"),
          array_join(map_keys(m), ",").as("keys"),
          array_join(map_values(m), ",").as("vals"),
          size(map_keys(m)).cast("long").as("n_keys"))
        .orderBy("event_id")
    }),

    // ---- rollup (hierarchical subtotals) ----
    "q_rollup" -> ((s, d) =>
      t(s, d, "customer")
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        // rollup by Column, not by name: the by-name overload trips Spark
        // 4.1's ambiguous-self-join detection when the child is a join
        // (the grouping attrs surface both in the Expand and the child)
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"))
        .toDF("r_name", "n_name", "n_cust")
        .sort(asc_nulls_first("r_name"), asc_nulls_first("n_name"))),

    // ---- cube (all grouping combinations) ----
    "q_cube" -> ((s, d) =>
      t(s, d, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), sumDec(col("l_quantity")).as("qty"))
        .orderBy(col("l_returnflag").asc_nulls_first,
                 col("l_linestatus").asc_nulls_first)),

    // ---- grouping() indicator columns over a cube ----
    "q_grouping_id" -> ((s, d) =>
      t(s, d, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(grouping("l_returnflag").cast("long").as("g_rf"),
             grouping("l_linestatus").cast("long").as("g_ls"),
             count(lit(1)).as("n"))
        .sort(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))),

    // ---- pivot (status counts per nation) ----
    "q_pivot" -> ((s, d) =>
      t(s, d, "orders")
        .join(broadcast(t(s, d, "customer")), col("o_custkey") === col("c_custkey"))
        .groupBy("c_nationkey").pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("c_nationkey"),
          coalesce(col("F"), lit(0L)).as("n_f"),
          coalesce(col("O"), lit(0L)).as("n_o"),
          coalesce(col("P"), lit(0L)).as("n_p"))
        .orderBy("c_nationkey")),

    // ---- SQL surface: GROUPING SETS via spark.sql over temp views ----
    "q_sql_groupingsets" -> ((s, d) => {
      t(s, d, "nation").createOrReplaceTempView("gs_nation")
      t(s, d, "region").createOrReplaceTempView("gs_region")
      s.sql("""
        SELECT r_name, n_name, COUNT(*) AS n
        FROM gs_nation JOIN gs_region ON n_regionkey = r_regionkey
        GROUP BY GROUPING SETS ((r_name), (r_name, n_name), ())
        ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""")
    }),

    // ---- generator: posexplode of a token array ----
    "q_explode_tokens" -> ((s, d) =>
      t(s, d, "documents")
        .filter(col("doc_id") < 20)
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
                col("col").as("tok"))
        .orderBy("doc_id", "pos")),

    // ---- array functions: sort, distinct-size, join, contains ----
    "q_array_funcs" -> ((s, d) => {
      val toks = split(col("text"), " ")
      t(s, d, "documents")
        .filter(col("doc_id") < 50)
        .select(col("doc_id"),
          array_join(sort_array(array_distinct(toks)), ",").as("sorted_uniq"),
          array_contains(toks, "data").as("has_data"),
          element_at(toks, 1).as("first_tok"))
        .orderBy("doc_id")
    }),

    // ---- set op: intersect ----
    "q_intersect" -> ((s, d) =>
      t(s, d, "part").select(col("p_size").as("k"))
        .intersect(t(s, d, "lineitem").select(col("l_linenumber").as("k")))
        .orderBy("k")),

    // ---- set op: except ----
    "q_except" -> ((s, d) =>
      t(s, d, "part").select(col("p_size").as("k"))
        .except(t(s, d, "lineitem").select(col("l_linenumber").as("k")))
        .orderBy("k")),

    // ---- string functions ----
    "q_string_funcs" -> ((s, d) =>
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
        .orderBy("c_custkey")),

    // ---- math functions (engine-exact subset) ----
    "q_math_funcs" -> ((s, d) =>
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
        .orderBy("l_orderkey", "l_linenumber", "abs_p")),

    // ---- date arithmetic ----
    "q_date_arith" -> ((s, d) =>
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
        .orderBy("o_orderkey")),

    // ---- exact percentiles (interpolated median) ----
    "q_percentile" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(expr("percentile(l_quantity, 0.5)").as("med_qty"),
             expr("percentile(l_quantity, 0.25)").as("q1_qty"),
             min(col("l_quantity")).as("min_qty"),
             max(col("l_quantity")).as("max_qty"))
        .orderBy("l_returnflag")),

    // ---- conditional aggregation ----
    "q_cond_agg" -> ((s, d) =>
      t(s, d, "orders")
        .groupBy("o_orderpriority")
        .agg(
          sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("n_f"),
          sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L)).as("n_o"),
          sumDec(when(col("o_orderstatus") === "F", col("o_totalprice"))
            .otherwise(lit(0.0))).as("total_f"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")),

    // ---- full outer join with coalesced key ----
    "q_full_outer" -> ((s, d) => {
      val c = t(s, d, "customer").groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_cust"))
      val su = t(s, d, "supplier").groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_supp"))
      c.join(su, col("c_nationkey") === col("s_nationkey"), "full_outer")
        .select(coalesce(col("c_nationkey"), col("s_nationkey")).as("nk"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
        .orderBy("nk")
    }),

    // ---- cross join (cartesian, small dims) ----
    "q_cross_join" -> ((s, d) =>
      t(s, d, "region").select(col("r_name"))
        .crossJoin(t(s, d, "nation").select(col("n_name")))
        .orderBy("r_name", "n_name")),

    // ---- scalar-subquery analogue: filter vs a global exact aggregate ----
    "q_scalar_subquery" -> ((s, d) => {
      val cust = t(s, d, "customer")
      val agg = cust.agg(
        sum(col("c_acctbal").cast(DecimalType(18, 2))).as("total"),
        count(lit(1)).as("n"))
      cust.crossJoin(broadcast(agg))
        .filter(col("c_acctbal").cast(DecimalType(18, 2)) * col("n") > col("total"))
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey")
    }),

    // ---- null handling: coalesce / nullif / nvl2-style ----
    "q_coalesce_null" -> ((s, d) =>
      t(s, d, "part")
        .select(col("p_partkey"),
          coalesce(nullif(col("p_brand"), lit("Brand#11")), lit("OTHER")).as("brand_o"),
          when(nullif(col("p_size"), lit(1)).isNull, lit("unit"))
            .otherwise(lit("multi")).as("size_class"))
        .orderBy("p_partkey")),

    // ---- typed Aggregator: heap-based top-k per group (map-side k rows,
    //      not a full per-group sort — see functions.TopKAggregator) ----
    "q_topk_group" -> ((s, d) => {
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
    }),

    // ---- as-of join: latest purchase at-or-before each click ----
    "q_asof_join" -> ((s, d) => {
      val e = t(s, d, "events")
      val clicks = e.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("pts"), col("value"))
      Joins.asofJoin(clicks, purchases, "user_id", "ts", "pts",
          Seq("pts", "value"), rightPrefix = "last_")
        .select("event_id", "user_id", "last_pts", "last_value")
        .orderBy("event_id")
    }),

    // ---- forward as-of join: next purchase at-or-after each click ----
    "q_asof_forward" -> ((s, d) => {
      val e = t(s, d, "events")
      val clicks = e.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("pts"), col("value"))
      Joins.asofJoinForward(clicks, purchases, "user_id", "ts", "pts",
          Seq("pts", "value"), rightPrefix = "next_")
        .select("event_id", "user_id", "next_pts", "next_value")
        .orderBy("event_id")
    }),

    // ---- data-quality profiling: one-pass per-column statistics ----
    "q_profile" -> ((s, d) =>
      operators.Profiling.profile(t(s, d, "customer"),
          Seq("c_custkey", "c_name", "c_acctbal", "c_mktsegment"))
        .orderBy("col_name")),

    // ---- salted skew join: result must equal the plain join (oracle) ----
    "q_salted_join" -> ((s, d) => {
      val li = t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
                col("l_partkey").as("pk"), col("l_quantity"))
      val p = t(s, d, "part")
        .select(col("p_partkey").as("pk"), col("p_brand"))
      Joins.saltedJoin(li, p, "pk")
        .select("l_orderkey", "l_linenumber", "pk", "l_quantity", "p_brand")
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // ---- bloom semi-join reduction: fact rows probe a scalar-subquery
    // bloom of the dim keys BEFORE the join's shuffle; no false
    // negatives, so the result must equal the plain join (oracle) ----
    "q_bloom_join" -> ((s, d) => {
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
    }),

    // ---- range join: events bucketed into value bands ----
    "q_range_join" -> ((s, d) => {
      import s.implicits._
      val bands = Seq((0.0, 50.0, "low"), (50.0, 200.0, "mid"),
                      (200.0, 500.0, "high")).toDF("lo", "hi", "band")
      Joins.rangeJoin(t(s, d, "events").select("event_id", "value"), "value",
          bands, "lo", "hi", bucketWidth = 25.0)
        .select("event_id", "value", "band")
        .orderBy("event_id")
    }),

    // ---- interval-OVERLAP join: click windows × view windows per user
    // (6h half-open intervals; each pair emitted from exactly one
    // shared bucket — no dedup exchange) ----
    "q_interval_join" -> ((s, d) => {
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
    }),

    // ---- composed corpus-cleaning pipeline, closed-form fixture oracle:
    // texts are synthesized from doc_id so every stage's outcome is
    // SQL-derivable (the q_connected_components approach). Per group
    // g = doc_id div 3: doc 3g and 3g+1 share IDENTICAL text (exact-dedup
    // stage removes the larger), doc 3g+2 has different text but an
    // IDENTICAL 3-shingle set — {tok_g tok_g tok_g}, repeated-token
    // texts of any length ≥ 3 collapse to one shingle — so the MinHash
    // signatures match on every band and the LSH stage finds the pair
    // with CERTAIN recall, jaccard exactly 1.0. Survivor per group =
    // min present doc_id; quality floor 0 and redaction are no-ops on
    // these tokens. The heavy real-text LSH cost stays measured by
    // q_minhash_neardup / q_simhash_neardup. ----
    "q_corpus_clean" -> ((s, d) => {
      val g = expr("doc_id div 3")
      val reps = when(pmod(col("doc_id"), lit(3)) === 1, lit(4))
        .otherwise(pmod(col("doc_id"), lit(3)) + 4)
      val docs = t(s, d, "documents")
        .select(col("doc_id"),
          concat_ws(" ", array_repeat(
            concat(lit("tok"), g.cast("string")), reps.cast("int")))
            .as("text"))
      operators.CorpusPipeline.clean(docs, minQuality = 0.0,
          jaccardThreshold = 0.8)
        .orderBy("doc_id")
    }),

    // the WHOLE pipeline in one call over the same closed-form fixture:
    // clean → source re-attach → (keep-all) quality cut → deterministic
    // 50% mixing sample → 60-char sequence packing with boundaries
    "q_prepare" -> ((s, d) => {
      val g = expr("doc_id div 3")
      val reps = when(pmod(col("doc_id"), lit(3)) === 1, lit(4))
        .otherwise(pmod(col("doc_id"), lit(3)) + 4)
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("source"),
          concat_ws(" ", array_repeat(
            concat(lit("tok"), g.cast("string")), reps.cast("int")))
            .as("text"))
      val rates = (0 to 19).map(i => s"src$i" -> 0.5).toMap
      operators.CorpusPipeline.prepare(docs, rates, packBudget = 60L,
          minQuality = 0.0, jaccardThreshold = 0.8)
        // scalar-only projection for the driver gate (arrays → canonical
        // comma-joined strings); the operator itself keeps typed arrays
        .withColumn("doc_ids",
          array_join(col("doc_ids").cast("array<string>"), ","))
        .withColumn("doc_lens",
          array_join(col("doc_lens").cast("array<string>"), ","))
        .withColumn("doc_starts",
          array_join(col("doc_starts").cast("array<string>"), ","))
        .orderBy("source", "shard")
    }),

    // the same fixture pipeline with the mixing rates DERIVED from the
    // waterfall planner instead of hardcoded (VERDICT r6 item 5): uniform
    // weights, budget = half the post-clean chars → no source caps, each
    // source samples at round(100·(budget div 20)/avail_src) percent —
    // 46..53% at small SFs, so per-source rates genuinely vary
    "q_prepare_budget" -> ((s, d) => {
      val g = expr("doc_id div 3")
      val reps = when(pmod(col("doc_id"), lit(3)) === 1, lit(4))
        .otherwise(pmod(col("doc_id"), lit(3)) + 4)
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("source"),
          concat_ws(" ", array_repeat(
            concat(lit("tok"), g.cast("string")), reps.cast("int")))
            .as("text"))
      // absolute budget input: half the fixture's post-clean chars
      // (survivor per div-3 group = min id, 4 reps) — scalar collect,
      // the q_budget_alloc pattern
      val avail = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
        .agg(sum(length(col("text"))).cast("long")).head().getLong(0)
      val weights = (0 to 19).map(i => s"src$i" -> 1L).toMap
      operators.CorpusPipeline.prepareWithBudget(docs, weights,
          budget = avail / 2, packBudget = 60L,
          minQuality = 0.0, jaccardThreshold = 0.8)
        .withColumn("doc_ids",
          array_join(col("doc_ids").cast("array<string>"), ","))
        .withColumn("doc_lens",
          array_join(col("doc_lens").cast("array<string>"), ","))
        .withColumn("doc_starts",
          array_join(col("doc_starts").cast("array<string>"), ","))
        .orderBy("source", "shard")
    }),

    // ---- cleaning attrition report over the same closed-form fixture
    // as q_corpus_clean: per div-3 group, doc 3g keeps, 3g+1 is its
    // exact duplicate, 3g+2 shares the identical one-shingle set →
    // near_dup with certain recall; outcomes are SQL-derivable from
    // doc_id alone ----
    // ... extended r18 (VERDICT item 6) with the span-scrub stage: the
    // eval corpus is the 4-rep doc of every g%5==0 group (re-keyed
    // +1e6), scrubTokens=3 — every train window in a covered group is
    // 'tokG tokG tokG', verbatim in eval, so all three docs scrub to
    // EMPTY and report `contam_scrubbed`; uncovered groups keep the
    // original closed-form outcomes. Still SQL-derivable from doc_id.
    "q_clean_report" -> ((s, d) => {
      val g = expr("doc_id div 3")
      val reps = when(pmod(col("doc_id"), lit(3)) === 1, lit(4))
        .otherwise(pmod(col("doc_id"), lit(3)) + 4)
      val docs = t(s, d, "documents")
        .select(col("doc_id"),
          concat_ws(" ", array_repeat(
            concat(lit("tok"), g.cast("string")), reps.cast("int")))
            .as("text"))
      val evalDocs = docs
        .filter(pmod(col("doc_id"), lit(3)) === 0 &&
          pmod(expr("doc_id div 3"), lit(5)) === 0)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
      operators.CorpusPipeline.cleanReport(docs, minQuality = 0.0,
          scrubEval = Some(evalDocs), scrubTokens = 3)
        .orderBy("doc_id")
    }),

    // E2 MinHash-LSH near-dup over corpus + deterministically perturbed
    // copies, published through the in-plan recall audit (VERDICT r6
    // item 7 — the former rows-only raw-pair probe, now oracle-checked):
    // the same doubled-corpus LSH workload runs in full, and the audit
    // compares it against the exact PPJoin truth the DuckDB oracle
    // recomputes by brute force — truth SAMPLE-BOUNDED at k=400 like
    // q_minhash_audit (r18; §6.7h row 1 was measured on THIS query:
    // 187x bytes at 100x came from the doubled-corpus full truth join).
    // The Knuth-rank sample draws from the doubled id space (originals
    // + copies at +1e6), so sampled truth keeps both organic and
    // planted pairs. Floor 0.9: perturbed pairs sit near J≈0.82 where
    // per-pair band-collision probability is ~0.99.
    "q_minhash_neardup" -> ((s, d) => {
      val docs = t(s, d, "documents").select("doc_id", "text")
      Dedup.minhashRecallAudit(withPerturbedCopies(docs), "doc_id", "text",
          shingleN = 3, numHashes = 32, bands = 8, threshold = 0.8,
          floor = 0.9, truthSample = 400)
    }),
    // E2 REAL-TEXT MinHash recall audit, oracle-checked: truth = exact
    // PPJoin count over the 400 documents ranking first by the Knuth
    // hash of doc_id (VERDICT r17 item 1 — the full-corpus truth join
    // was the registry's one measured superlinear exchange, 187× bytes
    // at 100× data; the sampled truth is O(400²)-bounded whatever the
    // corpus size, and 400 < the 500-doc gate corpora so BOTH gate SFs
    // exercise genuine subsetting, DuckDB replaying the identical
    // ORDER BY hash LIMIT sample). The LSH side stays the production
    // pipeline over the FULL corpus; verdict = it surfaced >= 90% of
    // the sampled exact pairs (sampled truth 17/15/4 at sf0.001/0.01/
    // 0.1, measured recall 1.0 at all three). Same silent-recall-
    // collapse guard as the ANN audits, bridging the hash-dependent
    // LSH path to a DuckDB oracle on organic text.
    "q_minhash_audit" -> ((s, d) =>
      Dedup.minhashRecallAudit(docsSpread(s, d), "doc_id", "text",
        shingleN = 3, numHashes = 32, bands = 8, threshold = 0.8,
        floor = 0.9, truthSample = 400)),
    // E2 transitive near-dup clustering (LSH pairs → connected components),
    // closed-form fixture oracle: per group g = doc_id div 4, texts are
    // 't<g>' repeated 4 + doc_id%4 times — distinct strings, IDENTICAL
    // 3-shingle sets, so every in-group pair is found with certain recall
    // at jaccard 1.0 and clusters are exactly the groups; the survivor is
    // the group minimum. Chain-shaped transitivity is separately pinned by
    // q_connected_components; real-text LSH cost by q_minhash_neardup.
    "q_dedup_clusters" -> ((s, d) => {
      val g = expr("doc_id div 4")
      val docs = t(s, d, "documents")
        .select(col("doc_id"),
          concat_ws(" ", array_repeat(
            concat(lit("t"), g.cast("string")),
            (pmod(col("doc_id"), lit(4)) + 4).cast("int"))).as("text"))
      Dedup.dedupNearClusters(docs, "doc_id", "text",
          shingleN = 3, numHashes = 16, bands = 4, threshold = 0.8)
        .select("doc_id")
        .orderBy("doc_id")
    }),
    // E2 keep-BEST cluster dedup (same certain-recall fixture as
    // q_dedup_clusters: clusters = div-4 groups): quality is the
    // closed-form (doc_id*7) mod 13, so the survivor per group is the
    // quality argmax with min-id tie-break — SQL-derivable without
    // reproducing any hash
    "q_dedup_keep_best" -> ((s, d) => {
      val g = expr("doc_id div 4")
      val docs = t(s, d, "documents")
        .select(col("doc_id"),
          concat_ws(" ", array_repeat(
            concat(lit("t"), g.cast("string")),
            (pmod(col("doc_id"), lit(4)) + 4).cast("int"))).as("text"),
          pmod(col("doc_id") * 7, lit(13)).as("quality"))
      Dedup.dedupKeepBest(docs, "doc_id", "text", "quality",
          shingleN = 3, numHashes = 16, bands = 4, threshold = 0.8)
        .select("doc_id", "quality")
        .orderBy("doc_id")
    }),

    // E2 soft dedup (downweight, don't drop): certain-recall fixture
    // with VARIABLE cluster sizes — group g = floor(sqrt(doc_id)) has
    // 2g+1 members (truncated at the corpus edge), all sharing one
    // 3-shingle set, so clusters and 1/size weights are closed-form
    "q_soft_dedup" -> ((s, d) => {
      val g = expr("CAST(FLOOR(SQRT(CAST(doc_id AS DOUBLE))) AS LONG)")
      val docs = t(s, d, "documents")
        .select(col("doc_id"),
          concat_ws(" ", array_repeat(
            concat(lit("t"), g.cast("string")),
            (pmod(col("doc_id"), lit(4)) + 4).cast("int"))).as("text"))
      Dedup.softDedupWeights(docs, "doc_id", "text",
          shingleN = 3, numHashes = 16, bands = 4, threshold = 0.8)
        .orderBy("doc_id")
    }),
    // E2 incremental near-dedup against a standing corpus (the ingest
    // shape: probe the new batch against the index, never re-pair the
    // corpus). Closed-form fixture: corpus = one doc per div-4 group
    // (doc_id%4=0) with text 't<g>'×4; batch docs carry 't<g>' for EVEN
    // groups (identical 3-shingle set as the group's corpus doc →
    // certain LSH recall, jaccard 1.0 → dropped) and 'u<g>' for ODD
    // groups (disjoint shingles → kept), so survivors = exactly the
    // batch docs of odd groups.
    "q_dedup_incremental" -> ((s, d) => {
      val g = expr("doc_id div 4")
      val base = t(s, d, "documents")
      val corpus = base.filter(pmod(col("doc_id"), lit(4)) === 0)
        .select(col("doc_id"),
          concat_ws(" ", array_repeat(
            concat(lit("t"), g.cast("string")), 4)).as("text"))
      val tok = when(pmod(g, lit(2)) === 0,
          concat(lit("t"), g.cast("string")))
        .otherwise(concat(lit("u"), g.cast("string")))
      val batch = base.filter(pmod(col("doc_id"), lit(4)) =!= 0)
        .select(col("doc_id"),
          concat_ws(" ", array_repeat(tok,
            (pmod(col("doc_id"), lit(4)) + 4).cast("int"))).as("text"))
      Dedup.dedupAgainstCorpus(batch, corpus, "doc_id", "text",
          shingleN = 3, numHashes = 16, bands = 4, threshold = 0.8)
        .select("doc_id")
        .orderBy("doc_id")
    }),
    // E2f+E13 incremental corpus REFRESH — the full daily-ingest
    // operational loop, oracle-checked: publish a standing corpus and
    // its signature index as ManifestTables, then ingest two batches,
    // each probing the READ-BACK index and extending both tables (the
    // dedupIngestStream commit shape, batch API). Closed-form fixture:
    // corpus = t<g> per div-4 group; batch1 (%4==1) = u<g>, disjoint
    // from the corpus → all survive and their signatures extend the
    // index; batch2 (%4==2) = u<g> for EVEN groups — an exact shingle-
    // set dup of batch1's survivors, so it is dropped ONLY IF the
    // index extension actually committed and round-tripped — and v<g>
    // for ODD groups (new → survives). Final membership is SQL-closed.
    "q_incremental_refresh" -> ((s, d) => withScratchDir("graft-refresh") { tmp =>
      import graft.sources.ManifestTable
      val g = expr("doc_id div 4")
      val base0 = t(s, d, "documents")
      val idxPath = s"$tmp/sig_index"; val outPath = s"$tmp/corpus"
      def mk(tag: Column, reps: Column) =
        concat_ws(" ", array_repeat(tag, reps.cast("int")))
      val corpus = base0.filter(pmod(col("doc_id"), lit(4)) === 0)
        .select(col("doc_id"),
          mk(concat(lit("t"), g.cast("string")), lit(4)).as("text"))
      val batch1 = base0.filter(pmod(col("doc_id"), lit(4)) === 1)
        .select(col("doc_id"),
          mk(concat(lit("u"), g.cast("string")),
             pmod(col("doc_id"), lit(4)) + 4).as("text"))
      val tok2 = when(pmod(g, lit(2)) === 0,
          concat(lit("u"), g.cast("string")))
        .otherwise(concat(lit("v"), g.cast("string")))
      val batch2 = base0.filter(pmod(col("doc_id"), lit(4)) === 2)
        .select(col("doc_id"),
          mk(tok2, pmod(col("doc_id"), lit(4)) + 4).as("text"))
      ManifestTable.upsertBatch(corpus, outPath, Seq("doc_id"),
        nBuckets = 8, targetRowsPerBucket = 1L << 20, batchId = 0L)
      ManifestTable.upsertBatch(
        Dedup.signatureIndex(corpus, "doc_id", "text"),
        idxPath, Seq("doc_id", "band_id"), nBuckets = 8, targetRowsPerBucket = 1L << 20, batchId = 0L)
      Seq((batch1, 1L), (batch2, 2L)).foreach { case (b, bid) =>
        val idx = ManifestTable.read(s, idxPath)
        val surv = Dedup.dedupAgainstIndex(b, idx, "doc_id", "text")
        ManifestTable.upsertBatch(surv, outPath, Seq("doc_id"),
          nBuckets = 8, targetRowsPerBucket = 1L << 20, batchId = bid)
        ManifestTable.upsertBatch(
          Dedup.signatureIndex(surv, "doc_id", "text"),
          idxPath, Seq("doc_id", "band_id"), nBuckets = 8, targetRowsPerBucket = 1L << 20, batchId = bid)
      }
      ManifestTable.read(s, outPath).select("doc_id").orderBy("doc_id")
    }),
    // E2f+E13 ingest lifecycle SPLIT, build half (VERDICT r9 item 2):
    // publish the standing corpus's MinHash signature index as a
    // ManifestTable from scratch — pure index-construction + commit
    // cost on this bench row. Output is the read-back's SQL-closed
    // shape: 8 band rows (numHashes 32 / bands 8, the signatureIndex
    // defaults) per corpus doc.
    "q_refresh_build" -> ((s, d) => {
      val dir = buildSigCache(s, d)
      graft.sources.ManifestTable.read(s, dir)
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_sig_rows"))
        .select(col("n_docs"), col("n_sig_rows"))
    }),
    // E2f+E13 ingest lifecycle SPLIT, probe half: dedup two ingest
    // batches against the READ-BACK standing index without extending
    // it — the recurring per-ingest cost (`q_incremental_refresh`
    // keeps the full extend-and-round-trip proof). Closed-form
    // fixture vs the t<g>×4 corpus: batch1 (%4==1) = u<g> (disjoint →
    // survives), batch2 (%4==2) = t<g> for EVEN groups (identical
    // shingle set as the corpus doc → dropped) and v<g> for ODD
    // groups (new → survives); one doc per group per batch, so no
    // within-batch interplay.
    "q_refresh_probe" -> ((s, d) => {
      val dir = ensureSigCache(s, d)
      val idx = graft.sources.ManifestTable.read(s, dir)
      val g = expr("doc_id div 4")
      val base0 = t(s, d, "documents")
      def mk(tag: Column, reps: Column) =
        concat_ws(" ", array_repeat(tag, reps.cast("int")))
      val batch1 = base0.filter(pmod(col("doc_id"), lit(4)) === 1)
        .select(col("doc_id"),
          mk(concat(lit("u"), g.cast("string")),
             pmod(col("doc_id"), lit(4)) + 4).as("text"))
      val tok2 = when(pmod(g, lit(2)) === 0,
          concat(lit("t"), g.cast("string")))
        .otherwise(concat(lit("v"), g.cast("string")))
      val batch2 = base0.filter(pmod(col("doc_id"), lit(4)) === 2)
        .select(col("doc_id"),
          mk(tok2, pmod(col("doc_id"), lit(4)) + 4).as("text"))
      Dedup.dedupAgainstIndex(batch1.unionByName(batch2), idx,
          "doc_id", "text")
        .select("doc_id").orderBy("doc_id")
    }),

    // E2 SimHash near-dup over the same perturbed corpus, published
    // through the in-plan recall audit (former rows-only probe): truth =
    // pairs with IDENTICAL distinct-token sets — identical SimHash,
    // hamming 0, so the chunk pigeonhole makes recall exactly 1.0 by
    // construction, and DuckDB recomputes truth by token-set equality
    // without reproducing any hash.
    "q_simhash_neardup" -> ((s, d) => {
      val docs = t(s, d, "documents").select("doc_id", "text")
      Dedup.simhashRecallAudit(withPerturbedCopies(docs), "doc_id", "text",
          maxHamming = 3)
    }),
    // E2 SimHash fixture twin, oracle-checked: per div-4 id group, texts
    // are distinct strings over ONE distinct token 't<g>' — a single
    // token's SimHash is its 64-bit hash itself, so in-group pairs sit
    // at hamming 0 (found with certainty) and cross-group pairs at the
    // hamming of two independent XXH64 values (≥ 20 bits in practice;
    // P(≤3) ≈ 2e-15 per pair), so the pair set is exactly the groups.
    "q_simhash_fixture" -> ((s, d) => {
      val g = expr("doc_id div 4")
      val docs = t(s, d, "documents")
        .select(col("doc_id"),
          concat_ws(" ", array_repeat(
            concat(lit("t"), g.cast("string")),
            (pmod(col("doc_id"), lit(4)) + 4).cast("int"))).as("text"))
      Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = 3)
        .orderBy("doc_a", "doc_b")
    }),
    // E3 embedding-cosine near-dup via LSH buckets, oracle-checked: the
    // planted pairs are EXACT duplicates (identical hyperplane signatures
    // → collide on every band, certain recall; cosine bit-identical
    // across engines per the q_cosine_topk formulation), and the organic
    // corpus maxes out near cosine 0.51 — far under the 0.99 threshold —
    // so the DuckDB brute-force pair join reproduces the output exactly.
    "q_embed_neardup" -> ((s, d) => {
      val e = t(s, d, "embeddings").select("vec_id", "embedding")
      val copies = e.filter(col("vec_id") < 100)
        .select((col("vec_id") + 1000000).as("vec_id"), col("embedding"))
      Similarity.cosineNearDups(e.union(copies), threshold = 0.99)
        .orderBy("vec_a", "vec_b")
    }),
    // E3d SemDeDup cluster-then-dedup (Abbas et al. 2023): the engine
    // runs the full kmeans → assign → within-cell keep-first pipeline;
    // the oracle brute-forces all pairs, which agrees because every
    // ≥ 0.99 pair is a planted exact copy (identical vectors co-assign
    // by construction — assignment is a pure function of the vector —
    // and the organic corpus maxes out near cosine 0.51)
    "q_semdedup" -> ((s, d) => {
      val e = t(s, d, "embeddings").select("vec_id", "embedding")
      val copies = e.filter(col("vec_id") < 100)
        .select((col("vec_id") + 1000000).as("vec_id"), col("embedding"))
      Similarity.semDedup(e.union(copies), threshold = 0.99, nlist = 32)
        .orderBy("vec_id")
    }),
    // E3d SemDeDup recall audit — the one recall-dependent path that
    // had no audit twin (r14 missing #3): planted PERTURBED copies
    // (deterministic per-coordinate factors 0.7–1.3, float-rounded so
    // DuckDB reproduces them bit-exactly; cosine ≈ 0.98 vs original,
    // organic max ~0.51) sit above threshold 0.95 but are NOT
    // identical vectors, so co-assignment is a genuine cell-quality
    // outcome, not a tautology. The audit runs on a BOUNDED sample —
    // the operator's own contract ("run it on a bounded audit sample,
    // not the corpus"): all 100 planted originals, force-included so
    // each copy's partner is present, plus the 1000 organic rows that
    // rank first by the Knuth multiplicative hash of vec_id (the
    // engine-portable deterministic sampler every split/fold op here
    // uses) — so the deliberately-quadratic truth join is O(1100²)
    // whatever the corpus size, while the pipeline side is the
    // production semDedup plan unchanged at sample scale. truth = 100
    // exactly (each copy's only ≥0.95 partner is its force-included
    // original; sampling the organic background cannot change that).
    // Floor 0.8; a mis-sized nlist (cells ≈ 1–2 vectors) fails loudly.
    "q_semdedup_audit" -> ((s, d) => {
      val e = t(s, d, "embeddings").select("vec_id", "embedding")
      val planted = e.filter(col("vec_id") < 100)
      val bg = e.filter(col("vec_id") >= 100)
        .orderBy(pmod(col("vec_id") * lit(2654435761L),
            lit(4294967296L)), col("vec_id"))
        .limit(1000)
      val copies = planted
        .select((col("vec_id") + 1000000).as("vec_id"),
          expr("cast(transform(embedding, (x, i) -> cast(x as double) * "
            + "(1.0d + (cast((vec_id + i) % 7 as double) - 3.0d) / 10.0d))"
            + " as array<float>)").as("embedding"))
      Similarity.semDedupRecallAudit(
        planted.unionAll(bg).unionAll(copies), threshold = 0.95,
        nlist = 32, floor = 0.8)
    }),
    // E3 semantic decontamination (embedding-space train-vs-eval
    // anti-join): eval = exact copies of vec_id < 100 (re-keyed), so
    // copies share every LSH band (certain recall) and at threshold
    // 0.99 exactly the copied train rows are contaminated (organic max
    // ~0.51) — the DuckDB brute-force NOT EXISTS reproduces the
    // survivor set exactly
    "q_semantic_decontam" -> ((s, d) => {
      val e = t(s, d, "embeddings").select("vec_id", "embedding")
      val ev = e.filter(col("vec_id") < 100)
        .select((col("vec_id") + 1000000).as("vec_id"), col("embedding"))
      Similarity.semanticDecontaminate(e, ev, threshold = 0.99)
        .select("vec_id")
        .orderBy("vec_id")
    }),
    // E3 approximate top-k, each published through the in-plan recall
    // audit (Similarity.recallAudit): the hash-dependent neighbor sets
    // are engine-specific, but (n_queries, truth, recall_ok) is
    // oracle-checkable — and the verdict is the signal that matters for
    // an ANN index (silent recall collapse). Settings are the measured
    // >= floor configurations pinned in SimilaritySpec.
    "q_ann_lsh" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val q = e.filter(col("vec_id") < 20)
      Similarity.recallAudit(e, q, 10,
        Similarity.lshTopK(e, q, 10, numPlanes = 64, bands = 16),
        floor = 0.8)
    }),
    // E3 IVF coarse-quantizer approximate top-k (the ANN scale path)
    "q_ann_ivf" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val q = e.filter(col("vec_id") < 20)
      // nprobe 12/16: >= 0.88 recall at BOTH sf0.001 and sf0.01 (nprobe
      // 10 sits at 0.795 on the 50-vector sf0.001 corpus — sparse cells)
      Similarity.recallAudit(e, q, 10,
        Similarity.ivfTopK(e, q, 10, nlist = 16, nprobe = 12),
        floor = 0.8)
    }),
    // E3 IVF with Lloyd-refined (k-means) coarse quantizer — centroids
    // come from exact decimal sums, so the index is layout-reproducible
    // and the floor holds deterministically (0.93 measured at both SFs)
    "q_ann_ivf_kmeans" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val q = e.filter(col("vec_id") < 20)
      val cents = Similarity.kmeansCentroids(e, nlist = 16, iters = 2)
      Similarity.recallAudit(e, q, 10,
        Similarity.ivfTopK(e, q, 10, nlist = 16, nprobe = 12,
          centroids = cents),
        floor = 0.8)
    }),
    // E3 IVF probed from a PERSISTED index (VERDICT r6 item 6): train +
    // assign once, write centroids + cell assignments through
    // ManifestTable, read the artifact back, probe the read-back copy —
    // the amortized-index shape Dedup.signatureIndex has for n-gram
    // dedup, now for embeddings. Same layout-reproducible k-means
    // centroids as q_ann_ivf_kmeans, so the floor holds identically.
    "q_ann_ivf_indexed" -> ((s, d) => withScratchDir("graft-ivf-index") { dir =>
      val e = t(s, d, "embeddings")
      val q = e.filter(col("vec_id") < 20)
      val (cents, cells) = Similarity.ivfIndex(e, nlist = 16, iters = 2)
      Similarity.writeIvfIndex(dir, cents, cells)
      val (rc, ra) = Similarity.readIvfIndex(s, dir)
      Similarity.recallAudit(e, q, 10,
        Similarity.ivfTopKFromIndex(rc, ra, q, 10, nprobe = 12),
        floor = 0.8)
    }),
    // E3 incremental index APPEND (VERDICT r7 item 7): train + persist
    // the index over the even-id half of the corpus, append the odd-id
    // half's cell assignments with the STORED centroids (no retraining,
    // O(batch) ingest), read the extended artifact back, and probe it
    // over the FULL corpus — proving appended vectors are findable
    "q_ann_ivf_append" -> ((s, d) => withScratchDir("graft-ivf-append") { dir =>
      val e = t(s, d, "embeddings")
      val q = e.filter(col("vec_id") < 20)
      val (cents, cells) = Similarity.ivfIndex(
        e.filter(col("vec_id") % 2 === 0), nlist = 16, iters = 2)
      Similarity.writeIvfIndex(dir, cents, cells)
      Similarity.appendToIvfIndex(s, dir,
        e.filter(col("vec_id") % 2 === 1))
      val (rc, ra) = Similarity.readIvfIndex(s, dir)
      Similarity.recallAudit(e, q, 10,
        Similarity.ivfTopKFromIndex(rc, ra, q, 10, nprobe = 12),
        floor = 0.8)
    }),
    // E3 append lifecycle SPLIT, recurring half (VERDICT r12 item 3):
    // the standing index (trained + committed over the even-id half)
    // comes from the per-corpus cache; this row times only what every
    // ingest batch pays — assign the odd-id batch against the STORED
    // centroids (O(batch·nlist), zero shuffles, no retraining) and
    // probe the extended cell table over the full corpus. The atomic
    // manifest commit + read-back of the append stays proven end to
    // end by q_ann_ivf_append; splitting it out keeps this row
    // idempotent (best-of-N must not grow the cached index).
    "q_ann_ivf_append_probe" -> ((s, d) => {
      val dir = ensureIvfHalfCache(s, d)
      val e = t(s, d, "embeddings")
      val q = e.filter(col("vec_id") < 20)
      val (rc, ra) = Similarity.readIvfIndex(s, dir)
      val fresh = Similarity.assignToStoredCentroids(rc,
        e.filter(col("vec_id") % 2 === 1))
      Similarity.recallAudit(e, q, 10,
        Similarity.ivfTopKFromIndex(rc, ra.unionByName(fresh), q, 10,
          nprobe = 12),
        floor = 0.8)
    }),
    // E3 index lifecycle SPLIT, build half (VERDICT r9 item 2): train +
    // write the IVF index from scratch into the persistent per-corpus
    // cache — this row's bench time is pure amortizable CONSTRUCTION
    // cost. Output audits the committed artifact's read-back:
    // referential integrity (every stored assignment points at a
    // stored centroid — broadcast left join over 16 rows) plus the
    // SQL-closed counts; nearest-centroid assignment quality is what
    // the probe half's recall floor pins.
    "q_ann_ivf_build" -> ((s, d) => {
      val dir = buildIvfCache(s, d)
      val (rc, ra) = Similarity.readIvfIndex(s, dir)
      ra.join(broadcast(rc.select(col("cell"), lit(1).as("__c"))),
          Seq("cell"), "left")
        .agg(count(lit(1)).as("n_vectors"),
          bool_and(col("__c").isNotNull).as("assign_ok"))
        .crossJoin(broadcast(rc.agg(count(lit(1)).as("n_centroids"))))
        .select(col("n_vectors"), col("n_centroids"), col("assign_ok"))
    }),
    // E3 index lifecycle SPLIT, probe half: read the cached index and
    // answer a query batch — the recurring per-batch cost a capacity
    // planner sizes for (the build half's cost amortizes over every
    // probe). Build-if-missing keeps the query self-contained in any
    // execution order; bench best-of-N is pure probe either way.
    "q_ann_ivf_probe" -> ((s, d) => {
      val dir = ensureIvfCache(s, d)
      val e = t(s, d, "embeddings")
      val q = e.filter(col("vec_id") < 20)
      val (rc, ra) = Similarity.readIvfIndex(s, dir)
      Similarity.recallAudit(e, q, 10,
        Similarity.ivfTopKFromIndex(rc, ra, q, 10, nprobe = 12),
        floor = 0.8)
    }),
    // E3 product quantization: 16-byte ADC codes + exact re-rank of a
    // 128-deep shortlist (recall 0.91 at sf0.01, 0.865 at sf0.1 —
    // shortlist depth is the recall/IO dial); deterministic end-to-end,
    // published through the same in-plan recall audit as LSH/IVF
    "q_ann_pq" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val q = e.filter(col("vec_id") < 20)
      Similarity.recallAudit(e, q, 10,
        Similarity.pqTopK(e, q, 10, m = 16, ksub = 16, shortlist = 128,
          iters = 2),
        floor = 0.8)
    }),
    // E3 PQ index lifecycle SPLIT, build half (VERDICT r10 item 2):
    // codebook training + corpus encode committed into the per-corpus
    // cache — pure amortizable CONSTRUCTION cost, the one-time half of
    // the compressed-scan serve path. Output audits the committed
    // artifact's read-back: every stored code array has exactly m
    // entries in [0, ksub) (the byte-validity referential check) plus
    // SQL-closed counts; ADC answer quality is what the probe half's
    // recall floor pins.
    "q_ann_pq_build" -> ((s, d) => {
      val dir = buildPqCache(s, d)
      val (rcb, rcodes) = Similarity.readPqIndex(s, dir)
      rcodes
        .agg(count(lit(1)).as("n_vectors"),
          bool_and(size(col("codes")) === 16 &&
            forall(col("codes"), c => c >= 0 && c < 16)).as("codes_ok"))
        .crossJoin(broadcast(rcb.agg(count(lit(1)).as("n_codebook"))))
        .select(col("n_vectors"), col("n_codebook"), col("codes_ok"))
    }),
    // E3 PQ probe half: per-query ADC tables against the STORED
    // codebook, compressed scan over the stored m-byte codes, exact
    // re-rank touching float vectors only for the shortlist — the
    // recurring serve cost for corpora too big to scan uncompressed.
    // Build-if-missing keeps correctness runs order-independent.
    "q_ann_pq_probe" -> ((s, d) => {
      val dir = ensurePqCache(s, d)
      val e = t(s, d, "embeddings")
      val q = e.filter(col("vec_id") < 20)
      val (rcb, rcodes) = Similarity.readPqIndex(s, dir)
      Similarity.recallAudit(e, q, 10,
        Similarity.pqTopKFromIndex(rcb, rcodes, e, q, 10,
          shortlist = 128),
        floor = 0.8)
    }),

    // E7 approximate distinct with in-plan accuracy audit: the sketch
    // value is engine-specific, but the tolerance verdict and the exact
    // companion count are oracle-checkable
    "q_approx_users" -> ((s, d) =>
      EventOps.approxDistinctUsersChecked(t(s, d, "events"))
        .orderBy("event_type")),

    // ---- E6 inter-event dwell-time report: exact integer-microsecond
    // gap statistics per event type (the engagement/bot heuristic) ----
    "q_gap_stats" -> ((s, d) =>
      EventOps.gapStats(t(s, d, "events"))
        .orderBy("event_type")),

    // user-journey Markov transitions: exact pair counts + conditional
    // probability, deterministic via the event_id order tie-break
    "q_transition_matrix" -> ((s, d) =>
      EventOps.transitionMatrix(t(s, d, "events"))
        .orderBy("from_type", "to_type")),

    // ---- E6 first-/last-touch attribution (conversion credit to path
    // endpoints; organic conversions kept in the "(none)" cell) ----
    "q_attribution" -> ((s, d) =>
      EventOps.attribution(t(s, d, "events"), Seq("click", "view"),
          "purchase")
        .orderBy("first_touch", "last_touch")),

    // ---- E6 LINEAR multi-touch attribution: every conversion splits
    // credit/revenue equally across its preceding touches — the
    // mid-path channels first/last-touch models erase ----
    "q_linear_attribution" -> ((s, d) =>
      EventOps.linearAttribution(t(s, d, "events"),
          Seq("click", "view"), "purchase")
        .orderBy("touch_type")),

    // ---- E15 balanced source interleave: strict round-robin epoch
    // order across sources (no |sources| window single-source), ranks
    // by the engine-independent Knuth hash ----
    "q_interleave" -> ((s, d) =>
      Mixing.interleaveSources(
          t(s, d, "documents").select("doc_id", "source"),
          "source", "doc_id")
        .select("doc_id", "source", "ord")
        .orderBy("ord")),

    // mergeable quantile sketch + in-plan rank-guarantee audit: checkable
    // output is (group, exact percentile, verdict) — the sketch value
    // itself is engine-specific
    "q_approx_percentile" -> ((s, d) =>
      operators.Profiling.approxPercentilesChecked(
        t(s, d, "events"), "event_type", "value")
        .orderBy("event_type")),

    // ---- E23 full-text retrieval: exact Okapi BM25 + hybrid RRF ----
    "q_bm25" -> ((s, d) =>
      operators.Search.bm25(t(s, d, "documents"),
          Seq("spark", "join", "window"))
        .orderBy("doc_id")),
    // quoted-query phrase search: positional-postings intersection in
    // one aggregation (slots covered per candidate start), no m-way join
    "q_phrase_search" -> ((s, d) =>
      operators.Search.phraseSearch(t(s, d, "documents"),
          Seq("slow", "hash", "batch"))
        .orderBy("doc_id")),
    // lexical BM25 rank fused with vector cosine rank (query = vec 0)
    // by reciprocal-rank fusion — scores are exact rationals of the two
    // integer ranks, so the fused list is engine-exact
    "q_hybrid_rrf" -> ((s, d) => {
      val lex = operators.Search.rankBy(
        operators.Search.bm25(t(s, d, "documents"),
          Seq("spark", "join", "window")), "doc_id", "score", topN = 100)
      val emb = t(s, d, "embeddings")
      val vec = Similarity.bruteForceTopK(
          emb, emb.filter(col("vec_id") === 0), 100)
        .select(col("neighbor_id").as("id"), col("rank"))
      operators.Search.rrfFuse(Seq(lex, vec))
        .orderBy(col("rrf").desc, col("id")).limit(50)
    }),

    // ---- E27+E13 stored-tokenizer round trip: train (memoized), SHIP
    // the k-row merge list through a ManifestTable commit, read the
    // artifact back, and segment the corpus with the STORED merges via
    // the chained-replace serve path — no training loop at serve time.
    // Green only if the persisted model round-trips AND the serve path
    // is bit-identical to the train-side segmentation: the oracle is
    // the SAME SQL as q_bpe_segment. ----
    "q_bpe_stored" -> ((s, d) => withScratchDir("graft-bpe-model") { tmp =>
      import graft.sources.ManifestTable
      val docs = docsSpread(s, d)
      ManifestTable.upsertBatch(
        Ngrams.bpeTrain(docs, numMerges = bpeOracleMerges),
        s"$tmp/bpe_model", Seq("rank"), nBuckets = 1, batchId = 0L)
      val stored = ManifestTable.read(s, s"$tmp/bpe_model")
        .orderBy("rank").select("left", "right").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      Ngrams.bpeSegmentWithMerges(docs, stored).orderBy("word")
    }),

    // ---- E27+E13 stored-tokenizer ENCODE round trip: commit the
    // complete tokenizer artifact (merge list + symbol vocabulary)
    // through ManifestTable, read both back, and encode a doc subset
    // from the STORED artifact — zero training jobs at serve time.
    // Oracle is deliberately the same SQL as q_bpe_encode: the green
    // row certifies stored-artifact encode ≡ train-side encode. ----
    "q_bpe_encode_stored" -> ((s, d) => withScratchDir("graft-bpe-model") { tmp =>
      import graft.sources.ManifestTable
      val docs = docsSpread(s, d)
      ManifestTable.upsertBatch(
        Ngrams.bpeTrain(docs, numMerges = bpeOracleMerges),
        s"$tmp/merges", Seq("rank"), nBuckets = 1, batchId = 0L)
      ManifestTable.upsertBatch(
        Ngrams.bpeVocab(docs, numMerges = bpeOracleMerges),
        s"$tmp/vocab", Seq("sym"), nBuckets = 1, batchId = 0L)
      val merges = ManifestTable.read(s, s"$tmp/merges")
        .orderBy("rank").select("left", "right").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      Ngrams.bpeEncodeWithMerges(docs.filter(col("doc_id") < 200),
          merges, ManifestTable.read(s, s"$tmp/vocab"))
        .orderBy("doc_id")
    }),

    // ---- E27+E15 tokenize→pack, end-to-end: the TRAINED tokenizer's
    // token-id sequences (q_bpe_encode's artifact) packed into fixed
    // token-budget training rows with boundary arrays — the final seam
    // between tokenizer and training tensors, closed in ONE plan.
    // Weight = n_ids (real token counts, not the char-count stand-in);
    // sep ",0," splices the reserved id 0 in as the EOS boundary. ----
    "q_bpe_pack" -> ((s, d) => {
      val docs = docsSpread(s, d)
      val enc = Ngrams.bpeEncode(docs, docs.filter(col("doc_id") < 200),
          numMerges = bpeOracleMerges)
      val keyed = enc.join(docs.select(col("doc_id"), col("source")),
          Seq("doc_id"))
      Mixing.packWithBoundaries(keyed, "source", "doc_id",
          "n_ids", "token_ids", budget = 512L, sep = ",0,")
        .withColumn("doc_ids",
          array_join(col("doc_ids").cast("array<string>"), ","))
        .withColumn("doc_lens",
          array_join(col("doc_lens").cast("array<string>"), ","))
        .withColumn("doc_starts",
          array_join(col("doc_starts").cast("array<string>"), ","))
        .orderBy("source", "shard")
    }),

    // ---- E27+E15 the full GPT data path in ONE plan: trained-
    // tokenizer token counts → contiguous fixed-length example spans.
    // Every 256-token example is exactly full (docs span boundaries);
    // the span table is what a loader materializes examples from. ----
    "q_bpe_pack_contiguous" -> ((s, d) => {
      val docs = docsSpread(s, d)
      val enc = Ngrams.bpeEncode(docs, docs.filter(col("doc_id") < 200),
          numMerges = bpeOracleMerges)
      val keyed = enc.join(docs.select(col("doc_id"), col("source")),
          Seq("doc_id"))
      Mixing.packContiguous(keyed, "source", "doc_id", "n_ids",
          budget = 256L)
        .orderBy("source", "example", "doc_id", "tok_start")
    }),

    // ---- E28 unigram-LM (SentencePiece-style) tokenizer TRAIN: seed
    // from high-frequency substrings, hard-EM (Viterbi) prune rounds —
    // every selection integer micro-nats + lexicographic ties, so the
    // learned vocabulary is engine-exact ----
    "q_unigram_train" -> ((s, d) =>
      Ngrams.unigramTrain(t(s, d, "documents"), vocabSize = uniVocabSize,
          maxPieceLen = uniMaxPiece, rounds = uniRounds,
          seedSize = uniSeedSize)
        .orderBy("piece")),

    // ---- E28 the segmentation the trained vocabulary induces over the
    // corpus's distinct words — the artifact a tokenizer ships ----
    "q_unigram_segment" -> ((s, d) =>
      Ngrams.unigramSegmentWithVocab(t(s, d, "documents"),
          Ngrams.unigramTrain(t(s, d, "documents"),
            vocabSize = uniVocabSize, maxPieceLen = uniMaxPiece,
            rounds = uniRounds, seedSize = uniSeedSize),
          maxPieceLen = uniMaxPiece)
        .orderBy("word")),

    // ---- E28+E13 stored-tokenizer round trip: train, SHIP the
    // (piece, cnt, logp_micro) vocabulary through a ManifestTable
    // commit, read it back, and segment from the STORED artifact —
    // zero training jobs at serve time. Oracle is the SAME SQL as
    // q_unigram_segment: green only if the persisted model round-trips
    // AND the serve path reproduces the train-side segmentation. ----
    "q_unigram_stored" -> ((s, d) => withScratchDir("graft-uni-model") { tmp =>
      import graft.sources.ManifestTable
      ManifestTable.upsertBatch(
        Ngrams.unigramTrain(t(s, d, "documents"), vocabSize = uniVocabSize,
          maxPieceLen = uniMaxPiece, rounds = uniRounds,
          seedSize = uniSeedSize),
        s"$tmp/uni_vocab", Seq("piece"), nBuckets = 1, batchId = 0L)
      Ngrams.unigramSegmentWithVocab(t(s, d, "documents"),
          ManifestTable.read(s, s"$tmp/uni_vocab"),
          maxPieceLen = uniMaxPiece)
        .orderBy("word")
    }),

    // ---- E28 corpus → token-id sequences from the trained unigram
    // vocabulary (ids dense-ranked by piece string), doc subset like
    // q_bpe_encode ----
    "q_unigram_encode" -> ((s, d) =>
      Ngrams.unigramEncodeWithVocab(
          t(s, d, "documents").filter(col("doc_id") < 200),
          Ngrams.unigramTrain(t(s, d, "documents"),
            vocabSize = uniVocabSize, maxPieceLen = uniMaxPiece,
            rounds = uniRounds, seedSize = uniSeedSize),
          maxPieceLen = uniMaxPiece)
        .orderBy("doc_id")),

    // ---- E28 occurrence-weighted pieces-per-word by language from the
    // trained unigram segmentation — the tokenizer-efficiency report
    // q_bpe_fertility publishes for BPE, closing the two tokenizer
    // families' report symmetry (both ride the session training memo)
    "q_unigram_fertility" -> ((s, d) => {
      val docs = docsSpread(s, d)
      val seg = Ngrams.unigramSegmentWithVocab(t(s, d, "documents"),
          Ngrams.unigramTrain(t(s, d, "documents"),
            vocabSize = uniVocabSize, maxPieceLen = uniMaxPiece,
            rounds = uniRounds, seedSize = uniSeedSize),
          maxPieceLen = uniMaxPiece)
        .select(col("word").as("w"), col("n_pieces"))
      docs.select(col("lang"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 1)
        .join(seg, Seq("w"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_words"),
             sum(col("n_pieces")).as("n_subwords"),
             round(sum(col("n_pieces")).cast("double") /
                   count(lit(1)).cast("double"), 9).as("fertility"))
        .orderBy("lang")
    }),

    // ---- E28+E15 unigram tokenize→pack (q_bpe_pack's twin): the
    // trained SentencePiece-style tokenizer's id sequences packed into
    // fixed token-budget training rows with boundary arrays, id-0 EOS ----
    "q_unigram_pack" -> ((s, d) => {
      val enc = Ngrams.unigramEncodeWithVocab(
          t(s, d, "documents").filter(col("doc_id") < 200),
          Ngrams.unigramTrain(t(s, d, "documents"),
            vocabSize = uniVocabSize, maxPieceLen = uniMaxPiece,
            rounds = uniRounds, seedSize = uniSeedSize),
          maxPieceLen = uniMaxPiece)
      val keyed = enc.join(
          docsSpread(s, d).select(col("doc_id"), col("source")),
          Seq("doc_id"))
      Mixing.packWithBoundaries(keyed, "source", "doc_id",
          "n_ids", "token_ids", budget = 512L, sep = ",0,")
        .withColumn("doc_ids",
          array_join(col("doc_ids").cast("array<string>"), ","))
        .withColumn("doc_lens",
          array_join(col("doc_lens").cast("array<string>"), ","))
        .withColumn("doc_starts",
          array_join(col("doc_starts").cast("array<string>"), ","))
        .orderBy("source", "shard")
    }),

    // ---- E28+E15 the unigram family's corpus→tensors seam, closing
    // the tokenizer-chain symmetry with q_bpe_pack_contiguous: the
    // TRAINED SentencePiece-style tokenizer's token counts → contiguous
    // fixed-length example spans (rides the session training memo) ----
    "q_unigram_pack_contiguous" -> ((s, d) => {
      val enc = Ngrams.unigramEncodeWithVocab(
          t(s, d, "documents").filter(col("doc_id") < 200),
          Ngrams.unigramTrain(t(s, d, "documents"),
            vocabSize = uniVocabSize, maxPieceLen = uniMaxPiece,
            rounds = uniRounds, seedSize = uniSeedSize),
          maxPieceLen = uniMaxPiece)
      val keyed = enc.join(
          docsSpread(s, d).select(col("doc_id"), col("source")),
          Seq("doc_id"))
      Mixing.packContiguous(keyed, "source", "doc_id", "n_ids",
          budget = 256L)
        .orderBy("source", "example", "doc_id", "tok_start")
    }),

    // ---- E28+E15 materialized unigram training rows — the
    // q_bpe_examples composition on the unigram encode artifact ----
    "q_unigram_examples" -> ((s, d) => {
      // enc feeds BOTH the span construction and the materialize join —
      // eager localCheckpoint, NOT .persist(): it must materialize once
      // (or the encode pipeline runs twice), and it feeds the
      // materializeExamples JOIN, where a columnar-cache
      // InMemoryRelation's unknown size defeats broadcast/AQE planning
      // (the Similarity.semDedup lesson)
      val enc = operators.OpCaches.cutNow(Ngrams.unigramEncodeWithVocab(
          t(s, d, "documents").filter(col("doc_id") < 200),
          Ngrams.unigramTrain(t(s, d, "documents"),
            vocabSize = uniVocabSize, maxPieceLen = uniMaxPiece,
            rounds = uniRounds, seedSize = uniSeedSize),
          maxPieceLen = uniMaxPiece))
      val keyed = enc.join(
          docsSpread(s, d).select(col("doc_id"), col("source")),
          Seq("doc_id"))
      val spans = Mixing.packContiguous(keyed, "source", "doc_id",
          "n_ids", budget = 256L)
      Mixing.materializeExamples(spans, enc, "doc_id", "source")
        .orderBy("source", "example")
    }),

    // ---- E27+E15 materialized training rows: the span table joined
    // back to the encoded sequences, sliced and concatenated — every
    // example is EXACTLY 256 tokens of real ids (tail excepted); the
    // row a training loader ships. Token payloads move only in this
    // final step; all upstream packing math runs on ids+offsets. ----
    "q_bpe_examples" -> ((s, d) => {
      val docs = docsSpread(s, d)
      // enc feeds BOTH the span construction and the materialize join —
      // eager localCheckpoint, NOT .persist() (same argument as
      // q_unigram_examples: materialize once, keep the downstream join
      // AQE/broadcast-plannable)
      val enc = operators.OpCaches.cutNow(Ngrams.bpeEncode(docs,
          docs.filter(col("doc_id") < 200), numMerges = bpeOracleMerges))
      val keyed = enc.join(docs.select(col("doc_id"), col("source")),
          Seq("doc_id"))
      val spans = Mixing.packContiguous(keyed, "source", "doc_id",
          "n_ids", budget = 256L)
      Mixing.materializeExamples(spans, enc, "doc_id", "source")
        .orderBy("source", "example")
    }),

    // ---- E15 deterministic epoch shuffle: the layout-independent
    // pseudo-random training order (seed 3) any two runs agree on —
    // orderBy(rand(seed)) is partition-dependent and irreproducible ----
    "q_epoch_shuffle" -> ((s, d) =>
      Mixing.epochShuffle(t(s, d, "documents").select("doc_id"),
          "doc_id", seed = 3L)
        .orderBy("epoch_rank")),

    // ---- E19 corpus statistics / decontamination (Ngrams) ----
    "q_vocab" -> ((s, d) =>
      Ngrams.vocabulary(docsSpread(s, d), minDf = 5).orderBy("tok")),

    // ---- E27 BPE tokenizer training: round-1 pair stats (weighted by
    // word frequency) and the full iterative merge learner ----
    "q_bpe_pairs" -> ((s, d) =>
      Ngrams.bpePairStats(docsSpread(s, d), minCount = 5)
        .orderBy("left", "right")),
    "q_bpe_merges" -> ((s, d) =>
      Ngrams.bpeTrain(docsSpread(s, d), numMerges = bpeOracleMerges)
        .orderBy("rank")),
    // the induced word → subword segmentation (the encode-side artifact)
    "q_bpe_segment" -> ((s, d) =>
      Ngrams.bpeSegment(docsSpread(s, d), numMerges = bpeOracleMerges)
        .orderBy("word")),
    // corpus → token-id sequences with the TRAINED tokenizer: train on
    // the full corpus, segment, dense-rank the symbol vocabulary, and
    // encode a doc subset in (token pos, symbol pos) order — the last
    // seam in the tokenize→pack chain, closed end-to-end
    "q_bpe_encode" -> ((s, d) =>
      Ngrams.bpeEncode(docsSpread(s, d),
          docsSpread(s, d).filter(col("doc_id") < 200),
          numMerges = bpeOracleMerges)
        .orderBy("doc_id")),
    // tokenizer fertility report: subwords-per-word of the TRAINED
    // tokenizer, by language — the "is the tokenizer efficient on each
    // slice of the mix" evaluation. Occurrence-weighted: corpus tokens
    // join the vocabulary-sized segment table (broadcast-able), one
    // tiny per-lang aggregate
    "q_bpe_fertility" -> ((s, d) => {
      val docs = docsSpread(s, d)
      val seg = Ngrams.bpeSegment(docs, numMerges = bpeOracleMerges)
        .select(col("word").as("w"), col("n_syms"))
      docs.select(col("lang"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 1 && !col("w").rlike("[<>]"))
        .join(seg, Seq("w"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_words"),
             sum(col("n_syms")).as("n_subwords"),
             round(sum(col("n_syms")).cast("double") /
                   count(lit(1)).cast("double"), 9).as("fertility"))
        .orderBy("lang")
    }),

    // k-fold CV labels: engine-independent Knuth-hash fold assignment,
    // summarized per fold (counts + char mass)
    "q_kfold" -> ((s, d) =>
      Mixing.kFoldSplit(t(s, d, "documents"), "doc_id", k = 5)
        .groupBy("fold")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy("fold")),

    // waterfall token-budget allocation: budget = half the corpus, src0
    // over-weighted 50:1 so it caps at one epoch and its surplus
    // redistributes over the remaining sources (all-integer arithmetic)
    "q_budget_alloc" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val budget =
        docs.agg(sum(col("n_chars")).cast("long")).head().getLong(0) / 2
      val weights =
        (("src0" -> 50L) +: (1 to 19).map(i => s"src$i" -> 1L)).toMap
      Mixing.allocateBudget(docs, weights, budget).orderBy("source")
    }),
    // cross-source overlap matrix: exact pairwise shingle Jaccard +
    // directional containments — the pre-mixing contamination report
    "q_source_overlap" -> ((s, d) =>
      Ngrams.sourceOverlap(t(s, d, "documents"))
        .orderBy("src_a", "src_b")),

    // distributional twin: pairwise Jensen–Shannon divergence between
    // source unigram distributions (integer-nanonat ln terms)
    "q_source_jsd" -> ((s, d) =>
      Ngrams.sourceDivergence(t(s, d, "documents"))
        .orderBy("src_a", "src_b")),
    "q_tfidf" -> ((s, d) =>
      Ngrams.tfidf(
          t(s, d, "documents").filter(col("doc_id") < 100), minDf = 2)
        .orderBy("doc_id", "tok")),
    "q_ngram_counts" -> ((s, d) =>
      Ngrams.ngramCounts(docsSpread(s, d), n = 3, minCount = 3)
        .orderBy("ngram")),
    "q_decontam" -> ((s, d) => {
      val docs = t(s, d, "documents").select("doc_id", "text")
      Ngrams.decontaminate(
          docs.filter(col("doc_id") >= 100),
          docs.filter(col("doc_id") < 100), n = 8)
        .select("doc_id")
        .orderBy("doc_id")
    }),
    // graded contamination: fraction of each train doc's 8-grams found
    // in the eval set (doc_id < 100), not just a drop verdict
    "q_contam_score" -> ((s, d) => {
      val docs = t(s, d, "documents").select("doc_id", "text")
      Ngrams.contaminationScore(
          docs.filter(col("doc_id") >= 100),
          docs.filter(col("doc_id") < 100), n = 8)
        .orderBy("doc_id")
    }),
    "q_rep_ratio" -> ((s, d) =>
      Ngrams.repetitionRatio(docsSpread(s, d), n = 3).orderBy("doc_id")),

    // ---- E19 per-doc novelty: fraction of 8-grams first seen in this
    // doc (ingest order) — the marginal-contribution mixing signal ----
    "q_novelty" -> ((s, d) =>
      Ngrams.noveltyScore(docsSpread(s, d), n = 8).orderBy("doc_id")),

    // ---- E4 blocklist gate: one alternation regex, scan-side ----
    "q_blocklist" -> ((s, d) =>
      TextAnalysis.blocklistFilter(docsSpread(s, d),
          Seq("slow batch", "dup table", "the vector"))
        .select("doc_id", "source")
        .orderBy("doc_id")),
    // E19 corpus → token-id sequences against a ranked vocabulary (the
    // step before packSequences turns ids into training rows). The
    // vocab-ranking window runs over the post-minDf vocabulary — small
    // by construction; id order (df desc, tok) is total on both sides.
    "q_encode_tokens" -> ((s, d) => {
      val docs = docsSpread(s, d).filter(col("doc_id") < 200)
      val vw = Window.orderBy(col("df").desc, col("tok"))
      val vocab = Ngrams.vocabulary(docs, minDf = 5)
        .select(col("tok"), row_number().over(vw).cast("long").as("id"))
      Ngrams.encodeTokens(docs, vocab, oovId = 0L)
        // driver-gate rule: oracle-checked outputs are scalar-only — the
        // gate's row sort cannot hash array cells, so the id sequence
        // crosses as its canonical comma-joined string
        .withColumn("token_ids",
          array_join(col("token_ids").cast("array<string>"), ","))
        .orderBy("doc_id")
    }),

    // ---- E19/E15 T5-style span corruption over the encoded corpus:
    // blocked deterministic masking (one Knuth-hashed span per 20-token
    // block), sentinel-in-input / content-behind-sentinel targets —
    // the denoising-objective data op; arrays cross as canonical
    // comma-joined strings (the driver-gate scalar rule) ----
    "q_span_corrupt" -> ((s, d) => {
      val docs = docsSpread(s, d).filter(col("doc_id") < 200)
      val vw = Window.orderBy(col("df").desc, col("tok"))
      val vocab = Ngrams.vocabulary(docs, minDf = 5)
        .select(col("tok"), row_number().over(vw).cast("long").as("id"))
      val enc = Ngrams.encodeTokens(docs, vocab, oovId = 0L)
      Ngrams.spanCorrupt(enc)
        .withColumn("input_ids",
          array_join(col("input_ids").cast("array<string>"), ","))
        .withColumn("target_ids",
          array_join(col("target_ids").cast("array<string>"), ","))
        .orderBy("doc_id")
    }),

    // ---- E21 dimensional modeling: SCD-1 upsert, SCD-2 history ----
    "q_upsert" -> ((s, d) => {
      val target = t(s, d, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val updates = target.filter(pmod(col("o_orderkey"), lit(97)) === 0)
        .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
                (col("o_totalprice") + 1000.0).as("o_totalprice"))
      operators.Dimensional.upsert(target, updates, Seq("o_orderkey"))
        .orderBy("o_orderkey")
    }),
    "q_scd2" -> ((s, d) =>
      operators.Dimensional.scd2(
          t(s, d, "events").select("user_id", "ts", "event_id", "value"),
          "user_id", "ts", tieBreak = Seq("event_id"))
        .select("user_id", "event_id", "value",
                "valid_from", "valid_to", "is_current")
        .orderBy("user_id", "valid_from", "event_id")),

    // ---- E15 deterministic k-per-group sampling (bottom-k by hash) ----
    "q_group_sample" -> ((s, d) =>
      Mixing.deterministicGroupSample(
          t(s, d, "orders")
            .select("o_orderkey", "o_orderpriority", "o_totalprice"),
          "o_orderpriority", "o_orderkey", k = 5)
        .orderBy("o_orderpriority", "o_orderkey")),

    // ---- E15 weighted deterministic sample (importance sampling) ----
    "q_weighted_sample" -> ((s, d) =>
      Mixing.weightedGroupSample(
          t(s, d, "documents").select("doc_id", "lang", "n_chars"),
          "lang", "doc_id", "n_chars", k = 5)
        .orderBy("lang", "doc_id")),

    // ---- fixed-width histogram over a measure ----
    "q_histogram" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(floor(col("value") / 50.0).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"),
             sumDec(col("value"), 6).as("sum_value"))
        .orderBy("bucket")),

    // ---- window analytics: distribution functions ----
    "q_window_dist" -> ((s, d) => {
      val w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
      t(s, d, "customer")
        .select(col("c_nationkey"), col("c_custkey"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
        .orderBy("c_nationkey", "c_custkey")
    }),

    // ---- window analytics: quantile binning via ntile ----
    "q_ntile" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy("o_totalprice", "o_orderkey")
      t(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          ntile(4).over(w).cast("long").as("quartile"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // ---- E2 corpus-level chunk dedup (line-dedup stage of web cleaning) ----
    "q_para_dedup" -> ((s, d) =>
      Dedup.dedupChunksGlobal(docsSpread(s, d).select("doc_id", "text"),
          "doc_id", "text", chunkTokens = 10)
        .orderBy("doc_id")),

    // ---- E2 sliding-window exact substring dedup: all but the first
    // occurrence of any duplicated 8-token span masked at ANY offset
    // (chunk dedup misses boundary-straddling repeats) ----
    "q_substring_dedup" -> ((s, d) =>
      Dedup.dedupSubstrings(docsSpread(s, d).select("doc_id", "text"),
          "doc_id", "text", n = 8)
        .orderBy("doc_id")),

    // ---- E2 cross-doc duplicated-SPAN report (Lee et al. ExactSubstr
    // readout): maximal >= 8-token runs shared across documents, as
    // (doc, start, end) cut-spans off the stride-1 window table + an
    // interval merge — the suffix-array pass, relationally ----
    "q_substring_spans" -> ((s, d) =>
      Dedup.substringDupSpans(docsSpread(s, d).select("doc_id", "text"),
          "doc_id", "text", n = 8)
        .orderBy("doc_id", "start_tok")),

    // ---- E2 ExactSubstr CUT: every occurrence of every cross-doc
    // duplicated >= 8-token run removed (the released tool's
    // self-similar mode; keep-first is q_substring_dedup) ----
    "q_substring_cut" -> ((s, d) =>
      Dedup.removeSubstringDups(docsSpread(s, d).select("doc_id", "text"),
          "doc_id", "text", n = 8)
        .orderBy("doc_id")),

    // ---- E2/E19 SPAN-level decontamination: maximal train runs that
    // appear verbatim in the eval split (doc_id < 100, the q_decontam
    // convention) — the span-granular refinement of the doc-level
    // gate: a long doc quoting one benchmark item loses the QUOTE,
    // not the document ----
    "q_contam_spans" -> ((s, d) => {
      val docs = docsSpread(s, d).select("doc_id", "text")
      Dedup.substringContamSpans(docs.filter(col("doc_id") >= 100),
          docs.filter(col("doc_id") < 100), "doc_id", "text", n = 8)
        .orderBy("doc_id", "start_tok")
    }),

    // ---- E2/E19 the scrub mode: cut every eval-contaminated run out
    // of the train text, keep the documents ----
    "q_contam_scrub" -> ((s, d) => {
      val docs = docsSpread(s, d).select("doc_id", "text")
      Dedup.scrubContamSpans(docs.filter(col("doc_id") >= 100),
          docs.filter(col("doc_id") < 100), "doc_id", "text", n = 8)
        .orderBy("doc_id")
    }),

    // ---- E2 INCREMENTAL ExactSubstr (VERDICT r17 item 4): the span
    // twin of the signatureIndex lifecycle — commit the standing
    // corpus's distinct window-hash table through ManifestTable
    // (docs < 100 as batch 0), EXTEND it by union-upsert with a second
    // corpus increment (docs 100..199 as batch 1), read the artifact
    // back, and probe the new batch (docs >= 200) against it: maximal
    // batch spans covered by stored-corpus windows, the corpus text
    // never re-read. The DuckDB oracle replays the SEMANTICS (spans of
    // docs >= 200 covered by windows of docs < 200 on raw strings) —
    // identical output because the 128-bit hash pair is injective in
    // practice, so the lifecycle (two commits, atomic manifest swaps,
    // read-back, probe) is pinned by a real-text oracle ----
    "q_substring_incremental" -> ((s, d) =>
      withScratchDir("graft-substr-idx") { tmp =>
        import graft.sources.ManifestTable
        val docs = docsSpread(s, d).select("doc_id", "text")
        val idxPath = s"$tmp/substr_index"
        // pageBuckets: the index commits through the PAGED manifest
        // (r18) — the second commit rewrites only the pages its new
        // window hashes touch, the 100 TB ingest shape
        ManifestTable.upsertBatch(
          Dedup.substrIndex(docs.filter(col("doc_id") < 100),
            "doc_id", "text", n = 8),
          idxPath, Seq("wh1", "wh2"), nBuckets = 8, targetRowsPerBucket = 1L << 20, batchId = 0L,
          pageBuckets = 4)
        ManifestTable.upsertBatch(
          Dedup.substrIndex(
            docs.filter(col("doc_id") >= 100 && col("doc_id") < 200),
            "doc_id", "text", n = 8),
          idxPath, Seq("wh1", "wh2"), nBuckets = 8, targetRowsPerBucket = 1L << 20, batchId = 1L)
        val idx = ManifestTable.read(s, idxPath)
        Dedup.substringSpansAgainstIndex(
            docs.filter(col("doc_id") >= 200), idx, "doc_id", "text",
            n = 8)
          .orderBy("doc_id", "start_tok")
      }),

    // ---- E2 WITHIN-document repeated-chunk trim: zero-shuffle per-row
    // keep-first over each doc's own chunks (the in-doc repetition
    // stage; cross-doc repetition is q_para_dedup / q_boilerplate).
    // chunkTokens=2 exercises ~250 real drops at sf0.001 ----
    "q_intradoc_dedup" -> ((s, d) =>
      Dedup.dedupChunksWithinDoc(t(s, d, "documents")
          .select("doc_id", "text"),
          "doc_id", "text", chunkTokens = 2)
        .orderBy("doc_id")),

    // ---- E2 C4-style boilerplate removal: chunks occurring in >= 3
    // distinct documents die EVERYWHERE (vs dedupChunksGlobal's
    // keep-first); real-data oracle, DuckDB recomputes the chunk
    // frequency table and anti-join exactly ----
    "q_boilerplate" -> ((s, d) =>
      Dedup.removeBoilerplate(docsSpread(s, d).select("doc_id", "text"),
          "doc_id", "text", chunkTokens = 10, minDocs = 3)
        .orderBy("doc_id")),

    // ---- E15 deterministic upsampling (source weighting with
    // replication): rate 2.5 → 2 or 3 copies per row, Knuth-hash
    // decided, layout- and engine-independent ----
    "q_upsample" -> ((s, d) =>
      Mixing.upsampleByRates(t(s, d, "documents").select("doc_id", "source"),
          "source", "doc_id",
          Map("src0" -> 2.5, "src1" -> 1.3, "src2" -> 0.29))
        .orderBy("doc_id", "copy_id")),

    // ---- E15 deterministic train/val/test split ----
    "q_split" -> ((s, d) =>
      Mixing.deterministicSplit(t(s, d, "documents"), "doc_id",
          Seq("train" -> 90, "val" -> 5, "test" -> 5))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("split")),

    // ---- E15 leakage-safe split: near-dup clusters never straddle
    // train/val/test. Closed-form fixture (identical-shingle div-4
    // groups, as q_dedup_clusters): clusters = groups, so every doc's
    // split equals the split of its group minimum — SQL-derivable with
    // the same Knuth-hash bucket rule as q_split. ----
    "q_split_leakage" -> ((s, d) => {
      val g = expr("doc_id div 4")
      val docs = t(s, d, "documents")
        .select(col("doc_id"),
          concat_ws(" ", array_repeat(
            concat(lit("t"), g.cast("string")),
            (pmod(col("doc_id"), lit(4)) + 4).cast("int"))).as("text"))
      Mixing.leakageSafeSplit(docs, "doc_id", "text",
          Seq("train" -> 90, "val" -> 5, "test" -> 5))
        .select("doc_id", "split")
        .orderBy("doc_id")
    }),

    // ---- E15 EXACT-proportion stratified split (per-source counts are
    // exact to integer-boundary rounding, not hash-proportional) ----
    "q_strat_split" -> ((s, d) =>
      Mixing.stratifiedExactSplit(t(s, d, "documents"), "source", "doc_id",
          Seq("train" -> 90, "val" -> 5, "test" -> 5))
        .select("doc_id", "source", "split")
        .orderBy("doc_id")),

    // ---- E15 per-source cap (top-k docs per source, domain balancing) ----
    "q_source_cap" -> ((s, d) =>
      Mixing.capPerGroup(t(s, d, "documents"),
          Seq(col("source")),
          Seq(col("n_chars").desc, col("doc_id")), k = 3)
        .select("doc_id", "source", "n_chars")
        .orderBy("source", "doc_id")),

    // ---- unpivot / melt (wide → long reshape) ----
    "q_unpivot" -> ((s, d) =>
      t(s, d, "lineitem")
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_discount"), col("l_tax")),
          "metric", "value")
        .orderBy("l_orderkey", "l_linenumber", "metric")),

    // ---- statistical moments from exact decimal sums ----
    // stddev/corr computed in DOUBLE from order-independent DECIMAL
    // sums, the same final expression on both engines — bit-exact where
    // built-in stddev/corr (running double accumulation) is not.
    "q_stats_moments" -> ((s, d) => {
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
    }),

    // ---- E6 two-step conversion funnel over event times ----
    "q_funnel" -> ((s, d) =>
      EventOps.funnel(t(s, d, "events"), "click", "purchase",
          withinUs = 3600L * 1000000L)
        .orderBy("user_id")),

    // ---- E6 N-step funnel report: greedy first-match sequence scan
    // per user (one shuffle, no per-step joins). The explicit 512 cap
    // sits under the WindowGroupLimit threshold, so a bot user's
    // events truncate map-side before the exchange; the corpus maxes
    // at 99 events/user, so the cap never bites. ----
    "q_funnel_steps" -> ((s, d) =>
      EventOps.funnelN(t(s, d, "events"),
          Seq("view", "click", "purchase"), withinUs = 7200L * 1000000L,
          maxEventsPerUser = 512)
        .orderBy("step_idx")),

    // ---- E19 unigram LM quality score (perplexity-style signal) ----
    "q_lm_score" -> ((s, d) =>
      Ngrams.unigramLogProb(docsSpread(s, d), quantize = Some(9))
        .orderBy("doc_id")),

    // ---- E19 bigram LM transition score (sequential-coherence twin of
    // q_lm_score: frequent tokens in random order score low here) ----
    "q_bigram_lm" -> ((s, d) =>
      Ngrams.bigramLogProb(docsSpread(s, d))
        .orderBy("doc_id")),

    // ---- E19 PMI collocation mining (multiword-unit discovery for
    // tokenizer vocab / phrase-aware dedup decisions) ----
    "q_collocations" -> ((s, d) =>
      Ngrams.collocations(docsSpread(s, d), minCount = 5)
        .orderBy("w1", "w2")),

    // ---- E19×E24 TextRank keyword extraction: weighted PageRank over
    // the symmetrized adjacent-word co-occurrence graph; integer
    // fixed-point ranks make the top-50 cut engine-exact ----
    "q_textrank" -> ((s, d) =>
      Ngrams.textRank(docsSpread(s, d), iterations = 3, topK = 50)
        .orderBy(col("rank_fp").desc, col("tok"))),

    // ---- E19 DSIR importance weights (domain-targeted selection:
    // log-likelihood ratio of target vs raw unigram models) ----
    "q_dsir_weights" -> ((s, d) =>
      Ngrams.importanceWeights(docsSpread(s, d),
          col("source") === "src0")
        .orderBy("doc_id")),

    // ---- E19 chi-square term–class association (feature selection:
    // which tokens characterize a language) ----
    "q_chi2_terms" -> ((s, d) =>
      Ngrams.chiSquareTerms(docsSpread(s, d), classCol = "lang",
          minDf = 20L)
        .orderBy("lang", "tok")),

    // ---- E19 skip-gram PPMI co-occurrence (window ±2 — the
    // distributional-association table beyond adjacent bigrams) ----
    "q_ppmi_cooc" -> ((s, d) =>
      Ngrams.ppmiCooc(docsSpread(s, d), window = 2, minCount = 5L)
        .orderBy("w1", "w2")),

    // ---- E19 lexical-diversity screen (TTR + hapax share per source:
    // template spam vs natural text vs noise) ----
    "q_lexical_div" -> ((s, d) =>
      Ngrams.lexicalDiversity(docsSpread(s, d), groupCol = "source")
        .orderBy("source")),

    // ---- GROUP BY ALL / ORDER BY ALL (modern SQL shorthand surface) ----
    "q_group_by_all" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders_gba")
      s.sql("""
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total
        FROM orders_gba GROUP BY ALL ORDER BY ALL""")
    }),

    // ---- ordered string aggregation (Spark 4 listagg WITHIN GROUP):
    // deterministic because the in-group order is total ----
    "q_listagg" -> ((s, d) => {
      t(s, d, "customer").createOrReplaceTempView("customer_la")
      s.sql("""
        SELECT c_nationkey,
               listagg(c_name, ',') WITHIN GROUP (ORDER BY c_name) AS names,
               listagg(DISTINCT c_mktsegment, '|')
                 WITHIN GROUP (ORDER BY c_mktsegment) AS segments
        FROM customer_la GROUP BY c_nationkey ORDER BY c_nationkey""")
    }),

    // ---- edit distance between id-adjacent names (fuzzy-match primitive).
    // Adjacency via a self-equi-join on key+1, NOT an unpartitioned
    // lead() window — a global window is a single task at scale, the
    // join shuffles by key and stays parallel (keys are dense here). ----
    "q_edit_distance" -> ((s, d) => {
      val p = t(s, d, "part").select("p_partkey", "p_name")
      val a = p.as("a"); val b = p.as("b")
      a.join(b, col("b.p_partkey") === col("a.p_partkey") + 1)
        .select(col("a.p_partkey").as("p_partkey"),
          levenshtein(col("a.p_name"), col("b.p_name")).cast("long")
            .as("dist"))
        .orderBy("p_partkey")
    }),

    // ---- E26 fuzzy (edit-distance ≤ 1) entity join via FastSS deletion
    // neighborhoods — candidates from a variant-hash equi-join, exact
    // levenshtein verify in-join, output identical to the brute force
    // the oracle runs. Left: distinct word bigrams of the corpus;
    // right: the same bigrams with the first char substituted, so
    // matches exist by construction plus organic cross-matches. ----
    "q_fuzzy_join" -> ((s, d) => {
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
    }),

    // ---- explode_outer: docs with no qualifying token keep a NULL row ----
    "q_explode_outer" -> ((s, d) =>
      docsSpread(s, d)
        .filter(col("doc_id") < 200)
        .select(col("doc_id"),
          explode_outer(filter(split(col("text"), " "),
            t => length(t) > 8)).as("tok"))
        .orderBy(col("doc_id"), col("tok").asc_nulls_first)),

    // ---- LATERAL correlated subquery (per-row dependent top-1) ----
    "q_lateral" -> ((s, d) => {
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
    }),

    // ---- VARIANT semi-structured path (Spark 4): parse once, typed gets.
    // Output columns are plain long/double, so the engine-internal
    // variant encoding stays oracle-comparable. ----
    "q_variant" -> ((s, d) =>
      t(s, d, "events")
        .select(col("event_id"),
          try_variant_get(parse_json(col("props")), "$.k", "long").as("k"),
          (try_variant_get(parse_json(col("props")), "$.k", "double")
            * col("value")).as("kv"))
        .orderBy("event_id")),

    // ---- recursive CTE (Spark 4 WITH RECURSIVE): spine + outer join ----
    "q_recursive_cte" -> ((s, d) => {
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
    }),

    // ---- window analytics: time-interval RANGE frame (trailing hour) ----
    "q_window_trailing" -> ((s, d) => {
      t(s, d, "events").createOrReplaceTempView("ev_trail")
      s.sql("""
        SELECT event_id, user_id,
               COUNT(*) OVER (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
                 AS n_1h
        FROM ev_trail ORDER BY event_id""")
    }),

    // ---- E4 Gopher-style rule filter statistics ----
    "q_gopher" -> ((s, d) =>
      docsSpread(s, d)
        .select(col("doc_id"),
          TextAnalysis.gopherStats(col("text"), minWords = 20).as("g"))
        .select(col("doc_id"), col("g.n_words"),
          round(col("g.mean_word_len"), 10).as("mean_word_len"),
          round(col("g.symbol_ratio"), 10).as("symbol_ratio"),
          col("g.pass"))
        .orderBy("doc_id")),

    // ---- E4 Gopher repetition signals (the other half of the quality
    // rule): top-bigram char share + duplicated-trigram char mass +
    // duplicated-line share, all exact integer masses over len(text)
    // with one rounded close — the template-flood cut ----
    "q_repetition" -> ((s, d) =>
      TextAnalysis.repetitionStats(t(s, d, "documents"),
          topN = 2, dupN = 3)
        .orderBy("doc_id")),

    // per-source top-30% quality cut; id tie-break makes the kept set
    // deterministic
    "q_quality_prune" -> ((s, d) =>
      TextAnalysis.qualityPrune(t(s, d, "documents"), keepFrac = 0.3)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")),

    // Byte-entropy quality gate: native codegen'd ByteEntropy expression,
    // engine-exact integer-nanonat arithmetic (see VectorExprs.ByteEntropy)
    "q_entropy" -> ((s, d) =>
      docsSpread(s, d)
        .select(col("doc_id"),
          round(TextAnalysis.byteEntropy(col("text")), 9).as("entropy"),
          TextAnalysis.entropyPass(col("text")).as("pass"))
        .orderBy("doc_id")),

    // ---- E15 sequence packing: shard assignment → ordered concat ----
    "q_pack_seq" -> ((s, d) =>
      Mixing.packSequences(t(s, d, "documents"), "source", "doc_id",
          "n_chars", "text", budget = 1000L)
        .orderBy("source", "shard")),

    // packed shards + trainer structure arrays (ids, lengths, exclusive
    // cumulative start offsets) — still one group-key shuffle
    "q_pack_boundaries" -> ((s, d) =>
      Mixing.packWithBoundaries(t(s, d, "documents"), "source", "doc_id",
          "n_chars", "text", budget = 1000L)
        // scalar-only projection for the driver gate (arrays → canonical
        // comma-joined strings); the operator itself keeps typed arrays
        .withColumn("doc_ids",
          array_join(col("doc_ids").cast("array<string>"), ","))
        .withColumn("doc_lens",
          array_join(col("doc_lens").cast("array<string>"), ","))
        .withColumn("doc_starts",
          array_join(col("doc_starts").cast("array<string>"), ","))
        .orderBy("source", "shard")),

    // ---- E15 GPT-style contiguous packing: cut each source's
    // concatenated token stream every 1000 tokens EXACTLY — documents
    // span example boundaries (span table, all-integer offsets);
    // packByBudget's greedy shards round up, this doesn't ----
    "q_pack_contiguous" -> ((s, d) =>
      Mixing.packContiguous(t(s, d, "documents"), "source", "doc_id",
          "n_chars", budget = 1000L)
        .orderBy("source", "example", "doc_id", "tok_start")),

    // ---- E20 key-skew report (the pre-join salting diagnostic) ----
    "q_key_skew" -> ((s, d) =>
      operators.Profiling.keySkew(t(s, d, "lineitem"), "l_suppkey", k = 20)),

    // ---- E20 exact heavy hitters with sketch-bounded shuffle: a
    // Misra–Gries superset pass (≤ k entries per task cross the
    // exchange, never the full key space) + a candidate-restricted
    // exact count. The token table is near-uniform (31 distinct tokens
    // vs k=30 slots) — the sketch's worst case — yet the output is the
    // exact deterministic > n/(k+1) set, which DuckDB recomputes by
    // full grouped count ----
    "q_heavy_hitters" -> ((s, d) => {
      val toks = t(s, d, "documents").filter(col("text").isNotNull)
        .select(explode(split(col("text"), " ")).as("tok"))
      operators.Profiling.heavyHitters(toks, "tok", k = 30)
    }),

    // ---- E20 per-group heavy hitters (trending tokens per source):
    // grouped MG udaf candidates, semi-join, exact per-group count ----
    "q_heavy_by_group" -> ((s, d) => {
      val toks = t(s, d, "documents").filter(col("text").isNotNull)
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      operators.Profiling.heavyHittersByGroup(toks, "source", "tok", k = 30)
    }),

    // ---- E20 winsorization report: clip n_chars to per-source exact
    // [p05, p95] and audit the move (clip counts, mean before/after) ----
    "q_winsorize" -> ((s, d) =>
      operators.Profiling.winsorize(t(s, d, "documents"), "source",
          "n_chars", pLo = 0.05, pHi = 0.95)
        .orderBy("source")),

    // ---- E20 distribution drift between two corpus snapshots: per-key
    // smoothed shares + KL contributions (the source-mix monitor) ----
    "q_dist_drift" -> ((s, d) => {
      val docs = t(s, d, "documents")
      operators.Profiling.distributionDrift(
          docs.filter(col("doc_id") < 250),
          docs.filter(col("doc_id") >= 250), "source")
        .orderBy("source")
    }),

    // ---- E20 PSI drift (the scorecard-industry standard): per-key
    // (share_a - share_b)·ln(share_a/share_b) terms, always >= 0, so
    // shifts can't cancel the way signed KL contributions can ----
    "q_psi" -> ((s, d) => {
      val docs = t(s, d, "documents")
      operators.Profiling.psi(
          docs.filter(col("doc_id") < 250),
          docs.filter(col("doc_id") >= 250), "source")
        .orderBy("source")
    }),

    // ---- E20 numeric PSI: the scorecard-standard drift score over
    // FIXED-WIDTH value bins (layout-stable across runs, unlike
    // data-derived quantile bins) — early vs late order halves ----
    "q_psi_numeric" -> ((s, d) => {
      val o = t(s, d, "orders")
        .withColumn("bin",
          floor(col("o_totalprice") / 50000).cast("long"))
      operators.Profiling.psi(
          o.filter(col("o_orderkey") % 2 === 0),
          o.filter(col("o_orderkey") % 2 === 1), "bin")
        .orderBy("bin")
    }),

    // ---- E20 exact Wasserstein-1 drift: how far the price
    // distribution moved in dollars (per priority, even vs odd orders)
    // — integer-cent ECDF terms, engine-exact ----
    "q_wasserstein" -> ((s, d) => {
      val o = t(s, d, "orders")
      operators.Profiling.wasserstein1(
          o.filter(col("o_orderkey") % 2 === 0),
          o.filter(col("o_orderkey") % 2 === 1),
          "o_orderpriority", "o_totalprice", scale = 100L)
        .orderBy("o_orderpriority")
    }),

    // ---- E20 exact Spearman rank correlation per return flag:
    // monotonic quantity↔price association, robust to price outliers
    // (integer doubled-average-ranks, exact moments) ----
    "q_spearman" -> ((s, d) =>
      operators.Profiling.spearman(t(s, d, "lineitem"),
          "l_returnflag", "l_quantity", "l_extendedprice")
        .orderBy("l_returnflag")),

    // ---- E20 exact Kendall τ-b per return flag: pairwise quantity↔
    // price-band concordance with the tie-adjusted denominator — the
    // third rank-statistic beside Spearman (rank Pearson) and
    // Mann–Whitney (dominance); price quantized to 10k bands so the
    // cell-pair join stays domain-sized (the fixed-bin PSI contract) ----
    "q_kendall" -> ((s, d) =>
      operators.Profiling.kendallTau(
          t(s, d, "lineitem").withColumn("price_band",
            floor(col("l_extendedprice") / 10000).cast("long")),
          "l_returnflag", "l_quantity", "price_band")
        .orderBy("l_returnflag")),

    // ---- E20 exact Mann–Whitney U (rank-biserial effect) per
    // priority: the non-parametric twin of q_ab_test's z — do even-key
    // orders price-dominate odd-key ones? ----
    "q_mannwhitney" -> ((s, d) => {
      val o = t(s, d, "orders")
      operators.Profiling.mannWhitney(
          o.filter(col("o_orderkey") % 2 === 0),
          o.filter(col("o_orderkey") % 2 === 1),
          "o_orderpriority", "o_totalprice")
        .orderBy("o_orderpriority")
    }),

    // ---- E20 exact ROC AUC per priority (the Mann–Whitney identity
    // U/(n⁺·n⁻) riding the same exact u2): does price "score" rank
    // even-key orders above odd-key ones? ≈0.5 by construction — the
    // null-model calibration point a filter model must beat ----
    "q_auc" -> ((s, d) =>
      operators.Profiling.auc(
          t(s, d, "orders").withColumn("is_even",
            col("o_orderkey") % 2 === 0),
          "o_orderpriority", "o_totalprice", "is_even")
        .orderBy("o_orderpriority")),

    // ---- E20 Benjamini–Hochberg FDR step-up over the Mann–Whitney
    // battery (one test per priority; p-like = 1 − |rank_biserial|, a
    // monotone evidence score — the even/odd split is null by
    // construction, so the battery exercises the selection machinery
    // on near-1 scores with total tie-breaking) ----
    "q_bh" -> ((s, d) => {
      val o = t(s, d, "orders")
      val mw = operators.Profiling.mannWhitney(
        o.filter(col("o_orderkey") % 2 === 0),
        o.filter(col("o_orderkey") % 2 === 1),
        "o_orderpriority", "o_totalprice")
      val tests = mw.select(col("o_orderpriority").as("test"),
        round(lit(1.0) - abs(col("rank_biserial")), 9).as("p"))
      operators.Profiling.benjaminiHochberg(tests, "test", "p", q = 0.25)
        .orderBy("rank")
    }),

    // ---- E20 deterministic Poisson-bootstrap CI for the mean event
    // value per type: the cluster-scale resampling design (per-row
    // Poisson(1) weights off the Knuth coin, integer-threshold CDF
    // inversion — no RNG, no row numbering), percentile interval over
    // 48 replicate means ----
    "q_bootstrap" -> ((s, d) =>
      operators.Profiling.bootstrapCI(t(s, d, "events"),
          "event_type", "event_id", "value", reps = 48, alpha = 0.05)
        .orderBy("event_type")),

    // ---- E20 Fleiss' κ over three heuristic "judges" of document
    // quality (length ≥ 300 chars / ≥ 55 words / ≥ 250 chars — two
    // strongly agree, one is a looser rubric): the multi-annotator
    // agreement statistic every labeling pipeline reports ----
    "q_fleiss" -> ((s, d) => {
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
    }),

    // ---- E6/E20 lag-truncated EWMA smoother over hourly event counts
    // per type: dyadic weights make every term and both chain sums
    // EXACT doubles — the one renormalizing division rounds to 9 ----
    "q_ewma" -> ((s, d) => {
      val hourly = operators.EventOps.hourlyRollup(t(s, d, "events"))
        .select(col("event_type"), col("w_start"),
          col("n_events").cast("double").as("x"))
      operators.EventOps.ewmaSmooth(hourly, "event_type", "w_start", "x",
          lags = 16)
        .orderBy("event_type", "w_start")
    }),

    // ---- E6/E20 Holt level+trend smoother over the same hourly
    // series as q_ewma: the recurrence folds sequentially per series
    // (aggregate HOF over the sorted array — a window can't express
    // it), replayed bit-for-bit by a recursive-CTE oracle ----
    "q_holt" -> ((s, d) => {
      val hourly = operators.EventOps.hourlyRollup(t(s, d, "events"))
        .select(col("event_type"), col("w_start"),
          col("n_events").cast("double").as("x"))
      operators.EventOps.holtSmooth(hourly, "event_type", "w_start", "x")
        .orderBy("event_type", "w_start")
    }),

    // ---- E20 doc-level snapshot diff (the crawl-regression audit):
    // after = documents minus every 7th id (removed), every 5th
    // surviving text appended-to (changed), ids < 40 re-keyed +1M
    // (added) — fingerprint compare, ids+longs on the only exchange ----
    "q_snapshot_diff" -> ((s, d) => {
      val before = t(s, d, "documents").select("doc_id", "text")
      val after = before.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" x")))
            .otherwise(col("text")).as("text"))
        .unionAll(before.filter(col("doc_id") < 40)
          .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
      operators.Profiling.snapshotDiff(before, after).orderBy("doc_id")
    }),

    // ---- E20 full precision–recall operating curve per priority over
    // 10k-price-band thresholds (the quantize-first curve-length
    // contract): the whole curve q_auc/q_threshold project from ----
    "q_pr_curve" -> ((s, d) =>
      operators.Profiling.prCurve(
          t(s, d, "orders")
            .withColumn("band",
              floor(col("o_totalprice") / 10000).cast("long"))
            .withColumn("is_even", col("o_orderkey") % 2 === 0),
          "o_orderpriority", "band", "is_even")
        .orderBy(col("o_orderpriority"), col("threshold").desc)),

    // ---- E20 exact weighted percentiles: the quantity-weighted price
    // quartiles per return flag — "the price of the median unit", not
    // the median row; all-integer threshold arithmetic ----
    "q_weighted_percentile" -> ((s, d) =>
      operators.Profiling.weightedPercentiles(t(s, d, "lineitem"),
          "l_returnflag", "l_extendedprice", "l_quantity",
          pcts = Seq(25, 50, 75, 90))
        .orderBy("grp", "pct")),

    // ---- E20 l-diversity audit (k-anonymity's homogeneity-attack
    // companion): nation/segment groups whose balance-band diversity
    // collapses below l = 8 (70 of 125 groups violate at sf0.01; the
    // filter bites in both directions across SFs) ----
    "q_l_diversity" -> ((s, d) =>
      operators.Profiling.lDiversityViolations(
          t(s, d, "customer")
            .withColumn("bal_bin",
              floor(col("c_acctbal") / 1000).cast("int")),
          Seq("c_nationkey", "c_mktsegment"), "bal_bin", l = 8L)
        .orderBy("c_nationkey", "c_mktsegment")),

    // ---- E6 OHLC telemetry downsampling: per (type, hour) open/high/
    // low/close with deterministic (ts, id) tie-breaks and the
    // DECIMAL-exact value sum ----
    "q_ohlc_bars" -> ((s, d) =>
      EventOps.ohlcBars(t(s, d, "events"))
        .orderBy("event_type", "bar_ts")),

    // ---- E6 CUSUM changepoint per event series: all-integer
    // Dₖ = n·Sₖ − k·Sₙ over the hourly count series, argmax |D| with
    // smallest-k ties — the level-shift locator; means either side are
    // single exact-integer divisions ----
    "q_changepoint" -> ((s, d) =>
      EventOps.changepoint(t(s, d, "events"))
        .orderBy("event_type")),

    // ---- E6 SAX symbolization: each value series reduces to 8 PAA
    // segment means mapped onto fixed breakpoints — the string form of
    // the series for motif/anomaly grep; third member of the
    // telemetry-compaction family (bars, changepoint, SAX) ----
    "q_sax" -> ((s, d) =>
      EventOps.saxWords(t(s, d, "events"),
          breaks = Seq(50.0, 150.0, 300.0), segments = 8)
        .orderBy("event_type", "segment")),

    // ---- E6 SAX motif/discord report — what the symbolization is FOR:
    // 64-segment SAX strings, 4-symbol sliding words, per series the
    // most repeated word (motif) and the rarest (discord/anomaly),
    // smallest-word ties; everything past the one corpus pass is
    // series×segments-sized ----
    "q_sax_motifs" -> ((s, d) =>
      EventOps.saxMotifs(t(s, d, "events"),
          breaks = Seq(50.0, 150.0, 300.0), segments = 64, wordLen = 4)
        .orderBy("event_type")),

    // ---- E19 Heaps-law vocabulary-growth curve: cumulative (docs,
    // tokens, types) at 20 ingest-order checkpoints — the β-slope
    // corpus-QA screen and tokenizer-budget forecaster ----
    "q_heaps_law" -> ((s, d) =>
      Ngrams.heapsLaw(t(s, d, "documents"), checkpoints = 20)
        .orderBy("ck")),

    // ---- E19+E20 the Heaps exponent itself: ln(vocab) ~ β·ln(tokens)
    // over the growth curve — organic text sits β ≈ 0.4–0.6 ----
    "q_heaps_fit" -> ((s, d) =>
      operators.Profiling.loglogFit(
        Ngrams.heapsLaw(t(s, d, "documents"), checkpoints = 20),
        "n_tokens", "vocab")),

    // ---- E3 embedding covariance matrix (upper triangle): the PCA /
    // whitening / dimension-pruning model input; cells aggregate
    // map-side, per-dim sums broadcast back ----
    "q_embed_cov" -> ((s, d) =>
      Similarity.embedCovariance(t(s, d, "embeddings"))
        .orderBy("i", "j")),

    // ---- E3g PCA top-k via power iteration + Hotelling deflation,
    // exercised on a closed-form fixture whose eigenstructure is known
    // analytically (A = 9·q1q1' + 4·q2q2' + 1·q3q3' over the
    // orthonormal basis (.6,.8,0)/(-.8,.6,0)/(0,0,1)) — the oracle is
    // the closed form itself; eigengap ratios (4/9)^50 keep iteration
    // residuals ~1e-18, twelve orders under the 9-dec rounding ----
    "q_pca_topk" -> ((s, _) => {
      import s.implicits._
      val cov = Seq((0L, 0L, 5.8), (0L, 1L, 2.4), (0L, 2L, 0.0),
        (1L, 1L, 7.2), (1L, 2L, 0.0), (2L, 2L, 1.0)).toDF("i", "j", "cov")
      val trace = 5.8 + 7.2 + 1.0
      def r9(x: Double) = {
        val r = BigDecimal(x)
          .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
        if (r == 0.0) 0.0 else r // never emit -0.0 into a hashed column
      }
      Similarity.pcaTopK(cov, 3).zipWithIndex.map { case ((l, v), m) =>
        (m, r9(l), r9(l / trace), r9(v(0)), r9(v(1)), r9(v(2)))
      }.toSeq
        .toDF("component", "eigenvalue", "explained", "l0", "l1", "l2")
        .orderBy("component")
    }),

    // ---- E3g PCA whitening serve over the corpus embeddings: stored
    // model state (two exact-float unit components, entries ±2⁻³, and
    // their eigenvalues) bound in as literals; w_m = <x, q_m>/sqrt(λ_m)
    // — one zero-shuffle codegen'd scan, the decorrelation step before
    // distance-based dedup/clustering ----
    "q_pca_whiten" -> ((s, d) =>
      Similarity.whiten(t(s, d, "embeddings"), Seq(
          (2.0, Array.fill(64)(0.125)),
          (0.5, Array.tabulate(64)(i => if (i % 2 == 0) 0.125 else -0.125))))
        .orderBy("vec_id")),

    // ---- E19 Dunning log-likelihood collocations: G² over the 2×2
    // bigram contingency — evidence-mass-weighted multiword mining
    // where PMI would crown rare-pair noise ----
    "q_g2_colloc" -> ((s, d) =>
      Ngrams.logLikelihoodCollocations(t(s, d, "documents"),
          minCount = 5L)
        .orderBy("w1", "w2")),

    // ---- E15 deterministic negative sampling over the customer→part
    // purchase graph: per customer, k hash-ranked never-bought parts
    // from the customer's hash-picked catalog bucket — the implicit-
    // feedback training-pair builder, engine-replayable ----
    "q_negative_sample" -> ((s, d) => {
      val inter = t(s, d, "orders")
        .filter(col("o_custkey") < 200)
        .join(t(s, d, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_partkey").as("part"))
      Mixing.negativeSample(inter, "cust", "part", k = 2, buckets = 8)
        .orderBy("user", "rank", "item")
    }),

    // ---- E24 k-core decomposition: planted 6-clique + 99-chain over
    // document ids; the 3-core peels the chain away and keeps exactly
    // the clique at degree 5 (closed-form membership) ----
    "q_kcore" -> ((s, d) => {
      val ids = t(s, d, "documents").select(col("doc_id"))
        .filter(col("doc_id") < 100)
      val chain = ids.filter(col("doc_id") > 0)
        .select((col("doc_id") - 1).as("src"), col("doc_id").as("dst"))
      val six = ids.filter(col("doc_id") <= 5)
      val clique = six.as("x")
        .join(six.as("y"), col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("src"), col("y.doc_id").as("dst"))
      operators.Graphs.kCore(chain.unionByName(clique), "src", "dst",
          k = 3)
        .orderBy("node")
    }),

    // ---- E15 Neyman-optimal stratified allocation: a 1000-row sample
    // budget split across return-flag strata by N_h·sigma_h (big AND
    // varied strata earn budget), largest-remainder integerization ----
    "q_neyman_alloc" -> ((s, d) =>
      Mixing.neymanAllocation(t(s, d, "lineitem"), "l_returnflag",
          "l_extendedprice", totalN = 1000L)
        .orderBy("stratum")),

    // ---- E20 operating-point picker: lowest quality-score threshold
    // whose kept set still meets 50% Gopher-pass precision — the cut a
    // filter rollout deploys (calibration says trust; this says where)
    "q_threshold_precision" -> ((s, d) => {
      val docs = docsSpread(s, d)
      operators.Profiling.thresholdForPrecision(
        docs.select(col("doc_id"),
          TextAnalysis.qualityScore(col("text")).as("score"),
          TextAnalysis.gopherPass(col("text"), minWords = 20)
            .as("label")),
        "score", "label", targetBp = 5000)
    }),

    // ---- E6 Markov next-event baseline: per-state argmax prediction
    // + in-sample hit rate — the floor a sequence model must beat ----
    "q_next_event_hitrate" -> ((s, d) =>
      EventOps.nextEventHitRate(t(s, d, "events"))
        .orderBy("from_type")),

    // ---- E6 churn-label builder: point-in-time wall at Jan 20 of the
    // one-month corpus, 7-day horizon — the leakage-safe label half of
    // a churn training set (features compose from <= cutoff). The
    // cutoff is an ABSOLUTE instant (Instant.parse, 'Z'): Timestamp
    // .valueOf would parse in the JVM default zone and shift the wall
    // on any non-UTC host even though the session tz is pinned ----
    "q_churn_labels" -> ((s, d) =>
      EventOps.churnLabels(t(s, d, "events"),
          java.sql.Timestamp.from(
            java.time.Instant.parse("2024-01-20T00:00:00Z")),
          horizonDays = 7)
        .orderBy("user_id")),

    // ---- E20 constraint-suite validation in one scan (the pre-commit
    // expectation gate): violation counts + verdicts per rule; two
    // rules pass, two fail by construction so counts are exercised ----
    "q_validate" -> ((s, d) => {
      import operators.Profiling.{InRange, NotNull, OneOf, Unique}
      operators.Profiling.validate(t(s, d, "documents"), Seq(
          NotNull("lang"), Unique("doc_id"),
          InRange("n_chars", 0, 550),
          OneOf("source", Seq("src0", "src1", "src2"))))
        .orderBy("rule")
    }),

    // ---- E20 exact two-sample KS statistic on doc lengths between two
    // sources — the numeric drift monitor (q_dist_drift covers
    // categorical keys); integer numerator is the hash-checked value ----
    "q_ks_drift" -> ((s, d) => {
      val docs = t(s, d, "documents")
      operators.Profiling.ksTwoSample(
        docs.filter(col("source") === "src0"),
        docs.filter(col("source") === "src1"), "n_chars")
    }),

    // ---- E20 incremental distinct: per-day HLL sketch slices, merged.
    // The sketch binary is engine-specific; the oracle checks the exact
    // companion count and asserts the merged estimate's tolerance
    // verdict (±5% ≈ 3·rsd at lgK=12) ----
    "q_sketch_distinct" -> ((s, d) => {
      val ev = t(s, d, "events")
      val est = operators.Profiling.hllMergedEstimate(
        operators.Profiling.hllSlices(ev, to_date(col("ts")), "user_id"))
      ev.agg(count_distinct(col("user_id")).as("exact_users"))
        .crossJoin(est)
        .select(col("exact_users"), col("n_rows"),
          (abs(col("approx_distinct").cast("double") - col("exact_users"))
            <= col("exact_users") * lit(0.05)).as("within_tol"))
    }),

    // ---- grouped collection: per-group sorted member list ----
    "q_array_agg" -> ((s, d) =>
      t(s, d, "customer")
        .groupBy(col("c_nationkey"))
        .agg(array_join(
               transform(array_sort(collect_list(col("c_custkey"))),
                 x => x.cast("string")), ",").as("custs"),
             count(lit(1)).as("n"))
        .orderBy("c_nationkey")),

    // ---- E15 temperature-balanced mixing (tau=0.5: sqrt weighting) ----
    "q_temp_mix" -> ((s, d) =>
      Mixing.temperatureSample(t(s, d, "documents"), "lang", "doc_id",
          tau = 0.5)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("lang")),

    // ---- E9 nearest as-of join: temporally closest purchase to each click ----
    "q_asof_nearest" -> ((s, d) => {
      val e = t(s, d, "events")
      val clicks = e.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("pts"), col("value"))
      Joins.asofJoinNearest(clicks, purchases, "user_id", "ts", "pts",
          Seq("pts", "value"), rightPrefix = "near_")
        .select("event_id", "user_id", "near_pts", "near_value")
        .orderBy("event_id")
    }),

    // ---- E4 canonical text normalization (pre-dedup cleanup pass) ----
    "q_normalize" -> ((s, d) =>
      t(s, d, "part")
        .select(col("p_partkey"),
          TextAnalysis.normalizeText(
            concat_ws(" ", col("p_name"), col("p_brand"), col("p_type")))
            .as("norm"))
        .orderBy("p_partkey")),

    // ---- E6 built-in session windows (the Spark-native sessionization;
    // boundary rule differs from EventOps.sessionizeBatch: a gap of
    // exactly the duration STARTS a new session here) ----
    "q_session_window" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(session_window(col("ts"), "30 minutes").as("w"),
                 col("user_id"))
        .agg(count(lit(1)).as("n_events"),
             sum(col("value").cast(DecimalType(18, 6))).cast("double")
               .as("sum_value"))
        .select(col("user_id"), col("w.start").as("session_start"),
                col("n_events"), col("sum_value"))
        .orderBy("user_id", "session_start")),

    // ---- E2 connected components, oracle-checked on a deterministic
    // graph: star edges (hub = id - id%5, leaf = id) → components are
    // the [5k, 5k+4] ranges, expected label id - id%5 in closed form.
    // Stars are the shape near-dup clusters actually take (the
    // operator's scaladoc contract) and converge in the initial
    // min-neighbor fold — a long chain here would buy nothing but
    // per-iteration driver overhead. Transitivity is still exercised:
    // leaf—hub—leaf connects docs that share no direct edge. The
    // LSH-fed path stays rows-only; this pins the operator itself. ----
    "q_connected_components" -> ((s, d) => {
      val docs = t(s, d, "documents").select("doc_id")
        .filter(col("doc_id") < 500)
      val pairs = docs
        .filter(col("doc_id") % 5 =!= 0)
        .select((col("doc_id") - col("doc_id") % 5).as("doc_a"),
                col("doc_id").as("doc_b"))
      Dedup.connectedComponents(pairs).orderBy("id")
    }),

    // ---- E22 PageRank over the order→part purchase graph ----
    // fixed-point arithmetic (Graphs.Scale units): the iterative rank is
    // bit-reproducible across engines/layouts, so the oracle unrolls the
    // same 3 integer-arithmetic iterations in SQL. Orders have out-edges,
    // parts are all dangling — both mass paths exercised.
    "q_pagerank" -> ((s, d) => {
      val edges = t(s, d, "lineitem")
        .select((col("l_orderkey") * 2).as("src"),
                (col("l_partkey") * 2 + 1).as("dst"))
        .distinct()
      graft.operators.Graphs.pageRank(edges, "src", "dst", iterations = 3)
        .orderBy("node")
    }),

    // ---- E24 multi-source BFS distances over the undirected purchase
    // graph: min hops from the seed orders (every 512th key) — the
    // reachability/distance primitive beside PageRank's ranks; level-
    // synchronous frontier expansion, ids only on every exchange ----
    "q_bfs" -> ((s, d) => {
      val edges = t(s, d, "lineitem")
        .select((col("l_orderkey") * 2).as("src"),
                (col("l_partkey") * 2 + 1).as("dst"))
      val seeds = t(s, d, "orders")
        .filter(col("o_orderkey") % 512 === 0)
        .select((col("o_orderkey") * 2).as("seed"))
      graft.operators.Graphs.bfsDistances(edges, "src", "dst",
          seeds, "seed", maxHops = 3)
        .orderBy("node")
    }),

    // ---- E22/E24 WEIGHTED PageRank over the same purchase graph,
    // quantity-weighted edges: (rank div Σw)·w integer shares — the
    // volume-aware importance signal; parts stay dangling so the mass
    // term is exercised under weights too ----
    "q_pagerank_weighted" -> ((s, d) => {
      val edges = t(s, d, "lineitem")
        .groupBy((col("l_orderkey") * 2).as("src"),
                 (col("l_partkey") * 2 + 1).as("dst"))
        .agg(sum(col("l_quantity").cast("long")).as("wt"))
      graft.operators.Graphs.pageRankWeighted(edges, "src", "dst", "wt",
          iterations = 3)
        .orderBy("node")
    }),

    // ---- E24 HITS hubs & authorities over the purchase graph
    // (orders = hubs, parts = authorities): per round auth = Σ in-hub,
    // hub = Σ out-auth, each side L1-normalized to Scale in exact
    // integral division — the two-sided signal PageRank conflates ----
    "q_hits" -> ((s, d) => {
      val edges = t(s, d, "lineitem")
        .select((col("l_orderkey") * 2).as("src"),
                (col("l_partkey") * 2 + 1).as("dst"))
      graft.operators.Graphs.hits(edges, "src", "dst", rounds = 2)
        .orderBy("node")
    }),

    // ---- E24 WEIGHTED HITS over the quantity-weighted purchase graph:
    // auth = Σ w·hub, hub = Σ w·auth, same L1-normalized exact-integer
    // fixed point — the volume-aware two-sided signal, closing the
    // keyed/weighted parity with the PageRank family ----
    "q_hits_weighted" -> ((s, d) => {
      val edges = t(s, d, "lineitem")
        .groupBy((col("l_orderkey") * 2).as("src"),
                 (col("l_partkey") * 2 + 1).as("dst"))
        .agg(sum(col("l_quantity").cast("long")).as("wt"))
      graft.operators.Graphs.hitsWeighted(edges, "src", "dst", "wt",
          rounds = 2)
        .orderBy("node")
    }),

    // ---- E24 personalized (seed-biased) PageRank — the TrustRank
    // spam-demotion signal: teleport + dangling mass restart at the
    // seed orders (every-10th customer's), rank measures proximity to
    // the trusted set; same integer fixed-point replay ----
    "q_ppr" -> ((s, d) => {
      val edges = t(s, d, "lineitem")
        .select((col("l_orderkey") * 2).as("src"),
                (col("l_partkey") * 2 + 1).as("dst"))
        .distinct()
        .withColumn("wt", lit(1L))
      val seeds = t(s, d, "orders")
        .filter(col("o_custkey") % 10 === 0)
        .select((col("o_orderkey") * 2).as("node"))
      graft.operators.Graphs.personalizedPageRank(edges, "src", "dst",
          "wt", seeds, "node", iterations = 3)
        .orderBy("node")
    }),

    // ---- E24 deterministic synchronous label propagation (community
    // detection over the order-part bipartite graph; min-label ties,
    // full 3-iteration loop CTE-unrolled in the oracle) ----
    "q_label_prop" -> ((s, d) => {
      val edges = t(s, d, "lineitem")
        .select((col("l_orderkey") * 2).as("src"),
                (col("l_partkey") * 2 + 1).as("dst"))
      graft.operators.Graphs.labelPropagation(edges, "src", "dst",
          iterations = 3)
        .orderBy("node")
    }),

    // ---- E24 exact triangle counts over the part co-occurrence graph
    // (parts sharing an order are linked); degree-ordered wedge closure
    // bounds hub fan-out by the arboricity, not degree² ----
    "q_triangles" -> ((s, d) => {
      val li = t(s, d, "lineitem").select("l_orderkey", "l_partkey")
      val e = li.as("x").join(li.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
          col("x.l_partkey") < col("y.l_partkey"))
        .select(col("x.l_partkey").as("src"), col("y.l_partkey").as("dst"))
        .distinct()
      graft.operators.Graphs.triangleCount(e, "src", "dst")
        .orderBy("node")
    }),

    // ---- set ops: bag (ALL) variants ----
    "q_intersect_all" -> ((s, d) =>
      t(s, d, "part").select(col("p_size").as("k"))
        .intersectAll(t(s, d, "lineitem").select(col("l_linenumber").as("k")))
        .orderBy("k")),
    "q_except_all" -> ((s, d) =>
      t(s, d, "part").select(col("p_size").as("k"))
        .exceptAll(t(s, d, "lineitem").select(col("l_linenumber").as("k")))
        .orderBy("k")),
  )

  /** Corpus + copies with the last two tokens dropped and shifted ids —
    * deterministic near-duplicates for the audited real-text dedup
    * probes (q_minhash_neardup / q_simhash_neardup). */
  private def withPerturbedCopies(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    val perturbed = docs.select(
      (col("doc_id") + 1000000).as("doc_id"),
      concat_ws(" ", slice(toks, lit(1), greatest(size(toks) - 2, lit(1))))
        .as("text"))
    docs.union(perturbed)
  }

  /** Merge rounds q_bpe_merges trains; its oracle unrolls the same
    * number of replay iterations. */
  private val bpeOracleMerges = 6

  /** Unigram-LM tokenizer hyperparameters the q_unigram_* family trains
    * with; the oracle unrolls the same seed size / budget / rounds. */
  private val uniSeedSize = 40
  private val uniVocabSize = 16
  private val uniRounds = 2
  private val uniMaxPiece = 4

  /** DuckDB replay of [[operators.Ngrams.unigramTrain]]: the substring
    * seed and the hard-EM rounds UNROLLED into chained CTEs. The
    * engine's Viterbi DP is replayed as exhaustive segmentation-path
    * enumeration (one recursive CTE per round — bounded: compositions
    * of ≤ max-word-length into parts ≤ maxPieceLen) ranked by the SAME
    * total order (score DESC, fewer pieces, lexicographic piece
    * sequence), so the argmax — and therefore usage counts, pruning,
    * and the final vocabulary — is bit-identical. Scores are integer
    * micro-nats on both sides (exact BIGINT sums; ln of the identical
    * IEEE ratio rounds once). */
  private def unigramStateCtes(rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH RECURSIVE wc AS (
      |  SELECT w, COUNT(*) AS c
      |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |  WHERE len(w) >= 1 GROUP BY w),
      |sub AS (
      |  SELECT substr(w, CAST(st AS INTEGER), CAST(l AS INTEGER)) AS piece,
      |         SUM(c) AS cnt
      |  FROM wc,
      |       unnest(range(1, len(w) + 1)) AS u(st),
      |       unnest(range(1, LEAST($uniMaxPiece, len(w) - st + 1) + 1))
      |         AS ul(l)
      |  GROUP BY 1),
      |vocab0 AS (
      |  SELECT piece, cnt FROM sub WHERE len(piece) = 1
      |  UNION ALL
      |  SELECT piece, cnt FROM (
      |    SELECT piece, cnt,
      |      row_number() OVER (ORDER BY cnt DESC, piece) AS rk
      |    FROM sub WHERE len(piece) > 1) WHERE rk <= $uniSeedSize)"""
      .stripMargin
    for (i <- 1 to rounds) {
      val p = i - 1
      sb ++= s""",
        |sc$i AS (
        |  SELECT piece, len(piece) AS pl,
        |    CAST(round(ln(CAST(cnt AS DOUBLE) / CAST(t AS DOUBLE))
        |      * 1000000) AS BIGINT) AS lp
        |  FROM vocab$p, (SELECT SUM(cnt) AS t FROM vocab$p)),
        |paths$i AS (
        |  -- mirror the engine's Viterbi word-length cap
        |  SELECT w, c, 0 AS pos, CAST(0 AS BIGINT) AS s, 0 AS k, '' AS p
        |  FROM wc WHERE len(w) <= 256
        |  UNION ALL
        |  SELECT t.w, t.c, t.pos + v.pl, t.s + v.lp, t.k + 1,
        |    CASE WHEN t.k = 0 THEN v.piece
        |         ELSE t.p || ' ' || v.piece END
        |  FROM paths$i t JOIN sc$i v
        |    ON t.pos < len(t.w)
        |   AND substr(t.w, t.pos + 1, CAST(v.pl AS INTEGER)) = v.piece),
        |best$i AS (
        |  SELECT w, c, p FROM (
        |    SELECT w, c, p, row_number() OVER (PARTITION BY w
        |      ORDER BY s DESC, k, p) AS rn
        |    FROM paths$i WHERE pos = len(w)) WHERE rn = 1),
        |usage$i AS (
        |  SELECT u.piece, SUM(c) AS u
        |  FROM best$i, unnest(string_split(p, ' ')) AS u(piece)
        |  GROUP BY 1),
        |vocab$i AS (
        |  SELECT v.piece, GREATEST(COALESCE(g.u, 0), 1) AS cnt
        |  FROM vocab$p v LEFT JOIN usage$i g USING (piece)
        |  WHERE len(v.piece) = 1
        |  UNION ALL
        |  SELECT piece, u AS cnt FROM (
        |    SELECT piece, u, row_number() OVER (ORDER BY u DESC, piece)
        |      AS rk
        |    FROM usage$i WHERE len(piece) > 1) WHERE rk <= $uniVocabSize)"""
        .stripMargin
    }
    sb.toString
  }

  private def unigramTrainOracle(rounds: Int): String =
    unigramStateCtes(rounds) + s"""
      |SELECT piece, CAST(cnt AS BIGINT) AS cnt,
      |  CAST(round(ln(CAST(cnt AS DOUBLE) / CAST(t AS DOUBLE)) * 1000000)
      |    AS BIGINT) AS logp_micro
      |FROM vocab$rounds, (SELECT SUM(cnt) AS t FROM vocab$rounds)
      |ORDER BY piece""".stripMargin

  /** Shared serve-side CTEs: the final vocabulary scored, segmentation
    * paths over the full distinct-word table, the per-word winner
    * carried with its piece count. */
  private def unigramServeCtes(rounds: Int): String =
    unigramStateCtes(rounds) + s""",
      |scF AS (
      |  SELECT piece, len(piece) AS pl,
      |    CAST(round(ln(CAST(cnt AS DOUBLE) / CAST(t AS DOUBLE))
      |      * 1000000) AS BIGINT) AS lp
      |  FROM vocab$rounds, (SELECT SUM(cnt) AS t FROM vocab$rounds)),
      |pathsF AS (
      |  -- mirror the engine's Viterbi word-length cap (words past it
      |  -- are unsegmentable by contract; no shipped word approaches it)
      |  SELECT w, c, 0 AS pos, CAST(0 AS BIGINT) AS s, 0 AS k, '' AS p
      |  FROM wc WHERE len(w) <= 256
      |  UNION ALL
      |  SELECT t.w, t.c, t.pos + v.pl, t.s + v.lp, t.k + 1,
      |    CASE WHEN t.k = 0 THEN v.piece
      |         ELSE t.p || ' ' || v.piece END
      |  FROM pathsF t JOIN scF v
      |    ON t.pos < len(t.w)
      |   AND substr(t.w, t.pos + 1, CAST(v.pl AS INTEGER)) = v.piece),
      |bestF AS (
      |  SELECT w, c, k, p FROM (
      |    SELECT w, c, k, p, row_number() OVER (PARTITION BY w
      |      ORDER BY s DESC, k, p) AS rn
      |    FROM pathsF WHERE pos = len(w)) WHERE rn = 1)""".stripMargin

  /** DuckDB replay of [[operators.Ngrams.unigramSegmentWithVocab]] on
    * the trained vocabulary (shared by q_unigram_segment and
    * q_unigram_stored — the stored-artifact serve must reproduce the
    * train-side segmentation bit-for-bit). */
  private def unigramSegmentOracle(rounds: Int): String =
    unigramServeCtes(rounds) + s"""
      |SELECT w AS word, CAST(c AS BIGINT) AS cnt,
      |  CAST(k AS BIGINT) AS n_pieces, p AS pieces
      |FROM bestF ORDER BY word""".stripMargin

  /** DuckDB replay of the unigram fertility report: the bestF winners'
    * piece counts joined onto the per-language token stream — the
    * [[bpeFertilityOracle]] shape on the unigram serve CTEs. */
  private def unigramFertilityOracle(rounds: Int): String =
    unigramServeCtes(rounds) + s""",
      |tok AS (SELECT lang, u.w
      |        FROM documents, unnest(string_split(text, ' ')) AS u(w)
      |        WHERE len(u.w) >= 1)
      |SELECT lang, COUNT(*) AS n_words,
      |  CAST(SUM(k) AS BIGINT) AS n_subwords,
      |  round(CAST(SUM(k) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 9)
      |    AS fertility
      |FROM tok JOIN bestF ON bestF.w = tok.w
      |GROUP BY lang ORDER BY lang""".stripMargin

  /** Shared unigram encode-side CTEs through per-(doc, token, piece)
    * id rows `enc` — the unigram twin of [[bpeEncCtes]], and the same
    * terminal CTE NAME so the contiguous-pack / materialize tails
    * ([[packContiguousTail]] / [[examplesTail]]) splice onto either
    * family's encode prefix verbatim. */
  private def uniEncCtes(rounds: Int): String =
    unigramServeCtes(rounds) + s""",
      |uids AS (SELECT piece, row_number() OVER (ORDER BY piece) AS id
      |         FROM vocab$rounds),
      |useg AS (SELECT w, string_split(p, ' ') AS a FROM bestF),
      |utok AS (
      |  SELECT doc_id, tp, w FROM (
      |    SELECT doc_id, generate_subscripts(toks, 1) AS tp,
      |           unnest(toks) AS w
      |    FROM (SELECT doc_id, string_split(text, ' ') AS toks
      |          FROM documents WHERE doc_id < 200))
      |  WHERE len(w) >= 1),
      |upieces AS (
      |  SELECT doc_id, tp, generate_subscripts(a, 1) AS sp,
      |         unnest(a) AS piece
      |  FROM utok JOIN useg USING (w)),
      |enc AS (SELECT doc_id, tp, sp, id
      |        FROM upieces JOIN uids USING (piece))""".stripMargin

  /** DuckDB replay of [[operators.Ngrams.unigramEncodeWithVocab]]:
    * per-doc id lists in (token position, piece position) order, ids
    * dense-ranked by piece string. */
  private def unigramEncodeOracle(rounds: Int): String =
    uniEncCtes(rounds) + s"""
      |SELECT doc_id, CAST(COUNT(DISTINCT tp) AS BIGINT) AS n_toks,
      |  CAST(COUNT(*) AS BIGINT) AS n_ids,
      |  array_to_string(list(id ORDER BY tp, sp), ',') AS token_ids
      |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** DuckDB replay of [[operators.Ngrams.bpeTrain]], the k training
    * rounds UNROLLED into a chained-CTE pipeline (SQL has no loops; the
    * round count is a compile-time constant, so the oracle is generated
    * mechanically): each round recomputes the weighted pair counts from
    * the previous symbol state, picks the (cnt DESC, pair ASC) argmax,
    * and replays the literal `<a><b>` → `<ab>` fuse. replace() scans
    * left-to-right non-overlapping in both engines, which is exactly
    * BPE's merge rule under the bracketed-symbol encoding. */
  private def bpeStateCtes(k: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH state0 AS (
      |  SELECT w, regexp_replace(w, '(.)', '<\1>', 'g') AS syms,
      |         COUNT(*) AS c
      |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |  WHERE len(w) >= 1 AND NOT regexp_matches(w, '[<>]')
      |  GROUP BY w)""".stripMargin
    for (i <- 1 to k) {
      val p = i - 1
      sb ++= s""",
        |pairs$i AS (
        |  SELECT a[i] AS l, a[i+1] AS r, SUM(c) AS cnt
        |  FROM (SELECT string_split(trim(syms, '<>'), '><') AS a, c
        |        FROM state$p),
        |       unnest(range(1, len(a))) AS u(i)
        |  GROUP BY 1, 2),
        |best$i AS (SELECT l, r, cnt FROM pairs$i
        |           ORDER BY cnt DESC, l, r LIMIT 1),
        |state$i AS (
        |  SELECT w, replace(syms, '<'||l||'><'||r||'>',
        |                    '<'||l||r||'>') AS syms, c
        |  FROM state$p, best$i)""".stripMargin
    }
    sb.toString
  }

  private def bpeMergesOracle(k: Int): String =
    bpeStateCtes(k) + "\n" + (1 to k).map(i =>
      s"""SELECT CAST($i AS BIGINT) AS rank, l AS "left", r AS "right",
         |  l||r AS merged, CAST(cnt AS BIGINT) AS cnt FROM best$i"""
        .stripMargin)
      .mkString("", "\nUNION ALL\n", "\nORDER BY rank")

  /** DuckDB replay of [[operators.Ngrams.bpeSegment]]: the final symbol
    * state of the same unrolled training rounds, rendered per word. */
  private def bpeSegmentOracle(k: Int): String =
    bpeStateCtes(k) + s"""
      |SELECT w AS word, CAST(c AS BIGINT) AS cnt,
      |  CAST(len(a) AS BIGINT) AS n_syms,
      |  array_to_string(a, ' ') AS segments
      |FROM (SELECT w, string_split(trim(syms, '<>'), '><') AS a, c
      |      FROM state$k)
      |ORDER BY word""".stripMargin

  /** Shared encode-side CTEs (through per-(doc, token, symbol) id rows
    * `enc`): the unrolled training rounds' final state joined onto the
    * (filtered) document token stream, symbols dense-ranked to ids. */
  private def bpeEncCtes(k: Int): String =
    bpeStateCtes(k) + s""",
      |seg AS (SELECT w, string_split(trim(syms, '<>'), '><') AS a
      |        FROM state$k),
      |vocab AS (
      |  SELECT sym, row_number() OVER (ORDER BY sym) AS id
      |  FROM (SELECT DISTINCT unnest(a) AS sym FROM seg)),
      |tok AS (
      |  SELECT doc_id, tp, w FROM (
      |    SELECT doc_id, generate_subscripts(toks, 1) AS tp,
      |           unnest(toks) AS w
      |    FROM (SELECT doc_id, string_split(text, ' ') AS toks
      |          FROM documents WHERE doc_id < 200))
      |  WHERE len(w) >= 1 AND NOT regexp_matches(w, '[<>]')),
      |symrows AS (
      |  SELECT doc_id, tp, generate_subscripts(a, 1) AS sp,
      |         unnest(a) AS sym
      |  FROM tok JOIN seg USING (w)),
      |enc AS (SELECT doc_id, tp, sp, id FROM symrows JOIN vocab USING (sym))"""
      .stripMargin

  /** DuckDB replay of [[operators.Ngrams.bpeEncode]]: per-doc id lists
    * in (token position, symbol position) order. */
  private def bpeEncodeOracle(k: Int): String =
    bpeEncCtes(k) + s"""
      |SELECT doc_id, CAST(COUNT(DISTINCT tp) AS BIGINT) AS n_toks,
      |  CAST(COUNT(*) AS BIGINT) AS n_ids,
      |  array_to_string(list(id ORDER BY tp, sp), ',') AS token_ids
      |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** The contiguous-span construction spliced onto ANY encode prefix
    * defining `enc(doc_id, tp, sp, id)` ([[bpeEncCtes]] or
    * [[uniEncCtes]]): encoded per-doc token counts keyed by source,
    * then the exact fixed-length span math (prefix sum + range
    * unnest). */
  private val packContiguousTail: String = s""",
      |encdoc AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_ids
      |  FROM enc GROUP BY doc_id),
      |src AS (
      |  SELECT e.doc_id, d.source, e.n_ids AS w,
      |    CAST(COALESCE(SUM(e.n_ids) OVER (PARTITION BY d.source
      |      ORDER BY e.doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS s
      |  FROM encdoc e JOIN documents d USING (doc_id)
      |  WHERE e.n_ids > 0)
      |SELECT source, CAST(e AS BIGINT) AS example, doc_id,
      |  CAST(GREATEST(0, e * 256 - s) AS BIGINT) AS tok_start,
      |  CAST(LEAST(w, (e + 1) * 256 - s) AS BIGINT) AS tok_end
      |FROM src, unnest(range(s // 256, (s + w - 1) // 256 + 1)) AS u(e)
      |ORDER BY source, example, doc_id, tok_start""".stripMargin

  /** The materialized-examples construction spliced onto ANY encode
    * prefix defining `enc(doc_id, tp, sp, id)`: the contiguous span
    * construction carrying each doc's id LIST, sliced 1-based
    * inclusive (ids[ts+1..te] = the engine's half-open [ts, te)) and
    * flattened per example in document order. */
  private val examplesTail: String = s""",
      |encdoc AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_ids,
      |    list(id ORDER BY tp, sp) AS ids
      |  FROM enc GROUP BY doc_id),
      |src AS (
      |  SELECT e.doc_id, d.source, e.n_ids AS w, e.ids,
      |    CAST(COALESCE(SUM(e.n_ids) OVER (PARTITION BY d.source
      |      ORDER BY e.doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS s
      |  FROM encdoc e JOIN documents d USING (doc_id)
      |  WHERE e.n_ids > 0),
      |sp AS (
      |  SELECT source, CAST(e AS BIGINT) AS example, doc_id,
      |    CAST(GREATEST(0, e * 256 - s) AS BIGINT) AS ts,
      |    CAST(LEAST(w, (e + 1) * 256 - s) AS BIGINT) AS te, ids
      |  FROM src, unnest(range(s // 256, (s + w - 1) // 256 + 1)) AS u(e))
      |SELECT source, example,
      |  CAST(SUM(te - ts) AS BIGINT) AS n_tokens,
      |  array_to_string(flatten(
      |    list(ids[CAST(ts + 1 AS BIGINT):te] ORDER BY doc_id)), ',')
      |    AS token_ids
      |FROM sp GROUP BY source, example
      |ORDER BY source, example""".stripMargin

  /** DuckDB replay of the q_bpe_pack_contiguous composition. */
  private def bpePackContiguousOracle(k: Int): String =
    bpeEncCtes(k) + packContiguousTail

  /** DuckDB replay of the q_bpe_examples composition. */
  private def bpeExamplesOracle(k: Int): String =
    bpeEncCtes(k) + examplesTail

  /** DuckDB replay of the q_unigram_pack_contiguous composition: the
    * unigram encode CTEs feeding the same span tail as BPE. */
  private def unigramPackContiguousOracle(rounds: Int): String =
    uniEncCtes(rounds) + packContiguousTail

  /** DuckDB replay of the q_unigram_examples composition. */
  private def unigramExamplesOracle(rounds: Int): String =
    uniEncCtes(rounds) + examplesTail

  /** The packByBudget + boundary-array construction spliced onto ANY
    * encode prefix defining `enc(doc_id, tp, sp, id)`: exclusive
    * running token sum div budget shards, string_agg with the id-0
    * EOS separator, boundary arrays rendered — the q_pack_boundaries
    * oracle with token-count weights. */
  private val packBudgetTail: String = s""",
      |encdoc AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_ids,
      |    array_to_string(list(id ORDER BY tp, sp), ',') AS token_ids
      |  FROM enc GROUP BY doc_id),
      |src AS (
      |  SELECT e.doc_id, d.source, e.n_ids, e.token_ids
      |  FROM encdoc e JOIN documents d USING (doc_id)),
      |packed AS (
      |  SELECT source, doc_id, token_ids, n_ids,
      |    CAST(COALESCE(SUM(n_ids) OVER (PARTITION BY source
      |      ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 512
      |      AS BIGINT) AS shard
      |  FROM src),
      |g AS (
      |  SELECT source, shard,
      |    string_agg(token_ids, ',0,' ORDER BY doc_id) AS seq,
      |    list(doc_id ORDER BY doc_id) AS doc_ids,
      |    list(n_ids ORDER BY doc_id) AS doc_lens
      |  FROM packed GROUP BY source, shard)
      |SELECT source, shard, seq,
      |  COALESCE(array_to_string(doc_ids, ','), '') AS doc_ids,
      |  COALESCE(array_to_string(doc_lens, ','), '') AS doc_lens,
      |  COALESCE(array_to_string(
      |    list_transform(range(1, len(doc_lens) + 1),
      |      i -> CAST(COALESCE(list_sum(doc_lens[1:i-1]), 0) AS BIGINT)),
      |    ','), '') AS doc_starts
      |FROM g ORDER BY source, shard""".stripMargin

  /** DuckDB replay of the q_bpe_pack composition. */
  private def bpePackOracle(k: Int): String =
    bpeEncCtes(k) + packBudgetTail

  /** DuckDB replay of the q_unigram_pack composition. */
  private def unigramPackOracle(rounds: Int): String =
    uniEncCtes(rounds) + packBudgetTail

  /** DuckDB replay of the q_bpe_fertility composition: the same
    * unrolled training rounds' final segmentation, occurrence-weighted
    * subwords-per-word by language. */
  private def bpeFertilityOracle(k: Int): String =
    bpeStateCtes(k) + s""",
      |seg AS (SELECT w, len(string_split(trim(syms, '<>'), '><'))
      |          AS n_syms
      |        FROM state$k),
      |tok AS (SELECT lang, u.w
      |        FROM documents, unnest(string_split(text, ' ')) AS u(w)
      |        WHERE len(u.w) >= 1 AND NOT regexp_matches(u.w, '[<>]'))
      |SELECT lang, COUNT(*) AS n_words,
      |  CAST(SUM(n_syms) AS BIGINT) AS n_subwords,
      |  round(CAST(SUM(n_syms) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 9)
      |    AS fertility
      |FROM tok JOIN seg USING (w)
      |GROUP BY lang ORDER BY lang""".stripMargin

  /** DuckDB replay of the NB train-and-score composition, shared by
    * `q_nb_classify` and `q_nb_stored` (scoring from the stored model
    * must reproduce the direct confusion matrix exactly): add-one-
    * smoothed per-(label, token) log-probs rounded to 9 decimals and
    * summed as DECIMAL(28,9), every doc × label scaffolded so all-OOV
    * docs keep the prior-only argmax. */
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

  /** q_ewma oracle, generated: 15 lag() columns over the hourly window
    * plus the dyadic-weight chain sums (every weight literal is the
    * EXACT decimal rendering of 2^-(i+1), so both engines sum the same
    * exact values in the same left-assoc order). */
  private val ewmaOracle: String = {
    val lagDefs = (1 to 15).map(i => s"lag(x, $i) OVER w AS l$i")
      .mkString(",\n        ")
    def wt(i: Int) =
      BigDecimal(math.pow(2.0, -(i + 1))).underlying.toPlainString
    val num = (s"COALESCE(x * ${wt(0)}, 0)" +:
      (1 to 15).map(i => s"COALESCE(l$i * ${wt(i)}, 0)")).mkString(" + ")
    val den = (s"(CASE WHEN x IS NOT NULL THEN ${wt(0)} ELSE 0 END)" +:
      (1 to 15).map(i =>
        s"(CASE WHEN l$i IS NOT NULL THEN ${wt(i)} ELSE 0 END)"))
      .mkString(" + ")
    s"""WITH h AS (SELECT event_type, date_trunc('hour', ts) AS w_start,
       |             CAST(COUNT(*) AS DOUBLE) AS x
       |           FROM events GROUP BY 1, 2),
       |l AS (SELECT event_type, w_start, x,
       |        $lagDefs
       |      FROM h WINDOW w AS (PARTITION BY event_type ORDER BY w_start))
       |SELECT event_type, w_start, x,
       |  CASE WHEN CAST($den AS DOUBLE) > 0
       |    THEN round(CAST($num AS DOUBLE) / CAST($den AS DOUBLE), 9)
       |  END AS ewma
       |FROM l
       |ORDER BY event_type, w_start""".stripMargin
  }

  /** Shared unrolled-GD training CTEs for the q_logreg pair: the
    * fp(1e6)-quantized feature table, then each of the 3 iterations as
    * (margin+link, gradient-sum, weight-update) CTE triples — the SQL
    * replay of TextAnalysis.logregTrain's loop, exact by the same
    * argument (integer features, long-exact gradient sums, one IEEE
    * division per doc, round-half-away weight updates). */
  private val logregTrainCtes: String =
    """WITH f AS (
      |  SELECT source, n_chars,
      |    CASE WHEN n_chars >= 300 THEN CAST(1.0 AS DOUBLE)
      |         ELSE CAST(0.0 AS DOUBLE) END AS y,
      |    CAST(1000000 AS BIGINT) AS a0,
      |    CAST(round(least(len(string_split(text, ' ')), 256)
      |      * 3906.25, 0) AS BIGINT) AS a1,
      |    CAST(round(len(list_filter(string_split(text, ' '),
      |        t -> t = 'the')) * 1000000.0
      |      / len(string_split(text, ' ')), 0) AS BIGINT) AS a2,
      |    CAST(round(least(length(text) * 1.0
      |        / len(string_split(text, ' ')), 16.0) * 62500.0, 0)
      |      AS BIGINT) AS a3
      |  FROM documents WHERE text IS NOT NULL),
      |g1 AS (SELECT COUNT(*) AS n,
      |  SUM(CAST(round((0.5 - y) * a0, 0) AS BIGINT)) AS g0,
      |  SUM(CAST(round((0.5 - y) * a1, 0) AS BIGINT)) AS g1,
      |  SUM(CAST(round((0.5 - y) * a2, 0) AS BIGINT)) AS g2,
      |  SUM(CAST(round((0.5 - y) * a3, 0) AS BIGINT)) AS g3
      |  FROM f),
      |ws1 AS (SELECT n,
      |  0 - CAST(round(4.0 * (CAST(g0 AS DOUBLE) / n), 0) AS BIGINT) AS w0,
      |  0 - CAST(round(4.0 * (CAST(g1 AS DOUBLE) / n), 0) AS BIGINT) AS w1,
      |  0 - CAST(round(4.0 * (CAST(g2 AS DOUBLE) / n), 0) AS BIGINT) AS w2,
      |  0 - CAST(round(4.0 * (CAST(g3 AS DOUBLE) / n), 0) AS BIGINT) AS w3
      |  FROM g1),
      |p2 AS (SELECT y, a0, a1, a2, a3,
      |    0.5 + z / (2.0 * (1.0 + abs(z))) AS p
      |  FROM (SELECT y, a0, a1, a2, a3,
      |    CAST(ws1.w0*a0 + ws1.w1*a1 + ws1.w2*a2 + ws1.w3*a3 AS DOUBLE)
      |      / 1000000000000.0 AS z
      |  FROM f CROSS JOIN ws1) t),
      |g2c AS (SELECT COUNT(*) AS n,
      |  SUM(CAST(round((p - y) * a0, 0) AS BIGINT)) AS g0,
      |  SUM(CAST(round((p - y) * a1, 0) AS BIGINT)) AS g1,
      |  SUM(CAST(round((p - y) * a2, 0) AS BIGINT)) AS g2,
      |  SUM(CAST(round((p - y) * a3, 0) AS BIGINT)) AS g3
      |  FROM p2),
      |ws2 AS (SELECT g2c.n,
      |  ws1.w0 - CAST(round(4.0 * (CAST(g2c.g0 AS DOUBLE) / g2c.n), 0)
      |    AS BIGINT) AS w0,
      |  ws1.w1 - CAST(round(4.0 * (CAST(g2c.g1 AS DOUBLE) / g2c.n), 0)
      |    AS BIGINT) AS w1,
      |  ws1.w2 - CAST(round(4.0 * (CAST(g2c.g2 AS DOUBLE) / g2c.n), 0)
      |    AS BIGINT) AS w2,
      |  ws1.w3 - CAST(round(4.0 * (CAST(g2c.g3 AS DOUBLE) / g2c.n), 0)
      |    AS BIGINT) AS w3
      |  FROM g2c CROSS JOIN ws1),
      |p3 AS (SELECT y, a0, a1, a2, a3,
      |    0.5 + z / (2.0 * (1.0 + abs(z))) AS p
      |  FROM (SELECT y, a0, a1, a2, a3,
      |    CAST(ws2.w0*a0 + ws2.w1*a1 + ws2.w2*a2 + ws2.w3*a3 AS DOUBLE)
      |      / 1000000000000.0 AS z
      |  FROM f CROSS JOIN ws2) t),
      |g3c AS (SELECT COUNT(*) AS n,
      |  SUM(CAST(round((p - y) * a0, 0) AS BIGINT)) AS g0,
      |  SUM(CAST(round((p - y) * a1, 0) AS BIGINT)) AS g1,
      |  SUM(CAST(round((p - y) * a2, 0) AS BIGINT)) AS g2,
      |  SUM(CAST(round((p - y) * a3, 0) AS BIGINT)) AS g3
      |  FROM p3),
      |ws3 AS (SELECT g3c.n,
      |  ws2.w0 - CAST(round(4.0 * (CAST(g3c.g0 AS DOUBLE) / g3c.n), 0)
      |    AS BIGINT) AS w0,
      |  ws2.w1 - CAST(round(4.0 * (CAST(g3c.g1 AS DOUBLE) / g3c.n), 0)
      |    AS BIGINT) AS w1,
      |  ws2.w2 - CAST(round(4.0 * (CAST(g3c.g2 AS DOUBLE) / g3c.n), 0)
      |    AS BIGINT) AS w2,
      |  ws2.w3 - CAST(round(4.0 * (CAST(g3c.g3 AS DOUBLE) / g3c.n), 0)
      |    AS BIGINT) AS w3
      |  FROM g3c CROSS JOIN ws2)""".stripMargin

  private val nbConfusionOracle: String =
    """WITH tr AS (
      |  SELECT lang AS label, u.w
      |  FROM documents, unnest(string_split(text, ' ')) AS u(w)
      |  WHERE doc_id % 2 = 0 AND len(u.w) >= 1),
      |clt AS (SELECT label, w, COUNT(*) AS c FROM tr GROUP BY 1, 2),
      |cl AS (SELECT label, SUM(c) AS tot FROM clt GROUP BY 1),
      |vocab AS (SELECT DISTINCT w FROM clt),
      |vs AS (SELECT COUNT(*) AS v FROM vocab),
      |lb AS (SELECT lang AS label, COUNT(*) AS nd FROM documents
      |       WHERE doc_id % 2 = 0 GROUP BY 1),
      |ndocs AS (SELECT SUM(nd) AS n FROM lb),
      |prior AS (
      |  SELECT label,
      |    CAST(round(ln(CAST(nd AS DOUBLE) / CAST(n AS DOUBLE)), 9)
      |      AS DECIMAL(28,9)) AS pr
      |  FROM lb, ndocs),
      |model AS (
      |  SELECT v.w, cl.label,
      |    CAST(round(ln(CAST(COALESCE(clt.c, 0) + 1 AS DOUBLE) /
      |        CAST(cl.tot + vs.v AS DOUBLE)), 9) AS DECIMAL(28,9))
      |      AS logp
      |  FROM vocab v CROSS JOIN cl CROSS JOIN vs
      |  LEFT JOIN clt ON clt.label = cl.label AND clt.w = v.w),
      |ta AS (
      |  SELECT doc_id, u.w
      |  FROM documents, unnest(string_split(text, ' ')) AS u(w)
      |  WHERE len(u.w) >= 1),
      |sc AS (
      |  SELECT doc_id, m.label, SUM(m.logp) AS s
      |  FROM ta JOIN model m USING (w) GROUP BY 1, 2),
      |pick AS (
      |  SELECT d.doc_id, d.lang AS actual, p.label,
      |    row_number() OVER (PARTITION BY d.doc_id
      |      ORDER BY p.pr + COALESCE(sc.s, CAST(0 AS DECIMAL(28,9))) DESC,
      |               p.label) AS rn
      |  FROM documents d CROSS JOIN prior p
      |  LEFT JOIN sc ON sc.doc_id = d.doc_id AND sc.label = p.label)
      |SELECT actual, label AS predicted, COUNT(*) AS n_docs
      |FROM pick WHERE rn = 1
      |GROUP BY actual, label ORDER BY actual, predicted""".stripMargin

  /** DuckDB-equivalent ANSI SQL per query (driver runs these on the same
    * parquet tables). Omitted for the engine-specific ops above. */
  def oracleSql: Map[String, String] = Map(
    "q_bpe_pairs" ->
      """WITH wc AS (
        |  SELECT w, COUNT(*) AS c
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w
        |        FROM documents)
        |  WHERE len(w) >= 2 GROUP BY w),
        |pr AS (SELECT w[i:i] AS l, w[i+1:i+1] AS r, c
        |       FROM wc, unnest(range(1, len(w))) AS u(i))
        |SELECT l AS "left", r AS "right", CAST(SUM(c) AS BIGINT) AS cnt
        |FROM pr GROUP BY l, r HAVING SUM(c) >= 5
        |ORDER BY "left", "right"""".stripMargin,

    "q_bpe_merges" -> bpeMergesOracle(bpeOracleMerges),

    "q_bpe_segment" -> bpeSegmentOracle(bpeOracleMerges),

    // same oracle as q_bpe_segment on purpose: the stored-model serve
    // path must reproduce the train-side segmentation bit-for-bit
    "q_bpe_stored" -> bpeSegmentOracle(bpeOracleMerges),

    "q_bpe_encode" -> bpeEncodeOracle(bpeOracleMerges),

    "q_bpe_pack" -> bpePackOracle(bpeOracleMerges),

    "q_bpe_pack_contiguous" -> bpePackContiguousOracle(bpeOracleMerges),

    "q_unigram_train" -> unigramTrainOracle(uniRounds),

    "q_unigram_segment" -> unigramSegmentOracle(uniRounds),

    // same oracle as q_unigram_segment on purpose: the stored-model
    // serve path must reproduce the train-side segmentation exactly
    "q_unigram_stored" -> unigramSegmentOracle(uniRounds),

    "q_unigram_encode" -> unigramEncodeOracle(uniRounds),
    "q_unigram_fertility" -> unigramFertilityOracle(uniRounds),
    "q_unigram_pack" -> unigramPackOracle(uniRounds),
    "q_unigram_pack_contiguous" -> unigramPackContiguousOracle(uniRounds),
    "q_unigram_examples" -> unigramExamplesOracle(uniRounds),

    "q_bpe_examples" -> bpeExamplesOracle(bpeOracleMerges),

    // same oracle as q_bpe_encode on purpose: encoding from the stored
    // merges+vocab artifact must reproduce the train-side encode
    "q_bpe_encode_stored" -> bpeEncodeOracle(bpeOracleMerges),

    "q_bpe_fertility" -> bpeFertilityOracle(bpeOracleMerges),

    "entry" ->
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
        |ORDER BY r_name, n_name""".stripMargin,

    "q_scan_project" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice AS price
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, price""".stripMargin,

    "q_nullif_cond" ->
      """SELECT p_partkey,
        |  CASE WHEN p_size <= 10 THEN NULL ELSE p_size END AS size_n
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q_dropna" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE c_name IS NOT NULL AND c_acctbal IS NOT NULL
        |  AND c_mktsegment IS NOT NULL
        |ORDER BY c_custkey""".stripMargin,

    "q_filter_or_nonempty" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE c_name <> '' OR c_mktsegment <> ''
        |ORDER BY c_custkey""".stripMargin,

    "q_filter_eq" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE o_orderstatus = 'F' ORDER BY o_orderkey""".stripMargin,

    "q_cast" ->
      """SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS nation_l,
        |  CAST(c_custkey AS VARCHAR) AS cust_s
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q_dedup_first" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY l_orderkey
        |    ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity,
        |             l_extendedprice) AS rn
        |  FROM lineitem) WHERE rn = 1 ORDER BY l_orderkey""".stripMargin,

    "q_dedup_latest" ->
      """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY o_custkey
        |    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders) WHERE rn = 1 ORDER BY o_custkey""".stripMargin,

    "q_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_join_dim" ->
      """SELECT o_orderkey, c_name, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,

    "q_join_multikey" ->
      """SELECT a.p_partkey AS pk_a, b.p_partkey AS pk_b,
        |  a.p_retailprice AS price
        |FROM part a JOIN part b
        |  ON a.p_brand = b.p_brand AND a.p_type = b.p_type
        | AND a.p_retailprice = b.p_retailprice
        | AND a.p_partkey < b.p_partkey
        |ORDER BY pk_a, pk_b""".stripMargin,

    "q_join_star" ->
      """SELECT r_name, n_name, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,

    "q_time_derive" ->
      """SELECT o_orderkey, hour(o_orderdate) AS h,
        |  CAST(dayofmonth(o_orderdate) AS BIGINT) AS dom,
        |  CAST(weekofyear(o_orderdate) AS BIGINT) AS wk,
        |  CAST(month(o_orderdate) AS BIGINT) AS mo,
        |  CAST(year(o_orderdate) AS BIGINT) AS yr,
        |  CAST(isodow(o_orderdate) AS VARCHAR) AS dow
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_epoch_roundtrip" ->
      """SELECT event_id, epoch_ms(ts) AS ms,
        |  epoch_ms(epoch_ms(ts)) AS ts_ms
        |FROM events ORDER BY event_id""".stripMargin,

    "q_tpch3" ->
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
        |ORDER BY revenue DESC, l_orderkey LIMIT 20""".stripMargin,

    "q_tpch10" ->
      """SELECT c_custkey, c_name, n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
        |    AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey AND l_returnflag = 'R'
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "q_tpch6" ->
      """SELECT
        |  CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6)))
        |    AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,

    "q_tpch7" ->
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
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,

    "q_tpch8" ->
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
        |GROUP BY o_year ORDER BY o_year""".stripMargin,

    "q_tpch13" ->
      """SELECT c_count, COUNT(*) AS custdist FROM (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q_tpch14" ->
      """SELECT 100.0 *
        |  CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
        |      THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END
        |    AS DECIMAL(18,6))) AS DOUBLE) /
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(18,6))) AS DOUBLE) AS promo_revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-03-01'
        |  AND l_shipdate < TIMESTAMP '1997-04-01'""".stripMargin,

    "q_tpch15" ->
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
        |ORDER BY s_suppkey""".stripMargin,

    "q_tpch18" ->
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
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,

    "q_tpch19" ->
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
        |        AND l_quantity BETWEEN 20 AND 30)""".stripMargin,

    "q_tpch4" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_tpch5" ->
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
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,

    "q_tpch12" ->
      """SELECT l_linestatus,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    "q_tpch17" ->
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
        |WHERE 5 * CAST(l_quantity AS DECIMAL(18,2)) * nq < sq""".stripMargin,

    "q_tpch22" ->
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
        |GROUP BY c_nationkey ORDER BY cntry""".stripMargin,

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_group_having" ->
      """SELECT o_custkey, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
        |FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 2
        |ORDER BY o_custkey""".stripMargin,

    "q_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,

    "q_union" ->
      """SELECT c_nationkey AS k FROM customer
        |UNION SELECT s_nationkey AS k FROM supplier
        |ORDER BY k""".stripMargin,

    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin,

    "q_semi_join" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q_dedup_exact" ->
      """SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin,

    "q_text_stats" ->
      """SELECT doc_id, CAST(LENGTH(text) AS BIGINT) AS n_chars_c,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  len(list_distinct(string_split(text, ' '))) AS n_uniq_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]')) AS n_bpeish
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_lang_id" ->
      """SELECT doc_id, en_hits, de_hits, fr_hits,
        |  CASE WHEN en_hits >= de_hits AND en_hits >= fr_hits AND en_hits > 0 THEN 'en'
        |       WHEN de_hits >= fr_hits AND de_hits > 0 THEN 'de'
        |       WHEN fr_hits > 0 THEN 'fr'
        |       ELSE 'und' END AS lang_pred
        |FROM (
        |  SELECT doc_id,
        |    len(list_filter(string_split(text, ' '),
        |        x -> x IN ('the','and','of','a','is'))) AS en_hits,
        |    len(list_filter(string_split(text, ' '),
        |        x -> x IN ('der','und','die','das','ist'))) AS de_hits,
        |    len(list_filter(string_split(text, ' '),
        |        x -> x IN ('le','la','et','les','est'))) AS fr_hits
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,

    // NB retrained from scratch: add-one-smoothed per-(label, token)
    // log-probs rounded to 9 decimals and summed as DECIMAL(28,9) —
    // the bigram-LM exactness recipe — then per-doc argmax with label
    // tie-break, aggregated to the confusion matrix
    "q_nb_classify" -> nbConfusionOracle,

    // same oracle on purpose: scoring from the STORED model tables
    // must reproduce the train-and-score confusion matrix exactly
    "q_nb_stored" -> nbConfusionOracle,

    "q_logreg" -> (logregTrainCtes + "\n" +
      """SELECT CAST(1 AS BIGINT) AS iter, n, w0, w1, w2, w3 FROM ws1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), n, w0, w1, w2, w3 FROM ws2
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), n, w0, w1, w2, w3 FROM ws3
        |ORDER BY iter""".stripMargin),

    // the serve twin replays the full train unroll, then scores every
    // doc with ws3 and folds the per-source quality report
    "q_logreg_score" -> (logregTrainCtes + ",\n" +
      """sc AS (SELECT source, n_chars,
        |    round(0.5 + z / (2.0 * (1.0 + abs(z))), 9) AS score
        |  FROM (SELECT source, n_chars,
        |    CAST(ws3.w0*a0 + ws3.w1*a1 + ws3.w2*a2 + ws3.w3*a3 AS DOUBLE)
        |      / 1000000000000.0 AS z
        |  FROM f CROSS JOIN ws3) t)
        |SELECT source, COUNT(*) AS n,
        |  round(CAST(SUM(CAST(score AS DECIMAL(28,9))) AS DOUBLE)
        |    / COUNT(*), 9) AS mean_score,
        |  CAST(SUM(CASE WHEN (score >= 0.5) = (n_chars >= 300)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
        |FROM sc GROUP BY source
        |ORDER BY source""".stripMargin),

    // seed 3 → odd multiplier 7; rank is 0-based (exclusive count)
    "q_epoch_shuffle" ->
      """SELECT doc_id,
        |  CAST(row_number() OVER (
        |    ORDER BY (doc_id * 7 * 2654435761) % 4294967296, doc_id) - 1
        |    AS BIGINT) AS epoch_rank
        |FROM documents ORDER BY epoch_rank""".stripMargin,

    "q_pii_stats" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |    AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, 'https?://[^ ]+'))
        |    AS BIGINT) AS n_urls,
        |  CAST(len(regexp_extract_all(text, '[0-9]{8,}'))
        |    AS BIGINT) AS n_long_digit_runs
        |FROM documents ORDER BY doc_id""".stripMargin,

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
    "q_covariance" ->
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
        |FROM m""".stripMargin,

    "q_covariance_by_flag" ->
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
        |FROM m ORDER BY l_returnflag""".stripMargin,

    "q_k_anonymity" ->
      """SELECT c_nationkey, c_mktsegment, COUNT(*) AS n_rows
        |FROM customer GROUP BY 1, 2 HAVING COUNT(*) < 10
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin,

    // 0-based positions (generate_subscripts is 1-based); the nested
    // mod chain replays Spark's pmod(pmod(k*C, 2^32), 100) exactly —
    // all operands non-negative, so % and pmod agree
    "q_mask_tokens" ->
      """WITH tok AS (
        |  SELECT doc_id, generate_subscripts(toks, 1) - 1 AS tp,
        |         unnest(toks) AS w
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |        FROM documents)),
        |m AS (
        |  SELECT doc_id, tp,
        |    ((doc_id * 10007 + tp) * 2654435761) % 4294967296 % 100 < 15
        |      AS masked
        |  FROM tok WHERE len(w) >= 1)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |  CAST(SUM(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_masked,
        |  COALESCE(array_to_string(
        |    list(tp ORDER BY tp) FILTER (WHERE masked), ','), '')
        |    AS masked_positions
        |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_quality" ->
      """SELECT doc_id,
        |  (LEAST(CAST(LENGTH(text) AS DOUBLE) / CAST(200.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
        |   + CASE WHEN LENGTH(text) > 0
        |          THEN CAST(LENGTH(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
        |               / CAST(LENGTH(text) AS DOUBLE)
        |          ELSE CAST(0.0 AS DOUBLE) END
        |   + CASE WHEN len(string_split(text, ' ')) > 0
        |               AND CAST(LENGTH(text) AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE) >= 3
        |               AND CAST(LENGTH(text) AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE) <= 10
        |          THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.5 AS DOUBLE) END
        |  ) / CAST(3.0 AS DOUBLE) AS quality
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_chunk" ->
      """SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
        |  array_to_string(toks[(i*8+1):(i*8+16)], ' ') AS chunk
        |FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |      FROM documents WHERE doc_id < 50),
        |  unnest(range(0, greatest(
        |    CAST(ceil((len(toks) - 16) / 8.0) AS INT) + 1, 1))) AS u(i)
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    "q_redact" ->
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(text,
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      'https?://[^ ]+', '<URL>', 'g'),
        |    '[0-9]{8,}', '<NUM>', 'g') AS clean
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(text, ''), c -> CAST(unicode(c) AS BIGINT))),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    // winnowing: same char-polynomial over each 3-gram string, then the
    // min-of-window selection with the rightmost-tie rule encoded in the
    // same hash*2^21 + (2^21-1-pos) key the engine minimizes
    "q_winnow" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
        |           FROM documents),
        |g AS (SELECT doc_id, i - 1 AS pos,
        |        array_to_string(w[i:i+2], ' ') AS gram
        |      FROM t, unnest(range(1, len(w) - 3 + 2)) AS u(i)
        |      WHERE len(w) >= 3),
        |h AS (SELECT doc_id, pos,
        |        list_reduce(list_prepend(CAST(0 AS BIGINT),
        |          list_transform(string_split(gram, ''),
        |                         c -> CAST(unicode(c) AS BIGINT))),
        |          (a, b) -> (a * 31 + b) % 1000000007) * 2097152
        |          + (2097151 - pos) AS comb
        |      FROM g),
        |m AS (SELECT doc_id,
        |        min(comb) OVER (PARTITION BY doc_id ORDER BY pos
        |          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel,
        |        count(*) OVER (PARTITION BY doc_id ORDER BY pos
        |          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS n
        |      FROM h)
        |SELECT DISTINCT doc_id, sel // 2097152 AS fp,
        |  CAST(2097151 - (sel % 2097152) AS BIGINT) AS pos
        |FROM m WHERE n = 4 ORDER BY doc_id, pos""".stripMargin,

    "q_chained_jaccard" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      range(1, greatest(len(toks) - 2, 1) + 1),
        |      i -> array_to_string(toks[i:i+2], ' '))) AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
        |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
        |ORDER BY doc_a""".stripMargin,

    // brute-force twin of the prefix-filtered Spark plan: every pair
    // sharing >= 1 shingle, exact Jaccard, threshold filter
    "q_allpairs_jaccard" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      range(1, greatest(len(toks) - 2, 1) + 1),
        |      i -> array_to_string(toks[i:i+2], ' '))) AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
        |tok AS (SELECT doc_id, unnest(sh) AS tok FROM sh),
        |cand AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, jaccard FROM (
        |  SELECT doc_a, doc_b,
        |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
        |  FROM cand JOIN sh a ON a.doc_id = cand.doc_a
        |            JOIN sh b ON b.doc_id = cand.doc_b)
        |WHERE jaccard >= 0.6
        |ORDER BY doc_a, doc_b""".stripMargin,

    // truth = brute-force Jaccard >= 0.5 over the k=400 Knuth-rank doc
    // sample (replaying the Spark side's deterministic sampler);
    // candidates = the SNM window pair list over the FULL corpus;
    // completeness + reduction from the same CTEs
    "q_blocking_quality" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      range(1, greatest(len(toks) - 2, 1) + 1),
        |      i -> array_to_string(toks[i:i+2], ' '))) AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |        FROM documents)),
        |samp AS (
        |  SELECT doc_id FROM documents
        |  ORDER BY (doc_id * 2654435761) % 4294967296, doc_id
        |  LIMIT 400),
        |tok AS (SELECT sh.doc_id, unnest(sh.sh) AS tok
        |        FROM sh JOIN samp USING (doc_id)),
        |tc AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |truth AS (
        |  SELECT doc_a AS a, doc_b AS b FROM (
        |    SELECT doc_a, doc_b,
        |      CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
        |        / len(list_distinct(list_concat(x.sh, y.sh))) AS jaccard
        |    FROM tc JOIN sh x ON x.doc_id = tc.doc_a
        |            JOIN sh y ON y.doc_id = tc.doc_b)
        |  WHERE jaccard >= 0.5),
        |r AS (
        |  SELECT doc_id, lang, n_chars,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id)
        |      AS rk
        |  FROM documents),
        |snm AS (
        |  SELECT least(doc_a, doc_b) AS a, greatest(doc_a, doc_b) AS b
        |  FROM (
        |    SELECT doc_a, doc_b,
        |      CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
        |        / len(list_distinct(list_concat(x.s, y.s))) AS jaccard
        |    FROM (
        |      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |      FROM r a JOIN r b
        |        ON a.lang = b.lang AND b.rk - a.rk BETWEEN 1 AND 3)
        |    JOIN (SELECT doc_id, sh AS s FROM sh) x ON x.doc_id = doc_a
        |    JOIN (SELECT doc_id, sh AS s FROM sh) y ON y.doc_id = doc_b)
        |  WHERE jaccard >= 0.5
        |  GROUP BY 1, 2),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
        |cnts AS (
        |  SELECT
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM snm) AS n_cand,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM snm
        |     WHERE EXISTS (SELECT 1 FROM truth
        |       WHERE truth.a = snm.a AND truth.b = snm.b)) AS n_hit)
        |SELECT n_truth, n_cand, n_hit,
        |  round(CAST(n_hit AS DOUBLE) /
        |    (CASE WHEN n_truth > 0 THEN CAST(n_truth AS DOUBLE) END), 9)
        |    AS pair_completeness,
        |  round(1.0 - CAST(n_cand AS DOUBLE)
        |    / (CAST(n.n * (n.n - 1) / 2 AS DOUBLE)), 9) AS reduction_ratio
        |FROM cnts, (SELECT n FROM nn) n""".stripMargin,

    // brute-force pair list at threshold 0.5, endpoints' sources
    // canonicalized (least/greatest) and counted per cell
    "q_dup_source_matrix" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      range(1, greatest(len(toks) - 2, 1) + 1),
        |      i -> array_to_string(toks[i:i+2], ' '))) AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |        FROM documents)),
        |tok AS (SELECT doc_id, unnest(sh) AS tok FROM sh),
        |cand AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |p AS (SELECT doc_a, doc_b FROM (
        |  SELECT doc_a, doc_b,
        |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
        |  FROM cand JOIN sh a ON a.doc_id = cand.doc_a
        |            JOIN sh b ON b.doc_id = cand.doc_b)
        |  WHERE jaccard >= 0.5),
        |j AS (SELECT least(da.source, db.source) AS src_a,
        |        greatest(da.source, db.source) AS src_b
        |      FROM p JOIN documents da ON da.doc_id = p.doc_a
        |             JOIN documents db ON db.doc_id = p.doc_b)
        |SELECT src_a, src_b, count(*) AS n_pairs
        |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_sorted_neighborhood" ->
      """WITH r AS (
        |  SELECT doc_id, lang, n_chars,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id)
        |      AS rk
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      range(1, greatest(len(toks) - 2, 1) + 1),
        |      i -> array_to_string(toks[i:i+2], ' '))) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |        FROM documents)),
        |cand AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM r a JOIN r b
        |    ON a.lang = b.lang AND b.rk - a.rk BETWEEN 1 AND 3)
        |SELECT doc_a, doc_b, jaccard FROM (
        |  SELECT doc_a, doc_b,
        |    CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
        |      / len(list_distinct(list_concat(x.s, y.s))) AS jaccard
        |  FROM cand JOIN sh x ON x.doc_id = doc_a
        |            JOIN sh y ON y.doc_id = doc_b)
        |WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b""".stripMargin,

    "q_apss_cosine" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents),
        |-- full windows only (empty for docs under 3 tokens), matching
        |-- the engine's shingleStrings semantics
        |sh AS (SELECT doc_id, array_to_string(toks[i:i+2], ' ') AS tok
        |       FROM t,
        |         unnest(range(1, greatest(len(toks) - 1, 1))) AS u(i)),
        |tk AS (SELECT doc_id, tok, COUNT(*) AS tf FROM sh GROUP BY 1, 2),
        |nm AS (SELECT doc_id, sqrt(CAST(SUM(tf * tf) AS DOUBLE)) AS nrm
        |       FROM tk GROUP BY 1),
        |w AS (SELECT doc_id, tok, CAST(tf AS DOUBLE) / nrm AS w
        |      FROM tk JOIN nm USING (doc_id)),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |        CAST(SUM(CAST(round(a.w * b.w, 9) AS DECIMAL(28,9)))
        |          AS DOUBLE) AS cos_sim
        |      FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2)
        |SELECT doc_a, doc_b, cos_sim FROM p WHERE cos_sim >= 0.6
        |ORDER BY doc_a, doc_b""".stripMargin,

    // brute-force twin of the asymmetric prefix-filtered containment join
    "q_containment" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      range(1, greatest(len(toks) - 2, 1) + 1),
        |      i -> array_to_string(toks[i:i+2], ' '))) AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
        |tok AS (SELECT doc_id, unnest(sh) AS tok FROM sh),
        |cand AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, containment FROM (
        |  SELECT doc_a, doc_b,
        |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh)
        |      AS containment
        |  FROM cand JOIN sh a ON a.doc_id = cand.doc_a
        |            JOIN sh b ON b.doc_id = cand.doc_b)
        |WHERE containment >= 0.9
        |ORDER BY doc_a, doc_b""".stripMargin,

    // brute-force truth count for the LSH recall audit over the SAME
    // Knuth-hash-rank-400 doc sample the engine uses (the sampled-truth
    // contract: truth join O(400²)-bounded whatever the corpus size);
    // pairs with exact 3-gram-shingle Jaccard >= 0.8; verdict asserted
    // TRUE
    "q_minhash_audit" ->
      """WITH samp AS (
        |  SELECT doc_id, text FROM documents
        |  ORDER BY (doc_id * 2654435761) % 4294967296, doc_id
        |  LIMIT 400),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      range(1, greatest(len(toks) - 2, 1) + 1),
        |      i -> array_to_string(toks[i:i+2], ' '))) AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM samp)),
        |tok AS (SELECT doc_id, unnest(sh) AS tok FROM sh),
        |cand AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT CAST(count(*) AS BIGINT) AS truth, TRUE AS recall_ok FROM (
        |  SELECT CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
        |  FROM cand JOIN sh a ON a.doc_id = cand.doc_a
        |            JOIN sh b ON b.doc_id = cand.doc_b)
        |WHERE jaccard >= 0.8""".stripMargin,

    // the perturbed-copy corpus (withPerturbedCopies) rebuilt in SQL:
    // ids shifted by 1e6, last two tokens dropped (keeping >= 1); truth
    // over the SAME Knuth-rank-400 sample of the doubled id space the
    // engine uses
    "q_minhash_neardup" ->
      """WITH toks0 AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |d0 AS (SELECT doc_id, toks FROM toks0
        |      UNION ALL
        |      SELECT doc_id + 1000000, toks[1:greatest(len(toks)-2,1)] FROM toks0),
        |d AS (SELECT doc_id, toks FROM d0
        |      ORDER BY (doc_id * 2654435761) % 4294967296, doc_id
        |      LIMIT 400),
        |sh AS (SELECT doc_id, list_distinct(list_transform(
        |         range(1, greatest(len(toks) - 2, 1) + 1),
        |         i -> array_to_string(toks[i:i+2], ' '))) AS sh FROM d),
        |tok AS (SELECT doc_id, unnest(sh) AS tok FROM sh),
        |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |         FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |         GROUP BY 1, 2)
        |SELECT CAST(count(*) AS BIGINT) AS truth, TRUE AS recall_ok FROM (
        |  SELECT CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
        |  FROM cand JOIN sh a ON a.doc_id = cand.doc_a
        |            JOIN sh b ON b.doc_id = cand.doc_b)
        |WHERE jaccard >= 0.8""".stripMargin,

    // truth = identical distinct-token sets over the same perturbed
    // corpus; recall is exactly 1.0 by the chunk pigeonhole (see the
    // query comment), so recall_ok is a constant TRUE assertion
    "q_simhash_neardup" ->
      """WITH toks0 AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |d AS (SELECT doc_id, toks FROM toks0
        |      UNION ALL
        |      SELECT doc_id + 1000000, toks[1:greatest(len(toks)-2,1)] FROM toks0),
        |k AS (SELECT doc_id, list_sort(list_distinct(toks)) AS key FROM d)
        |SELECT CAST(count(*) AS BIGINT) AS truth, TRUE AS recall_ok
        |FROM k a JOIN k b ON a.key = b.key AND a.doc_id < b.doc_id""".stripMargin,

    // from-scratch truth of the rolled-forward summary: final state =
    // doc_id < 40 with the [10,20) rows carrying their +1000 update
    "q_incremental_view" ->
      """WITH st AS (
        |  SELECT source,
        |    CASE WHEN doc_id >= 10 AND doc_id < 20 THEN n_chars + 1000
        |         ELSE n_chars END AS v
        |  FROM documents WHERE doc_id < 40)
        |SELECT source, count(*) AS n_rows,
        |  CAST(sum(CAST(v AS DECIMAL(18,6))) AS DOUBLE) AS sum_v
        |FROM st GROUP BY source ORDER BY source""".stripMargin,

    // closed-form lifecycle: commit 1 ships (doc_id, lang) only, commit
    // 2 evolves in n_chars — history null-fills, v1 stays 2 columns
    "q_schema_evolution" ->
      """SELECT doc_id, lang,
        |  CASE WHEN doc_id >= 50 THEN n_chars ELSE NULL END AS n_chars,
        |  CAST(2 AS BIGINT) AS v1_cols
        |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin,

    // closed-form lifecycle: the clean batch (doc_id < 100) commits,
    // the negated-n_chars batch violates in_range on every row and is
    // rejected, so the table holds exactly the first batch
    // restore(v1) makes the read-back the v1 snapshot verbatim — the
    // bad batch's rows are gone iff the rollback round-tripped
    "q_restore" ->
      """SELECT doc_id, source FROM documents
        |WHERE doc_id < 200 ORDER BY doc_id""".stripMargin,

    "q_expectations" ->
      """WITH c1 AS (SELECT count(*) AS n FROM documents
        |            WHERE doc_id < 100),
        |c2 AS (SELECT count(*) AS n FROM documents WHERE doc_id >= 100)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS attempt,
        |    'in_range(n_chars)' AS rule, 'n_chars' AS "column",
        |    c1.n AS n_rows, CAST(0 AS BIGINT) AS violations,
        |    TRUE AS passed, TRUE AS committed, c1.n AS table_rows
        |  FROM c1
        |  UNION ALL
        |  SELECT 1, 'not_null(lang)', 'lang', c1.n, 0, TRUE, TRUE, c1.n
        |  FROM c1
        |  UNION ALL
        |  SELECT 2, 'in_range(n_chars)', 'n_chars', c2.n, c2.n, FALSE,
        |    FALSE, c1.n
        |  FROM c1, c2
        |  UNION ALL
        |  SELECT 2, 'not_null(lang)', 'lang', c2.n, 0, TRUE, FALSE, c1.n
        |  FROM c1, c2)
        |ORDER BY attempt, rule""".stripMargin,

    "q_dim_variance" ->
      """WITH x AS (SELECT i - 1 AS dim,
        |             CAST(embedding[i] AS DOUBLE) AS v
        |           FROM embeddings,
        |             unnest(range(1, len(embedding) + 1)) AS u(i)),
        |a AS (SELECT CAST(dim AS BIGINT) AS dim, count(*) AS n,
        |        CAST(sum(CAST(v AS DECIMAL(28,9))) AS DOUBLE) AS s,
        |        CAST(sum(CAST(v * v AS DECIMAL(28,9))) AS DOUBLE) AS s2,
        |        min(v) AS min_v, max(v) AS max_v
        |      FROM x GROUP BY 1)
        |SELECT dim, n, round(s / n, 9) AS mean,
        |  round((CAST(n AS DOUBLE) * s2 - s * s) / (n * n), 9)
        |    AS variance,
        |  min_v, max_v
        |FROM a ORDER BY dim""".stripMargin,

    // LASER ratio margin unrolled: best pair per source, neighborhood
    // sums as exact DECIMAL of 9-dec-rounded sims, one fixed-order
    // double division at the end
    "q_bitext_margin" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |a AS (SELECT * FROM e WHERE label = 0),
        |b AS (SELECT * FROM e WHERE label = 1),
        |s AS (
        |  SELECT a.vec_id AS src_id, b.vec_id AS tgt_id,
        |    round(list_dot_product(a.v, b.v)
        |      / (sqrt(list_dot_product(a.v, a.v))
        |         * sqrt(list_dot_product(b.v, b.v))), 9) AS sim
        |  FROM a CROSS JOIN b),
        |tx AS (SELECT *, row_number() OVER (
        |    PARTITION BY src_id ORDER BY sim DESC, tgt_id) AS rx FROM s),
        |sx AS (SELECT src_id,
        |    CAST(SUM(CAST(sim AS DECIMAL(28,9))) AS DOUBLE) AS sumx
        |  FROM tx WHERE rx <= 4 GROUP BY src_id),
        |ty AS (SELECT *, row_number() OVER (
        |    PARTITION BY tgt_id ORDER BY sim DESC, src_id) AS ry FROM s),
        |sy AS (SELECT tgt_id,
        |    CAST(SUM(CAST(sim AS DECIMAL(28,9))) AS DOUBLE) AS sumy
        |  FROM ty WHERE ry <= 4 GROUP BY tgt_id),
        |best AS (SELECT src_id, tgt_id, sim FROM tx WHERE rx = 1)
        |SELECT best.src_id, best.tgt_id, best.sim,
        |  round(8 * best.sim / (sumx + sumy), 9) AS margin
        |FROM best JOIN sx USING (src_id) JOIN sy USING (tgt_id)
        |ORDER BY best.src_id""".stripMargin,

    // centroid = per-dim exact-DECIMAL SUM (same direction as the
    // mean, no division → no decimal round-half ties) cast through
    // REAL (the float the Spark centroid array carries)
    "q_source_coherence" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |x AS (SELECT label, vec_id, unnest(v) AS val,
        |             generate_subscripts(v, 1) AS dim FROM e),
        |m AS (SELECT label, dim,
        |    CAST(CAST(CAST(SUM(CAST(val AS DECIMAL(28,9))) AS DOUBLE)
        |      AS REAL) AS DOUBLE) AS mv
        |  FROM x GROUP BY label, dim),
        |c AS (SELECT label, list(mv ORDER BY dim) AS cent
        |      FROM m GROUP BY label),
        |s AS (SELECT e.label, e.vec_id,
        |    round(list_dot_product(e.v, c.cent)
        |      / (sqrt(list_dot_product(e.v, e.v))
        |         * sqrt(list_dot_product(c.cent, c.cent))), 9) AS cs
        |  FROM e JOIN c USING (label))
        |SELECT label AS grp, CAST(COUNT(*) AS BIGINT) AS n,
        |  round(CAST(SUM(CAST(cs AS DECIMAL(28,9))) AS DOUBLE)
        |    / COUNT(*), 9) AS mean_cos,
        |  min(cs) AS min_cos,
        |  CAST(SUM(CASE WHEN cs < 0.0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_below
        |FROM s GROUP BY label ORDER BY grp""".stripMargin,

    "q_cosine_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT * FROM e WHERE vec_id < 10),
        |s AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_dot_product(q.v, c.v)
        |      / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS sim
        |  FROM q JOIN e c ON c.vec_id <> q.vec_id)
        |SELECT query_id, neighbor_id, rank, sim FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM s) WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    "q_hard_negatives" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
        |           FROM embeddings),
        |a AS (SELECT * FROM e WHERE vec_id % 37 = 0),
        |s AS (
        |  SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
        |    c.vec_id AS cand_id, c.label AS cand_label,
        |    list_dot_product(a.v, c.v)
        |      / (sqrt(list_dot_product(a.v, a.v))
        |         * sqrt(list_dot_product(c.v, c.v))) AS sim
        |  FROM a JOIN e c ON c.vec_id <> a.vec_id),
        |x AS (
        |  SELECT *,
        |    max(CASE WHEN cand_label = anchor_label THEN sim END)
        |      OVER (PARTITION BY anchor_id) AS sim_pos,
        |    row_number() OVER (
        |      PARTITION BY anchor_id, (cand_label <> anchor_label)
        |      ORDER BY sim DESC, cand_id) AS rank
        |  FROM s)
        |SELECT anchor_id, anchor_label, cand_id AS negative_id, rank,
        |  sim AS sim_neg, sim_pos, (sim < sim_pos) AS semi_hard
        |FROM x WHERE cand_label <> anchor_label AND rank <= 3
        |ORDER BY anchor_id, rank""".stripMargin,

    "q_json_extract" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin,

    "q_json_parse" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_struct,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_map
        |FROM events ORDER BY event_id""".stripMargin,

    "q_event_hourly" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS w_start,
        |  event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // same quantize + bit-interleave formula as Layout.zvalue, replayed
    // in closed-form SQL (integer div + shift/and/or — engine-exact)
    "q_zorder" ->
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
        |FROM z GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 3600000
        |         THEN 1 ELSE 0 END AS newf
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |), sess AS (
        |  SELECT *, SUM(newf) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged)
        |SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,

    "q_count_distinct" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // the HLL sketch value is engine-specific; the oracle checks the
    // exact companion count and asserts the tolerance verdict is true
    "q_approx_users" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
        |  TRUE AS within_tol
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_gap_stats" ->
      """WITH g AS (
        |  SELECT event_type,
        |    lead(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) - epoch_us(ts) AS gap
        |  FROM events)
        |SELECT event_type, COUNT(*) AS n_gaps,
        |  CAST(SUM(gap) AS BIGINT) AS sum_gap_us,
        |  CAST(MIN(gap) AS BIGINT) AS min_gap_us,
        |  CAST(MAX(gap) AS BIGINT) AS max_gap_us
        |FROM g WHERE gap IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_transition_matrix" ->
      """WITH pairs AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS to_type
        |  FROM events),
        |cnt AS (
        |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        |  FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  CAST(n AS DOUBLE)
        |    / CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS prob
        |FROM cnt ORDER BY from_type, to_type""".stripMargin,

    "q_attribution" ->
      """WITH w AS (
        |  SELECT event_type, value,
        |    first_value(CASE WHEN event_type IN ('click', 'view')
        |                     THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS ft,
        |    last_value(CASE WHEN event_type IN ('click', 'view')
        |                    THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS lt
        |  FROM events)
        |SELECT coalesce(ft, '(none)') AS first_touch,
        |  coalesce(lt, '(none)') AS last_touch,
        |  COUNT(*) AS n_conversions,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM w WHERE event_type = 'purchase'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // per-conversion shares = windowed touch counts / path length,
    // 9-dec rounded then DECIMAL-summed like the engine
    "q_linear_attribution" ->
      """WITH w AS (
        |  SELECT event_type, CAST(value AS DOUBLE) AS v,
        |    COALESCE(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS c_click,
        |    COALESCE(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS c_view
        |  FROM events),
        |conv AS (SELECT *, c_click + c_view AS n FROM w
        |         WHERE event_type = 'purchase'),
        |rows_ AS (
        |  SELECT 'click' AS touch_type,
        |    round(CAST(c_click AS DOUBLE) / n, 9) AS credit, v
        |  FROM conv WHERE n > 0
        |  UNION ALL
        |  SELECT 'view', round(CAST(c_view AS DOUBLE) / n, 9), v
        |  FROM conv WHERE n > 0
        |  UNION ALL
        |  SELECT '(none)', 1.0, v FROM conv WHERE n = 0),
        |agg AS (
        |  SELECT touch_type,
        |    round(CAST(SUM(CAST(credit AS DECIMAL(28,9))) AS DOUBLE), 9)
        |      AS credit,
        |    round(CAST(SUM(CAST(round(credit * v, 6) AS DECIMAL(28,6)))
        |      AS DOUBLE), 6) AS revenue_credit
        |  FROM rows_ GROUP BY 1)
        |SELECT * FROM agg WHERE credit > 0
        |ORDER BY touch_type""".stripMargin,

    // within-source Knuth-hash rank, round-robin ord over the
    // alphabetical source index
    "q_interleave" ->
      """WITH si AS (
        |  SELECT source,
        |    row_number() OVER (ORDER BY source) - 1 AS idx,
        |    (SELECT COUNT(DISTINCT source) FROM documents) AS ns
        |  FROM (SELECT DISTINCT source FROM documents)),
        |r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY (doc_id * 2654435761) % 4294967296, doc_id) AS rk
        |  FROM documents)
        |SELECT doc_id, r.source,
        |  CAST((rk - 1) * ns + idx AS BIGINT) AS ord
        |FROM r JOIN si ON si.source = r.source
        |ORDER BY ord""".stripMargin,

    // the quantile-sketch value is engine-specific; the oracle reproduces
    // the exact percentile and asserts the rank-guarantee verdict
    "q_approx_percentile" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 9) AS p_value,
        |  TRUE AS within_tol
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // closed-form fixture (see the queries entry): clusters are the
    // div-4 groups; the survivor is each group's minimum doc_id
    "q_dedup_clusters" ->
      """SELECT MIN(doc_id) AS doc_id FROM documents
        |GROUP BY doc_id // 4 ORDER BY doc_id""".stripMargin,

    // keep-best fixture: survivor per div-4 group = quality argmax,
    // min-id tie-break
    "q_dedup_keep_best" ->
      """SELECT doc_id, quality FROM (
        |  SELECT doc_id, (doc_id * 7) % 13 AS quality,
        |    row_number() OVER (PARTITION BY doc_id // 4
        |      ORDER BY (doc_id * 7) % 13 DESC, doc_id) AS rn
        |  FROM documents)
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    // cluster = component label = min id of the sqrt group = g^2;
    // weight = 1 / group size via the same unordered count window
    "q_soft_dedup" ->
      """WITH g AS (SELECT doc_id,
        |             CAST(FLOOR(SQRT(CAST(doc_id AS DOUBLE))) AS BIGINT)
        |               AS gr
        |           FROM documents)
        |SELECT doc_id, gr * gr AS cluster,
        |  round(1.0 / count(*) OVER (PARTITION BY gr), 9) AS weight
        |FROM g ORDER BY doc_id""".stripMargin,

    // incremental-ingest fixture (see the queries entry): survivors =
    // the batch docs (doc_id%4<>0) of odd div-4 groups
    "q_dedup_incremental" ->
      """SELECT doc_id FROM documents
        |WHERE doc_id % 4 <> 0 AND (doc_id // 4) % 2 = 1
        |ORDER BY doc_id""".stripMargin,

    // refresh fixture: base (%4==0) and batch1 (%4==1) always in; of
    // batch2 (%4==2) only the odd-group v<g> docs survive the extended
    // index; %4==3 never ingested
    "q_incremental_refresh" ->
      """SELECT doc_id FROM documents
        |WHERE doc_id % 4 IN (0, 1)
        |   OR (doc_id % 4 = 2 AND (doc_id // 4) % 2 = 1)
        |ORDER BY doc_id""".stripMargin,

    // lifecycle split halves: build = signature-index shape (8 band
    // rows per corpus doc), probe = survivor membership vs the
    // standing corpus-only index (batch2's corpus-dups die, nothing
    // else does)
    "q_refresh_build" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |CAST(COUNT(*) * 8 AS BIGINT) AS n_sig_rows
        |FROM documents WHERE doc_id % 4 = 0""".stripMargin,

    "q_refresh_probe" ->
      """SELECT doc_id FROM documents
        |WHERE doc_id % 4 = 1
        |   OR (doc_id % 4 = 2 AND (doc_id // 4) % 2 = 1)
        |ORDER BY doc_id""".stripMargin,

    // simhash fixture: pair set = in-group pairs at hamming 0
    "q_simhash_fixture" ->
      """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(0 AS INT) AS hamming
        |FROM documents a JOIN documents b
        |  ON a.doc_id // 4 = b.doc_id // 4 AND a.doc_id < b.doc_id
        |ORDER BY doc_a, doc_b""".stripMargin,

    // ANN recall audits: the oracle asserts the query count, the exact
    // truth size (n_queries × k — every query has k true neighbors in
    // this corpus) and that the recall verdict holds
    "q_ann_lsh" ->
      """SELECT CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id < 20)
        |  AS BIGINT) AS n_queries,
        |CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id < 20) * 10
        |  AS BIGINT) AS truth,
        |TRUE AS recall_ok""".stripMargin,

    "q_ann_ivf" ->
      """SELECT CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id < 20)
        |  AS BIGINT) AS n_queries,
        |CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id < 20) * 10
        |  AS BIGINT) AS truth,
        |TRUE AS recall_ok""".stripMargin,

    "q_ann_ivf_kmeans" ->
      """SELECT CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id < 20)
        |  AS BIGINT) AS n_queries,
        |CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id < 20) * 10
        |  AS BIGINT) AS truth,
        |TRUE AS recall_ok""".stripMargin,

    "q_ann_ivf_indexed" ->
      """SELECT CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id < 20)
        |  AS BIGINT) AS n_queries,
        |CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id < 20) * 10
        |  AS BIGINT) AS truth,
        |TRUE AS recall_ok""".stripMargin,

    "q_ann_ivf_append" ->
      """SELECT CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id < 20)
        |  AS BIGINT) AS n_queries,
        |CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id < 20) * 10
        |  AS BIGINT) AS truth,
        |TRUE AS recall_ok""".stripMargin,

    "q_ann_ivf_append_probe" ->
      """SELECT CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id < 20)
        |  AS BIGINT) AS n_queries,
        |CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id < 20) * 10
        |  AS BIGINT) AS truth,
        |TRUE AS recall_ok""".stripMargin,

    "q_ann_ivf_build" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
        |CAST(16 AS BIGINT) AS n_centroids,
        |TRUE AS assign_ok
        |FROM embeddings""".stripMargin,

    "q_ann_ivf_probe" ->
      """SELECT CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id < 20)
        |  AS BIGINT) AS n_queries,
        |CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id < 20) * 10
        |  AS BIGINT) AS truth,
        |TRUE AS recall_ok""".stripMargin,

    "q_ann_pq" ->
      """SELECT CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id < 20)
        |  AS BIGINT) AS n_queries,
        |CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id < 20) * 10
        |  AS BIGINT) AS truth,
        |TRUE AS recall_ok""".stripMargin,

    "q_ann_pq_build" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
        |CAST(256 AS BIGINT) AS n_codebook,
        |TRUE AS codes_ok
        |FROM embeddings""".stripMargin,

    "q_ann_pq_probe" ->
      """SELECT CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id < 20)
        |  AS BIGINT) AS n_queries,
        |CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id < 20) * 10
        |  AS BIGINT) AS truth,
        |TRUE AS recall_ok""".stripMargin,

    // brute-force all-pairs twin of the cluster-bounded keep-first:
    // agreement argued in the queries entry (planted exact copies only
    // at >= 0.99; identical vectors always co-cluster)
    "q_semdedup" ->
      """WITH c AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000, CAST(embedding AS DOUBLE[])
        |  FROM embeddings WHERE vec_id < 100),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm
        |      FROM c),
        |d AS (SELECT a.vec_id,
        |        CAST(COUNT(b.vec_id) AS BIGINT) AS n_dups_smaller
        |      FROM n a LEFT JOIN n b
        |        ON b.vec_id < a.vec_id
        |       AND list_dot_product(a.v, b.v) >= 0.99 * a.nrm * b.nrm
        |      GROUP BY 1)
        |SELECT vec_id, n_dups_smaller, n_dups_smaller = 0 AS kept
        |FROM d ORDER BY vec_id""".stripMargin,

    // brute-force truth for the cell-bounded audit over the SAME
    // bounded sample the engine audits (forced planted originals +
    // Knuth-hash-rank top-1000 organic background): the perturbed
    // copies reconstructed bit-exactly (double multiply, FLOAT-rounded
    // like the engine's array<float> cast; DuckDB's list_transform
    // index is 1-based, hence i - 1), truth counted by exhaustive
    // cosine; the recall verdict is asserted TRUE like the ANN audits
    "q_semdedup_audit" ->
      """WITH c AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  WHERE vec_id < 100
        |  UNION ALL
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM (SELECT vec_id, embedding FROM embeddings
        |        WHERE vec_id >= 100
        |        ORDER BY (vec_id * 2654435761) % 4294967296, vec_id
        |        LIMIT 1000)
        |  UNION ALL
        |  SELECT vec_id + 1000000,
        |    CAST(CAST(list_transform(CAST(embedding AS DOUBLE[]),
        |      (x, i) -> x * (1.0 + (CAST((vec_id + i - 1) % 7 AS DOUBLE)
        |        - 3.0) / 10.0)) AS FLOAT[]) AS DOUBLE[])
        |  FROM embeddings WHERE vec_id < 100),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm
        |      FROM c),
        |tr AS (
        |  SELECT COUNT(DISTINCT a.vec_id) AS truth
        |  FROM n a JOIN n b
        |    ON b.vec_id < a.vec_id
        |   AND list_dot_product(a.v, b.v) >= 0.95 * a.nrm * b.nrm)
        |SELECT CAST(truth AS BIGINT) AS truth, TRUE AS recall_ok
        |FROM tr""".stripMargin,

    // brute-force NOT EXISTS twin of the LSH-banded semantic anti-join
    "q_semantic_decontam" ->
      """WITH tr AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |ev AS (
        |  SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  WHERE vec_id < 100)
        |SELECT tr.vec_id FROM tr WHERE NOT EXISTS (
        |  SELECT 1 FROM ev
        |  WHERE list_dot_product(tr.v, ev.v)
        |      / (sqrt(list_dot_product(tr.v, tr.v))
        |         * sqrt(list_dot_product(ev.v, ev.v))) >= 0.99)
        |ORDER BY tr.vec_id""".stripMargin,

    // planted exact-duplicate pairs only: brute-force cosine over the
    // union corpus at threshold 0.99 (organic max ~0.51)
    "q_embed_neardup" ->
      """WITH c AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000, CAST(embedding AS DOUBLE[])
        |  FROM embeddings WHERE vec_id < 100)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  list_dot_product(a.v, b.v)
        |    / (sqrt(list_dot_product(a.v, a.v))
        |       * sqrt(list_dot_product(b.v, b.v))) AS sim
        |FROM c a JOIN c b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(a.v, b.v)
        |    / (sqrt(list_dot_product(a.v, a.v))
        |       * sqrt(list_dot_product(b.v, b.v))) >= 0.99
        |ORDER BY vec_a, vec_b""".stripMargin,

    // closed-form fixture (see the queries entry): survivor per
    // g = doc_id div 3 group is the minimum present doc_id; its text is
    // 'tok<g>' repeated 4 times (6 for a lone 3g+2 survivor)
    "q_corpus_clean" ->
      """WITH survivors AS (
        |  SELECT CAST(doc_id // 3 AS BIGINT) AS g,
        |         MIN(doc_id) AS doc_id
        |  FROM documents GROUP BY 1)
        |SELECT doc_id,
        |  rtrim(repeat('tok' || CAST(g AS VARCHAR) || ' ',
        |    CASE WHEN doc_id % 3 = 2 THEN 6 ELSE 4 END)) AS text
        |FROM survivors ORDER BY doc_id""".stripMargin,

    // closed-form end-to-end: survivors (identical-shingle-set fixture,
    // certain LSH recall) → 50%-bucket sample → cum-before div packing,
    // boundary offsets via per-index prefix list_sum
    "q_prepare" ->
      """WITH survivors AS (
        |  SELECT CAST(doc_id // 3 AS BIGINT) AS g, MIN(doc_id) AS doc_id
        |  FROM documents GROUP BY 1),
        |surv AS (
        |  SELECT s.doc_id,
        |    rtrim(repeat('tok' || CAST(s.g AS VARCHAR) || ' ',
        |      CASE WHEN s.doc_id % 3 = 2 THEN 6 ELSE 4 END)) AS text,
        |    d.source
        |  FROM survivors s JOIN documents d ON d.doc_id = s.doc_id),
        |samp AS (SELECT * FROM surv WHERE doc_id % 100 < 50),
        |packed AS (
        |  SELECT source, doc_id, text, CAST(length(text) AS BIGINT) AS len,
        |    CAST(COALESCE(SUM(length(text)) OVER (PARTITION BY source
        |      ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      // 60 AS BIGINT) AS shard
        |  FROM samp),
        |g2 AS (
        |  SELECT source, shard,
        |    string_agg(text, ' <eos> ' ORDER BY doc_id) AS seq,
        |    list(doc_id ORDER BY doc_id) AS doc_ids,
        |    list(len ORDER BY doc_id) AS doc_lens
        |  FROM packed GROUP BY source, shard)
        |SELECT source, shard, seq,
        |  COALESCE(array_to_string(doc_ids, ','), '') AS doc_ids,
        |  COALESCE(array_to_string(doc_lens, ','), '') AS doc_lens,
        |  COALESCE(array_to_string(
        |    list_transform(range(1, len(doc_lens) + 1),
        |      i -> CAST(COALESCE(list_sum(doc_lens[1:i-1]), 0) AS BIGINT)),
        |    ','), '') AS doc_starts
        |FROM g2 ORDER BY source, shard""".stripMargin,

    // q_prepare's pipeline with the sampling percent derived per source
    // from the budget waterfall (one-cascade structure as q_budget_alloc;
    // the fixture never caps, so r1 reduces to the uniform share)
    "q_prepare_budget" ->
      """WITH survivors AS (
        |  SELECT CAST(doc_id // 3 AS BIGINT) AS g, MIN(doc_id) AS doc_id
        |  FROM documents GROUP BY 1),
        |surv AS (
        |  SELECT s.doc_id,
        |    rtrim(repeat('tok' || CAST(s.g AS VARCHAR) || ' ',
        |      CASE WHEN s.doc_id % 3 = 2 THEN 6 ELSE 4 END)) AS text,
        |    d.source
        |  FROM survivors s JOIN documents d ON d.doc_id = s.doc_id),
        |avail AS (
        |  SELECT source, CAST(SUM(length(text)) AS BIGINT) AS avail
        |  FROM surv GROUP BY 1),
        |b AS (SELECT CAST(SUM(avail) // 2 AS BIGINT) AS budget FROM avail),
        |r1 AS (
        |  SELECT avail.*, b.budget,
        |    CAST(b.budget // (SELECT count(*) FROM avail) AS BIGINT)
        |      >= avail AS capped
        |  FROM avail, b),
        |agg AS (
        |  SELECT
        |    CAST(sum(CASE WHEN capped THEN avail ELSE 0 END) AS BIGINT)
        |      AS taken,
        |    CAST(sum(CASE WHEN NOT capped THEN 1 ELSE 0 END) AS BIGINT)
        |      AS sumw2
        |  FROM r1),
        |rate AS (
        |  SELECT r1.source,
        |    CAST(round(CAST(CASE WHEN r1.capped THEN r1.avail
        |      ELSE (r1.budget - agg.taken) // agg.sumw2 END AS DOUBLE)
        |      / r1.avail * 100, 0) AS BIGINT) AS pct
        |  FROM r1, agg),
        |samp AS (
        |  SELECT surv.* FROM surv JOIN rate USING (source)
        |  WHERE doc_id % 100 < pct),
        |packed AS (
        |  SELECT source, doc_id, text, CAST(length(text) AS BIGINT) AS len,
        |    CAST(COALESCE(SUM(length(text)) OVER (PARTITION BY source
        |      ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      // 60 AS BIGINT) AS shard
        |  FROM samp),
        |g2 AS (
        |  SELECT source, shard,
        |    string_agg(text, ' <eos> ' ORDER BY doc_id) AS seq,
        |    list(doc_id ORDER BY doc_id) AS doc_ids,
        |    list(len ORDER BY doc_id) AS doc_lens
        |  FROM packed GROUP BY source, shard)
        |SELECT source, shard, seq,
        |  COALESCE(array_to_string(doc_ids, ','), '') AS doc_ids,
        |  COALESCE(array_to_string(doc_lens, ','), '') AS doc_lens,
        |  COALESCE(array_to_string(
        |    list_transform(range(1, len(doc_lens) + 1),
        |      i -> CAST(COALESCE(list_sum(doc_lens[1:i-1]), 0) AS BIGINT)),
        |    ','), '') AS doc_starts
        |FROM g2 ORDER BY source, shard""".stripMargin,

    // closed-form attrition outcomes of the q_corpus_clean fixture
    // covered groups ((doc_id//3)%5=0) scrub to empty against the eval
    // fixture and die first; the rest keep the original ladder outcomes
    "q_clean_report" ->
      """SELECT doc_id,
        |  CASE WHEN (doc_id // 3) % 5 = 0 THEN 'contam_scrubbed'
        |       WHEN doc_id % 3 = 1 THEN 'exact_dup'
        |       WHEN doc_id % 3 = 2 THEN 'near_dup'
        |       ELSE 'kept' END AS outcome
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_sample_mix" ->
      """SELECT doc_id, source FROM documents
        |WHERE doc_id % 100 < CASE source
        |  WHEN 'src0' THEN 100 WHEN 'src1' THEN 50
        |  WHEN 'src2' THEN 25 WHEN 'src3' THEN 10 ELSE 0 END
        |ORDER BY doc_id""".stripMargin,

    "q_pack_budget" ->
      """SELECT doc_id, source, n_chars,
        |  CAST(COALESCE(SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 1000
        |    AS BIGINT) AS shard
        |FROM documents ORDER BY doc_id""".stripMargin,

    // interior quartile boundaries via quantile_cont (the exact
    // interpolated percentile Spark's `percentile` computes); a doc's
    // bucket = 1 + #boundaries strictly below its token count
    "q_length_buckets" ->
      """WITH l AS (SELECT doc_id,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS tok_len
        |           FROM documents),
        |b AS (SELECT quantile_cont(tok_len, [0.25, 0.5, 0.75]) AS bs FROM l),
        |a AS (SELECT tok_len,
        |        CAST(1 + len(list_filter(b.bs, x -> x < tok_len)) AS BIGINT)
        |          AS bucket
        |      FROM l, b)
        |SELECT bucket, count(*) AS n_docs,
        |  min(tok_len) AS min_len, max(tok_len) AS max_len,
        |  CASE WHEN max(tok_len) > 0 THEN
        |    round(CAST(count(*) * max(tok_len) - sum(tok_len) AS DOUBLE)
        |      / (count(*) * max(tok_len)), 9)
        |  ELSE 0.0 END AS pad_frac
        |FROM a GROUP BY bucket ORDER BY bucket""".stripMargin,

    "q_multimodal_meta" ->
      """SELECT doc_id AS media_id, 'image/stub' AS media_type,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  substring(hex(encode(text)), 1, 16) AS header_hex
        |FROM documents ORDER BY media_id""".stripMargin,

    // byte-statistics twins of the closed-form stub codec: the corpus is
    // ASCII (asserted by the n_bytes check riding every row — strlen =
    // octet_length only then), so ord(char) IS the payload byte
    "q_media_features" ->
      """WITH b AS (
        |  SELECT doc_id, strlen(text) AS n_bytes, ord(c) AS byte
        |  FROM (SELECT doc_id, text, unnest(string_split(text, '')) AS c
        |        FROM documents))
        |SELECT doc_id AS media_id, CAST(any_value(n_bytes) AS BIGINT) AS n_bytes,
        |  CAST(sum(byte % 16) AS BIGINT) AS mod_checksum,
        |  CAST(sum(CASE WHEN byte % 16 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS f0_count
        |FROM b GROUP BY doc_id ORDER BY media_id""".stripMargin,

    "q_media_embed" ->
      """WITH b AS (
        |  SELECT doc_id, strlen(text) AS n_bytes, ord(c) AS byte
        |  FROM (SELECT doc_id, text, unnest(string_split(text, '')) AS c
        |        FROM documents))
        |SELECT doc_id AS media_id, CAST(any_value(n_bytes) AS BIGINT) AS n_bytes,
        |  CAST(sum(byte % 8) AS BIGINT) AS mod_checksum,
        |  CAST(sum(CASE WHEN byte % 8 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS f0_count
        |FROM b GROUP BY doc_id ORDER BY media_id""".stripMargin,

    "q_media_frames" ->
      """WITH f AS (
        |  SELECT doc_id, text,
        |    unnest(range(0,
        |      greatest(CAST(ceil(strlen(text)/32.0) AS BIGINT), 1), 2))
        |      AS frame_idx
        |  FROM documents)
        |SELECT doc_id AS media_id, frame_idx,
        |  CAST(strlen(substr(text, CAST(frame_idx*32+1 AS INT), 32)) AS BIGINT)
        |    AS frame_bytes,
        |  md5(substr(text, CAST(frame_idx*32+1 AS INT), 32)) AS frame_md5
        |FROM f ORDER BY media_id, frame_idx""".stripMargin,

    // perceptual media fixture: pair set = in-group pairs at hamming 0
    // (identical window sets ⇒ identical SimHash; cross-group pairs
    // are 2e-15-improbable, same certainty argument as
    // q_simhash_fixture)
    "q_media_neardup" ->
      """SELECT a.doc_id AS media_a, b.doc_id AS media_b,
        |  CAST(0 AS INT) AS hamming
        |FROM documents a JOIN documents b
        |  ON a.doc_id // 4 = b.doc_id // 4 AND a.doc_id < b.doc_id
        |ORDER BY media_a, media_b""".stripMargin,

    // planted-duplicate media-ingest lifecycle: corpus + disjoint
    // batch1 survive; batch2's even-group rows duplicate batch1's
    // survivors perceptually (identical window sets) and die iff the
    // index extension round-tripped; odd-group rows are new
    "q_media_refresh" ->
      """SELECT doc_id AS media_id FROM documents
        |WHERE doc_id % 4 IN (0, 1)
        |   OR (doc_id % 4 = 2 AND (doc_id // 4) % 2 = 1)
        |ORDER BY media_id""".stripMargin,

    "q_media_sig_build" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_media,
        |CAST(COUNT(*) AS BIGINT) AS n_sigs
        |FROM documents WHERE doc_id % 4 = 0""".stripMargin,

    "q_media_probe" ->
      """SELECT doc_id AS media_id FROM documents
        |WHERE doc_id % 4 = 1
        |   OR (doc_id % 4 = 2 AND (doc_id // 4) % 2 = 1)
        |ORDER BY media_id""".stripMargin,

    "q_window_lag_lead" ->
      """SELECT o_custkey, o_orderkey,
        |  lag(o_totalprice, 1) OVER w AS prev_price,
        |  lead(o_totalprice, 1) OVER w AS next_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_window_rank" ->
      """SELECT c_nationkey, c_custkey,
        |  rank() OVER w AS rnk, dense_rank() OVER w AS drnk,
        |  row_number() OVER w AS rn
        |FROM customer
        |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
        |ORDER BY c_nationkey, c_custkey""".stripMargin,

    "q_window_running" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS running_total
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_null_safe_join" ->
      """WITH p AS (SELECT p_partkey,
        |  CASE WHEN p_size <= 10 THEN NULL ELSE p_size END AS size_n FROM part)
        |SELECT a.size_n, COUNT(*) AS n_pairs
        |FROM p a JOIN p b ON a.size_n IS NOT DISTINCT FROM b.size_n
        |  AND a.p_partkey < b.p_partkey
        |GROUP BY a.size_n ORDER BY a.size_n NULLS FIRST""".stripMargin,

    "q_window_range" ->
      """SELECT c_nationkey, c_custkey,
        |  COUNT(*) OVER (PARTITION BY c_nationkey ORDER BY c_custkey
        |    RANGE BETWEEN 100 PRECEDING AND CURRENT ROW) AS n_in_range
        |FROM customer ORDER BY c_nationkey, c_custkey""".stripMargin,

    "q_window_firstlast" ->
      """SELECT o_custkey, o_orderkey,
        |  first_value(o_totalprice) OVER w AS first_price,
        |  last_value(o_totalprice) OVER w AS last_price,
        |  nth_value(o_totalprice, 2) OVER w AS second_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_array_hof" ->
      """SELECT doc_id,
        |  array_to_string(list_transform(string_split(text, ' '),
        |    t -> upper(t)), ',') AS upper_toks,
        |  CAST(len(list_filter(string_split(text, ' '),
        |    t -> length(t) > 5)) AS BIGINT) AS n_long,
        |  CAST(list_sum(list_transform(string_split(text, ' '),
        |    t -> length(t))) AS BIGINT) AS total_len
        |FROM documents WHERE doc_id < 50 ORDER BY doc_id""".stripMargin,

    "q_map_funcs" ->
      """SELECT event_id,
        |  array_to_string(json_keys(props), ',') AS keys,
        |  array_to_string(list_transform(json_keys(props),
        |    k -> json_extract_string(props, '$.' || k)), ',') AS vals,
        |  CAST(len(json_keys(props)) AS BIGINT) AS n_keys
        |FROM events WHERE event_id < 3000 ORDER BY event_id""".stripMargin,

    "q_rollup" ->
      """SELECT r_name, n_name, COUNT(*) AS n_cust
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin,

    "q_cube" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "q_grouping_id" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
        |  CAST(GROUPING(l_linestatus) AS BIGINT) AS g_ls,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "q_pivot" ->
      """SELECT c_nationkey,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "q_sql_groupingsets" ->
      """SELECT r_name, n_name, COUNT(*) AS n
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY GROUPING SETS ((r_name), (r_name, n_name), ())
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin,

    "q_explode_tokens" ->
      """SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, toks[i] AS tok
        |FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |      FROM documents WHERE doc_id < 20),
        |     unnest(range(1, len(toks) + 1)) AS u(i)
        |ORDER BY doc_id, pos""".stripMargin,

    "q_array_funcs" ->
      """SELECT doc_id,
        |  array_to_string(list_sort(list_distinct(string_split(text, ' '))), ',')
        |    AS sorted_uniq,
        |  list_contains(string_split(text, ' '), 'data') AS has_data,
        |  string_split(text, ' ')[1] AS first_tok
        |FROM documents WHERE doc_id < 50 ORDER BY doc_id""".stripMargin,

    "q_intersect" ->
      """SELECT p_size AS k FROM part
        |INTERSECT SELECT l_linenumber AS k FROM lineitem
        |ORDER BY k""".stripMargin,

    "q_except" ->
      """SELECT p_size AS k FROM part
        |EXCEPT SELECT l_linenumber AS k FROM lineitem
        |ORDER BY k""".stripMargin,

    "q_string_funcs" ->
      """SELECT c_custkey, upper(c_name) AS u, lower(c_mktsegment) AS l,
        |  substring(c_name, 1, 5) AS pre,
        |  lpad(c_mktsegment, 12, '*') AS pad,
        |  c_name || '_' || c_mktsegment AS cat,
        |  regexp_replace(c_name, '[0-9]', '#', 'g') AS masked,
        |  regexp_extract(c_name, '([0-9]+)', 1) AS digits,
        |  CAST(strpos(c_name, '1') AS BIGINT) AS pos1,
        |  CAST(length(trim(c_name)) AS BIGINT) AS len_trim
        |FROM customer WHERE c_custkey <= 500 ORDER BY c_custkey""".stripMargin,

    "q_math_funcs" ->
      """SELECT l_orderkey, l_linenumber,
        |  abs(-l_extendedprice) AS abs_p,
        |  CAST(floor(l_extendedprice) AS BIGINT) AS fl,
        |  CAST(ceil(l_extendedprice) AS BIGINT) AS ce,
        |  sqrt(l_quantity) AS sq,
        |  l_extendedprice * l_extendedprice AS p2,
        |  CAST(l_partkey % 7 AS BIGINT) AS m7,
        |  CAST(sign(l_discount - 0.05) AS DOUBLE) AS sgn
        |FROM lineitem WHERE l_orderkey <= 2000
        |ORDER BY l_orderkey, l_linenumber, abs_p""".stripMargin,

    "q_date_arith" ->
      """SELECT o_orderkey,
        |  CAST(o_orderdate AS DATE) AS od,
        |  CAST(o_orderdate AS DATE) + 30 AS plus30,
        |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE) AS plus2mo,
        |  last_day(CAST(o_orderdate AS DATE)) AS eom,
        |  CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS som,
        |  datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since
        |FROM orders WHERE o_orderkey <= 3000 ORDER BY o_orderkey""".stripMargin,

    "q_percentile" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS med_qty,
        |  quantile_cont(l_quantity, 0.25) AS q1_qty,
        |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_cond_agg" ->
      """SELECT o_orderpriority,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
        |  CAST(SUM(CAST(CASE WHEN o_orderstatus = 'F' THEN o_totalprice
        |                     ELSE 0.0 END AS DECIMAL(18,2))) AS DOUBLE) AS total_f,
        |  COUNT(*) AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_full_outer" ->
      """SELECT COALESCE(c.c_nationkey, s.s_nationkey) AS nk,
        |  COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp
        |FROM (SELECT c_nationkey, COUNT(*) AS n_cust FROM customer
        |      GROUP BY c_nationkey) c
        |FULL OUTER JOIN (SELECT s_nationkey, COUNT(*) AS n_supp FROM supplier
        |      GROUP BY s_nationkey) s
        |  ON c.c_nationkey = s.s_nationkey
        |ORDER BY nk""".stripMargin,

    "q_cross_join" ->
      """SELECT r_name, n_name FROM region CROSS JOIN nation
        |ORDER BY r_name, n_name""".stripMargin,

    "q_scalar_subquery" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE CAST(c_acctbal AS DECIMAL(18,2))
        |        * (SELECT COUNT(*) FROM customer)
        |      > (SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) FROM customer)
        |ORDER BY c_custkey""".stripMargin,

    "q_topk_group" ->
      """SELECT o_custkey, rank, price, o_orderkey FROM (
        |  SELECT o_custkey,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rank,
        |    o_totalprice AS price, o_orderkey
        |  FROM orders) WHERE rank <= 3
        |ORDER BY o_custkey, rank""".stripMargin,

    "q_asof_join" ->
      """SELECT c.event_id, c.user_id, p.ts AS last_pts, p.value AS last_value
        |FROM (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
        |      WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id AND c.ts >= p.ts
        |ORDER BY c.event_id""".stripMargin,

    "q_asof_forward" ->
      """SELECT c.event_id, c.user_id, p.ts AS next_pts, p.value AS next_value
        |FROM (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
        |      WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id AND c.ts <= p.ts
        |ORDER BY c.event_id""".stripMargin,

    "q_profile" ->
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
        |) ORDER BY col_name""".stripMargin,

    "q_range_join" ->
      """WITH bands(lo, hi, band) AS (VALUES
        |  (0.0, 50.0, 'low'), (50.0, 200.0, 'mid'), (200.0, 500.0, 'high'))
        |SELECT e.event_id, e.value, b.band
        |FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
        |ORDER BY e.event_id""".stripMargin,

    "q_cohort_retention" ->
      """WITH c AS (SELECT user_id,
        |             date_trunc('week', min(ts)) AS cohort_start
        |           FROM events GROUP BY user_id),
        |e AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS p
        |      FROM events)
        |SELECT cohort_start,
        |  CAST(date_diff('day', cohort_start, p) // 7 AS BIGINT)
        |    AS period_offset,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM e JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_anomaly_hours" ->
      """WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hour_start,
        |             count(*) AS cnt
        |           FROM events GROUP BY 1, 2),
        |k AS (SELECT *, CAST(strftime(hour_start, '%w') AS BIGINT) AS dow,
        |        CAST(extract(hour FROM hour_start) AS BIGINT) AS hod
        |      FROM h),
        |c AS (SELECT event_type, dow, hod, count(*) AS n,
        |        CAST(sum(cnt) AS BIGINT) AS sx,
        |        CAST(sum(cnt*cnt) AS BIGINT) AS sxx
        |      FROM k GROUP BY 1, 2, 3)
        |SELECT k.event_type, hour_start, cnt,
        |  round((cnt - CAST(sx AS DOUBLE) / n)
        |    / sqrt(CAST(n*sxx - sx*sx AS DOUBLE) / (n*n)), 9) AS z
        |FROM k JOIN c USING (event_type, dow, hod)
        |WHERE n >= 2 AND (n*sxx - sx*sx) > 0
        |  AND abs(round((cnt - CAST(sx AS DOUBLE) / n)
        |    / sqrt(CAST(n*sxx - sx*sx AS DOUBLE) / (n*n)), 9)) >= 2.0
        |ORDER BY event_type, hour_start""".stripMargin,

    "q_autocorr" ->
      """WITH h AS (SELECT event_type, date_trunc('hour', ts) AS h,
        |             count(*) AS c
        |           FROM events GROUP BY 1, 2),
        |p AS (SELECT event_type, c AS x,
        |        lead(c, 1) OVER (PARTITION BY event_type ORDER BY h) AS y
        |      FROM h),
        |f AS (SELECT event_type, x, y FROM p WHERE y IS NOT NULL),
        |a AS (SELECT event_type, count(*) AS n,
        |        CAST(sum(x) AS BIGINT) AS sx,
        |        CAST(sum(y) AS BIGINT) AS sy,
        |        CAST(sum(x*x) AS BIGINT) AS sxx,
        |        CAST(sum(y*y) AS BIGINT) AS syy,
        |        CAST(sum(x*y) AS BIGINT) AS sxy
        |      FROM f GROUP BY 1)
        |SELECT event_type, n,
        |  CASE WHEN (n*sxx - sx*sx) > 0 AND (n*syy - sy*sy) > 0 THEN
        |    round(CAST(n*sxy - sx*sy AS DOUBLE)
        |      / sqrt(CAST(n*sxx - sx*sx AS DOUBLE) * (n*syy - sy*sy)), 9)
        |  ELSE NULL END AS r1
        |FROM a ORDER BY event_type""".stripMargin,

    "q_time_profile" ->
      """SELECT CAST(strftime(ts, '%w') AS BIGINT) AS dow,
        |  CAST(extract(hour FROM ts) AS BIGINT) AS hour,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // same integer-ratio ln(9-dec) arithmetic as the other association
    // ops; NULL cells excluded on both sides
    "q_rank_eval" ->
      """WITH ranked AS (
        |  SELECT lang AS query_id, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY n_chars DESC, doc_id) AS rnk
        |  FROM documents),
        |rel AS (SELECT lang AS query_id, doc_id FROM documents
        |        WHERE doc_id % 4 = 0),
        |nrel AS (SELECT query_id, COUNT(*) AS n_rel FROM rel GROUP BY 1),
        |j AS (SELECT r.query_id, r.rnk,
        |        CASE WHEN l.doc_id IS NOT NULL THEN 1 ELSE 0 END AS hit
        |      FROM ranked r LEFT JOIN rel l
        |        ON l.query_id = r.query_id AND l.doc_id = r.doc_id
        |      WHERE r.rnk <= 10),
        |t AS (SELECT query_id, rnk, hit,
        |        SUM(hit) OVER (PARTITION BY query_id ORDER BY rnk) AS cum
        |      FROM j),
        |a AS (SELECT query_id, SUM(hit) AS hits,
        |        MIN(CASE WHEN hit = 1 THEN rnk END) AS first_rel,
        |        SUM(CASE WHEN hit = 1 THEN
        |          CAST(round(CAST(cum AS DOUBLE) / rnk, 9)
        |            AS DECIMAL(28,9)) END) AS ap_sum
        |      FROM t GROUP BY query_id)
        |SELECT a.query_id,
        |  CAST(COALESCE(n.n_rel, 0) AS BIGINT) AS n_rel,
        |  CAST(a.hits AS BIGINT) AS hits_at_k,
        |  COALESCE(round(CAST(1.0 AS DOUBLE) / first_rel, 9), 0.0) AS mrr,
        |  round(CAST(a.hits AS DOUBLE) / 10, 9) AS precision_at_k,
        |  CASE WHEN n.n_rel > 0
        |    THEN round(CAST(a.hits AS DOUBLE) / n.n_rel, 9)
        |  END AS recall_at_k,
        |  CASE WHEN n.n_rel > 0 THEN
        |    round(CAST(COALESCE(ap_sum, 0) AS DOUBLE)
        |      / least(n.n_rel, 10), 9)
        |  END AS ap_at_k
        |FROM a LEFT JOIN nrel n ON n.query_id = a.query_id
        |ORDER BY a.query_id""".stripMargin,

    "q_ndcg" ->
      """WITH r AS (SELECT lang AS query_id, doc_id,
        |        row_number() OVER (PARTITION BY lang
        |          ORDER BY n_chars DESC, doc_id) AS rank
        |      FROM documents),
        |rk AS (SELECT * FROM r WHERE rank <= 10),
        |rel AS (SELECT lang AS query_id, doc_id, doc_id % 4 AS rel
        |        FROM documents),
        |d AS (SELECT rk.query_id,
        |        CAST(sum(CAST(round(
        |          (pow(2.0, CAST(COALESCE(rel, 0) AS DOUBLE)) - 1.0)
        |          / (ln(CAST(rank AS DOUBLE) + 1.0) / ln(2.0)), 9)
        |          AS DECIMAL(28,9))) AS DOUBLE) AS dcg
        |      FROM rk LEFT JOIN rel ON rel.query_id = rk.query_id
        |        AND rel.doc_id = rk.doc_id
        |      GROUP BY 1),
        |i0 AS (SELECT query_id, rel, row_number() OVER (
        |         PARTITION BY query_id ORDER BY rel DESC, doc_id) AS rr
        |       FROM rel),
        |i AS (SELECT query_id,
        |        CAST(sum(CAST(round((pow(2.0, CAST(rel AS DOUBLE)) - 1.0)
        |          / (ln(CAST(rr AS DOUBLE) + 1.0) / ln(2.0)), 9)
        |          AS DECIMAL(28,9))) AS DOUBLE) AS idcg
        |      FROM i0 WHERE rr <= 10 GROUP BY 1)
        |SELECT d.query_id,
        |  CASE WHEN idcg > 0 THEN round(dcg / idcg, 9) END AS ndcg
        |FROM d JOIN i USING (query_id) ORDER BY query_id""".stripMargin,

    "q_benford" ->
      """WITH f AS (SELECT o_totalprice AS v FROM orders
        |           WHERE o_totalprice IS NOT NULL AND o_totalprice >= 1),
        |n AS (SELECT count(*) AS n FROM f)
        |SELECT CAST(substr(CAST(CAST(floor(v) AS BIGINT) AS VARCHAR),
        |    1, 1) AS BIGINT) AS digit,
        |  count(*) AS cnt,
        |  round(CAST(count(*) AS DOUBLE) / n.n, 9) AS share,
        |  round(ln(1.0 + 1.0 / CAST(substr(CAST(CAST(floor(v) AS BIGINT)
        |    AS VARCHAR), 1, 1) AS BIGINT)) / ln(10.0), 9) AS expected
        |FROM f, n GROUP BY 1, n.n ORDER BY 1""".stripMargin,

    "q_mutual_info" ->
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
        |ORDER BY c.lang, c.source""".stripMargin,

    // exact integer arithmetic to the closing division (rank formula);
    // ties are sum-invariant, so the rank order-by needs no tiebreak
    "q_gini" ->
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
        |FROM a WHERE sum_value > 0 ORDER BY source""".stripMargin,

    "q_kappa" ->
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
        |FROM g ORDER BY lang""".stripMargin,

    // per-type terms round to 9 then sum as DECIMAL(38,9): the slope is
    // order-independent; rank built from the tf-distribution prefix +
    // within-tf row_number (identical to the global frequency sort)
    "q_zipf" ->
      """WITH tf AS (SELECT tok, count(*) AS tf
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
        |        CAST(sum(CAST(x AS DECIMAL(38,9))) AS DOUBLE) AS sx,
        |        CAST(sum(CAST(y AS DECIMAL(38,9))) AS DOUBLE) AS sy,
        |        CAST(sum(CAST(round(x*x, 9) AS DECIMAL(38,9)))
        |          AS DOUBLE) AS sxx,
        |        CAST(sum(CAST(round(x*y, 9) AS DECIMAL(38,9)))
        |          AS DOUBLE) AS sxy
        |      FROM terms)
        |SELECT n_types,
        |  CASE WHEN n_types * sxx - sx * sx > 0.000001 THEN
        |    round((n_types * sxy - sx * sy) / (n_types * sxx - sx * sx), 9)
        |  END AS slope
        |FROM s ORDER BY n_types""".stripMargin,

    "q_hash_sample" ->
      """SELECT source, doc_id, rn FROM (
        |  SELECT source, doc_id,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
        |      AS rn
        |  FROM documents)
        |WHERE rn <= 10 ORDER BY source, rn""".stripMargin,

    // uniform = first 13 md5 hex digits / 2^52 (exact in double); the
    // A-Res key ln(u)/w rounds to 9 with an id tie-break on both sides
    "q_priority_sample" ->
      """WITH b AS (SELECT source, doc_id, n_chars,
        |        round(ln(CAST(CAST(concat('0x',
        |            substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))
        |            AS UBIGINT) AS DOUBLE) / 4503599627370496.0)
        |          / n_chars, 9) AS key
        |      FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
        |r AS (SELECT source, doc_id, n_chars,
        |        CAST(row_number() OVER (PARTITION BY source
        |          ORDER BY key DESC, doc_id) AS BIGINT) AS rn
        |      FROM b)
        |SELECT source, doc_id, n_chars, rn FROM r
        |WHERE rn <= 5 ORDER BY source, rn""".stripMargin,

    // c·ln(c) terms round to 9 then sum as DECIMAL(38,9) — the
    // order-independent entropy arithmetic the JSD oracle also uses
    "q_transition_entropy" ->
      """WITH p AS (SELECT event_type AS from_type,
        |        lead(event_type, 1) OVER (PARTITION BY user_id
        |          ORDER BY ts, event_id) AS to_type
        |      FROM events),
        |c AS (SELECT from_type, to_type, count(*) AS c FROM p
        |      WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |a AS (SELECT from_type, CAST(sum(c) AS BIGINT) AS n_out,
        |        count(*) AS n_dsts,
        |        CAST(sum(CAST(round(CAST(c AS DOUBLE)
        |          * ln(CAST(c AS DOUBLE)), 9) AS DECIMAL(38,9)))
        |          AS DOUBLE) AS clnc
        |      FROM c GROUP BY 1)
        |SELECT from_type, n_out, n_dsts,
        |  round(ln(CAST(n_out AS DOUBLE))
        |    - clnc / CAST(n_out AS DOUBLE), 9) AS entropy
        |FROM a ORDER BY from_type""".stripMargin,

    "q_readability" ->
      """WITH d AS (SELECT source,
        |        CAST(length(string_split(text, ' ')) AS BIGINT) AS nt,
        |        CAST(length(list_filter(string_split(text, ' '),
        |          w -> length(w) >= 5)) AS BIGINT) AS nl,
        |        CAST(length(text) - (length(string_split(text, ' ')) - 1)
        |          AS BIGINT) AS ch
        |      FROM documents WHERE text IS NOT NULL),
        |g AS (SELECT source, count(*) AS n_docs,
        |        CAST(sum(nt) AS BIGINT) AS n_tokens,
        |        CAST(sum(nl) AS BIGINT) AS n_long_tokens,
        |        CAST(sum(ch) AS BIGINT) AS ch
        |      FROM d GROUP BY 1)
        |SELECT source, n_docs, n_tokens, n_long_tokens,
        |  round(CAST(ch AS DOUBLE) / n_tokens, 9) AS avg_tok_len,
        |  round(CAST(n_long_tokens AS DOUBLE) * 100.0 / n_tokens, 9)
        |    AS long_pct
        |FROM g WHERE n_tokens > 0 ORDER BY source""".stripMargin,

    // fences compare against the UNROUNDED interpolated quartiles;
    // only the reported q1/q3 round
    "q_iqr_outliers" ->
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
        |ORDER BY l.l_returnflag""".stripMargin,

    // sketch-audit oracle shape: the exact pair counts are the
    // checkable payload; the HLL verdict pins to TRUE
    "q_audience_overlap" ->
      """WITH ut AS (SELECT DISTINCT event_type AS t, user_id AS u
        |      FROM events
        |      WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
        |n AS (SELECT t, count(*) AS nu FROM ut GROUP BY 1),
        |i AS (SELECT a.t AS type_a, b.t AS type_b,
        |        count(*) AS users_both
        |      FROM ut a JOIN ut b ON a.u = b.u AND a.t < b.t
        |      GROUP BY 1, 2)
        |SELECT type_a, type_b, na.nu AS users_a, nb.nu AS users_b,
        |  users_both, TRUE AS hll_ok
        |FROM i JOIN n na ON na.t = type_a JOIN n nb ON nb.t = type_b
        |ORDER BY type_a, type_b""".stripMargin,

    "q_time_to_convert" ->
      """WITH ft AS (SELECT user_id AS u, min(epoch_us(ts)) AS t0
        |      FROM events WHERE event_type = 'view' GROUP BY 1),
        |dl AS (SELECT ft.u, min(epoch_us(e.ts)) - ft.t0 AS delay_us
        |      FROM events e JOIN ft ON e.user_id = ft.u
        |      WHERE e.event_type = 'purchase'
        |        AND epoch_us(e.ts) >= ft.t0
        |      GROUP BY ft.u, ft.t0),
        |s AS (SELECT count(*) AS n_converted,
        |        quantile_cont(delay_us, 0.5) AS med,
        |        quantile_cont(delay_us, 0.9) AS p90 FROM dl),
        |t AS (SELECT count(*) AS n_touched FROM ft)
        |SELECT t.n_touched, s.n_converted,
        |  round(CAST(s.n_converted AS DOUBLE) / t.n_touched, 9)
        |    AS conv_rate,
        |  round(med, 9) AS med_delay_us, round(p90, 9) AS p90_delay_us
        |FROM s, t ORDER BY n_touched""".stripMargin,

    // absent cells fold in via chi2 = Σ_present (o-e)²/e + (N - Σ_present e)
    "q_chi2_indep" ->
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
        |GROUP BY t.n, t.r, t.cc ORDER BY n""".stripMargin,

    "q_ref_integrity" ->
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
        |ORDER BY relation""".stripMargin,

    // sketch-audit oracle shape (q_approx_users): exact counts are the
    // checkable payload; the CMS estimate itself is plan-internal
    "q_cms_counts" ->
      """SELECT user_id AS key, count(*) AS cnt, TRUE AS cms_ok
        |FROM events WHERE user_id IS NOT NULL
        |GROUP BY 1 ORDER BY key""".stripMargin,

    "q_join_size_est" ->
      """SELECT
        |  CAST((SELECT COUNT(*) FROM orders WHERE o_orderkey IS NOT NULL)
        |    AS BIGINT) AS n_a,
        |  CAST((SELECT COUNT(*) FROM lineitem WHERE l_orderkey IS NOT NULL)
        |    AS BIGINT) AS n_b,
        |  CAST((SELECT COUNT(*) FROM orders JOIN lineitem
        |        ON o_orderkey = l_orderkey) AS BIGINT) AS exact_join_rows,
        |  TRUE AS overest_ok, TRUE AS bound_ok""".stripMargin,

    // quality-score formula (q_quality) bucketed against the Gopher
    // verdict (q_gopher, minWords 20): decimal-exact bucket means
    "q_calibration" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |    CAST(length(text) AS DOUBLE) AS n_chars,
        |    CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))
        |      AS DOUBLE) AS symbols,
        |    CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
        |      AS DOUBLE) AS numerals,
        |    (LEAST(CAST(LENGTH(text) AS DOUBLE) / CAST(200.0 AS DOUBLE),
        |           CAST(1.0 AS DOUBLE))
        |     + CASE WHEN LENGTH(text) > 0
        |            THEN CAST(LENGTH(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
        |                 / CAST(LENGTH(text) AS DOUBLE)
        |            ELSE CAST(0.0 AS DOUBLE) END
        |     + CASE WHEN len(string_split(text, ' ')) > 0
        |                 AND CAST(LENGTH(text) AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE) >= 3
        |                 AND CAST(LENGTH(text) AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE) <= 10
        |            THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.5 AS DOUBLE) END
        |    ) / CAST(3.0 AS DOUBLE) AS score
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, score,
        |    (n_words >= 20 AND n_words <= 100000
        |     AND (CASE WHEN n_words > 0
        |          THEN (n_chars - (n_words - 1)) / n_words ELSE 0.0 END)
        |         BETWEEN 3.0 AND 10.0
        |     AND (CASE WHEN n_words > 0
        |          THEN symbols / n_words ELSE 1.0 END) < 0.1
        |     AND (CASE WHEN n_chars > 0
        |          THEN numerals / n_chars ELSE 1.0 END) < 0.2) AS label
        |  FROM t),
        |b AS (
        |  SELECT LEAST(CAST(FLOOR(score * 10) AS BIGINT), 9) AS bin,
        |    round(score, 9) AS s,
        |    CASE WHEN label THEN 1 ELSE 0 END AS y
        |  FROM g),
        |agg AS (
        |  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
        |    round(CAST(SUM(CAST(s AS DECIMAL(28,9))) AS DOUBLE)
        |      / COUNT(*), 9) AS mean_score,
        |    round(CAST(SUM(y) AS DOUBLE) / COUNT(*), 9) AS pos_rate
        |  FROM b GROUP BY bin)
        |SELECT bin, n, mean_score, pos_rate,
        |  round(mean_score - pos_rate, 9) AS gap
        |FROM agg ORDER BY bin""".stripMargin,

    "q_seq_patterns" ->
      """WITH p AS (SELECT event_type AS e1,
        |        lead(event_type, 1) OVER (PARTITION BY user_id
        |          ORDER BY ts, event_id) AS e2,
        |        lead(event_type, 2) OVER (PARTITION BY user_id
        |          ORDER BY ts, event_id) AS e3
        |      FROM events)
        |SELECT e1, e2, e3, count(*) AS support FROM p
        |WHERE e2 IS NOT NULL AND e3 IS NOT NULL
        |GROUP BY 1, 2, 3 HAVING count(*) >= 5
        |ORDER BY e1, e2, e3""".stripMargin,

    "q_value_histogram" ->
      """SELECT CAST(floor(o_totalprice / 20000) AS BIGINT) AS bucket,
        |  count(*) AS n_rows,
        |  min(o_totalprice) AS min_value, max(o_totalprice) AS max_value
        |FROM orders WHERE o_totalprice IS NOT NULL
        |GROUP BY 1 ORDER BY bucket""".stripMargin,

    "q_degree_hist" ->
      """WITH e AS (SELECT DISTINCT o_custkey AS s, l_suppkey AS d
        |      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |      WHERE o_custkey IS NOT NULL AND l_suppkey IS NOT NULL),
        |dg AS (SELECT s, count(*) AS degree FROM e GROUP BY 1)
        |SELECT degree, count(*) AS n_nodes FROM dg
        |GROUP BY 1 ORDER BY degree""".stripMargin,

    // same rounded-decimal OLS arithmetic as q_zipf, over the degree
    // histogram
    "q_powerlaw" ->
      """WITH e AS (SELECT DISTINCT o_custkey AS s, l_suppkey AS d
        |      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |      WHERE o_custkey IS NOT NULL AND l_suppkey IS NOT NULL),
        |dg AS (SELECT s, count(*) AS degree FROM e GROUP BY 1),
        |h AS (SELECT degree, count(*) AS n_nodes FROM dg GROUP BY 1),
        |terms AS (SELECT round(ln(CAST(degree AS DOUBLE)), 9) AS x,
        |        round(ln(CAST(n_nodes AS DOUBLE)), 9) AS y
        |      FROM h WHERE degree > 0 AND n_nodes > 0),
        |s AS (SELECT count(*) AS n_points,
        |        CAST(sum(CAST(x AS DECIMAL(38,9))) AS DOUBLE) AS sx,
        |        CAST(sum(CAST(y AS DECIMAL(38,9))) AS DOUBLE) AS sy,
        |        CAST(sum(CAST(round(x*x, 9) AS DECIMAL(38,9)))
        |          AS DOUBLE) AS sxx,
        |        CAST(sum(CAST(round(x*y, 9) AS DECIMAL(38,9)))
        |          AS DOUBLE) AS sxy
        |      FROM terms)
        |SELECT n_points,
        |  CASE WHEN n_points * sxx - sx * sx > 0.000001 THEN
        |    round((n_points * sxy - sx * sy)
        |      / (n_points * sxx - sx * sx), 9)
        |  END AS slope
        |FROM s ORDER BY n_points""".stripMargin,

    // the frontier is definitionally checkable: NOT EXISTS dominance
    "q_skyline" ->
      """WITH p AS (SELECT CAST(o_totalprice AS DOUBLE) AS x,
        |        CAST(date_diff('day', DATE '1970-01-01',
        |          CAST(o_orderdate AS DATE)) AS DOUBLE) AS y
        |      FROM orders
        |      WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL)
        |SELECT DISTINCT x, y FROM p p1
        |WHERE NOT EXISTS (SELECT 1 FROM p p2
        |  WHERE p2.x >= p1.x AND p2.y >= p1.y
        |    AND (p2.x > p1.x OR p2.y > p1.y))
        |ORDER BY x""".stripMargin,

    "q_best_match" ->
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
        |ORDER BY id_a""".stripMargin,

    "q_quantile_norm" ->
      """SELECT source, doc_id, n_chars,
        |  CASE WHEN count(*) OVER (PARTITION BY source) > 1 THEN
        |    round(CAST(rank() OVER (PARTITION BY source
        |        ORDER BY n_chars) - 1 AS DOUBLE)
        |      / (count(*) OVER (PARTITION BY source) - 1), 9)
        |  ELSE 0.0 END AS qnorm
        |FROM documents WHERE n_chars IS NOT NULL
        |ORDER BY doc_id""".stripMargin,

    // the (dow, hour) key labels differ across engines but partition
    // hours identically, which is all the ANOVA identity needs
    "q_seasonality" ->
      """WITH h AS (SELECT event_type AS t, date_trunc('hour', ts) AS h,
        |        count(*) AS c
        |      FROM events
        |      WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |      GROUP BY 1, 2),
        |k AS (SELECT t, c, concat(strftime(h, '%w'), '#',
        |        extract(hour FROM h)) AS how FROM h),
        |cells AS (SELECT t, how, CAST(sum(c) AS BIGINT) AS sg,
        |        count(*) AS ng FROM k GROUP BY 1, 2),
        |pt AS (SELECT t, count(*) AS n_hours,
        |        CAST(sum(c) AS BIGINT) AS s,
        |        CAST(sum(c * c) AS BIGINT) AS q FROM k GROUP BY 1),
        |bt AS (SELECT t, CAST(sum(CAST(round(
        |        CAST(sg * sg AS DOUBLE) / ng, 9) AS DECIMAL(38,9)))
        |        AS DOUBLE) AS sgq FROM cells GROUP BY 1)
        |SELECT pt.t AS event_type, n_hours,
        |  CASE WHEN CAST(q AS DOUBLE)
        |      - CAST(s * s AS DOUBLE) / n_hours > 0.0 THEN
        |    round(1.0 - (CAST(q AS DOUBLE) - sgq)
        |      / (CAST(q AS DOUBLE) - CAST(s * s AS DOUBLE) / n_hours), 9)
        |  END AS r2
        |FROM pt JOIN bt ON bt.t = pt.t ORDER BY event_type""".stripMargin,

    "q_gap_percentiles" ->
      """WITH g AS (SELECT event_type,
        |        lead(epoch_us(ts)) OVER (PARTITION BY user_id
        |          ORDER BY ts, event_id) - epoch_us(ts) AS gap
        |      FROM events)
        |SELECT event_type, count(*) AS n_gaps,
        |  round(quantile_cont(gap, 0.5) / 1000000.0, 9) AS med_gap_s,
        |  round(quantile_cont(gap, 0.9) / 1000000.0, 9) AS p90_gap_s
        |FROM g WHERE gap IS NOT NULL
        |GROUP BY 1 ORDER BY event_type""".stripMargin,

    "q_survival" ->
      """WITH d AS (SELECT user_id AS u,
        |        CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |          AS BIGINT) AS d
        |      FROM events
        |      WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |l AS (SELECT u, max(d) - min(d) AS age_days FROM d GROUP BY 1),
        |h AS (SELECT age_days, count(*) AS n FROM l GROUP BY 1),
        |t AS (SELECT count(*) AS tot FROM l),
        |c AS (SELECT age_days, CAST(sum(n) OVER (ORDER BY age_days DESC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |        AS BIGINT) AS n_surviving FROM h)
        |SELECT age_days, n_surviving,
        |  round(CAST(n_surviving AS DOUBLE) / t.tot, 9) AS survival_rate
        |FROM c, t ORDER BY age_days""".stripMargin,

    "q_bounce_rate" ->
      """WITH flagged AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 3600000
        |         THEN 1 ELSE 0 END AS newf
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |), sess AS (
        |  SELECT *, SUM(newf) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged),
        |s AS (SELECT user_id, sid, min(ts) AS session_start,
        |        count(*) AS n_events
        |      FROM sess GROUP BY 1, 2)
        |SELECT CAST(date_diff('day', DATE '1970-01-01',
        |    CAST(session_start AS DATE)) AS BIGINT) AS day,
        |  count(*) AS n_sessions,
        |  CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_bounces,
        |  round(CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*), 9) AS bounce_rate
        |FROM s GROUP BY 1 ORDER BY day""".stripMargin,

    // ends sort before starts at the same microsecond (half-open) so
    // back-to-back windows never double-count
    "q_peak_concurrency" ->
      """WITH iv AS (SELECT user_id, epoch_us(ts) AS s,
        |        epoch_us(ts) + 600000000 AS e FROM events),
        |w AS (SELECT user_id, s, e,
        |        max(e) OVER (PARTITION BY user_id ORDER BY s, e
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |          AS pmax
        |      FROM iv),
        |f AS (SELECT user_id, s, e,
        |        CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END
        |          AS nw FROM w),
        |i AS (SELECT user_id, s, e,
        |        CAST(sum(nw) OVER (PARTITION BY user_id ORDER BY s, e
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS BIGINT) AS island FROM f),
        |m AS (SELECT user_id, island, min(s) AS s, max(e) AS e
        |      FROM i GROUP BY 1, 2),
        |fr AS (SELECT t.day,
        |        greatest(m.s, t.day * 86400000000) AS fs,
        |        least(m.e, (t.day + 1) * 86400000000) AS fe
        |      FROM m, LATERAL (SELECT unnest(range(m.s // 86400000000,
        |        (m.e - 1) // 86400000000 + 1)) AS day) t),
        |b AS (SELECT day, fs AS t, CAST(1 AS BIGINT) AS delta FROM fr
        |      UNION ALL
        |      SELECT day, fe, CAST(-1 AS BIGINT) FROM fr),
        |r AS (SELECT day, sum(delta) OVER (PARTITION BY day
        |        ORDER BY t, delta ROWS BETWEEN UNBOUNDED PRECEDING
        |        AND CURRENT ROW) AS run FROM b)
        |SELECT CAST(day AS BIGINT) AS day,
        |  CAST(max(run) AS BIGINT) AS peak_concurrent
        |FROM r GROUP BY 1 ORDER BY day""".stripMargin,

    "q_pareto" ->
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
        |GROUP BY t.n_groups, t.tot ORDER BY n_groups""".stripMargin,

    "q_cohort_ltv" ->
      """WITH e AS (SELECT user_id AS u,
        |        CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |          AS BIGINT) // 7 AS m, value
        |      FROM events
        |      WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |f AS (SELECT u, min(m) AS c FROM e GROUP BY 1),
        |cell AS (SELECT f.c AS cohort_period, e.m - f.c AS age_periods,
        |        count(DISTINCT e.u) AS n_active,
        |        CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |          AS revenue
        |      FROM e JOIN f ON e.u = f.u GROUP BY 1, 2)
        |SELECT cohort_period, age_periods, n_active, revenue,
        |  sum(revenue) OVER (PARTITION BY cohort_period
        |    ORDER BY age_periods ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND CURRENT ROW) AS cum_revenue
        |FROM cell ORDER BY cohort_period, age_periods""".stripMargin,

    "q_streaks" ->
      """WITH du AS (SELECT DISTINCT user_id AS u,
        |        CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |          AS BIGINT) AS d
        |      FROM events
        |      WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |r AS (SELECT u, d, d - row_number() OVER (PARTITION BY u
        |        ORDER BY d) AS g FROM du),
        |l AS (SELECT u, count(*) AS len FROM r GROUP BY u, g),
        |m AS (SELECT u, CAST(max(len) AS BIGINT) AS streak_days
        |      FROM l GROUP BY 1)
        |SELECT streak_days, count(*) AS n_users FROM m
        |GROUP BY 1 ORDER BY streak_days""".stripMargin,

    "q_top_paths" ->
      """WITH r AS (SELECT user_id, event_type,
        |        row_number() OVER (PARTITION BY user_id
        |          ORDER BY ts, event_id) AS rn
        |      FROM events WHERE user_id IS NOT NULL),
        |p AS (SELECT user_id,
        |        string_agg(event_type, '>' ORDER BY rn) AS path
        |      FROM r WHERE rn <= 3 GROUP BY 1)
        |SELECT path, count(*) AS n_users FROM p GROUP BY 1
        |HAVING count(*) >= 2 ORDER BY path""".stripMargin,

    // exact-equality short-circuit reconciles both-zero totals; rel
    // diff rounds to 9 BEFORE the tolerance compare on both sides
    "q_reconcile" ->
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
        |FROM f ORDER BY n_parents""".stripMargin,

    "q_ab_test" ->
      """WITH pu AS (SELECT user_id AS u,
        |        CAST(max(CASE WHEN event_type = 'purchase' THEN 1
        |          ELSE 0 END) AS BIGINT) AS conv,
        |        user_id % 2 = 1 AS t
        |      FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |g AS (SELECT
        |        CAST(sum(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT)
        |          AS n_a,
        |        CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT)
        |          AS n_b,
        |        CAST(sum(CASE WHEN NOT t AND conv = 1 THEN 1 ELSE 0 END)
        |          AS BIGINT) AS conv_a,
        |        CAST(sum(CASE WHEN t AND conv = 1 THEN 1 ELSE 0 END)
        |          AS BIGINT) AS conv_b
        |      FROM pu)
        |SELECT n_a, n_b, conv_a, conv_b,
        |  CASE WHEN n_a > 0 THEN
        |    round(CAST(conv_a AS DOUBLE) / n_a, 9) END AS rate_a,
        |  CASE WHEN n_b > 0 THEN
        |    round(CAST(conv_b AS DOUBLE) / n_b, 9) END AS rate_b,
        |  CASE WHEN n_a > 0 AND n_b > 0 THEN
        |    round(CAST(conv_b AS DOUBLE) / n_b
        |      - CAST(conv_a AS DOUBLE) / n_a, 9) END AS lift,
        |  CASE WHEN n_a > 0 AND n_b > 0
        |      AND CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) > 0.0
        |      AND CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) < 1.0
        |    THEN round((CAST(conv_b AS DOUBLE) / n_b
        |        - CAST(conv_a AS DOUBLE) / n_a)
        |      / sqrt(CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)
        |        * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
        |        * (1.0 / n_a + 1.0 / n_b)), 9)
        |  END AS z
        |FROM g ORDER BY n_a""".stripMargin,

    "q_rolling_active" ->
      """WITH du AS (SELECT DISTINCT
        |        CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |          AS BIGINT) AS day,
        |        user_id AS u
        |      FROM events
        |      WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |dau AS (SELECT day, count(DISTINCT u) AS dau FROM du GROUP BY 1),
        |ex AS (SELECT du.day + t.o AS day, du.u
        |       FROM du CROSS JOIN (SELECT unnest(range(0, 7)) AS o) t),
        |wau AS (SELECT day, count(DISTINCT u) AS wau FROM ex GROUP BY 1)
        |SELECT dau.day, dau.dau, wau.wau,
        |  round(CAST(dau.dau AS DOUBLE) / wau.wau, 9) AS stickiness
        |FROM dau JOIN wau USING (day) ORDER BY day""".stripMargin,

    // DuckDB's jaro_winkler_similarity IS the pinned semantics of the
    // native expression (boost only above 0.7; empty -> 0); identical
    // names are excluded to keep the linkage dictionary interesting
    "q_jaro_winkler" ->
      """WITH n AS (SELECT DISTINCT p_name FROM part
        |           WHERE p_name IS NOT NULL),
        |p AS (SELECT p_name, split_part(p_name, ' ', 2) AS blk FROM n)
        |SELECT a.p_name AS id_a, b.p_name AS id_b,
        |  round(jaro_winkler_similarity(a.p_name, b.p_name), 9) AS jw
        |FROM p a JOIN p b ON a.blk = b.blk AND a.p_name < b.p_name
        |WHERE round(jaro_winkler_similarity(a.p_name, b.p_name), 9)
        |    >= 0.8
        |  AND round(jaro_winkler_similarity(a.p_name, b.p_name), 9) < 1.0
        |ORDER BY id_a, id_b""".stripMargin,

    "q_interval_merge" ->
      """WITH iv AS (SELECT user_id, epoch_us(ts) AS s,
        |        epoch_us(ts) + 600000000 AS e FROM events),
        |w AS (SELECT user_id, s, e,
        |        max(e) OVER (PARTITION BY user_id ORDER BY s, e
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |          AS pmax
        |      FROM iv),
        |f AS (SELECT user_id, s, e,
        |        CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END
        |          AS nw
        |      FROM w),
        |i AS (SELECT user_id, s, e,
        |        CAST(sum(nw) OVER (PARTITION BY user_id ORDER BY s, e
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS BIGINT) AS island
        |      FROM f)
        |SELECT user_id, island, count(*) AS n_merged,
        |  CAST(min(s) AS BIGINT) AS start_us,
        |  CAST(max(e) AS BIGINT) AS end_us
        |FROM i GROUP BY 1, 2 ORDER BY user_id, island""".stripMargin,

    "q_mad_outliers" ->
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
        |GROUP BY 1, md.med, md.mad ORDER BY l.l_returnflag""".stripMargin,

    // grouped OLS with the relative determinant guard mirrored exactly
    "q_trend" ->
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
        |FROM s ORDER BY event_type""".stripMargin,

    "q_clustering_coef" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (SELECT DISTINCT x.l_partkey AS u, y.l_partkey AS v
        |      FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
        |        AND x.l_partkey < y.l_partkey),
        |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |        FROM e e1 JOIN e e2 ON e2.u = e1.v
        |        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |nodes AS (SELECT u AS node FROM e UNION SELECT v FROM e),
        |pn AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS n
        |       FROM (SELECT unnest([a, b, c]) AS node FROM tri)
        |       GROUP BY node),
        |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS degree
        |        FROM (SELECT u AS node FROM e
        |              UNION ALL SELECT v FROM e) GROUP BY 1)
        |SELECT nodes.node, deg.degree, COALESCE(pn.n, 0) AS n_triangles,
        |  CASE WHEN degree >= 2 THEN
        |    round(2.0 * COALESCE(pn.n, 0) / (degree * (degree - 1)), 9)
        |  END AS clustering
        |FROM nodes LEFT JOIN pn USING (node) JOIN deg USING (node)
        |ORDER BY node""".stripMargin,

    "q_debounce" ->
      """WITH w AS (SELECT event_id, user_id, ts, event_type,
        |        lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |          ORDER BY ts, event_id) AS prev,
        |        epoch_us(ts) AS us
        |      FROM events),
        |s AS (SELECT event_id, user_id, ts, event_type,
        |        CASE WHEN prev IS NULL OR us - prev > 3600000000
        |          THEN 1 ELSE 0 END AS st
        |      FROM w),
        |b AS (SELECT event_id, user_id, ts, event_type, st,
        |        CAST(sum(st) OVER (PARTITION BY user_id
        |          ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING
        |          AND CURRENT ROW) AS BIGINT) AS burst
        |      FROM s)
        |SELECT event_id, user_id, ts, event_type, burst FROM b
        |WHERE st = 1 ORDER BY event_id""".stripMargin,

    // LSH graph construction is plan shape; the checkable semantics is
    // the recall floor against exact kNN on the audited subset
    "q_knn_graph" ->
      """SELECT CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id < 20)
        |  AS BIGINT) AS n_queries,
        |CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id < 20) * 10
        |  AS BIGINT) AS truth,
        |TRUE AS recall_ok""".stripMargin,

    "q_itemsets" ->
      """WITH bk AS (SELECT DISTINCT user_id, event_type FROM events
        |            WHERE event_type IS NOT NULL),
        |c AS (SELECT event_type, count(*) AS cnt FROM bk GROUP BY 1),
        |n AS (SELECT count(DISTINCT user_id) AS n FROM bk),
        |p AS (SELECT x.event_type AS item_a, y.event_type AS item_b,
        |        count(*) AS support
        |      FROM bk x JOIN bk y ON x.user_id = y.user_id
        |        AND x.event_type < y.event_type
        |      GROUP BY 1, 2)
        |SELECT item_a, item_b, support,
        |  round(CAST(support AS DOUBLE) * n.n / (ca.cnt * cb.cnt), 9)
        |    AS lift
        |FROM p JOIN c ca ON ca.event_type = item_a
        |       JOIN c cb ON cb.event_type = item_b, n
        |WHERE support >= 2
        |ORDER BY item_a, item_b""".stripMargin,

    // quintile boundaries of the PER-USER aggregates via quantile_cont
    // (== Spark exact percentile); score = 1 + #boundaries strictly below
    "q_rfm" ->
      """WITH u AS (SELECT user_id, max(epoch_us(ts)) AS r,
        |             count(*) AS f,
        |             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |               AS m
        |           FROM events GROUP BY user_id),
        |b AS (SELECT
        |        quantile_cont(CAST(r AS DOUBLE), [0.2,0.4,0.6,0.8]) AS rb,
        |        quantile_cont(CAST(f AS DOUBLE), [0.2,0.4,0.6,0.8]) AS fb,
        |        quantile_cont(m, [0.2,0.4,0.6,0.8]) AS mb
        |      FROM u),
        |s AS (SELECT
        |        CAST(1 + len(list_filter(b.rb, x -> x < r)) AS BIGINT)
        |          AS r_score,
        |        CAST(1 + len(list_filter(b.fb, x -> x < f)) AS BIGINT)
        |          AS f_score,
        |        CAST(1 + len(list_filter(b.mb, x -> x < m)) AS BIGINT)
        |          AS m_score,
        |        m
        |      FROM u, b)
        |SELECT r_score, f_score, m_score, count(*) AS n_users,
        |  round(CAST(sum(CAST(m AS DECIMAL(18,6))) AS DOUBLE) / count(*),
        |    9) AS avg_monetary
        |FROM s GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q_interval_join" ->
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
        |ORDER BY c.user_id, click_id, view_id""".stripMargin,

    "q_coalesce_null" ->
      """SELECT p_partkey,
        |  COALESCE(NULLIF(p_brand, 'Brand#11'), 'OTHER') AS brand_o,
        |  CASE WHEN NULLIF(p_size, 1) IS NULL THEN 'unit'
        |       ELSE 'multi' END AS size_class
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q_vocab" ->
      """SELECT tok, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |      FROM documents)
        |GROUP BY tok HAVING COUNT(DISTINCT doc_id) >= 5
        |ORDER BY tok""".stripMargin,

    "q_kfold" ->
      """SELECT ((doc_id * 2654435761) % 4294967296) % 5 AS fold,
        |  COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY fold ORDER BY fold""".stripMargin,

    // intersection tokens carry integer nanonat terms; each side's
    // private mass closes the telescope as (n − Σc_inter)·round(ln2·1e9)
    "q_source_jsd" ->
      """WITH cnt AS (
        |  SELECT source AS g, tok, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
        |        FROM documents)
        |  GROUP BY 1, 2),
        |tot AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY 1),
        |sided AS (SELECT cnt.g, tok, c, n FROM cnt JOIN tot USING (g)),
        |j AS (
        |  SELECT a.g AS src_a, b.g AS src_b, a.n AS na, b.n AS nb,
        |    a.c AS ca, b.c AS cb,
        |    CAST(round(ln(2.0 * a.c * b.n /
        |      (CAST(a.c AS DOUBLE) * b.n + CAST(b.c AS DOUBLE) * a.n)) * 1e9)
        |      AS BIGINT) * a.c AS ta,
        |    CAST(round(ln(2.0 * b.c * a.n /
        |      (CAST(a.c AS DOUBLE) * b.n + CAST(b.c AS DOUBLE) * a.n)) * 1e9)
        |      AS BIGINT) * b.c AS tb
        |  FROM sided a JOIN sided b ON a.tok = b.tok AND a.g < b.g),
        |gg AS (
        |  SELECT src_a, src_b, na, nb,
        |    CAST(sum(ta) AS BIGINT) AS sa_int, CAST(sum(tb) AS BIGINT) AS sb_int,
        |    CAST(sum(ca) AS BIGINT) AS ia, CAST(sum(cb) AS BIGINT) AS ib,
        |    CAST(count(*) AS BIGINT) AS n_common_tokens
        |  FROM j GROUP BY 1, 2, 3, 4)
        |SELECT src_a, src_b, n_common_tokens,
        |  round(0.5 * (
        |    CAST(sa_int + (na - ia) * 693147181 AS DOUBLE) / na +
        |    CAST(sb_int + (nb - ib) * 693147181 AS DOUBLE) / nb) / 1e9, 9)
        |    AS jsd
        |FROM gg ORDER BY src_a, src_b""".stripMargin,

    // two-phase waterfall unrolled in SQL — valid because exactly one
    // round caps on this corpus (src0 at 50:1 caps; the 19-way
    // redistribution stays under every remaining cap); all arithmetic
    // is BIGINT division, identical to the operator's integer waterfall
    "q_budget_alloc" ->
      """WITH avail AS (
        |  SELECT source, CAST(sum(n_chars) AS BIGINT) AS avail
        |  FROM documents GROUP BY 1),
        |w(source, w) AS (VALUES
        |  ('src0', 50), ('src1', 1), ('src2', 1), ('src3', 1), ('src4', 1),
        |  ('src5', 1), ('src6', 1), ('src7', 1), ('src8', 1), ('src9', 1),
        |  ('src10', 1), ('src11', 1), ('src12', 1), ('src13', 1),
        |  ('src14', 1), ('src15', 1), ('src16', 1), ('src17', 1),
        |  ('src18', 1), ('src19', 1)),
        |b AS (SELECT CAST(CAST(sum(n_chars) AS BIGINT) // 2 AS BIGINT)
        |        AS budget FROM documents),
        |j AS (
        |  SELECT a.source, a.avail, CAST(COALESCE(w.w, 0) AS BIGINT) AS w,
        |    a.avail AS cap
        |  FROM avail a LEFT JOIN w USING (source)),
        |r1 AS (
        |  SELECT j.*, b.budget,
        |    CAST(b.budget * j.w //
        |      (SELECT CAST(sum(w) AS BIGINT) FROM j WHERE w > 0) AS BIGINT)
        |      >= j.cap AS capped
        |  FROM j, b),
        |agg AS (
        |  SELECT
        |    CAST(sum(CASE WHEN capped THEN cap ELSE 0 END) AS BIGINT)
        |      AS taken,
        |    CAST(sum(CASE WHEN NOT capped AND w > 0 THEN w ELSE 0 END)
        |      AS BIGINT) AS sumw2
        |  FROM r1),
        |alloc AS (
        |  SELECT r1.source, r1.avail, r1.cap, r1.capped AND r1.w > 0 AS capped,
        |    CASE WHEN r1.capped THEN r1.cap
        |         WHEN r1.w > 0 THEN
        |           CAST((r1.budget - agg.taken) * r1.w // agg.sumw2 AS BIGINT)
        |         ELSE 0 END AS alloc
        |  FROM r1, agg)
        |SELECT source, avail AS avail_tokens, cap AS cap_tokens,
        |  alloc AS alloc_tokens, CAST(alloc AS DOUBLE) / avail AS epochs,
        |  capped
        |FROM alloc ORDER BY source""".stripMargin,

    // exact distinct-shingle sets per source; jaccard/containment are
    // single IEEE divisions of exact integer counts — engine-identical
    // full-window shingles only (WHERE len >= 3 guard): ngramArray emits
    // NO shingle for a doc shorter than n tokens, so the oracle must not
    // fabricate a partial window for such docs (ADVICE r6)
    "q_source_overlap" ->
      """WITH sh AS (
        |  SELECT DISTINCT source AS g,
        |    unnest(list_transform(
        |      range(1, len(toks) - 2 + 1),
        |      i -> array_to_string(toks[i:i+2], ' '))) AS sh
        |  FROM (SELECT source, string_split(text, ' ') AS toks
        |        FROM documents)
        |  WHERE len(toks) >= 3),
        |sz AS (SELECT g, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.g AS src_a, b.g AS src_b, CAST(count(*) AS BIGINT) AS n_common
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.g < b.g GROUP BY 1, 2)
        |SELECT src_a, src_b, n_common, sa.sz AS sz_a, sb.sz AS sz_b,
        |  CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) AS jaccard,
        |  CAST(n_common AS DOUBLE) / sa.sz AS containment_a,
        |  CAST(n_common AS DOUBLE) / sb.sz AS containment_b
        |FROM inter JOIN sz sa ON sa.g = src_a JOIN sz sb ON sb.g = src_b
        |ORDER BY src_a, src_b""".stripMargin,

    // BM25: every constant enters as a cast literal so both engines do
    // the identical runtime IEEE ops; idf and per-term weights rounded
    // to 9 decimals, doc sum in DECIMAL(28,9) — engine-exact
    "q_bm25" ->
      """WITH toks AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS dl,
        |    unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |perdoc AS (
        |  SELECT doc_id, dl, tok, COUNT(*) AS tf
        |  FROM toks GROUP BY doc_id, dl, tok),
        |matched AS (
        |  SELECT * FROM perdoc WHERE tok IN ('spark', 'join', 'window')),
        |dftbl AS (SELECT tok, COUNT(*) AS df FROM matched GROUP BY tok),
        |stats AS (
        |  SELECT COUNT(*) AS n_docs,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_dl
        |  FROM documents),
        |scored AS (
        |  SELECT m.doc_id,
        |    round(round(ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
        |        / (CAST(df AS DOUBLE) + 0.5) + 1.0), 9)
        |      * (CAST(tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0)
        |         / (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
        |            * (1.0 - CAST(0.75 AS DOUBLE)
        |               + CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE)
        |                 / (CAST(sum_dl AS DOUBLE) / n_docs)))), 9) AS w
        |  FROM matched m JOIN dftbl f ON m.tok = f.tok, stats)
        |SELECT doc_id, COUNT(*) AS n_terms,
        |  CAST(SUM(CAST(w AS DECIMAL(28,9))) AS DOUBLE) AS score
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_phrase_search" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents),
        |tk AS (SELECT doc_id, i - 1 AS pos, toks[i] AS tok
        |       FROM t, unnest(range(1, len(toks) + 1)) AS u(i)),
        |ph AS (SELECT * FROM (VALUES (0, 'slow'), (1, 'hash'),
        |                             (2, 'batch')) p(idx, tok)),
        |c AS (SELECT tk.doc_id, tk.pos - ph.idx AS start
        |      FROM tk JOIN ph USING (tok) WHERE tk.pos - ph.idx >= 0
        |      GROUP BY 1, 2 HAVING count(DISTINCT ph.idx) = 3)
        |SELECT doc_id, COUNT(*) AS n_matches,
        |  CAST(MIN(start) AS BIGINT) AS first_pos
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // hybrid retrieval: BM25 rank + cosine rank fused by RRF — fused
    // scores are exact rationals of integer ranks
    "q_hybrid_rrf" ->
      """WITH toks AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS dl,
        |    unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |perdoc AS (
        |  SELECT doc_id, dl, tok, COUNT(*) AS tf
        |  FROM toks GROUP BY doc_id, dl, tok),
        |matched AS (
        |  SELECT * FROM perdoc WHERE tok IN ('spark', 'join', 'window')),
        |dftbl AS (SELECT tok, COUNT(*) AS df FROM matched GROUP BY tok),
        |stats AS (
        |  SELECT COUNT(*) AS n_docs,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_dl
        |  FROM documents),
        |scored AS (
        |  SELECT m.doc_id,
        |    round(round(ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
        |        / (CAST(df AS DOUBLE) + 0.5) + 1.0), 9)
        |      * (CAST(tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0)
        |         / (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
        |            * (1.0 - CAST(0.75 AS DOUBLE)
        |               + CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE)
        |                 / (CAST(sum_dl AS DOUBLE) / n_docs)))), 9) AS w
        |  FROM matched m JOIN dftbl f ON m.tok = f.tok, stats),
        |bm AS (
        |  SELECT doc_id, CAST(SUM(CAST(w AS DECIMAL(28,9))) AS DOUBLE) AS score
        |  FROM scored GROUP BY doc_id),
        |lexrank AS (
        |  SELECT id, rank FROM (
        |    SELECT doc_id AS id,
        |      row_number() OVER (ORDER BY score DESC, doc_id) AS rank
        |    FROM bm) WHERE rank <= 100),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT * FROM e WHERE vec_id = 0),
        |sims AS (
        |  SELECT c.vec_id AS id,
        |    list_dot_product(q.v, c.v)
        |      / (sqrt(list_dot_product(q.v, q.v))
        |         * sqrt(list_dot_product(c.v, c.v))) AS sim
        |  FROM q JOIN e c ON c.vec_id <> q.vec_id),
        |vecrank AS (
        |  SELECT id, rank FROM (
        |    SELECT id, row_number() OVER (ORDER BY sim DESC, id) AS rank
        |    FROM sims) WHERE rank <= 100),
        |unioned AS (
        |  SELECT id, round(1.0 / (CAST(60 AS DOUBLE) + CAST(rank AS DOUBLE)), 9)
        |    AS contrib FROM lexrank
        |  UNION ALL
        |  SELECT id, round(1.0 / (CAST(60 AS DOUBLE) + CAST(rank AS DOUBLE)), 9)
        |    AS contrib FROM vecrank)
        |SELECT id, CAST(SUM(CAST(contrib AS DECIMAL(28,9))) AS DOUBLE) AS rrf,
        |  COUNT(*) AS n_lists
        |FROM unioned GROUP BY id ORDER BY rrf DESC, id LIMIT 50""".stripMargin,

    "q_tfidf" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 100),
        |tokens AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |           FROM d),
        |per_doc AS (SELECT doc_id, tok, COUNT(*) AS tf
        |            FROM tokens GROUP BY doc_id, tok),
        |dfv AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tokens
        |        GROUP BY tok HAVING COUNT(DISTINCT doc_id) >= 2),
        |n AS (SELECT COUNT(*) AS n_docs FROM d)
        |SELECT per_doc.doc_id, per_doc.tok, per_doc.tf,
        |  CAST(per_doc.tf AS DOUBLE) * n.n_docs / dfv.df AS score
        |FROM per_doc JOIN dfv USING (tok) CROSS JOIN n
        |ORDER BY doc_id, tok""".stripMargin,

    "q_ngram_counts" ->
      """WITH t AS (SELECT string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT array_to_string(w[i:i+2], ' ') AS ngram
        |      FROM t, unnest(range(1, len(w) - 1)) AS u(i)
        |      WHERE len(w) >= 3)
        |SELECT ngram, COUNT(*) AS cnt FROM g
        |GROUP BY ngram HAVING COUNT(*) >= 3
        |ORDER BY ngram""".stripMargin,

    "q_novelty" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
        |           FROM documents),
        |g AS (SELECT DISTINCT doc_id,
        |        array_to_string(w[i:i+7], ' ') AS gm
        |      FROM d, unnest(range(1, len(w) - 6)) AS u(i)
        |      WHERE len(w) >= 8),
        |f AS (SELECT gm, MIN(doc_id) AS fd FROM g GROUP BY gm)
        |SELECT g.doc_id, COUNT(*) AS n_grams,
        |  CAST(SUM(CASE WHEN f.fd = g.doc_id THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_novel,
        |  CAST(SUM(CASE WHEN f.fd = g.doc_id THEN 1 ELSE 0 END)
        |    AS DOUBLE) / COUNT(*) AS novelty
        |FROM g JOIN f USING (gm)
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin,

    "q_blocklist" ->
      """SELECT doc_id, source FROM documents
        |WHERE NOT (text LIKE '%slow batch%'
        |  OR text LIKE '%dup table%'
        |  OR text LIKE '%the vector%')
        |ORDER BY doc_id""".stripMargin,

    "q_decontam" ->
      """WITH tr AS (SELECT doc_id, string_split(text, ' ') AS w
        |            FROM documents WHERE doc_id >= 100),
        |ev AS (SELECT string_split(text, ' ') AS w
        |       FROM documents WHERE doc_id < 100),
        |evg AS (SELECT DISTINCT array_to_string(w[i:i+7], ' ') AS g
        |        FROM ev, unnest(range(1, len(w) - 6)) AS u(i)
        |        WHERE len(w) >= 8),
        |trg AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+7], ' ') AS g
        |        FROM tr, unnest(range(1, len(w) - 6)) AS u(i)
        |        WHERE len(w) >= 8),
        |bad AS (SELECT DISTINCT doc_id FROM trg JOIN evg USING (g))
        |SELECT doc_id FROM tr
        |WHERE doc_id NOT IN (SELECT doc_id FROM bad)
        |ORDER BY doc_id""".stripMargin,

    // string 8-grams replay the hashed-shingle counts exactly (64-bit
    // hashes: no collisions on this corpus, same as q_decontam)
    "q_contam_score" ->
      """WITH tr AS (SELECT doc_id, string_split(text, ' ') AS w
        |            FROM documents WHERE doc_id >= 100),
        |ev AS (SELECT string_split(text, ' ') AS w
        |       FROM documents WHERE doc_id < 100),
        |evg AS (SELECT DISTINCT array_to_string(w[i:i+7], ' ') AS g
        |        FROM ev, unnest(range(1, len(w) - 6)) AS u(i)
        |        WHERE len(w) >= 8),
        |trg AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+7], ' ') AS g
        |        FROM tr, unnest(range(1, len(w) - 6)) AS u(i)
        |        WHERE len(w) >= 8),
        |cnt AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
        |    CAST(sum(CASE WHEN g IN (SELECT g FROM evg) THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_matched
        |  FROM trg GROUP BY doc_id)
        |SELECT doc_id, n_shingles, n_matched,
        |  CAST(n_matched AS DOUBLE) / n_shingles AS contamination
        |FROM cnt ORDER BY doc_id""".stripMargin,

    "q_rep_ratio" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
        |           FROM documents),
        |g AS (SELECT doc_id, array_to_string(w[i:i+2], ' ') AS ng
        |      FROM t, unnest(range(1, len(w) - 1)) AS u(i)
        |      WHERE len(w) >= 3)
        |SELECT doc_id, COUNT(*) AS n_total,
        |  COUNT(DISTINCT ng) AS n_distinct,
        |  1.0 - CAST(COUNT(DISTINCT ng) AS DOUBLE) / COUNT(*) AS rep_ratio
        |FROM g GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_encode_tokens" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents WHERE doc_id < 200),
        |tok AS (SELECT doc_id, generate_subscripts(toks, 1) AS pos,
        |               unnest(toks) AS tok FROM d),
        |vocab AS (
        |  SELECT tok, row_number() OVER (ORDER BY df DESC, tok) AS id
        |  FROM (SELECT tok, count(DISTINCT doc_id) AS df FROM tok
        |        GROUP BY tok HAVING count(DISTINCT doc_id) >= 5)),
        |enc AS (
        |  SELECT t.doc_id, t.pos, COALESCE(v.id, 0) AS id
        |  FROM tok t LEFT JOIN vocab v USING (tok))
        |SELECT doc_id,
        |  COALESCE(array_to_string(list(id ORDER BY pos), ','), '')
        |    AS token_ids,
        |  CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
        |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // same vocab/encode CTEs as q_encode_tokens; positions 0-based
    // (generate_subscripts is 1-based — block boundaries depend on it)
    "q_span_corrupt" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents
        |           WHERE doc_id < 200 AND text IS NOT NULL),
        |tok AS (SELECT doc_id, generate_subscripts(toks, 1) - 1 AS pos,
        |               unnest(toks) AS tok FROM d),
        |vocab AS (
        |  SELECT tok, row_number() OVER (ORDER BY df DESC, tok) AS id
        |  FROM (SELECT tok, count(DISTINCT doc_id) AS df FROM tok
        |        GROUP BY tok HAVING count(DISTINCT doc_id) >= 5)),
        |enc AS (
        |  SELECT t.doc_id, t.pos, COALESCE(v.id, 0) AS id
        |  FROM tok t LEFT JOIN vocab v USING (tok)),
        |mk AS (SELECT doc_id, pos, id, pos // 20 AS blk, pos % 20 AS pib,
        |         ((doc_id * 31 + pos // 20) * 2654435761)
        |           % 4294967296 % 18 AS off
        |       FROM enc),
        |mm AS (SELECT *, (pib >= off AND pib < off + 3) AS masked FROM mk),
        |inp AS (SELECT doc_id,
        |          array_to_string(list(CASE WHEN masked THEN blk + 1000000
        |            ELSE id END ORDER BY pos), ',') AS input_ids
        |        FROM mm WHERE NOT masked OR pib = off GROUP BY doc_id),
        |tg AS (SELECT doc_id, pos * 2 AS tp, id AS outv FROM mm
        |       WHERE masked
        |       UNION ALL
        |       SELECT doc_id, MIN(pos) * 2 - 1, blk + 1000000 FROM mm
        |       WHERE masked GROUP BY doc_id, blk),
        |tga AS (SELECT doc_id,
        |          array_to_string(list(outv ORDER BY tp), ',') AS target_ids
        |        FROM tg GROUP BY doc_id),
        |base AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens
        |         FROM d)
        |SELECT b.doc_id, b.n_tokens,
        |  COALESCE(i.input_ids, '') AS input_ids,
        |  COALESCE(t.target_ids, '') AS target_ids
        |FROM base b LEFT JOIN inp i USING (doc_id)
        |LEFT JOIN tga t USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin,

    "q_ntile" ->
      """SELECT o_custkey, o_orderkey,
        |  ntile(4) OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice, o_orderkey) AS quartile
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_histogram" ->
      """SELECT CAST(FLOOR(value / 50.0) AS BIGINT) AS bucket,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin,

    "q_window_dist" ->
      """SELECT c_nationkey, c_custkey,
        |  percent_rank() OVER w AS pr, cume_dist() OVER w AS cd
        |FROM customer
        |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
        |ORDER BY c_nationkey, c_custkey""".stripMargin,

    "q_upsert" ->
      """WITH t AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        |u AS (SELECT o_orderkey, 'U' AS o_orderstatus,
        |             o_totalprice + 1000.0 AS o_totalprice
        |      FROM t WHERE o_orderkey % 97 = 0)
        |SELECT * FROM u
        |UNION ALL
        |SELECT * FROM t WHERE o_orderkey NOT IN (SELECT o_orderkey FROM u)
        |ORDER BY o_orderkey""".stripMargin,

    "q_scd2" ->
      """SELECT user_id, event_id, value, ts AS valid_from,
        |  lead(ts, 1) OVER w AS valid_to,
        |  lead(ts, 1) OVER w IS NULL AS is_current
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, valid_from, event_id""".stripMargin,

    "q_group_sample" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice FROM (
        |  SELECT o_orderkey, o_orderpriority, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY (o_orderkey * 2654435761) % 4294967296, o_orderkey)
        |      AS rk
        |  FROM orders) WHERE rk <= 5
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin,

    "q_weighted_sample" ->
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars,
        |    row_number() OVER (PARTITION BY lang ORDER BY
        |      CASE WHEN n_chars IS NOT NULL AND n_chars > 0 THEN
        |        CAST((doc_id * 2654435761) % 4294967296 AS DOUBLE) / n_chars
        |      END ASC NULLS LAST,
        |      doc_id ASC NULLS LAST) AS rk
        |  FROM documents) WHERE rk <= 5
        |ORDER BY lang, doc_id""".stripMargin,

    // the salted formulation must be indistinguishable from the plain join
    "q_salted_join" ->
      """SELECT l_orderkey, l_linenumber, l_partkey AS pk, l_quantity, p_brand
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // the bloom pre-filter admits no false negatives and the join culls
    // false positives, so the reduced plan equals the plain join
    "q_bloom_join" ->
      """SELECT s_suppkey, s_name, COUNT(*) AS n_items,
        |  SUM(l_quantity) AS sum_qty
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |WHERE s_nationkey = 3
        |GROUP BY s_suppkey, s_name ORDER BY s_suppkey""".stripMargin,

    "q_para_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |chunks AS (
        |  SELECT doc_id, g.i AS chunk_idx,
        |    array_to_string(t[(g.i*10+1):(g.i*10+10)], ' ') AS chunk
        |  FROM toks, unnest(range(CAST(ceil(len(t)/10.0) AS BIGINT))) AS g(i)),
        |keep AS (
        |  SELECT doc_id, chunk_idx, chunk,
        |    row_number() OVER (PARTITION BY chunk
        |      ORDER BY doc_id, chunk_idx) AS rn
        |  FROM chunks)
        |SELECT doc_id, string_agg(chunk, ' ' ORDER BY chunk_idx) AS text
        |FROM keep WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_substring_dedup" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
        |           FROM documents),
        |tokens AS (SELECT doc_id, i - 1 AS pos, w[i] AS tok
        |           FROM d, unnest(range(1, len(w) + 1)) AS u(i)),
        |occ AS (SELECT doc_id, i - 1 AS wpos,
        |          array_to_string(w[i:i+7], ' ') AS win
        |        FROM d, unnest(range(1, len(w) - 6)) AS u(i)
        |        WHERE len(w) >= 8),
        |masked AS (SELECT doc_id, wpos FROM (
        |             SELECT doc_id, wpos,
        |               row_number() OVER (PARTITION BY win
        |                 ORDER BY doc_id, wpos) AS rn
        |             FROM occ) WHERE rn > 1),
        |covered AS (SELECT DISTINCT doc_id, wpos + j AS pos
        |            FROM masked, unnest(range(0, 8)) AS v(j)),
        |kept AS (SELECT t.doc_id,
        |           array_to_string(list(t.tok ORDER BY t.pos), ' ')
        |             AS text_dedup,
        |           COUNT(*) AS n_kept
        |         FROM tokens t ANTI JOIN covered c
        |           ON t.doc_id = c.doc_id AND t.pos = c.pos
        |         GROUP BY t.doc_id)
        |SELECT d.doc_id, CASE WHEN w IS NULL THEN NULL
        |    ELSE COALESCE(kept.text_dedup, '') END AS text_dedup,
        |  CAST(len(w) AS BIGINT) AS n_tokens,
        |  CAST(len(w) - COALESCE(n_kept, 0) AS BIGINT) AS n_dropped
        |FROM d LEFT JOIN kept ON d.doc_id = kept.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "q_substring_spans" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
        |           FROM documents),
        |occ AS (SELECT doc_id, i - 1 AS wpos,
        |          array_to_string(w[i:i+7], ' ') AS win
        |        FROM d, unnest(range(1, len(w) - 6)) AS u(i)
        |        WHERE len(w) >= 8),
        |xdoc AS (SELECT win FROM occ
        |         GROUP BY win HAVING count(DISTINCT doc_id) >= 2),
        |marked AS (SELECT DISTINCT o.doc_id, o.wpos
        |           FROM occ o JOIN xdoc USING (win)),
        |brk AS (SELECT doc_id, wpos,
        |          CASE WHEN lag(wpos) OVER dw IS NULL
        |                 OR wpos - lag(wpos) OVER dw > 8
        |               THEN 1 ELSE 0 END AS b
        |        FROM marked
        |        WINDOW dw AS (PARTITION BY doc_id ORDER BY wpos)),
        |isl AS (SELECT doc_id, wpos,
        |          sum(b) OVER (PARTITION BY doc_id ORDER BY wpos) AS g
        |        FROM brk)
        |SELECT doc_id, CAST(min(wpos) AS BIGINT) AS start_tok,
        |  CAST(max(wpos) + 7 AS BIGINT) AS end_tok,
        |  CAST(max(wpos) + 7 - min(wpos) + 1 AS BIGINT) AS span_tokens
        |FROM isl GROUP BY doc_id, g
        |ORDER BY doc_id, start_tok""".stripMargin,

    "q_substring_cut" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
        |           FROM documents),
        |tokens AS (SELECT doc_id, i - 1 AS pos, w[i] AS tok
        |           FROM d, unnest(range(1, len(w) + 1)) AS u(i)),
        |occ AS (SELECT doc_id, i - 1 AS wpos,
        |          array_to_string(w[i:i+7], ' ') AS win
        |        FROM d, unnest(range(1, len(w) - 6)) AS u(i)
        |        WHERE len(w) >= 8),
        |xdoc AS (SELECT win FROM occ
        |         GROUP BY win HAVING count(DISTINCT doc_id) >= 2),
        |marked AS (SELECT DISTINCT o.doc_id, o.wpos
        |           FROM occ o JOIN xdoc USING (win)),
        |covered AS (SELECT DISTINCT doc_id, wpos + j AS pos
        |            FROM marked, unnest(range(0, 8)) AS v(j)),
        |kept AS (SELECT t.doc_id,
        |           array_to_string(list(t.tok ORDER BY t.pos), ' ')
        |             AS text_cut,
        |           COUNT(*) AS n_kept
        |         FROM tokens t ANTI JOIN covered c
        |           ON t.doc_id = c.doc_id AND t.pos = c.pos
        |         GROUP BY t.doc_id)
        |SELECT d.doc_id, CASE WHEN w IS NULL THEN NULL
        |    ELSE COALESCE(kept.text_cut, '') END AS text_cut,
        |  CAST(len(w) AS BIGINT) AS n_tokens,
        |  CAST(len(w) - COALESCE(n_kept, 0) AS BIGINT) AS n_cut
        |FROM d LEFT JOIN kept ON d.doc_id = kept.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "q_contam_spans" ->
      """WITH tr AS (SELECT doc_id, string_split(text, ' ') AS w
        |            FROM documents WHERE doc_id >= 100),
        |ev AS (SELECT string_split(text, ' ') AS w
        |       FROM documents WHERE doc_id < 100),
        |evw AS (SELECT DISTINCT array_to_string(w[i:i+7], ' ') AS win
        |        FROM ev, unnest(range(1, len(w) - 6)) AS u(i)
        |        WHERE len(w) >= 8),
        |occ AS (SELECT doc_id, i - 1 AS wpos,
        |          array_to_string(w[i:i+7], ' ') AS win
        |        FROM tr, unnest(range(1, len(w) - 6)) AS u(i)
        |        WHERE len(w) >= 8),
        |marked AS (SELECT DISTINCT o.doc_id, o.wpos
        |           FROM occ o JOIN evw USING (win)),
        |brk AS (SELECT doc_id, wpos,
        |          CASE WHEN lag(wpos) OVER dw IS NULL
        |                 OR wpos - lag(wpos) OVER dw > 8
        |               THEN 1 ELSE 0 END AS b
        |        FROM marked
        |        WINDOW dw AS (PARTITION BY doc_id ORDER BY wpos)),
        |isl AS (SELECT doc_id, wpos,
        |          sum(b) OVER (PARTITION BY doc_id ORDER BY wpos) AS g
        |        FROM brk)
        |SELECT doc_id, CAST(min(wpos) AS BIGINT) AS start_tok,
        |  CAST(max(wpos) + 7 AS BIGINT) AS end_tok,
        |  CAST(max(wpos) + 7 - min(wpos) + 1 AS BIGINT) AS span_tokens
        |FROM isl GROUP BY doc_id, g
        |ORDER BY doc_id, start_tok""".stripMargin,

    // the incremental-index lifecycle's probe, replayed semantically:
    // spans of docs >= 200 covered by >= 8-token windows of docs < 200
    // (the two committed corpus increments) — same island-merge readout
    // as q_contam_spans
    "q_substring_incremental" ->
      """WITH tr AS (SELECT doc_id, string_split(text, ' ') AS w
        |            FROM documents WHERE doc_id >= 200),
        |ev AS (SELECT string_split(text, ' ') AS w
        |       FROM documents WHERE doc_id < 200),
        |evw AS (SELECT DISTINCT array_to_string(w[i:i+7], ' ') AS win
        |        FROM ev, unnest(range(1, len(w) - 6)) AS u(i)
        |        WHERE len(w) >= 8),
        |occ AS (SELECT doc_id, i - 1 AS wpos,
        |          array_to_string(w[i:i+7], ' ') AS win
        |        FROM tr, unnest(range(1, len(w) - 6)) AS u(i)
        |        WHERE len(w) >= 8),
        |marked AS (SELECT DISTINCT o.doc_id, o.wpos
        |           FROM occ o JOIN evw USING (win)),
        |brk AS (SELECT doc_id, wpos,
        |          CASE WHEN lag(wpos) OVER dw IS NULL
        |                 OR wpos - lag(wpos) OVER dw > 8
        |               THEN 1 ELSE 0 END AS b
        |        FROM marked
        |        WINDOW dw AS (PARTITION BY doc_id ORDER BY wpos)),
        |isl AS (SELECT doc_id, wpos,
        |          sum(b) OVER (PARTITION BY doc_id ORDER BY wpos) AS g
        |        FROM brk)
        |SELECT doc_id, CAST(min(wpos) AS BIGINT) AS start_tok,
        |  CAST(max(wpos) + 7 AS BIGINT) AS end_tok,
        |  CAST(max(wpos) + 7 - min(wpos) + 1 AS BIGINT) AS span_tokens
        |FROM isl GROUP BY doc_id, g
        |ORDER BY doc_id, start_tok""".stripMargin,

    "q_contam_scrub" ->
      """WITH tr AS (SELECT doc_id, string_split(text, ' ') AS w
        |            FROM documents WHERE doc_id >= 100),
        |ev AS (SELECT string_split(text, ' ') AS w
        |       FROM documents WHERE doc_id < 100),
        |evw AS (SELECT DISTINCT array_to_string(w[i:i+7], ' ') AS win
        |        FROM ev, unnest(range(1, len(w) - 6)) AS u(i)
        |        WHERE len(w) >= 8),
        |tokens AS (SELECT doc_id, i - 1 AS pos, w[i] AS tok
        |           FROM tr, unnest(range(1, len(w) + 1)) AS u(i)),
        |occ AS (SELECT doc_id, i - 1 AS wpos,
        |          array_to_string(w[i:i+7], ' ') AS win
        |        FROM tr, unnest(range(1, len(w) - 6)) AS u(i)
        |        WHERE len(w) >= 8),
        |marked AS (SELECT DISTINCT o.doc_id, o.wpos
        |           FROM occ o JOIN evw USING (win)),
        |covered AS (SELECT DISTINCT doc_id, wpos + j AS pos
        |            FROM marked, unnest(range(0, 8)) AS v(j)),
        |kept AS (SELECT t.doc_id,
        |           array_to_string(list(t.tok ORDER BY t.pos), ' ')
        |             AS text_cut,
        |           COUNT(*) AS n_kept
        |         FROM tokens t ANTI JOIN covered c
        |           ON t.doc_id = c.doc_id AND t.pos = c.pos
        |         GROUP BY t.doc_id)
        |SELECT tr.doc_id, CASE WHEN w IS NULL THEN NULL
        |    ELSE COALESCE(kept.text_cut, '') END AS text_cut,
        |  CAST(len(w) AS BIGINT) AS n_tokens,
        |  CAST(len(w) - COALESCE(n_kept, 0) AS BIGINT) AS n_cut
        |FROM tr LEFT JOIN kept ON tr.doc_id = kept.doc_id
        |ORDER BY tr.doc_id""".stripMargin,

    // window twin (partition by doc, chunk) of the zero-shuffle per-row
    // keep-first scan
    "q_intradoc_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |chunks AS (
        |  SELECT doc_id, g.i AS chunk_idx,
        |    array_to_string(t[(g.i*2+1):(g.i*2+2)], ' ') AS chunk
        |  FROM toks, unnest(range(CAST(ceil(len(t)/2.0) AS BIGINT))) AS g(i)),
        |keep AS (
        |  SELECT doc_id, chunk_idx, chunk,
        |    row_number() OVER (PARTITION BY doc_id, chunk
        |      ORDER BY chunk_idx) AS rn
        |  FROM chunks)
        |SELECT doc_id, string_agg(chunk, ' ' ORDER BY chunk_idx) AS text
        |FROM keep WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_boilerplate" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |chunks AS (
        |  SELECT doc_id, g.i AS chunk_idx,
        |    array_to_string(t[(g.i*10+1):(g.i*10+10)], ' ') AS chunk
        |  FROM toks, unnest(range(CAST(ceil(len(t)/10.0) AS BIGINT))) AS g(i)),
        |boiler AS (
        |  SELECT chunk FROM chunks GROUP BY chunk
        |  HAVING COUNT(DISTINCT doc_id) >= 3)
        |SELECT doc_id, string_agg(chunk, ' ' ORDER BY chunk_idx) AS text
        |FROM chunks WHERE chunk NOT IN (SELECT chunk FROM boiler)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // same Knuth-hash bucket rule as q_split; range(copies) replicates
    "q_upsample" ->
      """WITH base AS (
        |  SELECT doc_id, source,
        |    CASE source WHEN 'src0' THEN 250 WHEN 'src1' THEN 130
        |                WHEN 'src2' THEN 29 ELSE -1 END AS p,
        |    ((doc_id * 2654435761) % 4294967296) % 100 AS b
        |  FROM documents),
        |e AS (
        |  SELECT doc_id, source,
        |    p // 100 + CASE WHEN b < p % 100 THEN 1 ELSE 0 END AS copies
        |  FROM base WHERE p >= 0)
        |SELECT doc_id, source, CAST(g.i AS BIGINT) AS copy_id
        |FROM e, unnest(range(copies)) AS g(i)
        |ORDER BY doc_id, copy_id""".stripMargin,

    "q_split" ->
      """SELECT split, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM (
        |  SELECT CASE WHEN b < 90 THEN 'train'
        |              WHEN b < 95 THEN 'val' ELSE 'test' END AS split,
        |         n_chars
        |  FROM (SELECT ((doc_id * 2654435761) % 4294967296) % 100 AS b,
        |               n_chars FROM documents))
        |GROUP BY split ORDER BY split""".stripMargin,

    "q_strat_split" ->
      """WITH n AS (SELECT source, count(*) AS n FROM documents
        |           GROUP BY source),
        |r AS (SELECT d.doc_id, d.source, n.n,
        |        row_number() OVER (PARTITION BY d.source
        |          ORDER BY d.doc_id) AS rn
        |      FROM documents d JOIN n USING (source))
        |SELECT doc_id, source,
        |  CASE WHEN rn <= CAST(n * 90 // 100 AS BIGINT) THEN 'train'
        |       WHEN rn <= CAST(n * 95 // 100 AS BIGINT) THEN 'val'
        |       ELSE 'test' END AS split
        |FROM r ORDER BY doc_id""".stripMargin,

    "q_split_leakage" ->
      """SELECT doc_id,
        |  CASE WHEN b < 90 THEN 'train'
        |       WHEN b < 95 THEN 'val' ELSE 'test' END AS split
        |FROM (
        |  SELECT doc_id, ((rep * 2654435761) % 4294967296) % 100 AS b
        |  FROM (SELECT doc_id,
        |          MIN(doc_id) OVER (PARTITION BY doc_id // 4) AS rep
        |        FROM documents))
        |ORDER BY doc_id""".stripMargin,

    "q_source_cap" ->
      """SELECT doc_id, source, n_chars FROM (
        |  SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents) WHERE rn <= 3
        |ORDER BY source, doc_id""".stripMargin,

    "q_unpivot" ->
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
        |       l_quantity AS value FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
        |FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin,

    "q_stats_moments" ->
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
        |ORDER BY l_returnflag""".stripMargin,

    "q_group_by_all" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY ALL ORDER BY ALL""".stripMargin,

    "q_listagg" ->
      """SELECT c_nationkey,
        |  string_agg(c_name, ',' ORDER BY c_name) AS names,
        |  string_agg(DISTINCT c_mktsegment, '|' ORDER BY c_mktsegment)
        |    AS segments
        |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "q_edit_distance" ->
      """SELECT a.p_partkey,
        |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
        |FROM part a JOIN part b ON b.p_partkey = a.p_partkey + 1
        |ORDER BY a.p_partkey""".stripMargin,

    "q_fuzzy_join" ->
      """WITH t AS (SELECT string_split(text, ' ') AS w FROM documents),
        |b AS (SELECT DISTINCT array_to_string(w[i:i+1], ' ') AS s
        |      FROM t, unnest(range(1, len(w))) AS u(i)
        |      WHERE len(w) >= 2),
        |r AS (SELECT DISTINCT 'x' || s[2:] AS s FROM b)
        |SELECT b.s AS left_id, r.s AS right_id,
        |  CAST(levenshtein(b.s, r.s) AS BIGINT) AS dist
        |FROM b, r
        |WHERE levenshtein(b.s, r.s) <= 1
        |ORDER BY left_id, right_id""".stripMargin,

    "q_explode_outer" ->
      """SELECT doc_id,
        |  unnest(CASE WHEN len(l) = 0 THEN [NULL] ELSE l END) AS tok
        |FROM (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '),
        |                x -> length(x) > 8) AS l
        |  FROM documents WHERE doc_id < 200)
        |ORDER BY doc_id, tok""".stripMargin,

    "q_lateral" ->
      """SELECT o_orderkey, l.l_linenumber, l.l_quantity
        |FROM orders,
        |LATERAL (
        |  SELECT l_linenumber, l_quantity FROM lineitem
        |  WHERE l_orderkey = o_orderkey
        |  ORDER BY l_quantity DESC, l_linenumber LIMIT 1) AS l
        |WHERE o_orderkey < 1000
        |ORDER BY o_orderkey""".stripMargin,

    "q_variant" ->
      """SELECT event_id,
        |  CAST(json_extract(props, '$.k') AS BIGINT) AS k,
        |  CAST(json_extract(props, '$.k') AS DOUBLE) * value AS kv
        |FROM events ORDER BY event_id""".stripMargin,

    "q_recursive_cte" ->
      """WITH RECURSIVE sizes(n) AS (
        |  SELECT 1 AS n
        |  UNION ALL
        |  SELECT n + 1 FROM sizes WHERE n < 50
        |)
        |SELECT n, COUNT(p_partkey) AS n_parts
        |FROM sizes LEFT JOIN part ON p_size = n
        |GROUP BY n ORDER BY n""".stripMargin,

    "q_window_trailing" ->
      """SELECT event_id, user_id,
        |  COUNT(*) OVER (PARTITION BY user_id ORDER BY ts
        |    RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        |    AS n_1h
        |FROM events ORDER BY event_id""".stripMargin,

    "q_gopher" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |    CAST(length(text) AS DOUBLE) AS n_chars,
        |    CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))
        |      AS DOUBLE) AS symbols,
        |    CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
        |      AS DOUBLE) AS numerals
        |  FROM documents)
        |SELECT doc_id, n_words,
        |  round(CASE WHEN n_words > 0
        |    THEN (n_chars - (n_words - 1)) / n_words ELSE 0.0 END, 10)
        |    AS mean_word_len,
        |  round(CASE WHEN n_words > 0
        |    THEN symbols / n_words ELSE 1.0 END, 10) AS symbol_ratio,
        |  (n_words >= 20 AND n_words <= 100000
        |   AND (CASE WHEN n_words > 0
        |        THEN (n_chars - (n_words - 1)) / n_words ELSE 0.0 END)
        |       BETWEEN 3.0 AND 10.0
        |   AND (CASE WHEN n_words > 0
        |        THEN symbols / n_words ELSE 1.0 END) < 0.1
        |   AND (CASE WHEN n_chars > 0
        |        THEN numerals / n_chars ELSE 1.0 END) < 0.2) AS pass
        |FROM t ORDER BY doc_id""".stripMargin,

    // Gopher repetition replay: n-grams via 1-based inclusive list
    // slices (range is end-exclusive, so range(1, nw - n + 2) emits
    // exactly the nw-n+1 gram starts and [] below n words, matching
    // the engine's guarded sequence); top gram = (count desc, length
    // desc) row_number 1 = the engine's max(struct(c, l)); masses sum
    // plain (BIGINT c*l stays tiny) and close with the same
    // least(mass/cb, 1.0) rounded 9
    "q_repetition" ->
      """WITH w AS (
        |  SELECT doc_id, CAST(length(text) AS BIGINT) AS cb,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nw,
        |    string_split(text, ' ') AS ws, text
        |  FROM documents),
        |g2 AS (
        |  SELECT doc_id, unnest(list_transform(range(1, CAST(nw AS INT)),
        |      i -> array_to_string(ws[i : i + 1], ' '))) AS g
        |  FROM w),
        |g3 AS (
        |  SELECT doc_id, unnest(list_transform(range(1, CAST(nw - 1 AS INT)),
        |      i -> array_to_string(ws[i : i + 2], ' '))) AS g
        |  FROM w),
        |c2 AS (SELECT doc_id, COUNT(*) AS c, length(g) AS l
        |       FROM g2 GROUP BY doc_id, g),
        |c3 AS (SELECT doc_id, COUNT(*) AS c, length(g) AS l
        |       FROM g3 GROUP BY doc_id, g),
        |top AS (
        |  SELECT doc_id, c * l AS mass FROM (
        |    SELECT doc_id, c, l, row_number() OVER (PARTITION BY doc_id
        |        ORDER BY c DESC, l DESC) AS rn
        |    FROM c2) WHERE rn = 1),
        |dup AS (SELECT doc_id, SUM(CASE WHEN c >= 2 THEN c * l END) AS mass
        |        FROM c3 GROUP BY doc_id),
        |ln AS (
        |  SELECT doc_id, SUM(CASE WHEN c >= 2 THEN c * l END) AS mass
        |  FROM (SELECT doc_id, COUNT(*) AS c, length(lx) AS l
        |        FROM (SELECT doc_id,
        |                unnest(string_split(text, chr(10))) AS lx
        |              FROM w)
        |        GROUP BY doc_id, lx)
        |  GROUP BY doc_id)
        |SELECT w.doc_id, nw AS n_words,
        |  CASE WHEN cb > 0 THEN round(least(
        |    CAST(COALESCE(top.mass, 0) AS DOUBLE) / CAST(cb AS DOUBLE),
        |    1.0), 9) ELSE 0.0 END AS top_ngram_chars_frac,
        |  CASE WHEN cb > 0 THEN round(least(
        |    CAST(COALESCE(dup.mass, 0) AS DOUBLE) / CAST(cb AS DOUBLE),
        |    1.0), 9) ELSE 0.0 END AS dup_ngram_chars_frac,
        |  CASE WHEN cb > 0 THEN round(least(
        |    CAST(COALESCE(ln.mass, 0) AS DOUBLE) / CAST(cb AS DOUBLE),
        |    1.0), 9) ELSE 0.0 END AS dup_line_chars_frac
        |FROM w LEFT JOIN top ON w.doc_id = top.doc_id
        |LEFT JOIN dup ON w.doc_id = dup.doc_id
        |LEFT JOIN ln ON w.doc_id = ln.doc_id
        |ORDER BY w.doc_id""".stripMargin,

    "q_quality_prune" ->
      """WITH q AS (
        |  SELECT doc_id, source,
        |    (LEAST(CAST(LENGTH(text) AS DOUBLE) / CAST(200.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
        |     + CASE WHEN LENGTH(text) > 0
        |            THEN CAST(LENGTH(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
        |                 / CAST(LENGTH(text) AS DOUBLE)
        |            ELSE CAST(0.0 AS DOUBLE) END
        |     + CASE WHEN len(string_split(text, ' ')) > 0
        |                 AND CAST(LENGTH(text) AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE) >= 3
        |                 AND CAST(LENGTH(text) AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE) <= 10
        |            THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.5 AS DOUBLE) END
        |    ) / CAST(3.0 AS DOUBLE) AS quality
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, source,
        |    percent_rank() OVER (PARTITION BY source
        |      ORDER BY quality DESC, doc_id) AS pr
        |  FROM q)
        |SELECT doc_id, source FROM r WHERE pr < 0.3
        |ORDER BY doc_id""".stripMargin,

    // per-char counts → integer nanonat terms → one IEEE closing sequence:
    // replays VectorExprs.ByteEntropy bit-for-bit (corpus is ASCII, so
    // DuckDB characters = the expression's bytes)
    "q_entropy" ->
      """WITH chars AS (
        |  SELECT doc_id, unnest(string_split(text, '')) AS ch
        |  FROM documents),
        |cc AS (
        |  SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS cnt
        |  FROM chars GROUP BY 1, 2),
        |agg AS (
        |  SELECT doc_id,
        |    CAST(sum(cnt * CAST(round(ln(cnt) * 1e9) AS BIGINT)) AS BIGINT)
        |      AS sum_nano,
        |    CAST(sum(cnt) AS BIGINT) AS n
        |  FROM cc GROUP BY 1),
        |e AS (
        |  SELECT doc_id,
        |    (CAST(round(ln(n) * 1e9) AS BIGINT) - sum_nano / CAST(n AS DOUBLE))
        |      / 1e9 AS ent
        |  FROM agg)
        |SELECT doc_id, round(ent, 9) AS entropy,
        |  ent BETWEEN 1.5 AND 5.0 AS pass
        |FROM e ORDER BY doc_id""".stripMargin,

    "q_pack_seq" ->
      """WITH packed AS (
        |  SELECT source, doc_id, text, n_chars,
        |    CAST(COALESCE(SUM(n_chars) OVER (PARTITION BY source
        |      ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 1000
        |      AS BIGINT) AS shard
        |  FROM documents)
        |SELECT source, shard,
        |  string_agg(text, ' <eos> ' ORDER BY doc_id) AS seq,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_weight,
        |  COUNT(*) AS n_docs
        |FROM packed GROUP BY source, shard
        |ORDER BY source, shard""".stripMargin,

    // same packing CTE; boundary offsets via per-index prefix list_sum —
    // the engine's in-array aggregate scan, replayed in SQL
    "q_pack_boundaries" ->
      """WITH packed AS (
        |  SELECT source, doc_id, text, n_chars,
        |    CAST(COALESCE(SUM(n_chars) OVER (PARTITION BY source
        |      ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 1000
        |      AS BIGINT) AS shard
        |  FROM documents),
        |g AS (
        |  SELECT source, shard,
        |    string_agg(text, ' <eos> ' ORDER BY doc_id) AS seq,
        |    list(doc_id ORDER BY doc_id) AS doc_ids,
        |    list(n_chars ORDER BY doc_id) AS doc_lens
        |  FROM packed GROUP BY source, shard)
        |SELECT source, shard, seq,
        |  COALESCE(array_to_string(doc_ids, ','), '') AS doc_ids,
        |  COALESCE(array_to_string(doc_lens, ','), '') AS doc_lens,
        |  COALESCE(array_to_string(
        |    list_transform(range(1, len(doc_lens) + 1),
        |      i -> CAST(COALESCE(list_sum(doc_lens[1:i-1]), 0) AS BIGINT)),
        |    ','), '') AS doc_starts
        |FROM g ORDER BY source, shard""".stripMargin,

    // the engine's prefix-sum/explode span construction replayed as a
    // window + range unnest: doc at stream offset s, weight w covers
    // examples s//B .. (s+w-1)//B with half-open in-doc token bounds
    "q_pack_contiguous" ->
      """WITH w AS (
        |  SELECT source, doc_id, CAST(n_chars AS BIGINT) AS w,
        |    CAST(COALESCE(SUM(n_chars) OVER (PARTITION BY source
        |      ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS s
        |  FROM documents WHERE n_chars > 0)
        |SELECT source, CAST(e AS BIGINT) AS example, doc_id,
        |  CAST(GREATEST(0, e * 1000 - s) AS BIGINT) AS tok_start,
        |  CAST(LEAST(w, (e + 1) * 1000 - s) AS BIGINT) AS tok_end
        |FROM w, unnest(range(s // 1000, (s + w - 1) // 1000 + 1)) AS u(e)
        |ORDER BY source, example, doc_id, tok_start""".stripMargin,

    "q_key_skew" ->
      """SELECT l_suppkey, COUNT(*) AS cnt,
        |  COUNT(*) / CAST((SELECT COUNT(*) FROM lineitem) AS DOUBLE)
        |    AS share
        |FROM lineitem GROUP BY l_suppkey
        |ORDER BY cnt DESC, l_suppkey LIMIT 20""".stripMargin,

    // full grouped count twin of the sketch-bounded two-pass plan: the
    // Misra–Gries superset guarantee + exact candidate filter make the
    // Spark output identical to HAVING cnt*(k+1) > n
    "q_heavy_hitters" ->
      """WITH toks AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
        |  WHERE text IS NOT NULL),
        |c AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok)
        |SELECT tok, cnt,
        |  cnt / CAST((SELECT COUNT(*) FROM toks) AS DOUBLE) AS share
        |FROM c WHERE cnt * 31 > (SELECT COUNT(*) FROM toks)
        |ORDER BY cnt DESC, tok""".stripMargin,

    "q_heavy_by_group" ->
      """WITH toks AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents WHERE text IS NOT NULL),
        |c AS (SELECT source, tok, COUNT(*) AS cnt FROM toks GROUP BY 1, 2),
        |n AS (SELECT source, COUNT(*) AS n FROM toks GROUP BY 1)
        |SELECT c.source, c.tok, c.cnt,
        |  c.cnt / CAST(n.n AS DOUBLE) AS share
        |FROM c JOIN n USING (source) WHERE c.cnt * 31 > n.n
        |ORDER BY c.source, c.cnt DESC, c.tok""".stripMargin,

    // quantile_cont == Spark exact percentile; the Decimal(18,6) sum
    // absorbs any final-ulp interpolation difference in clipped values
    "q_winsorize" ->
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
        |GROUP BY d.source ORDER BY d.source""".stripMargin,

    "q_dist_drift" ->
      """WITH ca AS (SELECT source, count(*) AS cnt_a FROM documents
        |            WHERE doc_id < 250 GROUP BY source),
        |cb AS (SELECT source, count(*) AS cnt_b FROM documents
        |       WHERE doc_id >= 250 GROUP BY source),
        |j AS (SELECT COALESCE(ca.source, cb.source) AS source,
        |        COALESCE(cnt_a, 0) AS cnt_a, COALESCE(cnt_b, 0) AS cnt_b
        |      FROM ca FULL OUTER JOIN cb ON ca.source = cb.source),
        |t AS (SELECT sum(cnt_a) AS ta, sum(cnt_b) AS tb, count(*) AS k
        |      FROM j)
        |SELECT source, CAST(cnt_a AS BIGINT) AS cnt_a,
        |  CAST(cnt_b AS BIGINT) AS cnt_b,
        |  CAST(cnt_a + 1 AS DOUBLE) / (ta + k) AS share_a,
        |  CAST(cnt_b + 1 AS DOUBLE) / (tb + k) AS share_b,
        |  round(CAST(cnt_a + 1 AS DOUBLE) / (ta + k)
        |    * ln((CAST(cnt_a + 1 AS DOUBLE) / (ta + k))
        |          / (CAST(cnt_b + 1 AS DOUBLE) / (tb + k))), 9) AS kl_contrib
        |FROM j, t ORDER BY source""".stripMargin,

    "q_psi" ->
      """WITH ca AS (SELECT source, count(*) AS cnt_a FROM documents
        |            WHERE doc_id < 250 GROUP BY source),
        |cb AS (SELECT source, count(*) AS cnt_b FROM documents
        |       WHERE doc_id >= 250 GROUP BY source),
        |j AS (SELECT COALESCE(ca.source, cb.source) AS source,
        |        COALESCE(cnt_a, 0) AS cnt_a, COALESCE(cnt_b, 0) AS cnt_b
        |      FROM ca FULL OUTER JOIN cb ON ca.source = cb.source),
        |t AS (SELECT sum(cnt_a) AS ta, sum(cnt_b) AS tb, count(*) AS k
        |      FROM j)
        |SELECT source, CAST(cnt_a AS BIGINT) AS cnt_a,
        |  CAST(cnt_b AS BIGINT) AS cnt_b,
        |  CAST(cnt_a + 1 AS DOUBLE) / (ta + k) AS share_a,
        |  CAST(cnt_b + 1 AS DOUBLE) / (tb + k) AS share_b,
        |  round((CAST(cnt_a + 1 AS DOUBLE) / (ta + k)
        |         - CAST(cnt_b + 1 AS DOUBLE) / (tb + k))
        |    * ln((CAST(cnt_a + 1 AS DOUBLE) / (ta + k))
        |          / (CAST(cnt_b + 1 AS DOUBLE) / (tb + k))), 9) AS psi_term
        |FROM j, t ORDER BY source""".stripMargin,

    "q_psi_numeric" ->
      """WITH b AS (SELECT o_orderkey,
        |    CAST(FLOOR(o_totalprice / 50000) AS BIGINT) AS bin
        |  FROM orders),
        |ca AS (SELECT bin, count(*) AS cnt_a FROM b
        |       WHERE o_orderkey % 2 = 0 GROUP BY bin),
        |cb AS (SELECT bin, count(*) AS cnt_b FROM b
        |       WHERE o_orderkey % 2 = 1 GROUP BY bin),
        |j AS (SELECT COALESCE(ca.bin, cb.bin) AS bin,
        |        COALESCE(cnt_a, 0) AS cnt_a, COALESCE(cnt_b, 0) AS cnt_b
        |      FROM ca FULL OUTER JOIN cb ON ca.bin = cb.bin),
        |t AS (SELECT sum(cnt_a) AS ta, sum(cnt_b) AS tb, count(*) AS k
        |      FROM j)
        |SELECT bin, CAST(cnt_a AS BIGINT) AS cnt_a,
        |  CAST(cnt_b AS BIGINT) AS cnt_b,
        |  CAST(cnt_a + 1 AS DOUBLE) / (ta + k) AS share_a,
        |  CAST(cnt_b + 1 AS DOUBLE) / (tb + k) AS share_b,
        |  round((CAST(cnt_a + 1 AS DOUBLE) / (ta + k)
        |         - CAST(cnt_b + 1 AS DOUBLE) / (tb + k))
        |    * ln((CAST(cnt_a + 1 AS DOUBLE) / (ta + k))
        |          / (CAST(cnt_b + 1 AS DOUBLE) / (tb + k))), 9) AS psi_term
        |FROM j, t ORDER BY bin""".stripMargin,

    // doubled-average-rank replay: 2r = 2·cum_before + cnt + 1 per tie
    // block, HUGEINT moments, the autocorrelation closing formula
    "q_spearman" ->
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
        |FROM a ORDER BY 1""".stripMargin,

    // the same cell-collapse replay: C−D from the lower-x cell-pair
    // join, tie terms from the marginals, one rounded IEEE close
    "q_kendall" ->
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
        |ORDER BY 1""".stripMargin,

    // exact 2U = Σ 2·cA·cumB_prev + cA·cB in HUGEINT, cast BIGINT
    // (errors on overflow like the engine's guard)
    "q_mannwhitney" ->
      """WITH s AS (
        |  SELECT o_orderpriority AS g, o_totalprice AS v,
        |    CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END AS sa,
        |    CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END AS sb
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |pv AS (SELECT g, v, SUM(sa) AS ca, SUM(sb) AS cb
        |       FROM s GROUP BY 1, 2),
        |w AS (SELECT g, ca, cb,
        |        COALESCE(SUM(cb) OVER (PARTITION BY g ORDER BY v
        |          ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0)
        |          AS cumbp
        |      FROM pv)
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
        |FROM w GROUP BY g ORDER BY g""".stripMargin,

    // the Mann–Whitney identity with negatives as side a / positives
    // the Mann–Whitney battery CTEs verbatim, then the BH step-up:
    // global rank, suffix-min adjusted p, k* scalar crossed back
    "q_bh" ->
      """WITH s AS (
        |  SELECT o_orderpriority AS g, o_totalprice AS v,
        |    CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END AS sa,
        |    CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END AS sb
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |pv AS (SELECT g, v, SUM(sa) AS ca, SUM(sb) AS cb
        |       FROM s GROUP BY 1, 2),
        |w AS (SELECT g, ca, cb,
        |        COALESCE(SUM(cb) OVER (PARTITION BY g ORDER BY v
        |          ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0)
        |          AS cumbp
        |      FROM pv),
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
        |ORDER BY rank""".stripMargin,

    // generalized Fleiss: per-item pair agreement over the cell table,
    // chance marginals over the SAME n_i >= 2 item set
    "q_fleiss" ->
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
        |ORDER BY n_items""".stripMargin,

    "q_ewma" -> ewmaOracle,

    "q_hilbert" -> hilbertOracle,

    // the fold order IS the definition: the recursive CTE steps one
    // row per series per iteration, recomputing the identical IEEE
    // expression tree (dyadic coefficients, no libm)
    "q_holt" ->
      """WITH RECURSIVE h AS (
        |  SELECT event_type AS s, date_trunc('hour', ts) AS o,
        |    CAST(COUNT(*) AS DOUBLE) AS x
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT s, o, x,
        |        ROW_NUMBER() OVER (PARTITION BY s ORDER BY o) AS rn
        |      FROM h),
        |hw(s, o, x, rn, l, b) AS (
        |  SELECT s, o, x, rn, x, CAST(0.0 AS DOUBLE) FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT r.s, r.o, r.x, r.rn,
        |    0.5 * r.x + 0.5 * (hw.l + hw.b),
        |    0.5 * ((0.5 * r.x + 0.5 * (hw.l + hw.b)) - hw.l) + 0.5 * hw.b
        |  FROM hw JOIN r ON r.s = hw.s AND r.rn = hw.rn + 1)
        |SELECT s AS event_type, o AS w_start, x,
        |  round(l, 9) AS level, round(b, 9) AS trend,
        |  round(l + b, 9) AS forecast_next
        |FROM hw
        |ORDER BY event_type, w_start""".stripMargin,

    // Poisson-bootstrap replay: same Knuth coin, same ⌊CDF·2³²⌋ integer
    // thresholds, same percentile-rank selection — pure integer/decimal
    // arithmetic end-to-end, so the interval reproduces bit-for-bit
    "q_bootstrap" ->
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
        |ORDER BY 1""".stripMargin,

    // as side b: AUC = u2 / (2·n_neg·n_pos), same exact HUGEINT u2
    "q_auc" ->
      """WITH s AS (
        |  SELECT o_orderpriority AS g, o_totalprice AS v,
        |    CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END AS sa,
        |    CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END AS sb
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |pv AS (SELECT g, v, SUM(sa) AS ca, SUM(sb) AS cb
        |       FROM s GROUP BY 1, 2),
        |w AS (SELECT g, ca, cb,
        |        COALESCE(SUM(cb) OVER (PARTITION BY g ORDER BY v
        |          ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0)
        |          AS cumbp
        |      FROM pv)
        |SELECT g AS o_orderpriority,
        |  CAST(SUM(ca) AS BIGINT) AS n_neg,
        |  CAST(SUM(cb) AS BIGINT) AS n_pos,
        |  CASE WHEN SUM(ca) > 0 AND SUM(cb) > 0 THEN
        |    round(CAST(SUM(2 * CAST(ca AS HUGEINT) * cumbp
        |             + CAST(ca AS HUGEINT) * cb) AS DOUBLE)
        |      / CAST(2 * CAST(SUM(ca) AS HUGEINT) * SUM(cb) AS DOUBLE),
        |      9)
        |  ELSE NULL END AS auc
        |FROM w GROUP BY g ORDER BY g""".stripMargin,

    // snapshot-diff replay: the same polynomial fingerprint (q_fingerprint's
    // list_reduce recurrence) computed once over the tagged union of both
    // sides, then the full-outer verdict — a hash collision reads
    // 'unchanged' on both engines by construction
    "q_snapshot_diff" ->
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
        |ORDER BY doc_id""".stripMargin,

    // cumulative curve replay: per-band collapse, one descending
    // group window (RANGE default == ROWS here: thresholds are
    // distinct per group), two rounded closes
    "q_pr_curve" ->
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
        |FROM c ORDER BY 1, 2 DESC""".stripMargin,

    // integer-cent ECDF replay: |cum_a·n_b − cum_b·n_a|·gap summed in
    // HUGEINT, one closing division
    "q_wasserstein" ->
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
        |FROM w GROUP BY g ORDER BY g""".stripMargin,

    "q_weighted_percentile" ->
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
        |GROUP BY grp, pct ORDER BY grp, pct""".stripMargin,

    "q_l_diversity" ->
      """SELECT c_nationkey, c_mktsegment,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(COUNT(DISTINCT CAST(FLOOR(c_acctbal / 1000) AS INTEGER))
        |    AS BIGINT) AS n_distinct_sensitive
        |FROM customer GROUP BY 1, 2
        |HAVING COUNT(DISTINCT CAST(FLOOR(c_acctbal / 1000) AS INTEGER)) < 8
        |ORDER BY 1, 2""".stripMargin,

    "q_ohlc_bars" ->
      """SELECT event_type, date_trunc('hour', ts) AS bar_ts,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  arg_min(value, CAST(epoch_us(ts) AS HUGEINT) * 1099511627776
        |    + event_id) AS open,
        |  max(value) AS high, min(value) AS low,
        |  arg_max(value, CAST(epoch_us(ts) AS HUGEINT) * 1099511627776
        |    + event_id) AS close,
        |  CAST(SUM(CAST(round(value * 1000000000.0) AS HUGEINT))
        |    AS BIGINT) AS sum_value_nanos
        |FROM events WHERE value IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // integer CUSUM replay: HUGEINT products, argmax via QUALIFY with
    // the same (|D| desc, k asc) total order
    "q_changepoint" ->
      """WITH c AS (SELECT event_type, date_trunc('hour', ts) AS bucket_ts,
        |            CAST(COUNT(*) AS BIGINT) AS x
        |          FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, bucket_ts, x,
        |        CAST(ROW_NUMBER() OVER (PARTITION BY event_type
        |          ORDER BY bucket_ts) AS BIGINT) AS k,
        |        SUM(x) OVER (PARTITION BY event_type ORDER BY bucket_ts
        |          ROWS UNBOUNDED PRECEDING) AS cum,
        |        SUM(x) OVER (PARTITION BY event_type) AS tot,
        |        CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |      FROM c),
        |s AS (SELECT *, CAST(n AS HUGEINT) * cum - CAST(k AS HUGEINT) * tot
        |        AS d
        |      FROM w WHERE k < n)
        |SELECT event_type, k, bucket_ts, n AS n_buckets,
        |  CAST(d AS BIGINT) AS d,
        |  round(CAST(cum AS DOUBLE) / k, 9) AS mean_before,
        |  round(CAST(tot - cum AS DOUBLE) / (n - k), 9) AS mean_after
        |FROM s
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY event_type
        |  ORDER BY abs(d) DESC, k) = 1
        |ORDER BY event_type""".stripMargin,

    // PAA replay: position by the (ts, id) total order, integer frame
    // boundaries, one exact-decimal mean division, fixed-break CASE
    "q_sax" ->
      """WITH s AS (SELECT event_type, ts, event_id, value FROM events
        |           WHERE value IS NOT NULL),
        |w AS (SELECT event_type, ts, value,
        |        ROW_NUMBER() OVER (PARTITION BY event_type
        |          ORDER BY ts, event_id) AS k,
        |        COUNT(*) OVER (PARTITION BY event_type) AS n
        |      FROM s),
        |g AS (SELECT event_type, CAST((k - 1) * 8 // n AS BIGINT)
        |        AS segment, ts, value
        |      FROM w),
        |a AS (SELECT event_type, segment, CAST(COUNT(*) AS BIGINT) AS n,
        |        MIN(ts) AS seg_start,
        |        round(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |          / COUNT(*), 9) AS mean_value
        |      FROM g GROUP BY 1, 2)
        |SELECT event_type, segment, n, seg_start, mean_value,
        |  CAST(1 + CASE WHEN mean_value > 50.0 THEN 1 ELSE 0 END
        |         + CASE WHEN mean_value > 150.0 THEN 1 ELSE 0 END
        |         + CASE WHEN mean_value > 300.0 THEN 1 ELSE 0 END
        |    AS BIGINT) AS symbol
        |FROM a ORDER BY event_type, segment""".stripMargin,

    // the q_sax window construction at 64 segments, then the sliding
    // 4-symbol words (complete windows only — trailing leads NULL out)
    // and the per-series (cnt, word)-ordered motif/discord argmins
    "q_sax_motifs" ->
      """WITH s AS (SELECT event_type, ts, event_id, value FROM events
        |           WHERE value IS NOT NULL),
        |w AS (SELECT event_type, ts, value,
        |        ROW_NUMBER() OVER (PARTITION BY event_type
        |          ORDER BY ts, event_id) AS k,
        |        COUNT(*) OVER (PARTITION BY event_type) AS n
        |      FROM s),
        |g AS (SELECT event_type, CAST((k - 1) * 64 // n AS BIGINT)
        |        AS segment, value
        |      FROM w),
        |a AS (SELECT event_type, segment,
        |        round(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |          / COUNT(*), 9) AS mean_value
        |      FROM g GROUP BY 1, 2),
        |sym AS (SELECT event_type, segment,
        |        CAST(1 + CASE WHEN mean_value > 50.0 THEN 1 ELSE 0 END
        |               + CASE WHEN mean_value > 150.0 THEN 1 ELSE 0 END
        |               + CASE WHEN mean_value > 300.0 THEN 1 ELSE 0 END
        |          AS BIGINT) AS symbol
        |      FROM a),
        |words AS (
        |  SELECT event_type,
        |    CAST(symbol AS VARCHAR)
        |      || lead(CAST(symbol AS VARCHAR), 1) OVER sw
        |      || lead(CAST(symbol AS VARCHAR), 2) OVER sw
        |      || lead(CAST(symbol AS VARCHAR), 3) OVER sw AS word
        |  FROM sym
        |  WINDOW sw AS (PARTITION BY event_type ORDER BY segment)),
        |cnts AS (SELECT event_type, word, CAST(COUNT(*) AS BIGINT) AS cnt
        |         FROM words WHERE word IS NOT NULL GROUP BY 1, 2),
        |pick AS (SELECT event_type, word, cnt,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY cnt DESC, word) AS rm,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY cnt, word) AS rd
        |  FROM cnts),
        |tot AS (SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n_words
        |        FROM cnts GROUP BY 1)
        |SELECT t.event_type, t.n_words,
        |  m.word AS motif_word, m.cnt AS motif_cnt,
        |  d.word AS discord_word, d.cnt AS discord_cnt
        |FROM tot t
        |JOIN pick m ON m.event_type = t.event_type AND m.rm = 1
        |JOIN pick d ON d.event_type = t.event_type AND d.rd = 1
        |ORDER BY t.event_type""".stripMargin,

    "q_heaps_law" ->
      """WITH mx AS (SELECT max(doc_id) AS m FROM documents),
        |tk AS (SELECT CAST(doc_id * 20 // (m + 1) AS BIGINT) AS b, doc_id,
        |         unnest(string_split(text, ' ')) AS tok
        |       FROM documents, mx),
        |tc AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS nt,
        |         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd
        |       FROM tk GROUP BY b),
        |fs AS (SELECT tok, MIN(b) AS b FROM tk GROUP BY tok),
        |fv AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS nv FROM fs GROUP BY b),
        |cks AS (SELECT unnest(range(0, 20)) AS ck)
        |SELECT ck,
        |  CAST(SUM(COALESCE(nd, 0)) OVER (ORDER BY ck
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_docs,
        |  CAST(SUM(COALESCE(nt, 0)) OVER (ORDER BY ck
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_tokens,
        |  CAST(SUM(COALESCE(nv, 0)) OVER (ORDER BY ck
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab
        |FROM cks LEFT JOIN tc ON tc.b = cks.ck
        |  LEFT JOIN fv ON fv.b = cks.ck
        |ORDER BY ck""".stripMargin,

    "q_heaps_fit" ->
      """WITH mx AS (SELECT max(doc_id) AS m FROM documents),
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
        |        CAST(sum(CAST(x AS DECIMAL(38,9))) AS DOUBLE) AS sx,
        |        CAST(sum(CAST(y AS DECIMAL(38,9))) AS DOUBLE) AS sy,
        |        CAST(sum(CAST(round(x*x, 9) AS DECIMAL(38,9)))
        |          AS DOUBLE) AS sxx,
        |        CAST(sum(CAST(round(x*y, 9) AS DECIMAL(38,9)))
        |          AS DOUBLE) AS sxy
        |      FROM terms)
        |SELECT n_points,
        |  CASE WHEN n_points * sxx - sx * sx > 0.000001 THEN
        |    round((n_points * sxy - sx * sy)
        |      / (n_points * sxx - sx * sx), 9)
        |  END AS slope
        |FROM s""".stripMargin,

    // the fixture's eigenstructure is analytic (orthonormal basis with
    // exact-at-9dp entries, eigengap ratios (4/9)^50 ~ 1e-18), so the
    // oracle IS the closed form — no power-iteration replay needed
    "q_pca_topk" ->
      """SELECT * FROM (VALUES
        |  (0, CAST(9.0 AS DOUBLE), CAST(0.642857143 AS DOUBLE),
        |   CAST(0.6 AS DOUBLE), CAST(0.8 AS DOUBLE), CAST(0.0 AS DOUBLE)),
        |  (1, CAST(4.0 AS DOUBLE), CAST(0.285714286 AS DOUBLE),
        |   CAST(0.8 AS DOUBLE), CAST(-0.6 AS DOUBLE), CAST(0.0 AS DOUBLE)),
        |  (2, CAST(1.0 AS DOUBLE), CAST(0.071428571 AS DOUBLE),
        |   CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(1.0 AS DOUBLE)))
        |  AS t(component, eigenvalue, explained, l0, l1, l2)
        |ORDER BY component""".stripMargin,

    // whitening serve replay: the same stored-literal components
    // (exact-float ±2⁻³ entries), list_dot_product's sequential double
    // fold matches graft_float_dot, one fixed-order division by the
    // identical IEEE sqrt. `+ 0.0` normalizes a would-be -0.0 (DuckDB's
    // double-space round can emit one near zero; Spark's
    // BigDecimal-based round cannot)
    "q_pca_whiten" ->
      """SELECT vec_id,
        |  round(list_dot_product(CAST(embedding AS DOUBLE[]),
        |    list_transform(range(64), i -> CAST(0.125 AS DOUBLE)))
        |    / sqrt(2.0), 9) + 0.0 AS w_0,
        |  round(list_dot_product(CAST(embedding AS DOUBLE[]),
        |    list_transform(range(64), i -> CAST(CASE WHEN i % 2 = 0
        |      THEN 0.125 ELSE -0.125 END AS DOUBLE)))
        |    / sqrt(0.5), 9) + 0.0 AS w_1
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    // products accumulate as floor(x_i*x_j*1e12) integer picounits —
    // floor of the identical IEEE double is portable across engines
    // (no decimal-tie surface) and sums ride the integer fast path;
    // mirrors Similarity.embedCovariance exactly
    "q_embed_cov" ->
      """WITH x AS (SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS v,
        |             generate_subscripts(embedding, 1) AS i
        |           FROM embeddings),
        |cells AS (
        |  SELECT a.i - 1 AS i, b.i - 1 AS j, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(floor(a.v * b.v * 1e12) AS BIGINT)) AS sxy
        |  FROM x a JOIN x b USING (vec_id) WHERE a.i <= b.i
        |  GROUP BY 1, 2),
        |dims AS (SELECT i - 1 AS dim,
        |           SUM(CAST(v AS DECIMAL(28,9))) AS sx
        |         FROM x GROUP BY 1)
        |SELECT CAST(cells.i AS BIGINT) AS i, CAST(cells.j AS BIGINT) AS j,
        |  n,
        |  round((CAST(n AS DOUBLE) * (CAST(sxy AS DOUBLE) / 1e12)
        |    - CAST(di.sx AS DOUBLE) * CAST(dj.sx AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 9) AS cov
        |FROM cells JOIN dims di ON di.dim = cells.i
        |  JOIN dims dj ON dj.dim = cells.j
        |ORDER BY i, j""".stripMargin,

    // own-centroid cosine minus best foreign-centroid cosine, both
    // 9-dec-rounded before the (re-rounded) difference, over the same
    // exact-decimal SUM centroids as q_source_coherence
    "q_label_separability" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |x AS (SELECT label, vec_id, unnest(v) AS val,
        |             generate_subscripts(v, 1) AS dim FROM e),
        |m AS (SELECT label, dim,
        |    CAST(CAST(CAST(SUM(CAST(val AS DECIMAL(28,9))) AS DOUBLE)
        |      AS REAL) AS DOUBLE) AS mv
        |  FROM x GROUP BY label, dim),
        |c AS (SELECT label AS clab, list(mv ORDER BY dim) AS cent
        |      FROM m GROUP BY label),
        |s AS (SELECT e.vec_id, e.label, c.clab,
        |    round(list_dot_product(e.v, c.cent)
        |      / (sqrt(list_dot_product(e.v, e.v))
        |         * sqrt(list_dot_product(c.cent, c.cent))), 9) AS cs
        |  FROM e CROSS JOIN c),
        |mg AS (SELECT vec_id, label,
        |    round(MAX(CASE WHEN clab = label THEN cs END)
        |      - MAX(CASE WHEN clab <> label THEN cs END), 9) AS m
        |  FROM s GROUP BY vec_id, label)
        |SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
        |  round(CAST(SUM(CAST(m AS DECIMAL(28,9))) AS DOUBLE)
        |    / COUNT(*), 9) AS mean_margin,
        |  CAST(SUM(CASE WHEN m < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_negative
        |FROM mg GROUP BY label ORDER BY label""".stripMargin,

    // the q_calibration score/label CTEs feeding the cumulative
    // precision curve; integer 10000·pos >= bp·n comparison
    "q_threshold_precision" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |    CAST(length(text) AS DOUBLE) AS n_chars,
        |    CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))
        |      AS DOUBLE) AS symbols,
        |    CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
        |      AS DOUBLE) AS numerals,
        |    (LEAST(CAST(LENGTH(text) AS DOUBLE) / CAST(200.0 AS DOUBLE),
        |           CAST(1.0 AS DOUBLE))
        |     + CASE WHEN LENGTH(text) > 0
        |            THEN CAST(LENGTH(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
        |                 / CAST(LENGTH(text) AS DOUBLE)
        |            ELSE CAST(0.0 AS DOUBLE) END
        |     + CASE WHEN len(string_split(text, ' ')) > 0
        |                 AND CAST(LENGTH(text) AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE) >= 3
        |                 AND CAST(LENGTH(text) AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE) <= 10
        |            THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.5 AS DOUBLE) END
        |    ) / CAST(3.0 AS DOUBLE) AS score
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, score,
        |    (n_words >= 20 AND n_words <= 100000
        |     AND (CASE WHEN n_words > 0
        |          THEN (n_chars - (n_words - 1)) / n_words ELSE 0.0 END)
        |         BETWEEN 3.0 AND 10.0
        |     AND (CASE WHEN n_words > 0
        |          THEN symbols / n_words ELSE 1.0 END) < 0.1
        |     AND (CASE WHEN n_chars > 0
        |          THEN numerals / n_chars ELSE 1.0 END) < 0.2) AS label
        |  FROM t),
        |b AS (SELECT round(score, 9) AS threshold, COUNT(*) AS n,
        |        SUM(CASE WHEN label THEN 1 ELSE 0 END) AS p
        |      FROM g GROUP BY 1),
        |c AS (SELECT threshold,
        |        SUM(n) OVER (ORDER BY threshold DESC
        |          ROWS UNBOUNDED PRECEDING) AS n_kept,
        |        SUM(p) OVER (ORDER BY threshold DESC
        |          ROWS UNBOUNDED PRECEDING) AS n_pos_kept
        |      FROM b)
        |SELECT threshold, CAST(n_kept AS BIGINT) AS n_kept,
        |  CAST(n_pos_kept AS BIGINT) AS n_pos_kept,
        |  round(CAST(n_pos_kept AS DOUBLE) / n_kept, 9) AS kept_precision
        |FROM c WHERE n_pos_kept * 10000 >= 5000 * n_kept
        |ORDER BY n_kept DESC, threshold LIMIT 1""".stripMargin,

    // G² = 2·Σ O·ln(O/E) over the 2×2 bigram contingency, per-term
    // 9-dec rounds in the same fixed order as the engine
    "q_g2_colloc" ->
      """WITH t AS (SELECT string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT w[i] AS w1, w[i + 1] AS w2
        |      FROM t, unnest(range(1, len(w))) AS u(i)
        |      WHERE len(w) >= 2),
        |m AS (SELECT w1, w2, COUNT(*) AS c_ab FROM g GROUP BY 1, 2),
        |l AS (SELECT w1, SUM(c_ab) AS c_left FROM m GROUP BY 1),
        |r AS (SELECT w2, SUM(c_ab) AS c_right FROM m GROUP BY 1),
        |n AS (SELECT SUM(c_ab) AS n_total FROM m),
        |j AS (SELECT m.w1, m.w2, c_ab, c_left, c_right, n_total
        |      FROM m JOIN l USING (w1) JOIN r USING (w2), n
        |      WHERE c_ab >= 5)
        |SELECT w1, w2, c_ab,
        |  round(2.0 * (
        |    (CASE WHEN c_ab > 0 THEN round(CAST(c_ab AS DOUBLE)
        |      * ln(CAST(c_ab AS DOUBLE) / (CAST(c_left AS DOUBLE)
        |        * CAST(c_right AS DOUBLE) / n_total)), 9)
        |      ELSE 0.0 END)
        |    + (CASE WHEN c_left - c_ab > 0
        |      THEN round(CAST(c_left - c_ab AS DOUBLE)
        |      * ln(CAST(c_left - c_ab AS DOUBLE)
        |        / (CAST(c_left AS DOUBLE)
        |          * CAST(n_total - c_right AS DOUBLE) / n_total)), 9)
        |      ELSE 0.0 END)
        |    + (CASE WHEN c_right - c_ab > 0
        |      THEN round(CAST(c_right - c_ab AS DOUBLE)
        |      * ln(CAST(c_right - c_ab AS DOUBLE)
        |        / (CAST(n_total - c_left AS DOUBLE)
        |          * CAST(c_right AS DOUBLE) / n_total)), 9)
        |      ELSE 0.0 END)
        |    + (CASE WHEN n_total - c_left - c_right + c_ab > 0
        |      THEN round(CAST(n_total - c_left - c_right + c_ab AS DOUBLE)
        |      * ln(CAST(n_total - c_left - c_right + c_ab AS DOUBLE)
        |        / (CAST(n_total - c_left AS DOUBLE)
        |          * CAST(n_total - c_right AS DOUBLE) / n_total)), 9)
        |      ELSE 0.0 END)), 9) AS g2
        |FROM j ORDER BY w1, w2""".stripMargin,

    // char-polynomial item hash + Knuth user hash replayed exactly;
    // per-user bucket pick, anti-join of bought pairs, hash rank to k
    "q_negative_sample" ->
      """WITH inter AS (
        |  SELECT o_custkey AS u, l_partkey AS item
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  WHERE o_custkey < 200),
        |it AS (SELECT DISTINCT item FROM inter),
        |ih AS (SELECT item,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(CAST(item AS VARCHAR), ''),
        |        c -> CAST(unicode(c) AS BIGINT))),
        |      (a, b) -> (a * 31 + b) % 1000000007) AS h
        |  FROM it),
        |ib AS (SELECT item, h,
        |    ((h * 2654435761) % 4294967296) % 8 AS bkt FROM ih),
        |us AS (SELECT DISTINCT u FROM inter),
        |ub AS (SELECT u,
        |    ((u * 2654435761) % 4294967296) % 8 AS bkt FROM us),
        |cand AS (SELECT u, item, h FROM ub JOIN ib USING (bkt)),
        |neg AS (SELECT u, item, h FROM cand
        |  WHERE NOT EXISTS (SELECT 1 FROM inter i
        |    WHERE i.u = cand.u AND i.item = cand.item)),
        |rk AS (SELECT u, item, row_number() OVER (PARTITION BY u
        |    ORDER BY ((u * 31 + h) * 2654435761) % 4294967296, item)
        |    AS rank FROM neg)
        |SELECT u AS "user", item, CAST(rank AS INT) AS rank
        |FROM rk WHERE rank <= 2
        |ORDER BY "user", rank, item""".stripMargin,

    // the 3-core of clique(0..5) + chain(0..99) is the clique alone,
    // every member at degree 5 — closed-form membership
    "q_kcore" ->
      """SELECT doc_id AS node, CAST(5 AS BIGINT) AS degree
        |FROM documents WHERE doc_id <= 5
        |ORDER BY node""".stripMargin,

    "q_neyman_alloc" ->
      """WITH st AS (
        |  SELECT l_returnflag AS stratum, COUNT(*) AS n_rows,
        |    SUM(CAST(l_extendedprice AS DECIMAL(38,9))) AS sx,
        |    SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,9)))
        |      AS sxx
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1),
        |s2 AS (SELECT stratum, n_rows,
        |    round(sqrt(greatest(CAST(n_rows AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0))
        |      / n_rows, 9) AS sd
        |  FROM st),
        |w AS (SELECT *, round(n_rows * sd, 9) AS wt FROM s2),
        |t AS (SELECT CAST(SUM(CAST(wt AS DECIMAL(38,9))) AS DOUBLE) AS tw
        |      FROM w),
        |sh AS (SELECT stratum, n_rows, sd,
        |    CASE WHEN tw > 0 THEN 1000.0 * wt / tw ELSE 0.0 END AS share
        |  FROM w, t),
        |f AS (SELECT *, CAST(FLOOR(share) AS BIGINT) AS fl FROM sh),
        |r AS (SELECT *, row_number() OVER (ORDER BY share - fl DESC,
        |        stratum) AS rk,
        |      SUM(fl) OVER () AS tf FROM f)
        |SELECT stratum, CAST(n_rows AS BIGINT) AS n_rows, sd,
        |  CAST(fl + CASE WHEN rk <= 1000 - tf THEN 1 ELSE 0 END
        |    AS BIGINT) AS alloc,
        |  CAST(LEAST(fl + CASE WHEN rk <= 1000 - tf THEN 1 ELSE 0 END,
        |    n_rows) AS BIGINT) AS alloc_capped
        |FROM r ORDER BY stratum""".stripMargin,

    // cutoff wall at epoch-µs of 2024-01-20 UTC; horizon 7 days
    "q_churn_labels" ->
      """WITH b AS (
        |  SELECT user_id,
        |    max(CASE WHEN epoch_us(ts) <= 1705708800000000
        |        THEN epoch_us(ts) END) AS last_seen_us,
        |    SUM(CASE WHEN epoch_us(ts) <= 1705708800000000
        |        THEN 1 ELSE 0 END) AS n_events_before,
        |    max(CASE WHEN epoch_us(ts) > 1705708800000000
        |             AND epoch_us(ts) <= 1705708800000000 + 604800000000
        |        THEN 1 ELSE 0 END) AS active_after
        |  FROM events GROUP BY user_id)
        |SELECT user_id, last_seen_us,
        |  CAST(n_events_before AS BIGINT) AS n_events_before,
        |  (active_after = 0) AS churned
        |FROM b WHERE n_events_before > 0
        |ORDER BY user_id""".stripMargin,

    "q_next_event_hitrate" ->
      """WITH p AS (SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS nxt
        |  FROM events),
        |pp AS (SELECT * FROM p WHERE nxt IS NOT NULL),
        |c AS (SELECT from_type, nxt, count(*) AS c FROM pp GROUP BY 1, 2),
        |pr AS (SELECT from_type, nxt AS predicted FROM (
        |    SELECT *, row_number() OVER (PARTITION BY from_type
        |      ORDER BY c DESC, nxt) AS r FROM c) WHERE r = 1)
        |SELECT pp.from_type, predicted,
        |  CAST(COUNT(*) AS BIGINT) AS n_transitions,
        |  CAST(SUM(CASE WHEN nxt = predicted THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_hits,
        |  round(CAST(SUM(CASE WHEN nxt = predicted THEN 1 ELSE 0 END)
        |      AS DOUBLE) / COUNT(*), 9) AS hit_rate
        |FROM pp JOIN pr USING (from_type)
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,

    "q_validate" ->
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
        |ORDER BY rule""".stripMargin,

    "q_ks_drift" ->
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
        |FROM c, t GROUP BY t.n_a, t.n_b""".stripMargin,

    // merged-sketch estimate is engine-specific; the oracle pins the
    // exact count, the sliced row total, and the tolerance verdict
    "q_sketch_distinct" ->
      """SELECT COUNT(DISTINCT user_id) AS exact_users,
        |  COUNT(*) AS n_rows, TRUE AS within_tol
        |FROM events""".stripMargin,

    "q_array_agg" ->
      """SELECT c_nationkey,
        |  string_agg(CAST(c_custkey AS VARCHAR), ','
        |             ORDER BY c_custkey) AS custs,
        |  COUNT(*) AS n
        |FROM customer GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin,

    "q_temp_mix" ->
      """WITH counts AS (SELECT lang, COUNT(*) AS n FROM documents
        |               GROUP BY lang),
        |w AS (SELECT lang, sqrt(CAST(n AS DOUBLE)) AS w FROM counts),
        |mx AS (SELECT MAX(w) AS mx FROM w),
        |rates AS (SELECT lang, greatest(1.0, round(w / mx * 100.0)) AS pct
        |          FROM w, mx)
        |SELECT d.lang, COUNT(*) AS n_docs,
        |  CAST(SUM(d.n_chars) AS BIGINT) AS sum_chars
        |FROM documents d JOIN rates r ON d.lang = r.lang
        |WHERE d.doc_id % 100 < r.pct
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin,

    "q_asof_nearest" ->
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
        |ORDER BY event_id""".stripMargin,

    "q_normalize" ->
      """SELECT p_partkey,
        |  trim(regexp_replace(regexp_replace(
        |    lower(concat_ws(' ', p_name, p_brand, p_type)),
        |    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q_session_window" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
        |         THEN 1 ELSE 0 END AS newf
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |), sess AS (
        |  SELECT *, SUM(newf) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged)
        |SELECT user_id, MIN(ts) AS session_start,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,

    "q_connected_components" ->
      """SELECT doc_id AS id,
        |       CAST(doc_id - (doc_id % 5) AS BIGINT) AS comp
        |FROM documents WHERE doc_id < 500
        |ORDER BY id""".stripMargin,

    "q_triangles" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (SELECT DISTINCT x.l_partkey AS u, y.l_partkey AS v
        |      FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
        |        AND x.l_partkey < y.l_partkey),
        |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |        FROM e e1 JOIN e e2 ON e2.u = e1.v
        |        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |nodes AS (SELECT u AS node FROM e UNION SELECT v FROM e),
        |pn AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS n
        |       FROM (SELECT unnest([a, b, c]) AS node FROM tri)
        |       GROUP BY node)
        |SELECT nodes.node, COALESCE(pn.n, 0) AS n_triangles
        |FROM nodes LEFT JOIN pn USING (node)
        |ORDER BY node""".stripMargin,

    // fixed-point PageRank: the same 3 integer-arithmetic iterations
    // unrolled (// is integer division; SUM casts shed DuckDB's HUGEINT)
    "q_label_prop" ->
      """WITH e0 AS (SELECT DISTINCT CAST(l_orderkey*2 AS BIGINT) AS src,
        |                            CAST(l_partkey*2+1 AS BIGINT) AS dst
        |            FROM lineitem),
        |und AS (SELECT src, dst FROM e0
        |        UNION SELECT dst AS src, src AS dst FROM e0),
        |l0 AS (SELECT DISTINCT src AS node, src AS label FROM und),
        |c1 AS (SELECT u.src AS node, l.label, COUNT(*) AS c
        |       FROM und u JOIN l0 l ON u.dst = l.node GROUP BY 1, 2),
        |l1 AS (SELECT node, label FROM (
        |         SELECT node, label, row_number() OVER (
        |           PARTITION BY node ORDER BY c DESC, label) AS rn
        |         FROM c1) WHERE rn = 1),
        |c2 AS (SELECT u.src AS node, l.label, COUNT(*) AS c
        |       FROM und u JOIN l1 l ON u.dst = l.node GROUP BY 1, 2),
        |l2 AS (SELECT node, label FROM (
        |         SELECT node, label, row_number() OVER (
        |           PARTITION BY node ORDER BY c DESC, label) AS rn
        |         FROM c2) WHERE rn = 1),
        |c3 AS (SELECT u.src AS node, l.label, COUNT(*) AS c
        |       FROM und u JOIN l2 l ON u.dst = l.node GROUP BY 1, 2),
        |l3 AS (SELECT node, label FROM (
        |         SELECT node, label, row_number() OVER (
        |           PARTITION BY node ORDER BY c DESC, label) AS rn
        |         FROM c3) WHERE rn = 1),
        |sz AS (SELECT label, COUNT(*) AS n_members FROM l3 GROUP BY 1)
        |SELECT node, label, n_members FROM l3 JOIN sz USING (label)
        |ORDER BY node""".stripMargin,

    // level-synchronous BFS replayed as a depth-bounded recursive CTE:
    // UNION dedups (node, dist) pairs per level, MIN collapses
    // multi-path arrivals to the shortest hop count
    "q_bfs" ->
      """WITH RECURSIVE e AS (
        |  SELECT DISTINCT CAST(l_orderkey*2 AS BIGINT) AS s,
        |                  CAST(l_partkey*2+1 AS BIGINT) AS d
        |  FROM lineitem
        |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
        |sym AS (SELECT s, d FROM e UNION SELECT d AS s, s AS d FROM e),
        |seeds AS (SELECT DISTINCT CAST(o_orderkey*2 AS BIGINT) AS node
        |          FROM orders WHERE o_orderkey % 512 = 0),
        |r(node, dist) AS (
        |  SELECT node, 0 FROM seeds
        |  UNION
        |  SELECT sym.d, r.dist + 1
        |  FROM r JOIN sym ON sym.s = r.node WHERE r.dist < 3)
        |SELECT node, CAST(MIN(dist) AS BIGINT) AS dist
        |FROM r GROUP BY node
        |ORDER BY node""".stripMargin,

    "q_pagerank" ->
      """WITH e AS (SELECT DISTINCT CAST(l_orderkey*2 AS BIGINT) AS src,
        |                           CAST(l_partkey*2+1 AS BIGINT) AS dst
        |           FROM lineitem),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |nn AS (SELECT COUNT(*) AS n FROM nodes),
        |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
        |r0 AS (SELECT node, CAST(1000000000000 // nn.n AS BIGINT) AS rank
        |       FROM nodes CROSS JOIN nn),
        |m1 AS (SELECT CAST(COALESCE(SUM(rank),0) AS BIGINT) AS mass FROM r0
        |       WHERE node NOT IN (SELECT src FROM deg)),
        |c1 AS (SELECT e.dst AS node, CAST(SUM(r.rank // d.deg) AS BIGINT) AS contrib
        |       FROM e JOIN r0 r ON r.node = e.src JOIN deg d ON d.src = e.src
        |       GROUP BY e.dst),
        |r1 AS (SELECT n2.node,
        |         (15 * 1000000000000) // (100 * nn.n)
        |         + (85 * (COALESCE(c.contrib, 0) + m.mass // nn.n)) // 100 AS rank
        |       FROM nodes n2 CROSS JOIN nn CROSS JOIN m1 m
        |       LEFT JOIN c1 c ON c.node = n2.node),
        |m2 AS (SELECT CAST(COALESCE(SUM(rank),0) AS BIGINT) AS mass FROM r1
        |       WHERE node NOT IN (SELECT src FROM deg)),
        |c2 AS (SELECT e.dst AS node, CAST(SUM(r.rank // d.deg) AS BIGINT) AS contrib
        |       FROM e JOIN r1 r ON r.node = e.src JOIN deg d ON d.src = e.src
        |       GROUP BY e.dst),
        |r2 AS (SELECT n2.node,
        |         (15 * 1000000000000) // (100 * nn.n)
        |         + (85 * (COALESCE(c.contrib, 0) + m.mass // nn.n)) // 100 AS rank
        |       FROM nodes n2 CROSS JOIN nn CROSS JOIN m2 m
        |       LEFT JOIN c2 c ON c.node = n2.node),
        |m3 AS (SELECT CAST(COALESCE(SUM(rank),0) AS BIGINT) AS mass FROM r2
        |       WHERE node NOT IN (SELECT src FROM deg)),
        |c3 AS (SELECT e.dst AS node, CAST(SUM(r.rank // d.deg) AS BIGINT) AS contrib
        |       FROM e JOIN r2 r ON r.node = e.src JOIN deg d ON d.src = e.src
        |       GROUP BY e.dst),
        |r3 AS (SELECT n2.node,
        |         (15 * 1000000000000) // (100 * nn.n)
        |         + (85 * (COALESCE(c.contrib, 0) + m.mass // nn.n)) // 100 AS rank
        |       FROM nodes n2 CROSS JOIN nn CROSS JOIN m3 m
        |       LEFT JOIN c3 c ON c.node = n2.node)
        |SELECT node, CAST(rank AS BIGINT) AS rank_fp,
        |       CAST(rank AS DOUBLE) / 1000000000000 AS rank
        |FROM r3 ORDER BY node""".stripMargin,

    // two unrolled HITS rounds: HUGEINT sums, (raw·Scale) // total
    // exact L1 normalization per side
    "q_hits" ->
      """WITH e AS (SELECT DISTINCT CAST(l_orderkey*2 AS BIGINT) AS src,
        |                           CAST(l_partkey*2+1 AS BIGINT) AS dst
        |           FROM lineitem),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |nn AS (SELECT COUNT(*) AS n FROM nodes),
        |h0 AS (SELECT node, CAST(1000000000000 // nn.n AS HUGEINT) AS h
        |       FROM nodes CROSS JOIN nn),
        |a1r AS (SELECT e.dst AS node, SUM(h.h) AS ar
        |        FROM e JOIN h0 h ON h.node = e.src GROUP BY 1),
        |a1t AS (SELECT SUM(ar) AS t FROM a1r),
        |a1 AS (SELECT node,
        |         (CAST(ar AS HUGEINT) * 1000000000000) // CAST(t AS HUGEINT)
        |           AS a
        |       FROM a1r, a1t),
        |h1r AS (SELECT e.src AS node, SUM(a.a) AS hr
        |        FROM e JOIN a1 a ON a.node = e.dst GROUP BY 1),
        |h1t AS (SELECT SUM(hr) AS t FROM h1r),
        |h1 AS (SELECT node,
        |         (CAST(hr AS HUGEINT) * 1000000000000) // CAST(t AS HUGEINT)
        |           AS h
        |       FROM h1r, h1t),
        |a2r AS (SELECT e.dst AS node, SUM(h.h) AS ar
        |        FROM e JOIN h1 h ON h.node = e.src GROUP BY 1),
        |a2t AS (SELECT SUM(ar) AS t FROM a2r),
        |a2 AS (SELECT node,
        |         (CAST(ar AS HUGEINT) * 1000000000000) // CAST(t AS HUGEINT)
        |           AS a
        |       FROM a2r, a2t),
        |h2r AS (SELECT e.src AS node, SUM(a.a) AS hr
        |        FROM e JOIN a2 a ON a.node = e.dst GROUP BY 1),
        |h2t AS (SELECT SUM(hr) AS t FROM h2r),
        |h2 AS (SELECT node,
        |         (CAST(hr AS HUGEINT) * 1000000000000) // CAST(t AS HUGEINT)
        |           AS h
        |       FROM h2r, h2t)
        |SELECT n.node, CAST(COALESCE(h2.h, 0) AS BIGINT) AS hub_fp,
        |  CAST(COALESCE(a2.a, 0) AS BIGINT) AS auth_fp,
        |  CAST(COALESCE(h2.h, 0) AS DOUBLE) / 1000000000000 AS hub,
        |  CAST(COALESCE(a2.a, 0) AS DOUBLE) / 1000000000000 AS auth
        |FROM nodes n LEFT JOIN h2 ON h2.node = n.node
        |  LEFT JOIN a2 ON a2.node = n.node
        |ORDER BY n.node""".stripMargin,

    // the q_hits replay with w-weighted sums: the collapsed quantity
    // weights multiply each score term inside the HUGEINT aggregates,
    // normalization chain unchanged
    "q_hits_weighted" ->
      """WITH e AS (SELECT CAST(l_orderkey*2 AS BIGINT) AS src,
        |                  CAST(l_partkey*2+1 AS BIGINT) AS dst,
        |                  SUM(CAST(l_quantity AS BIGINT)) AS wt
        |           FROM lineitem GROUP BY 1, 2),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |nn AS (SELECT COUNT(*) AS n FROM nodes),
        |h0 AS (SELECT node, CAST(1000000000000 // nn.n AS HUGEINT) AS h
        |       FROM nodes CROSS JOIN nn),
        |a1r AS (SELECT e.dst AS node,
        |          SUM(CAST(h.h AS HUGEINT) * CAST(e.wt AS HUGEINT)) AS ar
        |        FROM e JOIN h0 h ON h.node = e.src GROUP BY 1),
        |a1t AS (SELECT SUM(ar) AS t FROM a1r),
        |a1 AS (SELECT node,
        |         (CAST(ar AS HUGEINT) * 1000000000000) // CAST(t AS HUGEINT)
        |           AS a
        |       FROM a1r, a1t),
        |h1r AS (SELECT e.src AS node,
        |          SUM(CAST(a.a AS HUGEINT) * CAST(e.wt AS HUGEINT)) AS hr
        |        FROM e JOIN a1 a ON a.node = e.dst GROUP BY 1),
        |h1t AS (SELECT SUM(hr) AS t FROM h1r),
        |h1 AS (SELECT node,
        |         (CAST(hr AS HUGEINT) * 1000000000000) // CAST(t AS HUGEINT)
        |           AS h
        |       FROM h1r, h1t),
        |a2r AS (SELECT e.dst AS node,
        |          SUM(CAST(h.h AS HUGEINT) * CAST(e.wt AS HUGEINT)) AS ar
        |        FROM e JOIN h1 h ON h.node = e.src GROUP BY 1),
        |a2t AS (SELECT SUM(ar) AS t FROM a2r),
        |a2 AS (SELECT node,
        |         (CAST(ar AS HUGEINT) * 1000000000000) // CAST(t AS HUGEINT)
        |           AS a
        |       FROM a2r, a2t),
        |h2r AS (SELECT e.src AS node,
        |          SUM(CAST(a.a AS HUGEINT) * CAST(e.wt AS HUGEINT)) AS hr
        |        FROM e JOIN a2 a ON a.node = e.dst GROUP BY 1),
        |h2t AS (SELECT SUM(hr) AS t FROM h2r),
        |h2 AS (SELECT node,
        |         (CAST(hr AS HUGEINT) * 1000000000000) // CAST(t AS HUGEINT)
        |           AS h
        |       FROM h2r, h2t)
        |SELECT n.node, CAST(COALESCE(h2.h, 0) AS BIGINT) AS hub_fp,
        |  CAST(COALESCE(a2.a, 0) AS BIGINT) AS auth_fp,
        |  CAST(COALESCE(h2.h, 0) AS DOUBLE) / 1000000000000 AS hub,
        |  CAST(COALESCE(a2.a, 0) AS DOUBLE) / 1000000000000 AS auth
        |FROM nodes n LEFT JOIN h2 ON h2.node = n.node
        |  LEFT JOIN a2 ON a2.node = n.node
        |ORDER BY n.node""".stripMargin,

    // seed-biased replay: teleport and dangling mass go to seeds only;
    // non-seeds keep the pure 85%-contribution term
    "q_ppr" ->
      """WITH e AS (SELECT DISTINCT CAST(l_orderkey*2 AS BIGINT) AS src,
        |                           CAST(l_partkey*2+1 AS BIGINT) AS dst,
        |                           CAST(1 AS BIGINT) AS wt
        |           FROM lineitem),
        |sd AS (SELECT DISTINCT CAST(o_orderkey*2 AS BIGINT) AS node
        |       FROM orders WHERE o_custkey % 10 = 0),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e
        |          UNION SELECT node FROM sd),
        |ns AS (SELECT COUNT(*) AS s FROM sd),
        |deg AS (SELECT src, SUM(wt) AS deg FROM e GROUP BY src),
        |r0 AS (SELECT n.node,
        |         CASE WHEN sd.node IS NOT NULL
        |              THEN 1000000000000 // ns.s ELSE 0 END AS rank,
        |         sd.node IS NOT NULL AS isseed
        |       FROM nodes n LEFT JOIN sd ON sd.node = n.node CROSS JOIN ns),
        |m1 AS (SELECT CAST(COALESCE(SUM(rank),0) AS BIGINT) AS mass FROM r0
        |       WHERE node NOT IN (SELECT src FROM deg)),
        |c1 AS (SELECT e.dst AS node,
        |         CAST(SUM((r.rank // d.deg) * e.wt) AS BIGINT) AS contrib
        |       FROM e JOIN r0 r ON r.node = e.src JOIN deg d ON d.src = e.src
        |       GROUP BY e.dst),
        |r1 AS (SELECT r.node,
        |         CASE WHEN r.isseed
        |           THEN (15 * 1000000000000) // (100 * ns.s)
        |              + (85 * (COALESCE(c.contrib, 0) + m.mass // ns.s)) // 100
        |           ELSE (85 * COALESCE(c.contrib, 0)) // 100 END AS rank,
        |         r.isseed
        |       FROM r0 r CROSS JOIN ns CROSS JOIN m1 m
        |       LEFT JOIN c1 c ON c.node = r.node),
        |m2 AS (SELECT CAST(COALESCE(SUM(rank),0) AS BIGINT) AS mass FROM r1
        |       WHERE node NOT IN (SELECT src FROM deg)),
        |c2 AS (SELECT e.dst AS node,
        |         CAST(SUM((r.rank // d.deg) * e.wt) AS BIGINT) AS contrib
        |       FROM e JOIN r1 r ON r.node = e.src JOIN deg d ON d.src = e.src
        |       GROUP BY e.dst),
        |r2 AS (SELECT r.node,
        |         CASE WHEN r.isseed
        |           THEN (15 * 1000000000000) // (100 * ns.s)
        |              + (85 * (COALESCE(c.contrib, 0) + m.mass // ns.s)) // 100
        |           ELSE (85 * COALESCE(c.contrib, 0)) // 100 END AS rank,
        |         r.isseed
        |       FROM r1 r CROSS JOIN ns CROSS JOIN m2 m
        |       LEFT JOIN c2 c ON c.node = r.node),
        |m3 AS (SELECT CAST(COALESCE(SUM(rank),0) AS BIGINT) AS mass FROM r2
        |       WHERE node NOT IN (SELECT src FROM deg)),
        |c3 AS (SELECT e.dst AS node,
        |         CAST(SUM((r.rank // d.deg) * e.wt) AS BIGINT) AS contrib
        |       FROM e JOIN r2 r ON r.node = e.src JOIN deg d ON d.src = e.src
        |       GROUP BY e.dst),
        |r3 AS (SELECT r.node,
        |         CASE WHEN r.isseed
        |           THEN (15 * 1000000000000) // (100 * ns.s)
        |              + (85 * (COALESCE(c.contrib, 0) + m.mass // ns.s)) // 100
        |           ELSE (85 * COALESCE(c.contrib, 0)) // 100 END AS rank,
        |         r.isseed
        |       FROM r2 r CROSS JOIN ns CROSS JOIN m3 m
        |       LEFT JOIN c3 c ON c.node = r.node)
        |SELECT node, CAST(rank AS BIGINT) AS rank_fp,
        |       CAST(rank AS DOUBLE) / 1000000000000 AS rank,
        |       isseed AS is_seed
        |FROM r3 ORDER BY node""".stripMargin,

    // the q_pagerank replay with integer edge weights: deg = Σw per
    // source, each contribution (rank // deg)·w
    "q_pagerank_weighted" ->
      """WITH e AS (SELECT CAST(l_orderkey*2 AS BIGINT) AS src,
        |                  CAST(l_partkey*2+1 AS BIGINT) AS dst,
        |                  SUM(CAST(l_quantity AS BIGINT)) AS wt
        |           FROM lineitem GROUP BY 1, 2),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |nn AS (SELECT COUNT(*) AS n FROM nodes),
        |deg AS (SELECT src, SUM(wt) AS deg FROM e GROUP BY src),
        |r0 AS (SELECT node, CAST(1000000000000 // nn.n AS BIGINT) AS rank
        |       FROM nodes CROSS JOIN nn),
        |m1 AS (SELECT CAST(COALESCE(SUM(rank),0) AS BIGINT) AS mass FROM r0
        |       WHERE node NOT IN (SELECT src FROM deg)),
        |c1 AS (SELECT e.dst AS node,
        |         CAST(SUM((r.rank // d.deg) * e.wt) AS BIGINT) AS contrib
        |       FROM e JOIN r0 r ON r.node = e.src JOIN deg d ON d.src = e.src
        |       GROUP BY e.dst),
        |r1 AS (SELECT n2.node,
        |         (15 * 1000000000000) // (100 * nn.n)
        |         + (85 * (COALESCE(c.contrib, 0) + m.mass // nn.n)) // 100 AS rank
        |       FROM nodes n2 CROSS JOIN nn CROSS JOIN m1 m
        |       LEFT JOIN c1 c ON c.node = n2.node),
        |m2 AS (SELECT CAST(COALESCE(SUM(rank),0) AS BIGINT) AS mass FROM r1
        |       WHERE node NOT IN (SELECT src FROM deg)),
        |c2 AS (SELECT e.dst AS node,
        |         CAST(SUM((r.rank // d.deg) * e.wt) AS BIGINT) AS contrib
        |       FROM e JOIN r1 r ON r.node = e.src JOIN deg d ON d.src = e.src
        |       GROUP BY e.dst),
        |r2 AS (SELECT n2.node,
        |         (15 * 1000000000000) // (100 * nn.n)
        |         + (85 * (COALESCE(c.contrib, 0) + m.mass // nn.n)) // 100 AS rank
        |       FROM nodes n2 CROSS JOIN nn CROSS JOIN m2 m
        |       LEFT JOIN c2 c ON c.node = n2.node),
        |m3 AS (SELECT CAST(COALESCE(SUM(rank),0) AS BIGINT) AS mass FROM r2
        |       WHERE node NOT IN (SELECT src FROM deg)),
        |c3 AS (SELECT e.dst AS node,
        |         CAST(SUM((r.rank // d.deg) * e.wt) AS BIGINT) AS contrib
        |       FROM e JOIN r2 r ON r.node = e.src JOIN deg d ON d.src = e.src
        |       GROUP BY e.dst),
        |r3 AS (SELECT n2.node,
        |         (15 * 1000000000000) // (100 * nn.n)
        |         + (85 * (COALESCE(c.contrib, 0) + m.mass // nn.n)) // 100 AS rank
        |       FROM nodes n2 CROSS JOIN nn CROSS JOIN m3 m
        |       LEFT JOIN c3 c ON c.node = n2.node)
        |SELECT node, CAST(rank AS BIGINT) AS rank_fp,
        |       CAST(rank AS DOUBLE) / 1000000000000 AS rank
        |FROM r3 ORDER BY node""".stripMargin,

    "q_intersect_all" ->
      """SELECT p_size AS k FROM part
        |INTERSECT ALL SELECT l_linenumber AS k FROM lineitem
        |ORDER BY k""".stripMargin,

    "q_except_all" ->
      """SELECT p_size AS k FROM part
        |EXCEPT ALL SELECT l_linenumber AS k FROM lineitem
        |ORDER BY k""".stripMargin,

    "q_funnel_steps" ->
      """WITH t1 AS (
        |  SELECT user_id, min(epoch_us(ts)) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |t2 AS (
        |  SELECT e.user_id, min(epoch_us(e.ts)) AS t2
        |  FROM events e JOIN t1 ON e.user_id = t1.user_id
        |  WHERE e.event_type = 'click' AND epoch_us(e.ts) >= t1.t1
        |    AND epoch_us(e.ts) - t1.t1 <= 7200000000
        |  GROUP BY e.user_id),
        |t3 AS (
        |  SELECT e.user_id, min(epoch_us(e.ts)) AS t3
        |  FROM events e JOIN t2 ON e.user_id = t2.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= t2.t2
        |    AND epoch_us(e.ts) - t2.t2 <= 7200000000
        |  GROUP BY e.user_id)
        |SELECT CAST(1 AS BIGINT) AS step_idx, 'view' AS step,
        |  CAST((SELECT COUNT(*) FROM t1) AS BIGINT) AS n_users
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), 'click',
        |  CAST((SELECT COUNT(*) FROM t2) AS BIGINT)
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), 'purchase',
        |  CAST((SELECT COUNT(*) FROM t3) AS BIGINT)
        |ORDER BY step_idx""".stripMargin,

    "q_lm_score" ->
      """WITH tokens AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |model AS (SELECT tok, COUNT(*) AS tf FROM tokens GROUP BY tok),
        |total AS (SELECT CAST(SUM(tf) AS DOUBLE) AS n_total FROM model),
        |logp AS (
        |  SELECT tok, round(ln(tf / n_total), 9) AS logp
        |  FROM model, total)
        |SELECT t.doc_id, COUNT(*) AS n_toks,
        |  CAST(SUM(CAST(l.logp AS DECIMAL(28,9))) AS DOUBLE) / COUNT(*)
        |    AS avg_logp
        |FROM tokens t JOIN logp l USING (tok)
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,

    "q_bigram_lm" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
        |           FROM documents),
        |grams AS (SELECT doc_id, array_to_string(w[i:i+1], ' ') AS bg
        |          FROM t, unnest(range(1, len(w))) AS u(i)
        |          WHERE len(w) >= 2),
        |model AS (SELECT bg, COUNT(*) AS c_bg FROM grams GROUP BY bg),
        |ctx AS (SELECT string_split(bg, ' ')[1] AS pw, SUM(c_bg) AS c_ctx
        |        FROM model GROUP BY 1),
        |logp AS (
        |  SELECT bg, round(ln(CAST(c_bg AS DOUBLE) / c_ctx), 9) AS logp
        |  FROM model JOIN ctx ON string_split(bg, ' ')[1] = pw)
        |SELECT g.doc_id, COUNT(*) AS n_bigrams,
        |  CAST(SUM(CAST(l.logp AS DECIMAL(28,9))) AS DOUBLE) / COUNT(*)
        |    AS avg_logp
        |FROM grams g JOIN logp l USING (bg)
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin,

    "q_dsir_weights" ->
      """WITH tk AS (
        |  SELECT doc_id, (source = 'src0') AS t,
        |    unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |m AS (
        |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS c_r,
        |    CAST(COUNT(*) FILTER (t) AS BIGINT) AS c_t
        |  FROM tk GROUP BY tok),
        |tot AS (
        |  SELECT CAST(SUM(c_r) AS BIGINT) AS n_r,
        |    CAST(SUM(c_t) AS BIGINT) AS n_t,
        |    CAST(COUNT(*) AS BIGINT) AS v
        |  FROM m),
        |d AS (
        |  SELECT tok, round(ln(
        |    (CAST(c_t + 1 AS DOUBLE) * CAST(n_r + v AS DOUBLE))
        |    / (CAST(c_r + 1 AS DOUBLE) * CAST(n_t + v AS DOUBLE))), 9)
        |    AS delta
        |  FROM m, tot)
        |SELECT tk.doc_id, COUNT(*) AS n_tokens,
        |  CAST(SUM(CAST(delta AS DECIMAL(28,9))) AS DOUBLE) / COUNT(*)
        |    AS imp
        |FROM tk JOIN d USING (tok)
        |GROUP BY tk.doc_id ORDER BY tk.doc_id""".stripMargin,

    // 2x2 presence table per (lang, token); the chi2 formula runs in
    // doubles with the same fixed multiplication order as the engine
    "q_chi2_terms" ->
      """WITH pres AS (
        |  SELECT lang,
        |    unnest(list_distinct(string_split(text, ' '))) AS tok
        |  FROM documents),
        |aa AS (SELECT lang, tok, count(*) AS ca FROM pres GROUP BY 1, 2),
        |dfv AS (SELECT tok, CAST(sum(ca) AS BIGINT) AS df
        |        FROM aa GROUP BY 1),
        |ncl AS (SELECT lang, count(*) AS nc FROM documents GROUP BY 1),
        |nn AS (SELECT count(*) AS n FROM documents)
        |SELECT aa.lang, aa.tok, ca AS n_in_class, df,
        |  round(CAST(n AS DOUBLE)
        |    * CAST(ca*(n - df - (nc - ca)) - (df - ca)*(nc - ca) AS DOUBLE)
        |    * CAST(ca*(n - df - (nc - ca)) - (df - ca)*(nc - ca) AS DOUBLE)
        |    / (CAST(df AS DOUBLE) * (n - df) * nc * (n - nc)), 9) AS chi2
        |FROM aa JOIN dfv USING (tok) JOIN ncl USING (lang), nn
        |WHERE df >= 20 AND df < n AND nc < n
        |ORDER BY lang, tok""".stripMargin,

    // brute-force position pairing (the engine's equi-join expansion is
    // plan shape, not semantics); marginals over ALL pairs, filter last
    "q_ppmi_cooc" ->
      """WITH tk AS (
        |  SELECT doc_id, i - 1 AS p, w[i] AS tok
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w
        |        FROM documents),
        |    unnest(range(1, len(w) + 1)) AS u(i)),
        |pr AS (SELECT a.tok AS w1, b.tok AS w2, count(*) AS c_ab
        |       FROM tk a JOIN tk b ON a.doc_id = b.doc_id
        |         AND abs(b.p - a.p) BETWEEN 1 AND 2
        |       GROUP BY 1, 2),
        |mg AS (SELECT w1 AS w, CAST(sum(c_ab) AS BIGINT) AS m
        |       FROM pr GROUP BY 1),
        |tt AS (SELECT CAST(sum(c_ab) AS BIGINT) AS t FROM pr)
        |SELECT w1, w2, c_ab,
        |  round(greatest(ln(CAST(c_ab AS DOUBLE) * t
        |    / (CAST(ma.m AS DOUBLE) * mb.m)), 0.0), 9) AS ppmi
        |FROM pr JOIN mg ma ON ma.w = w1 JOIN mg mb ON mb.w = w2, tt
        |WHERE c_ab >= 5 ORDER BY w1, w2""".stripMargin,

    "q_lexical_div" ->
      """WITH tk AS (SELECT source, unnest(string_split(text, ' ')) AS tok
        |            FROM documents),
        |c AS (SELECT source, tok, count(*) AS c FROM tk GROUP BY 1, 2),
        |g AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
        |        count(*) AS n_types,
        |        CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |          AS n_hapax
        |      FROM c GROUP BY 1)
        |SELECT source, n_tokens, n_types, n_hapax,
        |  round(CAST(n_types AS DOUBLE) / n_tokens, 9) AS ttr,
        |  round(CAST(n_hapax AS DOUBLE) / n_types, 9) AS hapax_share
        |FROM g ORDER BY source""".stripMargin,

    "q_collocations" ->
      """WITH t AS (SELECT string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT w[i] AS w1, w[i + 1] AS w2
        |      FROM t, unnest(range(1, len(w))) AS u(i)
        |      WHERE len(w) >= 2),
        |m AS (SELECT w1, w2, COUNT(*) AS c_ab FROM g GROUP BY 1, 2),
        |l AS (SELECT w1, SUM(c_ab) AS c_left FROM m GROUP BY 1),
        |r AS (SELECT w2, SUM(c_ab) AS c_right FROM m GROUP BY 1),
        |n AS (SELECT SUM(c_ab) AS n_total FROM m)
        |SELECT m.w1, m.w2, m.c_ab,
        |  round(ln((CAST(c_ab AS DOUBLE) * CAST(n_total AS DOUBLE))
        |    / (CAST(c_left AS DOUBLE) * CAST(c_right AS DOUBLE))), 9) AS pmi
        |FROM m JOIN l USING (w1) JOIN r USING (w2), n
        |WHERE c_ab >= 5 ORDER BY w1, w2""".stripMargin,

    // weighted-PageRank replay over the symmetrized bigram graph: the
    // co-occurrence collapse makes every contribution (rank // deg)·wt,
    // bit-identical to exploded multi-edges; the graph is symmetric so
    // every node has out-weight and the dangling-mass term is exactly 0
    // on both sides (omitted here, computed-as-zero in the engine)
    "q_textrank" ->
      """WITH t AS (SELECT string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT w[i] AS w1, w[i + 1] AS w2
        |      FROM t, unnest(range(1, len(w))) AS u(i)
        |      WHERE len(w) >= 2),
        |e AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS wt
        |      FROM (SELECT w1, w2 FROM g
        |            UNION ALL SELECT w2, w1 FROM g)
        |      GROUP BY 1, 2),
        |nodes AS (SELECT DISTINCT w1 AS node FROM e),
        |nn AS (SELECT COUNT(*) AS n FROM nodes),
        |deg AS (SELECT w1 AS src, SUM(wt) AS deg FROM e GROUP BY 1),
        |r0 AS (SELECT node, CAST(1000000000000 // nn.n AS BIGINT) AS rank
        |       FROM nodes CROSS JOIN nn),
        |c1 AS (SELECT e.w2 AS node,
        |         CAST(SUM((r.rank // d.deg) * e.wt) AS BIGINT) AS contrib
        |       FROM e JOIN r0 r ON r.node = e.w1
        |         JOIN deg d ON d.src = e.w1
        |       GROUP BY 1),
        |r1 AS (SELECT n2.node,
        |         (15 * 1000000000000) // (100 * nn.n)
        |         + (85 * COALESCE(c.contrib, 0)) // 100 AS rank
        |       FROM nodes n2 CROSS JOIN nn
        |       LEFT JOIN c1 c ON c.node = n2.node),
        |c2 AS (SELECT e.w2 AS node,
        |         CAST(SUM((r.rank // d.deg) * e.wt) AS BIGINT) AS contrib
        |       FROM e JOIN r1 r ON r.node = e.w1
        |         JOIN deg d ON d.src = e.w1
        |       GROUP BY 1),
        |r2 AS (SELECT n2.node,
        |         (15 * 1000000000000) // (100 * nn.n)
        |         + (85 * COALESCE(c.contrib, 0)) // 100 AS rank
        |       FROM nodes n2 CROSS JOIN nn
        |       LEFT JOIN c2 c ON c.node = n2.node),
        |c3 AS (SELECT e.w2 AS node,
        |         CAST(SUM((r.rank // d.deg) * e.wt) AS BIGINT) AS contrib
        |       FROM e JOIN r2 r ON r.node = e.w1
        |         JOIN deg d ON d.src = e.w1
        |       GROUP BY 1),
        |r3 AS (SELECT n2.node,
        |         (15 * 1000000000000) // (100 * nn.n)
        |         + (85 * COALESCE(c.contrib, 0)) // 100 AS rank
        |       FROM nodes n2 CROSS JOIN nn
        |       LEFT JOIN c3 c ON c.node = n2.node)
        |SELECT node AS tok, CAST(rank AS BIGINT) AS rank_fp,
        |       CAST(rank AS DOUBLE) / 1000000000000 AS rank
        |FROM r3 ORDER BY rank_fp DESC, tok LIMIT 50""".stripMargin,

    "q_funnel" ->
      """WITH a AS (
        |  SELECT user_id, min(ts) AS ta FROM events
        |  WHERE event_type = 'click' GROUP BY user_id),
        |b AS (
        |  SELECT e.user_id,
        |    min(epoch_us(e.ts) - epoch_us(a.ta)) AS delay_us
        |  FROM events e JOIN a ON e.user_id = a.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= a.ta
        |    AND epoch_us(e.ts) - epoch_us(a.ta) <= 3600000000
        |  GROUP BY e.user_id)
        |SELECT a.user_id, epoch_us(a.ta) AS t_first_us, b.delay_us
        |FROM a LEFT JOIN b ON a.user_id = b.user_id
        |ORDER BY a.user_id""".stripMargin,
  )
}
