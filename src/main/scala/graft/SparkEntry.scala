package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.queries.{CorpusQueries, DedupQueries, EventQueries,
  GraphQueries, ManifestQueries, ProfilingQueries, RelationalQueries,
  SimilarityQueries, SqlQueries, TextQueries, TokenizerQueries}

/** Query contract (SURVEY.md §7): the registered queries, their DuckDB
  * oracles, and the helpers the per-family query files share.
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

  private[graft] def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** documents, spread to cluster parallelism: the corpus parquet is a
    * single row-group, and the per-row text expressions are the cost — one
    * input split would serialize them on one core (Ops.spread is a no-op
    * for well-partitioned sources). */
  private[graft] def docsSpread(s: SparkSession, dir: String): DataFrame =
    operators.Ops.spread(t(s, dir, "documents"), col("doc_id"))

  /** Exact, order-independent sum of a double column: sum as decimal,
    * surface as double. */
  private[graft] def sumDec(c: Column, scale: Int = 2): Column =
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

  private[graft] def withScratchDir(prefix: String)
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
  private[graft] def buildIvfCache(s: SparkSession, d: String): String =
    this.synchronized {
      val dir = cacheDirFor(d, "ivf")
      deleteTree(java.nio.file.Paths.get(dir))
      val e = t(s, d, "embeddings")
      val (cents, cells) = operators.Similarity.ivfIndex(e, nlist = 16,
        iters = 2)
      operators.Similarity.writeIvfIndex(dir, cents, cells)
      dir
    }

  private[graft] def ensureIvfCache(s: SparkSession, d: String): String =
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
  private[graft] def ensureIvfHalfCache(s: SparkSession, d: String): String =
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
  private[graft] def buildMediaSigCache(s: SparkSession, d: String): String =
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

  private[graft] def ensureMediaSigCache(s: SparkSession, d: String): String =
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
  private[graft] def buildPqCache(s: SparkSession, d: String): String =
    this.synchronized {
      val dir = cacheDirFor(d, "pq")
      deleteTree(java.nio.file.Paths.get(dir))
      val e = t(s, d, "embeddings")
      val (cb, codes) = operators.Similarity.pqIndex(e, m = 16, ksub = 16,
        iters = 2)
      operators.Similarity.writePqIndex(dir, cb, codes)
      dir
    }

  private[graft] def ensurePqCache(s: SparkSession, d: String): String =
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
  private[graft] def buildSigCache(s: SparkSession, d: String): String =
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

  private[graft] def ensureSigCache(s: SparkSession, d: String): String =
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

  /** Every registered query, one file per family under `graft/queries/`:
    * its build function beside the DuckDB oracle it is checked against. */
  lazy val records: Seq[Query] = Seq(
    RelationalQueries.all,
    SqlQueries.all,
    TextQueries.all,
    TokenizerQueries.all,
    DedupQueries.all,
    SimilarityQueries.all,
    GraphQueries.all,
    EventQueries.all,
    ProfilingQueries.all,
    CorpusQueries.all,
    ManifestQueries.all,
  ).flatten

  private lazy val byName: Map[String, Query] = Query.byName(records)

  /** Build function per query name. Each takes (session, sfDir). */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    byName.map { case (n, q) => n -> q.build }

  /** DuckDB-equivalent ANSI SQL per query name, run on the same parquet
    * tables. */
  lazy val oracleSql: Map[String, String] =
    byName.map { case (n, q) => n -> q.oracle }
}
