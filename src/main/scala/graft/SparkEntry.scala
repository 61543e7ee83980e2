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

  /** The `kind` index over corpus `d` at its cache path. `write` builds
    * it from scratch into an emptied directory when `rebuild` is set or
    * when `last` — the table the build commits last, relative to the
    * cache directory (`""`: the directory itself) — has no committed
    * manifest version yet, so a build that failed partway is rebuilt,
    * never served. */
  private def indexCache(s: SparkSession, d: String, kind: String,
                         last: String, rebuild: Boolean)
                        (write: String => Unit): String =
    this.synchronized {
      val dir = cacheDirFor(d, kind)
      val table = if (last.isEmpty) dir else s"$dir/$last"
      if (rebuild || graft.sources.ManifestTable.versions(s, table).isEmpty) {
        deleteTree(java.nio.file.Paths.get(dir))
        write(dir)
      }
      dir
    }

  /** The IVF embedding index, same parameters as `q_ann_ivf_indexed`;
    * `half` indexes only the EVEN-id half of the corpus — the
    * `q_ann_ivf_append_probe` fixture: the odd half plays the incoming
    * ingest batch, so the append-probe row times only the recurring
    * per-batch cost (assign against stored centroids + probe). */
  private def ivfCache(s: SparkSession, d: String, half: Boolean,
                       rebuild: Boolean): String =
    indexCache(s, d, if (half) "ivfhalf" else "ivf", "cells", rebuild) {
      dir =>
        val e = t(s, d, "embeddings")
        val (cents, cells) = operators.Similarity.ivfIndex(
          if (half) e.filter(col("vec_id") % 2 === 0) else e,
          nlist = 16, iters = 2)
        operators.Similarity.writeIvfIndex(dir, cents, cells)
    }

  private[graft] def buildIvfCache(s: SparkSession, d: String): String =
    ivfCache(s, d, half = false, rebuild = true)

  private[graft] def ensureIvfCache(s: SparkSession, d: String): String =
    ivfCache(s, d, half = false, rebuild = false)

  private[graft] def ensureIvfHalfCache(s: SparkSession, d: String): String =
    ivfCache(s, d, half = true, rebuild = false)

  /** The standing MEDIA perceptual-signature index over the
    * `q_media_refresh` fixture's corpus slice (doc_id %4 == 0, 8-byte-
    * periodic patT×4 payloads) as a ManifestTable. */
  private def mediaSigCache(s: SparkSession, d: String,
                            rebuild: Boolean): String =
    indexCache(s, d, "mediasig", "", rebuild) { dir =>
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
    }

  private[graft] def buildMediaSigCache(s: SparkSession, d: String): String =
    mediaSigCache(s, d, rebuild = true)

  private[graft] def ensureMediaSigCache(s: SparkSession, d: String): String =
    mediaSigCache(s, d, rebuild = false)

  /** The PQ embedding index, same parameters as `q_ann_pq` — codebook
    * training + corpus encode, the amortizable half of the
    * compressed-scan serve path. */
  private def pqCache(s: SparkSession, d: String, rebuild: Boolean): String =
    indexCache(s, d, "pq", "codes", rebuild) { dir =>
      val (cb, codes) = operators.Similarity.pqIndex(
        t(s, d, "embeddings"), m = 16, ksub = 16, iters = 2)
      operators.Similarity.writePqIndex(dir, cb, codes)
    }

  private[graft] def buildPqCache(s: SparkSession, d: String): String =
    pqCache(s, d, rebuild = true)

  private[graft] def ensurePqCache(s: SparkSession, d: String): String =
    pqCache(s, d, rebuild = false)

  /** The standing MinHash signature index over the refresh fixture's
    * corpus slice (doc_id %4 == 0, text = t<g>×4 — the
    * `q_incremental_refresh` fixture) as a ManifestTable. */
  private def sigCache(s: SparkSession, d: String, rebuild: Boolean): String =
    indexCache(s, d, "sig", "", rebuild) { dir =>
      val g = expr("doc_id div 4")
      val corpus = t(s, d, "documents")
        .filter(pmod(col("doc_id"), lit(4)) === 0)
        .select(col("doc_id"),
          concat_ws(" ", array_repeat(
            concat(lit("t"), g.cast("string")), 4)).as("text"))
      graft.sources.ManifestTable.upsertBatch(
        operators.Dedup.signatureIndex(corpus, "doc_id", "text"),
        dir, Seq("doc_id", "band_id"), nBuckets = 8,
        targetRowsPerBucket = 1L << 20)
    }

  private[graft] def buildSigCache(s: SparkSession, d: String): String =
    sigCache(s, d, rebuild = true)

  private[graft] def ensureSigCache(s: SparkSession, d: String): String =
    sigCache(s, d, rebuild = false)

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
