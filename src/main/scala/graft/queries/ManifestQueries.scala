package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.SparkEntry.{buildMediaSigCache, buildSigCache,
  ensureMediaSigCache, ensureSigCache, t, withScratchDir}
import graft.operators.{Dedup, Multimodal}

/** Table-lifecycle queries over ManifestTable: upsert / SCD-2, restore,
  * expectations, schema evolution, incremental views and index refresh. */
object ManifestQueries {

  private val family = "manifest"

  val all: Seq[Query] = Seq(

    // ---- E13 RESTORE lifecycle: commit, corrupt with a bad batch,
    // roll back by committing the v1 file list forward (zero copy,
    // linear history) — the read-back proves the undo round-trip ----
    Query("q_restore", family, (s, d) => withScratchDir("graft-restore") { tmp =>
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
    },
      // closed-form lifecycle: the clean batch (doc_id < 100) commits,
      // the negated-n_chars batch violates in_range on every row and is
      // rejected, so the table holds exactly the first batch
      // restore(v1) makes the read-back the v1 snapshot verbatim — the
      // bad batch's rows are gone iff the rollback round-tripped
      """SELECT doc_id, source FROM documents
        |WHERE doc_id < 200 ORDER BY doc_id""".stripMargin),

    // ---- E13 expectations on write: a clean batch commits, a poisoned
    // batch is REJECTED with the table left bit-identical; the output is
    // both audit reports + the surviving table state ----
    Query("q_expectations", family, (s, d) => withScratchDir("graft-expect") { tmp =>
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
    },
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
        |ORDER BY attempt, rule""".stripMargin),

    // ---- E13 incremental view maintenance: roll a grouped summary
    // forward through the CDF diff (O(changes), not O(table)) — output
    // is the maintained summary, oracle is the from-scratch truth ----
    Query("q_incremental_view", family, (s, d) => withScratchDir("graft-ivm") { tmp =>
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
    },
      // from-scratch truth of the rolled-forward summary: final state =
      // doc_id < 40 with the [10,20) rows carrying their +1000 update
      """WITH st AS (
        |  SELECT source,
        |    CASE WHEN doc_id >= 10 AND doc_id < 20 THEN n_chars + 1000
        |         ELSE n_chars END AS v
        |  FROM documents WHERE doc_id < 40)
        |SELECT source, count(*) AS n_rows,
        |  CAST(sum(CAST(v AS DECIMAL(18,6))) AS DOUBLE) AS sum_v
        |FROM st GROUP BY source ORDER BY source""".stripMargin),

    // ---- E13 schema evolution round-trip: a second commit adds a
    // column; history null-fills it, time travel keeps the old shape ----
    Query("q_schema_evolution", family, (s, d) => withScratchDir("graft-evolve") {
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
    },
      // closed-form lifecycle: commit 1 ships (doc_id, lang) only, commit
      // 2 evolves in n_chars — history null-fills, v1 stays 2 columns
      """SELECT doc_id, lang,
        |  CASE WHEN doc_id >= 50 THEN n_chars ELSE NULL END AS n_chars,
        |  CAST(2 AS BIGINT) AS v1_cols
        |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin),
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
    Query("q_media_refresh", family, (s, d) => withScratchDir("graft-media-refresh") { tmp =>
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
    },
      // planted-duplicate media-ingest lifecycle: corpus + disjoint
      // batch1 survive; batch2's even-group rows duplicate batch1's
      // survivors perceptually (identical window sets) and die iff the
      // index extension round-tripped; odd-group rows are new
      """SELECT doc_id AS media_id FROM documents
        |WHERE doc_id % 4 IN (0, 1)
        |   OR (doc_id % 4 = 2 AND (doc_id // 4) % 2 = 1)
        |ORDER BY media_id""".stripMargin),
    // E8+E2f media lifecycle SPLIT, build half: hash + commit the
    // standing corpus's perceptual-signature index from scratch —
    // amortizable construction cost; the read-back's SQL-closed shape
    // (one signature row per corpus doc) is the audit
    Query("q_media_sig_build", family, (s, d) => {
      val dir = buildMediaSigCache(s, d)
      graft.sources.ManifestTable.read(s, dir)
        .agg(count(lit(1)).as("n_sigs"),
          countDistinct(col("media_id")).as("n_media"))
        .select(col("n_media"), col("n_sigs"))
    },
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_media,
        |CAST(COUNT(*) AS BIGINT) AS n_sigs
        |FROM documents WHERE doc_id % 4 = 0""".stripMargin),
    // E8+E2f media lifecycle SPLIT, probe half: dedup two ingest
    // batches against the READ-BACK standing index without extending
    // it — the recurring per-ingest cost (q_media_refresh keeps the
    // full extend-and-round-trip proof). batch1 (%4==1) = patU×3, no
    // corpus match → survives; batch2 (%4==2) = patT×2 for EVEN groups
    // (perceptual dup of the group's corpus doc → dropped) and patV×3
    // for ODD groups (new → survives)
    Query("q_media_probe", family, (s, d) => {
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
    },
      """SELECT doc_id AS media_id FROM documents
        |WHERE doc_id % 4 = 1
        |   OR (doc_id % 4 = 2 AND (doc_id // 4) % 2 = 1)
        |ORDER BY media_id""".stripMargin),
    // E2 incremental near-dedup against a standing corpus (the ingest
    // shape: probe the new batch against the index, never re-pair the
    // corpus). Closed-form fixture: corpus = one doc per div-4 group
    // (doc_id%4=0) with text 't<g>'×4; batch docs carry 't<g>' for EVEN
    // groups (identical 3-shingle set as the group's corpus doc →
    // certain LSH recall, jaccard 1.0 → dropped) and 'u<g>' for ODD
    // groups (disjoint shingles → kept), so survivors = exactly the
    // batch docs of odd groups.
    Query("q_dedup_incremental", family, (s, d) => {
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
    },
      // incremental-ingest fixture (see the queries entry): survivors =
      // the batch docs (doc_id%4<>0) of odd div-4 groups
      """SELECT doc_id FROM documents
        |WHERE doc_id % 4 <> 0 AND (doc_id // 4) % 2 = 1
        |ORDER BY doc_id""".stripMargin),
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
    Query("q_incremental_refresh", family, (s, d) => withScratchDir("graft-refresh") { tmp =>
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
    },
      // refresh fixture: base (%4==0) and batch1 (%4==1) always in; of
      // batch2 (%4==2) only the odd-group v<g> docs survive the extended
      // index; %4==3 never ingested
      """SELECT doc_id FROM documents
        |WHERE doc_id % 4 IN (0, 1)
        |   OR (doc_id % 4 = 2 AND (doc_id // 4) % 2 = 1)
        |ORDER BY doc_id""".stripMargin),
    // E2f+E13 ingest lifecycle SPLIT, build half (VERDICT r9 item 2):
    // publish the standing corpus's MinHash signature index as a
    // ManifestTable from scratch — pure index-construction + commit
    // cost on this bench row. Output is the read-back's SQL-closed
    // shape: 8 band rows (numHashes 32 / bands 8, the signatureIndex
    // defaults) per corpus doc.
    Query("q_refresh_build", family, (s, d) => {
      val dir = buildSigCache(s, d)
      graft.sources.ManifestTable.read(s, dir)
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_sig_rows"))
        .select(col("n_docs"), col("n_sig_rows"))
    },
      // lifecycle split halves: build = signature-index shape (8 band
      // rows per corpus doc), probe = survivor membership vs the
      // standing corpus-only index (batch2's corpus-dups die, nothing
      // else does)
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |CAST(COUNT(*) * 8 AS BIGINT) AS n_sig_rows
        |FROM documents WHERE doc_id % 4 = 0""".stripMargin),
    // E2f+E13 ingest lifecycle SPLIT, probe half: dedup two ingest
    // batches against the READ-BACK standing index without extending
    // it — the recurring per-ingest cost (`q_incremental_refresh`
    // keeps the full extend-and-round-trip proof). Closed-form
    // fixture vs the t<g>×4 corpus: batch1 (%4==1) = u<g> (disjoint →
    // survives), batch2 (%4==2) = t<g> for EVEN groups (identical
    // shingle set as the corpus doc → dropped) and v<g> for ODD
    // groups (new → survives); one doc per group per batch, so no
    // within-batch interplay.
    Query("q_refresh_probe", family, (s, d) => {
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
    },
      """SELECT doc_id FROM documents
        |WHERE doc_id % 4 = 1
        |   OR (doc_id % 4 = 2 AND (doc_id // 4) % 2 = 1)
        |ORDER BY doc_id""".stripMargin),

    // ---- E21 dimensional modeling: SCD-1 upsert, SCD-2 history ----
    Query("q_upsert", family, (s, d) => {
      val target = t(s, d, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val updates = target.filter(pmod(col("o_orderkey"), lit(97)) === 0)
        .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
                (col("o_totalprice") + 1000.0).as("o_totalprice"))
      operators.Dimensional.upsert(target, updates, Seq("o_orderkey"))
        .orderBy("o_orderkey")
    },
      """WITH t AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        |u AS (SELECT o_orderkey, 'U' AS o_orderstatus,
        |             o_totalprice + 1000.0 AS o_totalprice
        |      FROM t WHERE o_orderkey % 97 = 0)
        |SELECT * FROM u
        |UNION ALL
        |SELECT * FROM t WHERE o_orderkey NOT IN (SELECT o_orderkey FROM u)
        |ORDER BY o_orderkey""".stripMargin),
    Query("q_scd2", family, (s, d) =>
      operators.Dimensional.scd2(
          t(s, d, "events").select("user_id", "ts", "event_id", "value"),
          "user_id", "ts", tieBreak = Seq("event_id"))
        .select("user_id", "event_id", "value",
                "valid_from", "valid_to", "is_current")
        .orderBy("user_id", "valid_from", "event_id"),
      """SELECT user_id, event_id, value, ts AS valid_from,
        |  lead(ts, 1) OVER w AS valid_to,
        |  lead(ts, 1) OVER w IS NULL AS is_current
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, valid_from, event_id""".stripMargin),
  )
}
