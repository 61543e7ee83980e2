package graft
package queries

import org.apache.spark.sql.functions._

import graft.SparkEntry.{docsSpread, t}
import graft.operators.{Mixing, Multimodal}

/** Corpus-preparation queries: sampling, mixing, splits, packing, the
  * composed cleaning pipeline and multimodal media paths. */
object CorpusQueries {

  private val family = "corpus"

  /** The packed shards of CTE `packed` (source, doc_id, text, shard and
    * the length column `len`) as rows: the `<eos>`-joined sequence and
    * the comma-joined member ids, lengths and start offsets. */
  private def shardRows(len: String, g: String): String =
    s"""$g AS (
       |  SELECT source, shard,
       |    string_agg(text, ' <eos> ' ORDER BY doc_id) AS seq,
       |    list(doc_id ORDER BY doc_id) AS doc_ids,
       |    list($len ORDER BY doc_id) AS doc_lens
       |  FROM packed GROUP BY source, shard)
       |SELECT source, shard, seq,
       |  COALESCE(array_to_string(doc_ids, ','), '') AS doc_ids,
       |  COALESCE(array_to_string(doc_lens, ','), '') AS doc_lens,
       |  COALESCE(array_to_string(
       |    list_transform(range(1, len(doc_lens) + 1),
       |      i -> CAST(COALESCE(list_sum(doc_lens[1:i-1]), 0) AS BIGINT)),
       |    ','), '') AS doc_starts
       |FROM $g ORDER BY source, shard""".stripMargin

  /** The cleaning fixture both prepare oracles start from (CTE `surv`):
    * one survivor per doc_id div 3 group, its text 'tok<g>' repeated 4
    * or 6 times, with the survivor's source. */
  private val survivors: String =
    """WITH survivors AS (
      |  SELECT CAST(doc_id // 3 AS BIGINT) AS g, MIN(doc_id) AS doc_id
      |  FROM documents GROUP BY 1),
      |surv AS (
      |  SELECT s.doc_id,
      |    rtrim(repeat('tok' || CAST(s.g AS VARCHAR) || ' ',
      |      CASE WHEN s.doc_id % 3 = 2 THEN 6 ELSE 4 END)) AS text,
      |    d.source
      |  FROM survivors s JOIN documents d ON d.doc_id = s.doc_id)""".stripMargin

  /** The sampled survivors (CTE `samp`) packed greedily into 60-char
    * shards per source, as shard rows. */
  private val sampShards: String =
    s"""packed AS (
       |  SELECT source, doc_id, text, CAST(length(text) AS BIGINT) AS len,
       |    CAST(COALESCE(SUM(length(text)) OVER (PARTITION BY source
       |      ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      // 60 AS BIGINT) AS shard
       |  FROM samp),
       |${shardRows("len", "g2")}""".stripMargin

  val all: Seq[Query] = Seq(

    // ---- corpus mixing: deterministic seedless MD5-ranked sample
    // per source (the reproducible eval-slice extractor) ----
    Query("q_hash_sample", family, (s, d) =>
      Mixing.hashSample(t(s, d, "documents"), "source", "doc_id", k = 10)
        .orderBy("source", "rn"),
      """SELECT source, doc_id, rn FROM (
        |  SELECT source, doc_id,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
        |      AS rn
        |  FROM documents)
        |WHERE rn <= 10 ORDER BY source, rn""".stripMargin),

    // ---- corpus mixing: A-Res weighted priority sample (inclusion
    // ∝ document length), seedless and reproducible from ids ----
    Query("q_priority_sample", family, (s, d) =>
      Mixing.weightedPrioritySample(t(s, d, "documents"), "source",
          "doc_id", "n_chars", k = 5)
        .orderBy("source", "rn"),
      // uniform = first 13 md5 hex digits / 2^52 (exact in double); the
      // A-Res key ln(u)/w rounds to 9 with an id tie-break on both sides
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
        |WHERE rn <= 5 ORDER BY source, rn""".stripMargin),

    // ---- corpus mixing: systematic per-source sampling ----
    Query("q_sample_mix", family, (s, d) =>
      Mixing.systematicSampleByRates(t(s, d, "documents"), "source", "doc_id",
          Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.1))
        .select("doc_id", "source")
        .orderBy("doc_id"),
      """SELECT doc_id, source FROM documents
        |WHERE doc_id % 100 < CASE source
        |  WHEN 'src0' THEN 100 WHEN 'src1' THEN 50
        |  WHEN 'src2' THEN 25 WHEN 'src3' THEN 10 ELSE 0 END
        |ORDER BY doc_id""".stripMargin),

    // ---- corpus packing: fixed-budget shard assignment per source ----
    Query("q_pack_budget", family, (s, d) =>
      Mixing.packByBudget(t(s, d, "documents"), "source", "doc_id",
          "n_chars", budget = 1000L)
        .select("doc_id", "source", "n_chars", "shard")
        .orderBy("doc_id"),
      """SELECT doc_id, source, n_chars,
        |  CAST(COALESCE(SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 1000
        |    AS BIGINT) AS shard
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ---- dynamic-batching planner: quantile length buckets + the
    // pad-to-max waste a fixed batch shape per bucket would carry ----
    Query("q_length_buckets", family, (s, d) =>
      Mixing.lengthBuckets(docsSpread(s, d), nBuckets = 4)
        .orderBy("bucket"),
      // interior quartile boundaries via quantile_cont (the exact
      // interpolated percentile Spark's `percentile` computes); a doc's
      // bucket = 1 + #boundaries strictly below its token count
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
        |FROM a GROUP BY bucket ORDER BY bucket""".stripMargin),

    // ---- multimodal metadata plumbing (binary column) ----
    Query("q_multimodal_meta", family, (s, d) =>
      Multimodal.extractMeta(Multimodal.fromDocuments(t(s, d, "documents")))
        .orderBy("media_id"),
      """SELECT doc_id AS media_id, 'image/stub' AS media_type,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  substring(hex(encode(text)), 1, 16) AS header_hex
        |FROM documents ORDER BY media_id""".stripMargin),

    // ---- multimodal decode paths (stub codec, real dataflow) ----
    // The stub codec is CLOSED-FORM (normalized byte histogram mod dim),
    // so the decode output is oracle-checkable: the projection recovers
    // integer byte statistics from the float features (round() is exact —
    // the only float rounding is one count/n division per bucket, error
    // << 0.5 for any document length below ~10^6 bytes), and DuckDB
    // recomputes the same integers straight from the text bytes (the
    // corpus is ASCII, so DuckDB's per-character ord() IS the byte).
    Query("q_media_features", family, (s, d) =>
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
        .orderBy("media_id"),
      // byte-statistics twins of the closed-form stub codec: the corpus is
      // ASCII (asserted by the n_bytes check riding every row — strlen =
      // octet_length only then), so ord(char) IS the payload byte
      """WITH b AS (
        |  SELECT doc_id, strlen(text) AS n_bytes, ord(c) AS byte
        |  FROM (SELECT doc_id, text, unnest(string_split(text, '')) AS c
        |        FROM documents))
        |SELECT doc_id AS media_id, CAST(any_value(n_bytes) AS BIGINT) AS n_bytes,
        |  CAST(sum(byte % 16) AS BIGINT) AS mod_checksum,
        |  CAST(sum(CASE WHEN byte % 16 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS f0_count
        |FROM b GROUP BY doc_id ORDER BY media_id""".stripMargin),
    // batch-shaped embedding over the same stub model; results are
    // batch-size-independent (spec-pinned) and oracle-checked the same
    // way at dim=8
    Query("q_media_embed", family, (s, d) =>
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
        .orderBy("media_id"),
      """WITH b AS (
        |  SELECT doc_id, strlen(text) AS n_bytes, ord(c) AS byte
        |  FROM (SELECT doc_id, text, unnest(string_split(text, '')) AS c
        |        FROM documents))
        |SELECT doc_id AS media_id, CAST(any_value(n_bytes) AS BIGINT) AS n_bytes,
        |  CAST(sum(byte % 8) AS BIGINT) AS mod_checksum,
        |  CAST(sum(CASE WHEN byte % 8 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS f0_count
        |FROM b GROUP BY doc_id ORDER BY media_id""".stripMargin),
    // each frame is a byte window of the payload = a substring of the
    // ASCII text, so DuckDB reproduces the exact frame bytes with
    // substr() and the md5 digests must match digit-for-digit
    Query("q_media_frames", family, (s, d) =>
      Multimodal.sampleFrames(s,
          Multimodal.fromDocuments(docsSpread(s, d)),
          frameBytes = 32, stride = 2)
        .toDF()
        .select(col("media_id"), col("frame_idx").cast("long").as("frame_idx"),
                octet_length(col("frame")).cast("long").as("frame_bytes"),
                md5(col("frame")).as("frame_md5"))
        .orderBy("media_id", "frame_idx"),
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
        |FROM f ORDER BY media_id, frame_idx""".stripMargin),
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
    Query("q_media_neardup", family, (s, d) => {
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
    },
      // perceptual media fixture: pair set = in-group pairs at hamming 0
      // (identical window sets ⇒ identical SimHash; cross-group pairs
      // are 2e-15-improbable, same certainty argument as
      // q_simhash_fixture)
      """SELECT a.doc_id AS media_a, b.doc_id AS media_b,
        |  CAST(0 AS INT) AS hamming
        |FROM documents a JOIN documents b
        |  ON a.doc_id // 4 = b.doc_id // 4 AND a.doc_id < b.doc_id
        |ORDER BY media_a, media_b""".stripMargin),

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
    Query("q_corpus_clean", family, (s, d) => {
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
    },
      // closed-form fixture (see the queries entry): survivor per
      // g = doc_id div 3 group is the minimum present doc_id; its text is
      // 'tok<g>' repeated 4 times (6 for a lone 3g+2 survivor)
      """WITH survivors AS (
        |  SELECT CAST(doc_id // 3 AS BIGINT) AS g,
        |         MIN(doc_id) AS doc_id
        |  FROM documents GROUP BY 1)
        |SELECT doc_id,
        |  rtrim(repeat('tok' || CAST(g AS VARCHAR) || ' ',
        |    CASE WHEN doc_id % 3 = 2 THEN 6 ELSE 4 END)) AS text
        |FROM survivors ORDER BY doc_id""".stripMargin),

    // the WHOLE pipeline in one call over the same closed-form fixture:
    // clean → source re-attach → (keep-all) quality cut → deterministic
    // 50% mixing sample → 60-char sequence packing with boundaries
    Query("q_prepare", family, (s, d) => {
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
    },
      // closed-form end-to-end: survivors (identical-shingle-set fixture,
      // certain LSH recall) → 50%-bucket sample → cum-before div packing,
      // boundary offsets via per-index prefix list_sum
      s"""$survivors,
        |samp AS (SELECT * FROM surv WHERE doc_id % 100 < 50),
        |$sampShards""".stripMargin),

    // the same fixture pipeline with the mixing rates DERIVED from the
    // waterfall planner instead of hardcoded (VERDICT r6 item 5): uniform
    // weights, budget = half the post-clean chars → no source caps, each
    // source samples at round(100·(budget div 20)/avail_src) percent —
    // 46..53% at small SFs, so per-source rates genuinely vary
    Query("q_prepare_budget", family, (s, d) => {
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
    },
      // q_prepare's pipeline with the sampling percent derived per source
      // from the budget waterfall (one-cascade structure as q_budget_alloc;
      // the fixture never caps, so r1 reduces to the uniform share)
      s"""$survivors,
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
        |$sampShards""".stripMargin),

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
    Query("q_clean_report", family, (s, d) => {
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
    },
      // closed-form attrition outcomes of the q_corpus_clean fixture
      // covered groups ((doc_id//3)%5=0) scrub to empty against the eval
      // fixture and die first; the rest keep the original ladder outcomes
      """SELECT doc_id,
        |  CASE WHEN (doc_id // 3) % 5 = 0 THEN 'contam_scrubbed'
        |       WHEN doc_id % 3 = 1 THEN 'exact_dup'
        |       WHEN doc_id % 3 = 2 THEN 'near_dup'
        |       ELSE 'kept' END AS outcome
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ---- E15 balanced source interleave: strict round-robin epoch
    // order across sources (no |sources| window single-source), ranks
    // by the engine-independent Knuth hash ----
    Query("q_interleave", family, (s, d) =>
      Mixing.interleaveSources(
          t(s, d, "documents").select("doc_id", "source"),
          "source", "doc_id")
        .select("doc_id", "source", "ord")
        .orderBy("ord"),
      // within-source Knuth-hash rank, round-robin ord over the
      // alphabetical source index
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
        |ORDER BY ord""".stripMargin),

    // ---- E15 deterministic epoch shuffle: the layout-independent
    // pseudo-random training order (seed 3) any two runs agree on —
    // orderBy(rand(seed)) is partition-dependent and irreproducible ----
    Query("q_epoch_shuffle", family, (s, d) =>
      Mixing.epochShuffle(t(s, d, "documents").select("doc_id"),
          "doc_id", seed = 3L)
        .orderBy("epoch_rank"),
      // seed 3 → odd multiplier 7; rank is 0-based (exclusive count)
      """SELECT doc_id,
        |  CAST(row_number() OVER (
        |    ORDER BY (doc_id * 7 * 2654435761) % 4294967296, doc_id) - 1
        |    AS BIGINT) AS epoch_rank
        |FROM documents ORDER BY epoch_rank""".stripMargin),

    // k-fold CV labels: engine-independent Knuth-hash fold assignment,
    // summarized per fold (counts + char mass)
    Query("q_kfold", family, (s, d) =>
      Mixing.kFoldSplit(t(s, d, "documents"), "doc_id", k = 5)
        .groupBy("fold")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy("fold"),
      """SELECT ((doc_id * 2654435761) % 4294967296) % 5 AS fold,
        |  COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY fold ORDER BY fold""".stripMargin),

    // waterfall token-budget allocation: budget = half the corpus, src0
    // over-weighted 50:1 so it caps at one epoch and its surplus
    // redistributes over the remaining sources (all-integer arithmetic)
    Query("q_budget_alloc", family, (s, d) => {
      val docs = t(s, d, "documents")
      val budget =
        docs.agg(sum(col("n_chars")).cast("long")).head().getLong(0) / 2
      val weights =
        (("src0" -> 50L) +: (1 to 19).map(i => s"src$i" -> 1L)).toMap
      Mixing.allocateBudget(docs, weights, budget).orderBy("source")
    },
      // two-phase waterfall unrolled in SQL — valid because exactly one
      // round caps on this corpus (src0 at 50:1 caps; the 19-way
      // redistribution stays under every remaining cap); all arithmetic
      // is BIGINT division, identical to the operator's integer waterfall
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
        |FROM alloc ORDER BY source""".stripMargin),

    // ---- E15 deterministic k-per-group sampling (bottom-k by hash) ----
    Query("q_group_sample", family, (s, d) =>
      Mixing.deterministicGroupSample(
          t(s, d, "orders")
            .select("o_orderkey", "o_orderpriority", "o_totalprice"),
          "o_orderpriority", "o_orderkey", k = 5)
        .orderBy("o_orderpriority", "o_orderkey"),
      """SELECT o_orderkey, o_orderpriority, o_totalprice FROM (
        |  SELECT o_orderkey, o_orderpriority, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY (o_orderkey * 2654435761) % 4294967296, o_orderkey)
        |      AS rk
        |  FROM orders) WHERE rk <= 5
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin),

    // ---- E15 weighted deterministic sample (importance sampling) ----
    Query("q_weighted_sample", family, (s, d) =>
      Mixing.weightedGroupSample(
          t(s, d, "documents").select("doc_id", "lang", "n_chars"),
          "lang", "doc_id", "n_chars", k = 5)
        .orderBy("lang", "doc_id"),
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars,
        |    row_number() OVER (PARTITION BY lang ORDER BY
        |      CASE WHEN n_chars IS NOT NULL AND n_chars > 0 THEN
        |        CAST((doc_id * 2654435761) % 4294967296 AS DOUBLE) / n_chars
        |      END ASC NULLS LAST,
        |      doc_id ASC NULLS LAST) AS rk
        |  FROM documents) WHERE rk <= 5
        |ORDER BY lang, doc_id""".stripMargin),

    // ---- E15 deterministic upsampling (source weighting with
    // replication): rate 2.5 → 2 or 3 copies per row, Knuth-hash
    // decided, layout- and engine-independent ----
    Query("q_upsample", family, (s, d) =>
      Mixing.upsampleByRates(t(s, d, "documents").select("doc_id", "source"),
          "source", "doc_id",
          Map("src0" -> 2.5, "src1" -> 1.3, "src2" -> 0.29))
        .orderBy("doc_id", "copy_id"),
      // same Knuth-hash bucket rule as q_split; range(copies) replicates
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
        |ORDER BY doc_id, copy_id""".stripMargin),

    // ---- E15 deterministic train/val/test split ----
    Query("q_split", family, (s, d) =>
      Mixing.deterministicSplit(t(s, d, "documents"), "doc_id",
          Seq("train" -> 90, "val" -> 5, "test" -> 5))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("split"),
      """SELECT split, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM (
        |  SELECT CASE WHEN b < 90 THEN 'train'
        |              WHEN b < 95 THEN 'val' ELSE 'test' END AS split,
        |         n_chars
        |  FROM (SELECT ((doc_id * 2654435761) % 4294967296) % 100 AS b,
        |               n_chars FROM documents))
        |GROUP BY split ORDER BY split""".stripMargin),

    // ---- E15 leakage-safe split: near-dup clusters never straddle
    // train/val/test. Closed-form fixture (identical-shingle div-4
    // groups, as q_dedup_clusters): clusters = groups, so every doc's
    // split equals the split of its group minimum — SQL-derivable with
    // the same Knuth-hash bucket rule as q_split. ----
    Query("q_split_leakage", family, (s, d) => {
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
    },
      """SELECT doc_id,
        |  CASE WHEN b < 90 THEN 'train'
        |       WHEN b < 95 THEN 'val' ELSE 'test' END AS split
        |FROM (
        |  SELECT doc_id, ((rep * 2654435761) % 4294967296) % 100 AS b
        |  FROM (SELECT doc_id,
        |          MIN(doc_id) OVER (PARTITION BY doc_id // 4) AS rep
        |        FROM documents))
        |ORDER BY doc_id""".stripMargin),

    // ---- E15 EXACT-proportion stratified split (per-source counts are
    // exact to integer-boundary rounding, not hash-proportional) ----
    Query("q_strat_split", family, (s, d) =>
      Mixing.stratifiedExactSplit(t(s, d, "documents"), "source", "doc_id",
          Seq("train" -> 90, "val" -> 5, "test" -> 5))
        .select("doc_id", "source", "split")
        .orderBy("doc_id"),
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
        |FROM r ORDER BY doc_id""".stripMargin),

    // ---- E15 per-source cap (top-k docs per source, domain balancing) ----
    Query("q_source_cap", family, (s, d) =>
      Mixing.capPerGroup(t(s, d, "documents"),
          Seq(col("source")),
          Seq(col("n_chars").desc, col("doc_id")), k = 3)
        .select("doc_id", "source", "n_chars")
        .orderBy("source", "doc_id"),
      """SELECT doc_id, source, n_chars FROM (
        |  SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents) WHERE rn <= 3
        |ORDER BY source, doc_id""".stripMargin),

    // ---- E15 sequence packing: shard assignment → ordered concat ----
    Query("q_pack_seq", family, (s, d) =>
      Mixing.packSequences(t(s, d, "documents"), "source", "doc_id",
          "n_chars", "text", budget = 1000L)
        .orderBy("source", "shard"),
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
        |ORDER BY source, shard""".stripMargin),

    // packed shards + trainer structure arrays (ids, lengths, exclusive
    // cumulative start offsets) — still one group-key shuffle
    Query("q_pack_boundaries", family, (s, d) =>
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
        .orderBy("source", "shard"),
      // same packing CTE; boundary offsets via per-index prefix list_sum —
      // the engine's in-array aggregate scan, replayed in SQL
      s"""WITH packed AS (
        |  SELECT source, doc_id, text, n_chars,
        |    CAST(COALESCE(SUM(n_chars) OVER (PARTITION BY source
        |      ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 1000
        |      AS BIGINT) AS shard
        |  FROM documents),
        |${shardRows("n_chars", "g")}""".stripMargin),

    // ---- E15 GPT-style contiguous packing: cut each source's
    // concatenated token stream every 1000 tokens EXACTLY — documents
    // span example boundaries (span table, all-integer offsets);
    // packByBudget's greedy shards round up, this doesn't ----
    Query("q_pack_contiguous", family, (s, d) =>
      Mixing.packContiguous(t(s, d, "documents"), "source", "doc_id",
          "n_chars", budget = 1000L)
        .orderBy("source", "example", "doc_id", "tok_start"),
      // the engine's prefix-sum/explode span construction replayed as a
      // window + range unnest: doc at stream offset s, weight w covers
      // examples s//B .. (s+w-1)//B with half-open in-doc token bounds
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
        |ORDER BY source, example, doc_id, tok_start""".stripMargin),

    // ---- E15 deterministic negative sampling over the customer→part
    // purchase graph: per customer, k hash-ranked never-bought parts
    // from the customer's hash-picked catalog bucket — the implicit-
    // feedback training-pair builder, engine-replayable ----
    Query("q_negative_sample", family, (s, d) => {
      val inter = t(s, d, "orders")
        .filter(col("o_custkey") < 200)
        .join(t(s, d, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_partkey").as("part"))
      Mixing.negativeSample(inter, "cust", "part", k = 2, buckets = 8)
        .orderBy("user", "rank", "item")
    },
      // char-polynomial item hash + Knuth user hash replayed exactly;
      // per-user bucket pick, anti-join of bought pairs, hash rank to k
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
        |ORDER BY "user", rank, item""".stripMargin),

    // ---- E15 Neyman-optimal stratified allocation: a 1000-row sample
    // budget split across return-flag strata by N_h·sigma_h (big AND
    // varied strata earn budget), largest-remainder integerization ----
    Query("q_neyman_alloc", family, (s, d) =>
      Mixing.neymanAllocation(t(s, d, "lineitem"), "l_returnflag",
          "l_extendedprice", totalN = 1000L)
        .orderBy("stratum"),
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
        |FROM r ORDER BY stratum""".stripMargin),

    // ---- E15 temperature-balanced mixing (tau=0.5: sqrt weighting) ----
    Query("q_temp_mix", family, (s, d) =>
      Mixing.temperatureSample(t(s, d, "documents"), "lang", "doc_id",
          tau = 0.5)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("lang"),
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
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin),
  )
}
