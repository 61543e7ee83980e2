package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators over the events stream shape
  * (event_id, ts, user_id, event_type, value, props).
  *
  * Batch and stream share the same DataFrame expressions — each of these
  * mirrors a batch operator (EventOps / Dedup) with the streaming-only
  * concerns added: watermarks bound state, windows bound emission, and
  * session state lives in the state store keyed by user.
  */
object StreamOps {

  /** File-source stream over an events directory: new parquet files are
    * discovered per micro-batch. Schema must be explicit — streaming
    * sources do not infer (and shouldn't: inference is a full read).
    * Pair with `writeStream.trigger(AvailableNow)` for catch-up batch
    * replays of a streaming pipeline. */
  def readEventsStream(spark: org.apache.spark.sql.SparkSession, dir: String,
                       schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream.schema(schema).parquet(dir)

  /** Event-time tumbling-window rollup (streaming twin of
    * EventOps.hourlyRollup). The watermark bounds window state: windows
    * older than max(event time) - delay are finalized and dropped, so
    * state is O(active windows × event types), not O(stream length). */
  def windowedCounts(events: DataFrame, windowLength: String = "1 hour",
                     watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLength).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("w_start"), col("event_type"),
              col("n_events"), col("sum_value"))

  /** Streaming twin of [[graft.operators.EventOps.ohlcBars]] — the
    * telemetry-compaction bars computed ONLINE: per (series, event-time
    * hour) open/high/low/close/count plus the nano-unit integer value
    * sum, emitted once the watermark closes the hour (append mode —
    * each bar exactly once). The (µs·2⁴⁰ + id) DECIMAL tie key makes
    * open/close deterministic under same-timestamp events, so the
    * streamed bars are BIT-IDENTICAL to a batch [[EventOps.ohlcBars]]
    * pass over the complete admitted data — spec-pinned parity.
    * min_by/max_by are algebraic aggregates, so per-trigger partials
    * merge in the state store; state per open window is one bar row per
    * series, never the events. */
  def ohlcStream(events: DataFrame, watermarkDelay: String = "2 hours",
                 seriesCol: String = "event_type", tsCol: String = "ts",
                 valCol: String = "value",
                 idCol: String = "event_id"): DataFrame = {
    val tie = unix_micros(col(tsCol))
      .cast(org.apache.spark.sql.types.DecimalType(38, 0)) *
      lit(1099511627776L) + col(idCol)
    // 2³⁰-radix long-limb nano mass, recombined exactly in
    // DECIMAL(38,0) and published BIGINT behind the same loud range
    // guard as the batch twin (EventOps.ohlcBars): long state-store
    // buffers, no per-row long saturation, overflow raises — never
    // wraps
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val radix = 1073741824L
    val mass = round(col(valCol) * lit(1e9))
    val mhi = floor(mass / lit(radix.toDouble))
    val mlo = (mass - mhi.cast("double") * lit(radix.toDouble)).cast("long")
    val nanos = sum(mhi).cast(dec) * lit(radix) + sum(mlo).cast(dec)
    events
      .filter(col(valCol).isNotNull)
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), "1 hour").as("w"), col(seriesCol))
      .agg(count(lit(1)).as("n"),
        min_by(col(valCol), tie).as("open"),
        max(col(valCol)).as("high"),
        min(col(valCol)).as("low"),
        max_by(col(valCol), tie).as("close"),
        when(abs(nanos) <= lit(Long.MaxValue).cast(dec),
            nanos.cast("long"))
          .otherwise(raise_error(concat(
            lit("ohlcStream: per-bar nano-unit mass overflows BIGINT: "),
            nanos.cast("string"))).cast("long"))
          .as("sum_value_nanos"))
      .select(col("w.start").as("bar_ts"), col(seriesCol), col("n"),
        col("open"), col("high"), col("low"), col("close"),
        col("sum_value_nanos"))
  }

  /** Streaming trending-keys monitor: a mergeable Misra–Gries summary
    * ([[graft.functions.MisraGriesAggregator]]) of `keyCol` per
    * event-time tumbling window. The sketch's mergeability is exactly
    * what the state store needs: per-trigger partial summaries fold
    * into the stored window summary, so state per window is ONE ≤
    * k-entry sketch — never the window's distinct-key space, which for
    * token/URL streams is what makes a top-keys monitor viable
    * unbounded. The watermark finalizes and evicts old windows as in
    * [[windowedCounts]].
    *
    * Output per window: the candidate (key, weight) pairs exploded.
    * Weights are order-dependent UNDERestimates (monitor signal, not
    * exact counts), but any key with in-window frequency >
    * n_window/(k+1) is guaranteed present — the batch twin
    * [[graft.operators.Profiling.heavyHitters]] adds the exact
    * candidate-restricted pass where exactness matters. */
  def frequentItemsStream(events: DataFrame, keyCol: String, k: Int,
                          windowLength: String = "1 hour",
                          watermarkDelay: String = "2 hours"): DataFrame = {
    val mg = udaf(new graft.functions.MisraGriesAggregator(k),
      org.apache.spark.sql.Encoders.STRING)
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLength).as("w"))
      .agg(mg(col(keyCol).cast("string")).as("cand"))
      .select(col("w.start").as("w_start"), explode(col("cand")))
      .select(col("w_start"), col("key"), col("value").as("weight"))
  }

  /** Streaming half of the CUSUM changepoint monitor — the watermarked
    * per-(series, event-time hour) count table maintained ONLINE: the
    * state per open hour is one long per series (count partials are
    * the mergeable aggregate — per-trigger partial sums fold in the
    * state store), and each hour emits exactly once at watermark close
    * (append mode). The CUSUM argmax itself is a GLOBAL recurrence
    * over the whole series history — not a streaming aggregate — so
    * the monitor lands these rows (parquet/[[upsertStream]]) and
    * replays [[graft.operators.EventOps.changepointFromHourly]] over
    * the compacted table per scan: series × hours rows, trivial at any
    * corpus scale, and BIT-IDENTICAL to batch
    * [[graft.operators.EventOps.changepoint]] over the same admitted
    * events (spec-pinned — the [[ohlcStream]] parity contract).
    * Output: (typeCol, bucket_ts, cnt) — exactly
    * [[graft.operators.EventOps.changepointFromHourly]]'s input. */
  def changepointStream(events: DataFrame,
                        watermarkDelay: String = "2 hours",
                        typeCol: String = "event_type",
                        tsCol: String = "ts"): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), "1 hour").as("w"), col(typeCol))
      .agg(count(lit(1)).as("cnt"))
      .select(col(typeCol), col("w.start").as("bucket_ts"), col("cnt"))

  /** Streaming per-window quantile monitor — the latency/size-percentile
    * dashboard feed: `percentile_approx`'s mergeable rank sketch as a
    * windowed streaming aggregate, so state per (window, group) is ONE
    * bounded digest (never the window's value list) and per-trigger
    * partials fold into it across micro-batches — the same
    * bounded-mergeable-state property that makes
    * [[frequentItemsStream]] viable on unbounded streams, applied to
    * quantiles. Emits one row per closed window and group with the
    * approximate percentile (rank error ≤ 1/accuracy). */
  def quantileStream(events: DataFrame, valCol: String,
                     p: Double = 0.5, accuracy: Int = 100,
                     groupCol: String = "event_type",
                     windowLength: String = "1 hour",
                     watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLength).as("w"), col(groupCol))
      .agg(percentile_approx(col(valCol), lit(p), lit(accuracy))
        .as(s"p_$valCol"))
      .select(col("w.start").as("w_start"), col(groupCol),
        col(s"p_$valCol"))

  /** Streaming count-min sketch — the per-window frequency structure
    * when the key cardinality is too high for [[frequentItemsStream]]'s
    * per-key state: state per (window, row, bucket) is ONE counter, so
    * a window's whole footprint is the fixed d×w grid no matter how
    * many distinct keys flow through it. Emits the sketch TABLE per
    * closed window; batch consumers read it with
    * [[graft.operators.Profiling.cmsProbe]] (same hash family, so
    * streamed and batch-built sketches are interchangeable — and
    * windows union+re-aggregate into coarser sketches downstream). */
  def cmsStream(events: DataFrame, keyCol: String, width: Int = 1024,
                depth: Int = 5, windowLength: String = "1 hour",
                watermarkDelay: String = "2 hours"): DataFrame =
    events
      .filter(col(keyCol).isNotNull)
      .withWatermark("ts", watermarkDelay)
      .select(col("ts"), explode(graft.operators.Profiling
        .cmsBuckets(col(keyCol), width, depth)).as("h"))
      .groupBy(window(col("ts"), windowLength).as("w"),
        col("h.i").as("i"), col("h.b").as("b"))
      .agg(count(lit(1)).as("c"))
      .select(col("w.start").as("w_start"), col("i"), col("b"), col("c"))

  /** Streaming exact dedup by event_id with bounded state: duplicates
    * arriving within the watermark horizon are dropped; state for ids
    * older than the horizon is evicted (streaming twin of E1). */
  def dedupStream(events: DataFrame,
                  watermarkDelay: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming parquet sink: exactly-once file output via the
    * checkpoint's write-ahead log + file-sink manifest. Pair with
    * Trigger.AvailableNow for incremental batch jobs (process whatever
    * arrived, then stop — the cron-driven ingestion pattern); partition
    * by a low-cardinality column so downstream readers prune. */
  def writeParquetStream(df: DataFrame, path: String, checkpoint: String,
                         partitionBy: Seq[String] = Nil,
                         trigger: org.apache.spark.sql.streaming.Trigger =
                           org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val w = df.writeStream.format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .trigger(trigger)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).start()
  }

  /** Stream-static enrichment join: each micro-batch left-joins the
    * (small, batch) dimension. The dimension broadcasts, so enrichment
    * never shuffles the stream; Spark re-plans the static side per
    * batch, picking up dimension updates between batches for file-backed
    * dims. */
  def enrichStream(events: DataFrame, dim: DataFrame,
                   key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Stream-stream inner join: pairs left and right events on `key`
    * whose event times lie within `within` of each other. Both sides
    * carry watermarks and the join condition bounds the time skew, so
    * each side buffers only `within + watermarkDelay` of state — the
    * requirements Structured Streaming imposes for state cleanup in
    * stream-stream joins.
    *
    * Column names must be disjoint apart from `key` (rename before
    * joining); the output carries both sides' columns with one `key`. */
  def joinStreamsWithin(left: DataFrame, right: DataFrame, key: String,
                        leftTs: String, rightTs: String,
                        within: String = "1 hour",
                        watermarkDelay: String = "2 hours",
                        joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(leftTs, watermarkDelay).alias("l")
    val r = right.withWatermark(rightTs, watermarkDelay).alias("r")
    // Outer variants ("left_outer"/"right_outer"/"full_outer") emit the
    // null-padded row only once the watermark proves no match can still
    // arrive — exactly the state-cleanup bound the time-range condition
    // provides, so the same conditions serve all join types.
    l.join(r,
        col(s"l.$key") === col(s"r.$key") &&
        col(s"r.$rightTs") >= col(s"l.$leftTs") - expr(s"INTERVAL $within") &&
        col(s"r.$rightTs") <= col(s"l.$leftTs") + expr(s"INTERVAL $within"),
        joinType)
      .drop(col(s"r.$key"))
  }

  /** Streaming SCD-1 upsert sink via foreachBatch: every micro-batch
    * MERGEs into a keyed [[graft.sources.ManifestTable]] (latest version
    * per key wins, batch rows beating existing ones). foreachBatch is
    * the standard bridge to sinks Structured Streaming has no native
    * writer for — the batch is just a DataFrame, so the batch upsert
    * operator (Dimensional.upsert, inside ManifestTable.upsertBatch) is
    * reused verbatim and batch/stream semantics cannot drift.
    *
    * Publish is ATOMIC and PARTITION-SCOPED: each batch rewrites only
    * the hash-buckets its keys touch (files of untouched buckets carry
    * into the new snapshot by reference — per-batch work is O(affected
    * buckets), not O(table)), and the snapshot goes live via a
    * one-manifest-file rename, so a concurrent reader sees the old or
    * the new table, never a missing or torn one. A replayed batch
    * (restart from checkpoint) is detected by its recorded batch id and
    * skipped — the commit is idempotent. Read the result with
    * `ManifestTable.read(spark, tablePath)`. `versionCol` orders
    * duplicate keys WITHIN a batch (highest wins). */
  def upsertStream(df: DataFrame, tablePath: String, checkpoint: String,
                   keys: Seq[String], versionCol: Option[String] = None,
                   trigger: org.apache.spark.sql.streaming.Trigger =
                     org.apache.spark.sql.streaming.Trigger.AvailableNow(),
                   nBuckets: Int = 64)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(keys.nonEmpty)
    df.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch {
        (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          graft.sources.ManifestTable.upsertBatch(
            batch.toDF(), tablePath, keys, versionCol, nBuckets, batchId)
          ()
      }
      .start()
  }

  /** Streaming incremental near-dup ingest — the PRODUCTION shape of a
    * continuously-growing corpus, composing the stored-artifact batch
    * pieces verbatim so stream and batch semantics cannot drift: per
    * micro-batch, (1) probe the batch against the standing
    * [[graft.operators.Dedup.signatureIndex]] ManifestTable
    * ([[graft.operators.Dedup.dedupAgainstIndex]] — banded candidates,
    * ids-only shuffles, bucketCap against template mega-buckets),
    * (2) keep-first WITHIN the batch (drop any doc with a smaller-id
    * near-dup in the same micro-batch — the
    * [[graft.operators.Dedup.dedupKeepFirst]] tie rule, via the
    * banded pair join), (3) land the survivors as one parquet
    * directory per ingest batch, and (4) extend the index by
    * upserting the survivors' OWN signatures keyed (doc, band) — the
    * corpus text is never re-read, the classic amortized-index shape
    * priced by `q_ann_ivf_append`/`q_refresh_probe`'s build/probe
    * convention.
    *
    * Exactly-once across restarts, and the ORDER of the two writes is
    * load-bearing: survivors land BEFORE the index commit records the
    * batch id, and a replayed batch id (manifest `batchId` ≥ current)
    * skips the whole body — otherwise a replay after the index commit
    * would re-probe the batch against an index already CONTAINING its
    * own signatures, drop every doc as a self-duplicate, and overwrite
    * the survivors directory empty (spec-pinned). The survivors write
    * itself is a per-batch-directory overwrite, idempotent under
    * replays before the commit. The index table is owned by this
    * stream — external commits to it break the replay bookkeeping.
    *
    * State: NONE in the streaming engine (every probe reads the
    * manifest snapshot; dedup state lives in the table, where a batch
    * restart can see it) — the stream stays a stateless foreachBatch,
    * so watermarks/late-data semantics don't apply: every arriving doc
    * is checked against everything committed before it, arrival order
    * IS precedence, the honest contract for ingest dedup. */
  def nearDupIngestStream(docs: DataFrame, survivorsPath: String,
                  indexTable: String, checkpoint: String,
                  idCol: String = "doc_id", textCol: String = "text",
                  shingleN: Int = 3, numHashes: Int = 32, bands: Int = 8,
                  threshold: Double = 0.8, bucketCap: Int = 500,
                  nBuckets: Int = 64,
                  trigger: org.apache.spark.sql.streaming.Trigger =
                    org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch {
        (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          import graft.operators.Dedup
          import graft.sources.ManifestTable
          val spark = batch.sparkSession
          val replayed = ManifestTable
            .currentVersionAndBatch(spark, indexTable)
            .exists(_._2 >= batchId)
          if (!replayed) {
            val vsIndex =
              try Dedup.dedupAgainstIndex(batch.toDF(),
                ManifestTable.read(spark, indexTable), idCol, textCol,
                shingleN, numHashes, bands, threshold, bucketCap)
              catch { case _: java.io.FileNotFoundException =>
                batch.toDF() } // first batch: no index yet
            val laterDup = Dedup.minhashNearDups(vsIndex, idCol, textCol,
                shingleN, numHashes, bands, threshold, bucketCap)
              .select(col("doc_b").as(idCol)).distinct()
            // eager localCheckpoint: survivors feed BOTH writes below,
            // and the signature upsert joins against manifest buckets
            val survivors = graft.operators.OpCaches.cutNow(
              vsIndex.join(laterDup, Seq(idCol), "left_anti"))
            survivors.write.mode("overwrite")
              .parquet(s"$survivorsPath/ingest_batch=$batchId")
            ManifestTable.upsertBatch(
              Dedup.signatureIndex(survivors, idCol, textCol,
                shingleN, numHashes, bands),
              indexTable, Seq(idCol, "band_id"), None, nBuckets, batchId)
            // the pair join registered its per-batch signature cache;
            // foreachBatch bodies run serially, so releasing here frees
            // it before the next micro-batch stacks another
            graft.operators.OpCaches.release(blocking = true)
          }
          ()
      }
      .start()

  /** Streaming traffic-mix drift monitor: per event-time window and
    * key, the log-ratio of the observed count against a static
    * baseline expectation (events-per-window from a reference period)
    * — the live counterpart of
    * [[graft.operators.Profiling.distributionDrift]] for the case a
    * pipeline actually alerts on: "clicks are at 3× their normal rate
    * this hour", "a key we have never seen is arriving". Keys missing
    * from the baseline emit a NULL ratio and flag as drifted (novelty
    * IS drift); `logRatioThreshold` defaults to ln 2 (a 2× move either
    * way).
    *
    * The baseline attaches as a stream-STATIC broadcast join BEFORE
    * the windowed aggregation (joining after a streaming aggregation
    * would chain stateful operators; before it, the join is stateless
    * and the plan stays a single aggregation), so state is one row per
    * live (window, key). */
  def rateDriftStream(events: DataFrame, baseline: DataFrame,
                      keyCol: String = "event_type",
                      windowLength: String = "1 hour",
                      watermarkDelay: String = "2 hours",
                      logRatioThreshold: Double = math.log(2.0))
      : DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .join(broadcast(baseline), Seq(keyCol), "left")
      .groupBy(window(col("ts"), windowLength).as("w"), col(keyCol))
      .agg(count(lit(1)).as("cnt"),
           first(col("expected"), ignoreNulls = true).as("expected"))
      .select(col("w.start").as("window_start"), col(keyCol), col("cnt"),
        col("expected"),
        when(col("expected") > 0,
          round(log(col("cnt") / col("expected")), 9)).as("log_ratio"))
      .withColumn("drifted",
        col("log_ratio").isNull || abs(col("log_ratio")) >= logRatioThreshold)

  /** Expectation-gated streaming upsert sink: [[upsertStream]] with the
    * write-side constraint gate of
    * [[graft.sources.ManifestTable.guardedUpsert]] — a micro-batch that
    * violates any rule is dropped whole (the table keeps its snapshot;
    * the stream continues) and its per-rule report is appended to the
    * `auditPath` ManifestTable with the batch id, so rejected data is
    * diagnosable after the fact rather than silently vanished. The
    * streaming twin of the batch expectations gate: a poisoned upstream
    * micro-batch cannot poison the governed table, and restarts stay
    * idempotent because both the data commit and the audit commit carry
    * the batch id. */
  def guardedUpsertStream(df: DataFrame, tablePath: String,
                          auditPath: String, checkpoint: String,
                          keys: Seq[String],
                          rules: Seq[graft.operators.Profiling.Rule],
                          versionCol: Option[String] = None,
                          trigger: org.apache.spark.sql.streaming.Trigger =
                            org.apache.spark.sql.streaming.Trigger
                              .AvailableNow(),
                          nBuckets: Int = 64)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(keys.nonEmpty && rules.nonEmpty)
    df.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch {
        (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          val report = graft.sources.ManifestTable.guardedUpsert(
              batch.toDF(), tablePath, keys, rules, versionCol, nBuckets,
              batchId)
            .withColumn("batch_id", lit(batchId))
          graft.sources.ManifestTable.upsertBatch(report, auditPath,
            Seq("batch_id", "rule"), None, nBuckets = 1, batchId)
          ()
      }
      .start()
  }

  /** Streaming ingest dedup — the amortized-index shape of
    * [[graft.operators.Dedup.dedupAgainstIndex]] run as a pipeline:
    * every micro-batch of documents probes the standing MinHash
    * signature index, its near-dup survivors land in the output table,
    * and the index grows by the survivors' OWN signatures — corpus text
    * is read exactly once, at its own ingest, never again. Both tables
    * are [[graft.sources.ManifestTable]]s, so each publish is one
    * atomic manifest rename and a replayed batch is detected by its
    * recorded batch id and skipped.
    *
    * Commit ORDER is load-bearing: output first, then index. A crash
    * between the two replays the batch with survivors recomputed
    * against the PRE-batch index (same result), skips the
    * already-committed output, and completes the index commit. The
    * reverse order would replay the probe against an index already
    * holding this batch's signatures — every document would match
    * itself and vanish.
    *
    * In-batch duplicates are not removed (same contract as
    * dedupAgainstCorpus); compose [[graft.operators.Dedup.dedupNearClusters]]
    * upstream if batches self-duplicate. Parameters define the hash
    * family and must stay fixed for the index's lifetime. */
  def dedupIngestStream(docs: DataFrame, indexPath: String, outPath: String,
                        checkpoint: String, idCol: String = "doc_id",
                        textCol: String = "text", shingleN: Int = 3,
                        numHashes: Int = 32, bands: Int = 8,
                        threshold: Double = 0.8, bucketCap: Int = 500,
                        trigger: org.apache.spark.sql.streaming.Trigger =
                          org.apache.spark.sql.streaming.Trigger.AvailableNow(),
                        nBuckets: Int = 64)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch {
        (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          val spark = batch.sparkSession
          // Only FileNotFoundException — ManifestTable.read's documented
          // "not yet created" signal — means first batch. Any other
          // failure (transient IO, corrupt manifest) must fail the batch
          // so the checkpoint retries it, instead of silently committing
          // the batch undeduplicated.
          val standing =
            try Some(graft.sources.ManifestTable.read(spark, indexPath))
            catch { case _: java.io.FileNotFoundException => None }
          val survivors = (standing match {
            case Some(idx) => graft.operators.Dedup.dedupAgainstIndex(
              batch.toDF(), idx, idCol, textCol, shingleN, numHashes,
              bands, threshold, bucketCap)
            case None => batch.toDF() // first batch: nothing to collide with
          }).persist()
          try {
            graft.sources.ManifestTable.upsertBatch(
              survivors, outPath, Seq(idCol),
              nBuckets = nBuckets, batchId = batchId)
            graft.sources.ManifestTable.upsertBatch(
              graft.operators.Dedup.signatureIndex(
                survivors, idCol, textCol, shingleN, numHashes, bands),
              indexPath, Seq(idCol, "band_id"),
              nBuckets = nBuckets, batchId = batchId)
          } finally survivors.unpersist()
          ()
      }
      .start()

  /** Streaming MEDIA ingest dedup — [[dedupIngestStream]]'s binary-
    * payload twin, completing the perceptual-index lifecycle
    * ([[graft.operators.Multimodal.mediaDedupAgainstIndex]] is the
    * batch probe; this is the online loop): each micro-batch probes the
    * stored (media_id, simhash) index, commits its survivors' payload
    * rows, then extends the index with the survivors' signatures —
    * output-before-index order is load-bearing for replay, exactly as
    * in the text twin (the reverse would collide a replayed batch with
    * its own signatures). Payload bytes never shuffle in the probe —
    * only (id, simhash) pairs move; the index is one long per corpus
    * item. First batch on a not-yet-created index commits whole; any
    * other read failure fails the batch for the checkpoint to retry. */
  def mediaIngestStream(media: DataFrame, indexPath: String,
                        outPath: String, checkpoint: String,
                        idCol: String = "media_id",
                        payloadCol: String = "payload",
                        windowBytes: Int = 8, stride: Int = 4,
                        maxHamming: Int = 3,
                        trigger: org.apache.spark.sql.streaming.Trigger =
                          org.apache.spark.sql.streaming.Trigger.AvailableNow(),
                        nBuckets: Int = 64)
      : org.apache.spark.sql.streaming.StreamingQuery =
    media.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch {
        (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          val spark = batch.sparkSession
          val standing =
            try Some(graft.sources.ManifestTable.read(spark, indexPath))
            catch { case _: java.io.FileNotFoundException => None }
          val survivors = (standing match {
            case Some(idx) =>
              graft.operators.Multimodal.mediaDedupAgainstIndex(
                batch.toDF(), idx, idCol, payloadCol, windowBytes,
                stride, maxHamming)
            case None => batch.toDF()
          }).persist()
          try {
            graft.sources.ManifestTable.upsertBatch(
              survivors, outPath, Seq(idCol),
              nBuckets = nBuckets, batchId = batchId)
            graft.sources.ManifestTable.upsertBatch(
              graft.operators.Multimodal.mediaSimhash(
                survivors, idCol, payloadCol, windowBytes, stride),
              indexPath, Seq(idCol),
              nBuckets = nBuckets, batchId = batchId)
          } finally survivors.unpersist()
          ()
      }
      .start()

  /** Score a document stream against a STORED Naive Bayes model — the
    * online half of [[graft.operators.TextAnalysis.nbTrain]]: each
    * micro-batch reads the committed model/priors ManifestTables,
    * labels every incoming doc via
    * [[graft.operators.TextAnalysis.nbPredict]] (prior-only fallback
    * for all-OOV docs — a classifier labels every input), and appends
    * (idCol, predicted) to the output ManifestTable keyed by batch id,
    * so a replayed batch is detected and skipped. The model tables
    * must exist BEFORE the stream starts: a missing model is a
    * pipeline wiring error and must fail the batch for the checkpoint
    * to retry — silently passing docs through unlabeled would poison
    * the output table.
    *
    * Scale: the model is vocab × |labels| rows — read once per
    * micro-batch, broadcast by AQE in the token join; per-batch work
    * is batch-sized, state lives in the store, not the stream. */
  def classifyStream(docs: DataFrame, modelPath: String,
                     priorsPath: String, outPath: String,
                     checkpoint: String, textCol: String = "text",
                     idCol: String = "doc_id",
                     trigger: org.apache.spark.sql.streaming.Trigger =
                       org.apache.spark.sql.streaming.Trigger.AvailableNow(),
                     nBuckets: Int = 64)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch {
        (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          val spark = batch.sparkSession
          graft.sources.ManifestTable.upsertBatch(
            graft.operators.TextAnalysis.nbPredict(batch.toDF(),
              graft.sources.ManifestTable.read(spark, modelPath),
              graft.sources.ManifestTable.read(spark, priorsPath),
              textCol, idCol),
            outPath, Seq(idCol), nBuckets = nBuckets, batchId = batchId)
          ()
      }
      .start()

  /** Tokenize a document stream with a STORED BPE artifact — the
    * online half of [[graft.operators.Ngrams.bpeTrain]]/
    * [[graft.operators.Ngrams.bpeVocab]]: each micro-batch reads the
    * committed merge-list and vocabulary ManifestTables, encodes every
    * incoming doc via
    * [[graft.operators.Ngrams.bpeEncodeWithMerges]] (merge replay over
    * the batch's distinct words; unseen words fall apart into trained
    * subwords), and appends (idCol, n_toks, n_ids, token_ids) keyed by
    * batch id, so a replayed batch is detected and skipped. Like
    * [[classifyStream]], a missing artifact fails the batch for the
    * checkpoint to retry. The collected merge list is k rows —
    * bounded model state, the centroid-collect contract. */
  def encodeStream(docs: DataFrame, mergesPath: String, vocabPath: String,
                   outPath: String, checkpoint: String,
                   textCol: String = "text", idCol: String = "doc_id",
                   trigger: org.apache.spark.sql.streaming.Trigger =
                     org.apache.spark.sql.streaming.Trigger.AvailableNow(),
                   nBuckets: Int = 64)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch {
        (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          val spark = batch.sparkSession
          val merges = graft.sources.ManifestTable.read(spark, mergesPath)
            .orderBy("rank").select("left", "right").collect()
            .map(r => (r.getString(0), r.getString(1))).toSeq
          graft.sources.ManifestTable.upsertBatch(
            graft.operators.Ngrams.bpeEncodeWithMerges(batch.toDF(),
              merges,
              graft.sources.ManifestTable.read(spark, vocabPath),
              idCol, textCol),
            outPath, Seq(idCol), nBuckets = nBuckets, batchId = batchId)
          ()
      }
      .start()

  /** Online encode from a STORED unigram vocabulary — the serve half
    * the r9 stored-tokenizer pattern was missing for the unigram
    * family ([[encodeStream]] covers stored-BPE, [[classifyStream]]
    * stored-NB): each micro-batch reads the committed
    * (piece, cnt, logp_micro) ManifestTable and encodes its documents
    * with [[graft.operators.Ngrams.unigramEncodeWithVocab]] — the
    * batch's DISTINCT words Viterbi-segment once against the broadcast
    * model map (no training jobs, model-sized state), words with an
    * out-of-vocabulary character or past the lattice length cap encode
    * as one `oovId`. Appends (idCol, n_toks, n_ids, token_ids) keyed
    * by idCol under the recorded batch id, so a replayed batch is
    * detected and skipped; a missing vocabulary fails the batch for
    * the checkpoint to retry. Spec-pinned parity with a direct
    * [[graft.operators.Ngrams.unigramEncodeWithVocab]] call on the
    * same batch. */
  def unigramEncodeStream(docs: DataFrame, vocabPath: String,
                          outPath: String, checkpoint: String,
                          maxPieceLen: Int = 4,
                          textCol: String = "text",
                          idCol: String = "doc_id",
                          oovId: Long = 0L,
                          trigger: org.apache.spark.sql.streaming.Trigger =
                            org.apache.spark.sql.streaming.Trigger
                              .AvailableNow(),
                          nBuckets: Int = 64)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch {
        (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          val spark = batch.sparkSession
          graft.sources.ManifestTable.upsertBatch(
            graft.operators.Ngrams.unigramEncodeWithVocab(batch.toDF(),
              graft.sources.ManifestTable.read(spark, vocabPath),
              maxPieceLen, idCol, textCol, oovId),
            outPath, Seq(idCol), nBuckets = nBuckets, batchId = batchId)
          ()
      }
      .start()

  /** ANN-enrich a vector stream from a STORED IVF index — the online
    * retrieval half every production embedding pipeline runs (VERDICT
    * r10 item 6), [[classifyStream]]'s pattern applied to
    * [[graft.operators.Similarity.ivfIndex]]: each micro-batch reads
    * the committed (centroids, cells) ManifestTables and answers its
    * queries with
    * [[graft.operators.Similarity.ivfTopKFromIndex]] — the stored
    * centroids (nlist rows of model state, the bounded collect) assign
    * each incoming vector to its nprobe cells via the broadcast-bound
    * TopCellsByCosine projection, and the stored corpus assignments
    * stream into the cell-keyed equi-join; no retraining, no corpus
    * re-scan, no all-pairs. Appends (query_id, neighbor_id, rank, sim)
    * keyed by (query id, rank) under the recorded batch id, so a
    * replayed batch is detected and skipped; a missing index fails the
    * batch for the checkpoint to retry — batch/stream probe parity is
    * spec-pinned. */
  def annEnrichStream(vectors: DataFrame, indexPath: String,
                      outPath: String, checkpoint: String, k: Int,
                      nprobe: Int = 4, idCol: String = "vec_id",
                      vecCol: String = "embedding",
                      trigger: org.apache.spark.sql.streaming.Trigger =
                        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
                      nBuckets: Int = 64)
      : org.apache.spark.sql.streaming.StreamingQuery =
    vectors.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch {
        (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          val spark = batch.sparkSession
          val (cents, cells) =
            graft.operators.Similarity.readIvfIndex(spark, indexPath)
          graft.sources.ManifestTable.upsertBatch(
            graft.operators.Similarity.ivfTopKFromIndex(cents, cells,
              batch.toDF(), k, nprobe, idCol, vecCol),
            outPath, Seq("query_id", "rank"), nBuckets = nBuckets,
            batchId = batchId)
          ()
      }
      .start()

  // ---- sessionization via flatMapGroupsWithState ----

  case class SessionEvent(user_id: Long, ts: Timestamp, value: Double)
  case class SessionState(startMs: Long, endMs: Long, n: Long, sum: Double)
  case class PendingSessions(xs: Seq[SessionState])
  case class Session(user_id: Long, session_start: Timestamp,
                     session_end: Timestamp, n_events: Long,
                     sum_value: Double)

  /** Gap-based sessionization: events for a user belong to one session
    * until `gapMs` of event-time silence — the same split rule as
    * EventOps.sessionizeBatch (a gap STRICTLY greater than gapMs starts
    * a new session).
    *
    * State per user is the list of pending sessions within the
    * watermark horizon (usually one). Each invocation merges state and
    * incoming events as intervals in start order — so late events land
    * in, extend, or bridge earlier sessions exactly as a batch pass
    * over the complete data would — and a session is emitted only once
    * `end + gap` falls behind the watermark, when no admissible event
    * can extend it anymore. Until then it stays in state, which is what
    * makes an AvailableNow catch-up replay and the live stream produce
    * identical sessions for data the watermark admitted.
    *
    * Scale: state store is hash-partitioned by user_id across
    * executors; pending sessions per user are bounded by the watermark
    * horizon / gap; each micro-batch shuffles only that batch's
    * events. */
  def sessionize(events: Dataset[SessionEvent], gapMs: Long,
                 watermarkDelay: String = "10 minutes"): Dataset[Session] = {
    import events.sparkSession.implicits._
    def toSession(userId: Long, s: SessionState): Session =
      Session(userId, new Timestamp(s.startMs), new Timestamp(s.endMs),
        s.n, s.sum)
    def update(userId: Long, rows: Iterator[SessionEvent],
               state: GroupState[PendingSessions]): Iterator[Session] = {
      val wm = state.getCurrentWatermarkMs()
      val segments = (state.getOption.map(_.xs).getOrElse(Seq.empty) ++
          rows.map(e => SessionState(e.ts.getTime, e.ts.getTime, 1L, e.value)))
        .sortBy(s => (s.startMs, s.endMs))
      if (segments.isEmpty) {
        state.remove()
        Iterator.empty
      } else {
        val merged = scala.collection.mutable.ListBuffer.empty[SessionState]
        var cur = segments.head
        for (s <- segments.tail) {
          if (s.startMs - cur.endMs > gapMs) { merged += cur; cur = s }
          else cur = SessionState(cur.startMs, math.max(cur.endMs, s.endMs),
            cur.n + s.n, cur.sum + s.sum)
        }
        merged += cur
        // final once end + gap < watermark: the operator filters events
        // below the watermark, so nothing admissible can extend it
        val (expired, pending) = merged.partition(_.endMs + gapMs < wm)
        if (pending.isEmpty) state.remove()
        else {
          state.update(PendingSessions(pending.toSeq))
          state.setTimeoutTimestamp(
            math.max(pending.map(_.endMs + gapMs).min, wm + 1))
        }
        expired.iterator.map(toSession(userId, _))
      }
    }
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(update)
  }
}
