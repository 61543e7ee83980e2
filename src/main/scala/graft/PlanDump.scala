package graft

import java.nio.file.{Files, Paths}

/** Dumps formatted physical plans of EVERY registered query to
  * PLANS.md — regenerate with `sbt "runMain graft.PlanDump"` after
  * plan-affecting changes or a new query registration (PlanRosterSpec
  * fails the build until the dump is current). Headline queries carry
  * curated scale annotations; the rest dump with a standard note. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = SparkSessionFactory.create(master = "local[8]",
      shufflePartitions = 8, appName = "graft-plandump")
    val d = "/root/testdata/sf0.001"

    val curated = Seq(
      ("entry — star-join revenue rollup",
       "All three dimensions broadcast; the fact table streams through a single shuffle for the final aggregate."),
      ("q1_agg — grouped pricing summary",
       "Partial (map-side) + final HashAggregate around one exchange; decimal sums keep results engine-exact."),
      ("q_minhash_neardup — MinHash LSH near-dup",
       "graft_shingle_hash/graft_minhash_from_hashes/graft_band_hashes run inside codegen; the self-join is an equi-join on band hashes (never nested-loop); Jaccard verifies on hashed shingle sets carried through the join."),
      ("q_asof_join — backward as-of join",
       "Union + tagged side + running last(ignoreNulls): ONE shuffle on the key, no range-join nested loop."),
      ("q_topk_group — heap-based top-k per group",
       "objHashAggregate partial+final: each map task emits at most k rows per group before the exchange (vs full sort+shuffle in the window formulation)."),
      ("q_decontam — n-gram decontamination anti-join",
       "Both corpora explode to hashed shingles (codegen'd graft_shingle_hash) — the contamination join shuffles fixed-width longs and doc ids only, never text; the final anti-join removes contaminated train docs."),
      ("q_para_dedup — corpus-level chunk dedup",
       "Two linear shuffles: hash-partition by chunk for the global keep-first window (WindowGroupLimit pushes rn=1 map-side), then regroup by doc for in-order reassembly."),
      ("q_lm_score — unigram LM quality score",
       "The token model aggregates once and BROADCASTS back onto the exploded corpus — scoring never reshuffles corpus tokens; only the per-doc regroup exchanges."),
      ("q_allpairs_jaccard — exact PPJoin similarity self-join",
       "Prefix-filtered candidates with the PPJoin length bound (min-size >= t*max-size) and positional bound (suffix overlap >= ceil(t/(1+t)*(szA+szB))) evaluated INSIDE the equi-join; shingle + prefix tables read from InMemoryRelation (computed once); candidates are ids-only until the verify join."),
      ("q_ann_pq — product-quantization ANN with exact re-rank",
       "graft_pq_encode / graft_pq_adc_table / graft_pq_adc_score are per-row codegen'd projections with the codebook bound in — NO explode, window or shuffle anywhere in encode/score; exact vectors ride only the shortlist re-rank join."),
      ("q_ann_ivf — IVF cell-probed ANN",
       "graft_top_cells assigns corpus and query cells as a pure projection (centroids bound into the expression — no centroid join, no per-id window); the probe join shuffles by cell id only."),
      ("q_interval_join — interval-overlap join",
       "Both sides bucket-explode; the join is an EQUI-join on (user, bucket) with the exact overlap predicate in-join, and each pair exits only from the bucket holding max(startL, startR) — no dedup exchange, no nested loop."),
      ("q_containment — directional containment join",
       "One rank window builds the contained side's prefix; the containing side is probed whole (a containment match puts no bound on it); candidates ids-only, arrays ride only the verify join."),
      ("q_semantic_decontam — embedding train-vs-eval anti-join",
       "Cross-table banded LSH candidates (ids + band keys only), first-shared-band emission, exact-cosine verify, one left-anti join back onto the train corpus."),
      ("q_apss_cosine — exact weighted all-pairs cosine (APSS)",
       "Suffix-norm prefixes under the global (df, term) order feed a prefix-prefix equi-join; the per-pair max of rem_a*rem_b (Cauchy-Schwarz positional bound) prunes before the verify join; contributions 9-dec-rounded and DECIMAL-summed for engine-exact output."),
      ("q_phrase_search — positional-postings phrase intersection",
       "The token stream is restricted to phrase terms by a BROADCAST join before any exchange; candidate starts pos-idx aggregate once with count(DISTINCT slot) = m — no m-way self-join, the shuffle carries (doc, start, idx) triples."),
      ("q_hard_negatives — contrastive triplet mining",
       "Anchors broadcast; cosine computed BEFORE the exchange so only (ids, labels, sim) shuffle; ONE anchor-key exchange serves both the conditional-max window (sim_pos) and the negative rank, whose top-k pushes a map-side WindowGroupLimit."),
      ("q_label_prop — synchronous label-propagation communities",
       "Per round: edge-to-labels equi-join, then the mode as ONE hash aggregate (max_by over (count, -label) — no sort window); community sizes attach via a window count so the iteration chain is consumed once."),
      ("q_winnow — MOSS winnowing fingerprint selection",
       "Join-free: posexplode to (pos, k-gram hash) then TWO frame aggregates (min-of-window + frame size) over one (doc, pos) sort; the rightmost-tie rule rides the single 64-bit hash*2^21+(2^21-1-pos) min key; distinct reuses the doc partitioning."),
      ("q_ppmi_cooc — skip-gram PPMI co-occurrence",
       "Context pairing is an O(tokens*window) EQUI-join (offset expansion + position join), never a per-doc cross join; marginals come from per-position closed-form context counts, so the corpus-sized pair table aggregates exactly once; the one-row total broadcasts."),
      ("q_cms_counts — count-min sketch build + audited probe",
       "The sketch is a d×w counter table from one explode+aggregate; probe joins it back equi on (row, bucket) under a broadcast; the only nested-loop is the one-row N total for the bound."),
      ("q_audience_overlap — pairwise audience overlap, HLL-audited",
       "One distinct pass over (type, user) feeds the per-type sketch table (broadcast) and the user-key equi self-join for exact intersections — bounded by co-occurrence, never |users|²."),
      ("q_gini — per-group Lorenz concentration",
       "One grouped rank window + one grouped aggregate; integer arithmetic to the closing division, no joins."),
      ("q_skyline — 2-D Pareto frontier, two-level bucketed",
       "Per-x collapse, quantile-sketch range buckets, per-bucket windows plus a broadcast cross-bucket max — no corpus-wide single-partition sort, no n² dominance join."),
      ("q_jaro_winkler — blocked native-comparator linkage",
       "Candidates come from an equi self-join on the blocking key; the Jaro-Winkler comparator runs inside whole-stage codegen; scores round to 9 before the threshold."),
      ("q_rfm — RFM quintile segmentation",
       "The per-user aggregate persists across its two consumers (boundary aggregate + scoring join); quintile boundaries are a ONE-ROW broadcast, so scoring is a per-row projection — no global ntile sort anywhere."),
      ("q_bitext_margin — LASER ratio-margin alignment mining",
       "The bounded source side broadcasts into the scored join (cosine computed BEFORE any exchange, so only (ids, sim) scalars shuffle); the persisted score table feeds both rank windows and the best-pair pick; neighborhood sums ride DECIMAL for engine-exact margins."),
      ("q_knn_graph — corpus-wide kNN graph, first-shared-band",
       "NOTHING broadcasts (both sides are the corpus): band-key equi-join candidates with the first-shared-band bit-test predicate in-join — no dropDuplicates exchange — then vectors re-attach via shuffled equi-joins and one rank window caps k per node. The NN-descent refinement round expands neighbors-of-neighbors as ids-only self-joins on the SAME graph table (vectors re-attach once per round), buying recall 0.86→0.95 at one extra shuffle each."),
      ("q_embed_cov — dimension covariance (PCA front half)",
       "One flattened per-row pair array explodes into a d(d+1)/2-cell aggregation — map-side partials collapse each task to cells, the shuffle carries cells not rows; per-dim sums re-aggregate and broadcast back."),
      ("q_ohlc_bars — OHLC telemetry compaction",
       "ONE grouped aggregation: min_by/max_by on the DECIMAL (µs·2⁴⁰+id) tie key pick open/close inside the same hash aggregate as high/low/count; the nano-unit mass rides two codegen'd LONG limb sums recombined exactly and published BIGINT behind a loud overflow guard — no window, no join, no second pass."),
      ("q_negative_sample — hash-bucketed negative sampling",
       "The catalog never cross-joins the user set: users and items meet on their hash bucket (equi), observed pairs leave via anti-join, and the per-user top-k rank window pushes a map-side WindowGroupLimit."),
      ("q_pca_whiten — stored-component whitening serve",
       "Model state (unit components + eigenvalues) bound in as LITERALS: w_m = <x, q_m>/sqrt(lambda_m) is one zero-shuffle codegen'd scan over the corpus — no model join, no collect, no exchange anywhere."),
      ("q_unigram_train — unigram-LM (SentencePiece) hard-EM training",
       "The corpus is touched EXACTLY once (the word-count aggregate, persisted); every EM round is vocabulary-sized — the Viterbi DP is one aggregate-HOF projection over DISTINCT words with the scored model broadcast as a map (no driver loop, no corpus re-scan), then a piece-usage aggregate and a model-sized rank window."),
      ("q_unigram_stored — stored-vocabulary segmentation serve",
       "The serve half reads the committed (piece, cnt, logp_micro) ManifestTable (explicit per-commit file list — no directory listing), broadcasts it as the Viterbi score map, and segments the distinct-word table in ONE projection: zero training jobs at serve time."),
      ("q_ann_ivf_append_probe — IVF append lifecycle, recurring half",
       "The batch assigns against STORED centroids via the codegen'd top-cells projection (O(batch*nlist), zero shuffles, no retraining); the union'd cell table probe-joins equi on cell id — the only corpus-sized exchange — and the recall audit rides the shortlist."),
      ("q_changepoint — integer CUSUM level-shift locator",
       "The raw event table collapses map-side to (series, hour) counts — the only corpus-sized pass; k/cum/tot/n share ONE per-series window sort; the argmax over |D| is a single max_by hash aggregate — no second sort, no driver state, all-integer until the two published means."),
      ("q_textrank — TextRank keywords over the co-occurrence graph",
       "One map-side-combined bigram pass collapses the corpus to the weighted (w1, w2, count) model; each rank iteration joins vocabulary-sized tables only (integer share*weight contributions); the top-k cut plans TakeOrderedAndProject — per-task heaps, never a global sort."),
      ("q_semdedup — SemDeDup cluster-bounded semantic dedup",
       "Cell assignment is a zero-shuffle codegen'd projection (centroids bound in); the quadratic verify is a CELL-keyed equi self-join — bounded by cell size, never the corpus — then one grouped count and a left join back."),
      ("q_pagerank_weighted — weighted PageRank, integer fixed-point",
       "Edges collapse once to (src, dst, weight); per iteration one equi-join to the rank table, one (share*w) sum-by-dst with map-side partials, one broadcast dangling-mass scalar — ids and longs only on every exchange."),
      ("q_hits — hubs & authorities, L1-normalized fixed point",
       "Per round two edge-to-score equi-joins and two limb-sum aggregates (corpus-sized buffers stay codegen longs, recombined DECIMAL at the aggregate boundary); each normalization total is a one-row broadcast; the checkpointed edge table feeds every consumer without recompute."),
      ("q_wasserstein — exact earth-mover drift per group",
       "Both sides collapse map-side to (group, cent-quantized value) counts — the only corpus-sized pass; cum/total/gap share ONE grouped window sort over the collapsed table; the exact DECIMAL interval terms close in a single grouped aggregate."),
      ("q_ppr — personalized PageRank (TrustRank), seed-biased teleport",
       "Identical exchange structure to q_pagerank_weighted (one rank join + one map-side-combined contribution sum + one broadcast dangling scalar per iteration); the seed flag joins ONCE at init and rides the rank table — no per-iteration seed join."),
      ("q_mannwhitney — exact Mann–Whitney U per group pair",
       "The corpus collapses map-side to (group, value) counts; ranks come from ONE grouped window over the distinct-value table (never the rows); 2U closes in exact integers with the loud BIGINT guard, rank-biserial is the single closing division."),
      ("q_spearman — exact Spearman rank correlation",
       "Doubled average ranks stay integers over the collapsed distinct-value tables; the DECIMAL(38,0) moment sums close in one aggregate — no per-row rank window over the raw corpus, no float accumulation anywhere."),
      ("q_sax — fixed-breakpoint SAX symbolization",
       "ONE per-series row_number window (the only corpus-sized sort) feeds a (series, segment) aggregate with map-side partials; integer PAA frame boundaries, one exact-decimal mean division per segment, breakpoints as a per-row CASE — no join, no driver state."),
      ("q_sax_motifs — SAX motif/discord report",
       "Everything past the single corpus pass (inside saxWords) is series×segments-sized: one lead() window builds the sliding words, one (series, word) count, one min_by/max_by closing aggregate picks motif and discord with smallest-word ties."),
      ("q_semdedup_audit — SemDeDup recall audit vs brute-force truth",
       "The pipeline side is the production semDedup plan unchanged (cell-keyed self-join over the checkpointed assignment); the truth side is the deliberately-quadratic exact pair join on the bounded audit sample; the verdict is two one-row aggregates crossed."),
      ("q_unigram_examples — unigram corpus→training-rows seam",
       "The encode artifact checkpoints eagerly once (localCheckpoint, not a columnar cache — the downstream materialize join stays broadcast/AQE-plannable) and feeds BOTH the distributed two-level prefix-sum span construction and the final materialize join — token payloads move only in that last regroup; all upstream packing math is ids+offsets."),
      ("q_hits_weighted — weighted hubs & authorities fixed point",
       "Per round the same two edge-to-score equi-joins as q_hits; the w·score products sum in a DECIMAL(38,0) buffer (the limb fast path does not survive the product — documented tax) behind the loud 2³³-term wrap guard; weights long-validated at the edge scan (positive AND integral); normalization totals broadcast one-row."),
      ("q_unigram_pack — unigram ids packed into budget shards",
       "The trained tokenizer's id sequences shard-pack via the Knuth-hash greedy pass: one |sources|-broadcast, one source-keyed rank exchange, token-id arrays concatenated only in the final per-shard regroup — the packing math upstream is ids+lengths."),
      ("q_unigram_pack_contiguous — unigram contiguous example spans",
       "Span construction is the distributed two-level prefix sum over (doc, n_ids) offsets — no whole-corpus serial window; examples are integer index arithmetic (budget 256) and the output is span METADATA only (doc_id, tok_start, tok_len) — token payloads never move."),
      ("q_snapshot_diff — doc-level corpus snapshot diff",
       "Both sides reduce to (id, polynomial fingerprint) at the scan — text never rides the full-outer exchange; the verdict is one null-safe projection over the joined longs."),
      ("q_repetition — Gopher repetition signals",
       "Gram construction is a scan-side HOF projection (one codegen span per branch, ReadSchema pruned to id+text); each signal is one map-side-combinable (doc, gram) aggregate + one doc-keyed aggregate — linear exchanges in token count, no windows, no driver state; the per-doc signal tables join back doc-keyed (broadcast at gate SF, shuffle-by-id at scale)."),
      ("q_auc — exact ROC AUC via the Mann–Whitney identity",
       "Rides mannWhitney's collapsed-value plan verbatim: map-side collapse to (group, score) counts, ONE grouped window for the running positive-count, a single closing aggregate with the exact integer u2 — no per-row rank window over the raw corpus."),
      ("q_kendall — exact Kendall τ-b per group",
       "The corpus collapses once to the (x, y) CELL table (checkpointed — it feeds the marginals AND the pair join); C−D is an equi-join on the group key with the lower-x predicate in-join, quadratic in domain-sized cells, never rows; tie terms ride two marginal aggregates."),
      ("q_bootstrap — deterministic Poisson-bootstrap CI",
       "The replicate path is ONE stateless map over the data (explode × reps stays map-side; Poisson weights are pure integer comparisons against ⌊CDF·2³²⌋ thresholds in codegen) feeding a map-side-combined (group, replicate) aggregate — the exchange carries groups×reps partials, never the blow-up; the reps-bounded order-statistics window broadcasts back onto the point-estimate aggregate."),
      ("q_span_corrupt — T5 span corruption over encoded sequences",
       "One posexplode carries (pos, id) pairs; masks are pure codegen'd hash arithmetic on (doc, block); inputs and targets reassemble via two doc-keyed sort_array-of-struct aggregates — ids and positions only on every exchange, token text never moves after the encode join."),
      ("q_logreg_score — logistic quality-classifier serve",
       "Trained weights bind in as LITERALS (no model join, no broadcast): the fp(1e6) features, the long margin sum, and the rational squashing link are one whole-stage-codegen projection over the scan; the per-source report is a single map-side-combined aggregate — the only exchanges are the documented one-row-group spread and the group-by."))

    val curatedByName: Map[String, (String, String)] =
      curated.map { case (title, note) =>
        title.split(" — ", 2) match {
          case Array(name, suffix) => name -> (suffix, note)
          case _ => title -> ("", note)
        }
      }.toMap

    val md = new StringBuilder
    md.append("# PLANS — formatted physical plans of every registered query\n\n")
    md.append("Generated by `graft.PlanDump` at sf0.001 (curated sections first,\n")
    md.append("then every remaining registered query). Annotations call out the\n")
    md.append("scale-critical properties; `PlanQualitySpec` asserts them in CI and\n")
    md.append("`PlanRosterSpec` fails the build when a registered query has no\n")
    md.append("section here.\n")
    val curatedOrder = curated.map(_._1.split(" — ", 2)(0))
    val rest = SparkEntry.queries.keys.toSeq
      .filterNot(curatedByName.contains).sorted
    for (name <- curatedOrder ++ rest) {
      val df =
        if (name == "entry") SparkEntry.entry(spark)
        else SparkEntry.queries(name)(spark, d)
      val (suffix, note) = curatedByName.getOrElse(name,
        ("", "Auto-dumped registered query."))
      val title = if (suffix.isEmpty) name else s"$name — $suffix"
      md.append(s"\n## $title\n\n$note\n\n```\n")
      md.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      md.append("```\n")
      println(s"[plandump] $name")
      // ~350 queries build in this one JVM: free each one's persisted
      // frames and training memos before the next builds
      graft.operators.OpCaches.resetQueryState()
    }
    Files.writeString(Paths.get("PLANS.md"), md.toString)
    println("[plandump] wrote PLANS.md")
    spark.stop()
  }
}
