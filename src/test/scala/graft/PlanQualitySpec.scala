package graft

/** Physical-plan assertions for the scale-critical properties: filters
  * reach the scan, projections prune the read schema, dims broadcast,
  * aggregates combine map-side, and LSH candidate generation never
  * degenerates to a nested-loop or cartesian plan. */
class PlanQualitySpec extends SparkTestBase {

  private val d = "/root/testdata/sf0.001"
  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, d).queryExecution.executedPlan.toString

  test("Ops.spread repartitions small inputs and leaves large ones alone") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-spread")
      .toString + "/t"
    spark.range(100).selectExpr("id AS doc_id").write.parquet(dir)
    val small = operators.Ops.spread(spark.read.parquet(dir), col("doc_id"))
    assert(small.queryExecution.optimizedPlan.toString
      .contains("RepartitionByExpression"),
      "a one-split source must spread to cluster parallelism")
    // ~4 GB by metadata stats — bigger than cores × maxPartitionBytes,
    // so spread must NOT inject a shuffle (the 100 TB behavior); the
    // check costs only a stats lookup, nothing materializes
    val big = operators.Ops.spread(
      spark.range(500L * 1000 * 1000).toDF("doc_id"), col("doc_id"))
    assert(!big.queryExecution.optimizedPlan.toString
      .contains("RepartitionByExpression"),
      "a large source must pass through without a shuffle")
  }

  test("projection prunes the parquet read schema to selected columns") {
    val p = plan("q_scan_project")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_extendedprice:double>"),
      s"scan must read exactly the 3 projected columns:\n$p")
  }

  test("equality filter is pushed down to the parquet scan") {
    val p = plan("q_filter_eq")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,F)]"),
      s"filter must reach PushedFilters:\n$p")
  }

  test("dimension joins broadcast the small side") {
    assert(plan("q_join_dim").contains("BroadcastHashJoin"))
    val star = plan("q_join_star")
    assert(star.sliding("BroadcastHashJoin".length)
      .count(_ == "BroadcastHashJoin") === 3,
      "all three dims broadcast in the star join")
  }

  test("grouped aggregation combines map-side (partial + final)") {
    val p = plan("q1_agg")
    assert(p.sliding("HashAggregate".length).count(_ == "HashAggregate") >= 2,
      s"expect partial+final HashAggregate:\n$p")
  }

  test("LSH near-dup candidate generation is equi-join shaped, never nested-loop") {
    // the raw pair pipelines (the audit-wrapped registered queries add
    // one documented 1-row×1-row scalar cross — checked separately below)
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables.load(spark, d, "documents")
      .select(col("doc_id"), col("text"))
    val raw = Seq(
      "minhash" -> operators.Dedup.minhashNearDups(docs, "doc_id", "text"),
      "simhash" -> operators.Dedup.simhashNearDups(docs, "doc_id", "text"))
    for ((n, df) <- raw) {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$n plans a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$n plans a nested loop")
    }
    val pe = plan("q_embed_neardup")
    assert(!pe.contains("CartesianProduct") &&
      !pe.contains("BroadcastNestedLoopJoin"))
    // audit queries: exactly the ONE scalar verdict cross, nothing else
    for (q <- Seq("q_minhash_neardup", "q_simhash_neardup")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian product")
      assert(p.sliding("BroadcastNestedLoopJoin".length)
        .count(_ == "BroadcastNestedLoopJoin") <= 1,
        s"$q: only the 1-row truth×hits verdict may nested-loop:\n$p")
    }
  }

  test("decontamination joins on hashed n-grams, never nested-loop") {
    val p = plan("q_decontam")
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"),
      s"hashed-shingle overlap must stay equi-join shaped:\n$p")
  }

  test("tfidf broadcasts the corpus-size scalar") {
    val p = plan("q_tfidf")
    assert(p.contains("BroadcastExchange"),
      s"the 1-row n_docs side must broadcast, not shuffle:\n$p")
  }

  test("repetition ratio is per-row — only the output sort exchanges") {
    val p = plan("q_rep_ratio")
    assert(!p.contains("HashAggregate") && !p.contains("Window"),
      s"per-row n-gram stats must not aggregate or window:\n$p")
    assert(p.sliding("Exchange".length).count(_ == "Exchange") <= 2,
      s"expected only the final sort's range exchange:\n$p")
  }

  test("flagship entry: dims broadcast, fact side streams") {
    val p = SparkEntry.entry(spark).queryExecution.executedPlan.toString
    assert(p.sliding("BroadcastHashJoin".length)
      .count(_ == "BroadcastHashJoin") >= 3)
    assert(!p.contains("CartesianProduct"))
  }

  test("top-k fuses sort and limit (TakeOrderedAndProject, no global sort)") {
    val p = plan("q_topk")
    assert(p.contains("TakeOrderedAndProject"),
      s"limit-after-orderBy must fuse into a bounded selection:\n$p")
  }

  test("window keep-first dedup gets the group-limit pushdown") {
    // Spark 3.5+ rewrites rank<=k filters into WindowGroupLimit: each
    // map task forwards at most k rows per key to the window sort
    val p = plan("q_dedup_first")
    assert(p.contains("WindowGroupLimit"),
      s"rn=1 filter must push a per-group limit below the window:\n$p")
  }

  test("per-source cap gets the group-limit pushdown too (rn<=k form)") {
    val p = plan("q_source_cap")
    assert(p.contains("WindowGroupLimit"),
      s"rn<=k filter must push a per-group limit below the window:\n$p")
  }

  test("funnelN's per-user event cap pushes a group limit on a real scan") {
    // q_funnel_steps opts into a 512 cap (under the rewrite threshold);
    // a bot user's events truncate map-side before the exchange
    val p = plan("q_funnel_steps")
    assert(p.contains("WindowGroupLimit"),
      s"the per-user cap must plan a WindowGroupLimit:\n$p")
  }

  test("LM scoring broadcasts the model, never reshuffles the corpus by token") {
    val p = plan("q_lm_score")
    assert(p.contains("BroadcastHashJoin"),
      s"the unigram model join must broadcast:\n$p")
  }

  test("near-dup pair joins carry no post-join dedup exchange") {
    // first-matching-band/chunk selection replaces dropDuplicates — the
    // plan must not contain a hash aggregate keyed on (doc_a, doc_b).
    // Checked on the raw pipelines: the audit-wrapped queries compose an
    // exact PPJoin truth side whose candidate distinct is legitimate.
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables.load(spark, d, "documents")
      .select(col("doc_id"), col("text"))
    for ((n, df) <- Seq(
        "minhash" -> operators.Dedup.minhashNearDups(docs, "doc_id", "text"),
        "simhash" -> operators.Dedup.simhashNearDups(docs, "doc_id", "text"))) {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("HashAggregate(keys=[doc_a"),
        s"$n: candidate pairs must exit the join deduplicated:\n$p")
    }
    // the other banded sites, raw: no aggregate keyed on a pair id
    val e = Tables.load(spark, d, "embeddings")
    val q = e.filter(col("vec_id") < 20)
    val sh = operators.Dedup.simhashDf(docs, "doc_id", "text")
    for ((n, df, key) <- Seq(
        ("cosineNearDups", operators.Similarity.cosineNearDups(e, 0.99),
          "vec_a"),
        ("semanticDecontaminate",
          operators.Similarity.semanticDecontaminate(e, q), "train_id"),
        ("simhashCrossPairs",
          operators.Dedup.simhashCrossPairs(sh, sh.filter(col("doc_id") < 50)),
          "id_l"),
        ("lshTopK",
          operators.Similarity.lshTopK(e, q, 10, numPlanes = 64, bands = 16),
          "query_id"))) {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains(s"HashAggregate(keys=[$key"),
        s"$n: candidate pairs must exit the join deduplicated:\n$p")
    }
  }

  test("unpivot plans as a single Expand, not a self-union of scans") {
    val p = plan("q_unpivot")
    assert(p.contains("Expand"), s"unpivot must use Expand:\n$p")
    assert(!p.contains("Union"), s"no N-scan union rewrite:\n$p")
  }

  test("temperature mixing derives rates in-plan and broadcasts them") {
    val p = plan("q_temp_mix")
    assert(p.contains("BroadcastHashJoin"),
      s"the per-stratum rate table must broadcast onto the corpus:\n$p")
  }

  test("PQ/IVF encode and cell assignment are pure projections — no window, no join") {
    import org.apache.spark.sql.functions.col
    val e = Tables.load(spark, d, "embeddings")
    // assignment/encode subplans: scan → project with the bound-in
    // native expression; a Window or Join node here would mean the
    // n×m×ksub inflation came back
    val cells = operators.Similarity
      .ivfTopK(e, e.filter(col("vec_id") < 5), 3, nlist = 4, nprobe = 2)
    val ivfPlan = cells.queryExecution.optimizedPlan.toString
    assert(ivfPlan.contains("graft_top_cells"),
      s"IVF must assign cells via the native expression:\n$ivfPlan")
    assert(!ivfPlan.contains("cent_v"),
      s"no centroid table may appear joined into the IVF plan:\n$ivfPlan")
    val pq = operators.Similarity
      .pqTopK(e, e.filter(col("vec_id") < 5), 3, m = 8, ksub = 4,
        shortlist = 8)
    val pqPlan = pq.queryExecution.optimizedPlan.toString
    assert(pqPlan.contains("graft_pq_encode") &&
      pqPlan.contains("graft_pq_adc_table") &&
      pqPlan.contains("graft_pq_adc_score"),
      s"PQ must encode/score via the native expressions:\n$pqPlan")
  }

  test("containment join prefixes only the contained side, ids-only candidates") {
    val p = plan("q_containment")
    // exactly ONE rank window (the A-side prefix); the containing side
    // must be probed whole, and the verify join must not be nested-loop
    assert("row_number".r.findAllIn(p).size >= 1 &&
      !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"containment candidates must come from an equi-join:\n$p")
  }

  test("incremental dedup and boilerplate removal stay equi-join shaped") {
    for (q <- Seq("q_dedup_incremental", "q_boilerplate")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
             !p.contains("BroadcastNestedLoopJoin"),
        s"$q must join on derived keys (band buckets / chunk strings):\n$p")
    }
  }

  test("heavyHitters exact pass combines map-side; candidates stay in-plan") {
    val p = plan("q_heavy_hitters")
    // the candidate-restricted count must be a partial+final aggregate
    // (<= k+1 rows per task cross the exchange), and nothing joins —
    // candidates are a broadcast-scalar-style literal set, the total a
    // broadcast join of one row
    assert(p.contains("partial_count"),
      s"exact candidate count must combine map-side:\n$p")
    assert(!p.contains("CartesianProduct") &&
           !p.contains("SortMergeJoin"),
      s"nothing in the heavy-hitter plan should shuffle-join:\n$p")
  }

  test("byte entropy and transition matrix stay equi/window shaped, no joins gone wrong") {
    val ent = plan("q_entropy")
    assert(!ent.contains("Exchange") || ent.sliding("Exchange".length)
        .count(_ == "Exchange") <= 2,
      s"entropy is per-row — only the closing sort may exchange:\n$ent")
    val tm = plan("q_transition_matrix")
    assert(!tm.contains("CartesianProduct") &&
           !tm.contains("BroadcastNestedLoopJoin"),
      s"transition matrix must not plan a cross join:\n$tm")
  }

  test("source matrices: token/shingle self-joins are equi-shaped; sizes broadcast") {
    for (q <- Seq("q_source_overlap", "q_source_jsd")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
             !p.contains("BroadcastNestedLoopJoin"),
        s"$q must join on the token/shingle key, not cross:\n$p")
    }
    val p = plan("q_source_overlap")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"per-source sizes are tiny and must broadcast:\n$p")
  }

  test("contamination score broadcasts the eval-gram set onto the left join") {
    val p = plan("q_contam_score")
    assert(!p.contains("CartesianProduct"),
      s"contamination must join on the hashed gram key:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the eval gram set is small and must broadcast:\n$p")
  }

  test("fuzzy join and substring dedup stay equi-join shaped") {
    for (q <- Seq("q_fuzzy_join", "q_substring_dedup")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
             !p.contains("BroadcastNestedLoopJoin"),
        s"$q must never nested-loop (candidates come from hash joins):\n$p")
    }
  }

  test("substring dedup shuffles 128-bit hashed window keys, never the n-gram string") {
    val p = plan("q_substring_dedup")
    // the keep-first rank window partitions on the xxhash64 pair…
    assert(p.contains("__wh1") && p.contains("__wh2"),
      s"rank window must key on the hash pair:\n$p")
    // …and the raw window string (__w, ~n× the corpus bytes at window
    // size n) must not appear in ANY exchange — neither as a partition
    // key nor as carried shuffle data
    val leaky = p.linesIterator
      .filter(l => l.contains("Exchange") && l.contains("__w#")).toSeq
    assert(leaky.isEmpty,
      s"no exchange may carry the raw n-gram string:\n${leaky.mkString("\n")}")
  }

  test("new TPC-H shapes: dims broadcast, pushdown reaches the scans") {
    // Q14/Q19: the part dim broadcasts; the date filter is pushed to the
    // lineitem scan (Q14); the disjunctive residual stays IN the join
    // (no fact-side blow-up, no nested loop)
    val q14 = plan("q_tpch14")
    assert(q14.contains("BroadcastHashJoin"), s"part must broadcast:\n$q14")
    assert(q14.contains("PushedFilters: [IsNotNull(l_shipdate), " +
      "GreaterThanOrEqual(l_shipdate,"),
      s"shipdate filter must reach the scan:\n$q14")
    val q19 = plan("q_tpch19")
    assert(q19.contains("BroadcastHashJoin"), s"part must broadcast:\n$q19")
    assert(!q19.contains("BroadcastNestedLoopJoin") &&
      !q19.contains("CartesianProduct"),
      s"the OR-of-ANDs must keep the equi-key:\n$q19")
    // Q18: the HAVING semi-join folds into ONE lineitem aggregate —
    // lineitem is scanned once, not re-scanned for the IN-subquery
    val q18 = plan("q_tpch18")
    assert(q18.sliding("Scan parquet".length)
      .count(_ == "Scan parquet") === 3,
      s"exactly three scans (lineitem once, orders, customer):\n$q18")
    // Q7: both nation copies broadcast, filtered to the two names
    val q7 = plan("q_tpch7")
    assert(q7.sliding("BroadcastHashJoin".length)
      .count(_ == "BroadcastHashJoin") >= 3,
      s"supplier + both nation dims broadcast:\n$q7")
    // Q4: the EXISTS is ONE semi join (no aggregate-then-join detour);
    // the orders date filter reaches the scan
    val q4 = plan("q_tpch4")
    assert(q4.contains("LeftSemi"), s"EXISTS must plan a semi join:\n$q4")
    assert(q4.contains("PushedFilters: [IsNotNull(o_orderdate), " +
      "GreaterThanOrEqual(o_orderdate,"),
      s"orders date filter must reach the scan:\n$q4")
    // Q5: supplier/nation/region broadcast; the c=s nation conjunct
    // stays inside the customer hash join (no post-join filter scan)
    val q5 = plan("q_tpch5")
    assert(q5.sliding("BroadcastHashJoin".length)
      .count(_ == "BroadcastHashJoin") >= 3,
      s"supplier + nation + region must broadcast:\n$q5")
    assert(!q5.contains("CartesianProduct") &&
      !q5.contains("BroadcastNestedLoopJoin"),
      s"all joins keep equi keys:\n$q5")
    // Q17: the per-part threshold joins exactly once — lineitem is
    // scanned twice (fact + per-part aggregate), never three times
    val q17 = plan("q_tpch17")
    assert(q17.sliding("Scan parquet".length)
      .count(_ == "Scan parquet") === 3,
      s"lineitem twice + part once:\n$q17")
    // Q12: the priority split folds into the aggregate (partial
    // HashAggregate before the final exchange — map-side combine)
    val q12 = plan("q_tpch12")
    assert(q12.sliding("HashAggregate".length)
      .count(_ == "HashAggregate") >= 2,
      s"conditional counts must partial-aggregate map-side:\n$q12")
    // Q22: the dormancy anti join keeps its equi key (hash/merge, not
    // nested loop); the scalar average rides a broadcast
    val q22 = plan("q_tpch22")
    assert(q22.contains("LeftAnti"), s"NOT EXISTS must plan anti:\n$q22")
    assert(!q22.contains("CartesianProduct"),
      s"only the broadcast scalar may cross:\n$q22")
  }

  test("lifecycle queries clean their scratch trees (one invocation, " +
      "zero residue)") {
    def residue(): Set[String] = {
      val tmp = new java.io.File(
        System.getProperty("java.io.tmpdir", "/tmp"))
      tmp.listFiles((_, n) => n.startsWith("graft-refresh") ||
          n.startsWith("graft-ivf-") || n.startsWith("graft-bpe-model") ||
          n.startsWith("graft-nb-model"))
        .map(_.getName).toSet
    }
    val before = residue()
    SparkEntry.queries("q_incremental_refresh")(spark, d).collect()
    SparkEntry.queries("q_bpe_stored")(spark, d).collect()
    assert(residue() === before,
      "withScratchDir must delete every scratch tree it creates")
  }

  test("nbClassify: corpus-sized sides never cross-join; model joins are equi") {
    val p = plan("q_nb_classify")
    assert(!p.contains("CartesianProduct"),
      s"only broadcast scalar crosses allowed:\n$p")
    // the scoring join (tokens × model on token) must be an equi-join
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin"), s"token join must be hash/merge:\n$p")
  }

  test("r10 additions: no cartesian/nested-loop in the corpus-sized paths") {
    // phraseSearch: term restriction must broadcast BEFORE any exchange
    val ph = plan("q_phrase_search")
    assert(ph.contains("BroadcastHashJoin"),
      s"phrase terms must broadcast:\n$ph")
    assert(!ph.contains("CartesianProduct"))
    // collocations: the bigram model build is the only corpus-sized
    // shuffle; marginal joins stay equi-shaped
    val co = plan("q_collocations")
    assert(!co.contains("CartesianProduct") &&
      !co.contains("BroadcastNestedLoopJoin") ||
      co.sliding("BroadcastNestedLoopJoin".length)
        .count(_ == "BroadcastNestedLoopJoin") <= 1, // broadcast total row
      s"collocations must stay equi-join shaped:\n$co")
    // APSS cosine: prefix-prefix candidates + verify joins, all equi
    val ap = plan("q_apss_cosine")
    assert(!ap.contains("CartesianProduct") &&
      !ap.contains("BroadcastNestedLoopJoin"),
      s"apss must never plan an n^2 join:\n$ap")
    // attribution: one user window + final small aggregate
    val at = plan("q_attribution")
    assert(!at.contains("CartesianProduct"))
  }

  test("late-r10 additions: equi-joins only; one-row bounds broadcast, " +
       "never a corpus cartesian") {
    def bnlj(p: String) =
      p.sliding("BroadcastNestedLoopJoin".length)
        .count(_ == "BroadcastNestedLoopJoin")
    // winnow: pure window op — no join of any kind, one doc-key shuffle
    val wn = plan("q_winnow")
    assert(!wn.contains("Join") && wn.contains("Window"),
      s"winnow must stay join-free:\n$wn")
    // quantile-boundary family: the only nested-loop join is the one-row
    // boundary/total aggregate riding a broadcast
    for (q <- Seq("q_length_buckets", "q_rfm", "q_itemsets", "q_chi2_terms",
                  "q_ppmi_cooc")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian:\n$p")
      assert(bnlj(p) <= 1, s"$q: only the one-row bounds may nest-loop:\n$p")
    }
    // winsorize: per-group bounds join back as a broadcast equi-join
    val ws = plan("q_winsorize")
    assert(ws.contains("BroadcastHashJoin") && bnlj(ws) == 0,
      s"winsorize bounds must broadcast on the group key:\n$ws")
    // ppmi: the marginals come from position arithmetic, not a second
    // pass over the pair table — the pair aggregation appears ONCE
    val pp = plan("q_ppmi_cooc")
    val pairAggs = pp.linesIterator.count(l =>
      l.contains("HashAggregate") && l.contains("w1") && l.contains("w2") &&
      l.contains("partial_count"))
    assert(pairAggs <= 1,
      s"pair table must be aggregated once, got $pairAggs:\n$pp")
    // kNN graph: corpus-as-queries must NOT broadcast a corpus side —
    // candidates are an equi-join on band keys, vectors re-attach via
    // shuffled equi-joins; the only broadcast is the exact-kNN audit's
    // bounded query subset
    val kg = plan("q_knn_graph")
    assert(!kg.contains("CartesianProduct"), s"knn graph cartesian:\n$kg")
    // banded candidates still emit once at their first shared band (no
    // dedup over the raw band join; VERDICT r10 item 3) — the ONLY
    // (src,dst)-keyed aggregates allowed are the NN-descent expansion's
    // pair distinct (partial + final of one exchange), and its keys
    // must be the two id longs, never a vector column
    val kgPairAggs = kg.linesIterator.filter(l =>
      l.contains("HashAggregate") && l.contains("keys=[src")).toList
    assert(kgPairAggs.size <= 2,
      s"knn graph: only the one NN-descent pair distinct may aggregate " +
      s"candidate pairs, got ${kgPairAggs.size}:\n$kg")
    assert(kgPairAggs.forall(l =>
      !l.contains("__v") && !l.contains("sv#") && !l.contains("dv#")),
      s"NN-descent pair distinct must shuffle ids only:\n$kg")
    // time profile / mutual info: single aggregate families, no windows
    assert(!plan("q_time_profile").contains("Window"))
    assert(!plan("q_mutual_info").contains("CartesianProduct"))
  }

  test("audit-batch additions: grouped windows, broadcast bounds, " +
       "no corpus cartesians") {
    def bnlj(p: String) =
      p.sliding("BroadcastNestedLoopJoin".length)
        .count(_ == "BroadcastNestedLoopJoin")
    // gini: one grouped window + one grouped aggregate, join-free
    val gi = plan("q_gini")
    assert(gi.contains("Window") && !gi.contains("Join"),
      s"gini must stay join-free:\n$gi")
    // kappa / readability / transition entropy / histograms: aggregate
    // families with map-side partials, no joins beyond one-row totals
    for (q <- Seq("q_kappa", "q_readability", "q_transition_entropy",
                  "q_value_histogram", "q_degree_hist", "q_seq_patterns")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian:\n$p")
      assert(p.contains("partial"), s"$q must combine map-side:\n$p")
    }
    // hash sample: the rank cut must fuse into the window sort
    val hs = plan("q_hash_sample")
    assert(hs.contains("WindowGroupLimit"),
      s"hash sample needs the group-limit pushdown:\n$hs")
    // IQR: quartile bounds re-attach as a broadcast equi-join
    val iq = plan("q_iqr_outliers")
    assert(iq.contains("BroadcastHashJoin") && bnlj(iq) == 0,
      s"iqr fences must broadcast on the group key:\n$iq")
    // zipf: the only unpartitioned window runs over the tf-DISTRIBUTION
    // table (distinct frequencies), never the vocabulary
    val zf = plan("q_zipf")
    assert(!zf.contains("CartesianProduct"), s"zipf cartesian:\n$zf")
    // CMS: sketch and probe meet in an equi-join; the only nest-loop is
    // the one-row N total
    val cm = plan("q_cms_counts")
    assert(!cm.contains("CartesianProduct") && bnlj(cm) <= 1,
      s"cms must stay equi-join shaped:\n$cm")
    // audience overlap: the user-key self-join is equi; the types-sized
    // sketch tables attach as broadcasts
    val ao = plan("q_audience_overlap")
    assert(!ao.contains("CartesianProduct") &&
      ao.contains("BroadcastHashJoin"),
      s"overlap pairs must come from an equi self-join:\n$ao")
    // conversion latency: one equi-join on the user key, the one-row
    // touched total rides the only nest-loop
    val tc = plan("q_time_to_convert")
    assert(!tc.contains("CartesianProduct") && bnlj(tc) <= 1,
      s"time-to-convert must stay user-key shaped:\n$tc")
    // FK audit: anti joins on the key, no corpus cartesian (the two
    // one-row stat frames meet in bounded nest-loops)
    val ri = plan("q_ref_integrity")
    assert(ri.contains("Anti") && !ri.contains("CartesianProduct"),
      s"orphan counting must plan as an anti join:\n$ri")
    // debounce / interval merge: pure keyed-window ops, join-free
    for (q <- Seq("q_debounce", "q_interval_merge")) {
      val p = plan(q)
      assert(p.contains("Window") && !p.contains("Join"),
        s"$q must stay a single keyed window family:\n$q\n$p")
    }
    // grouped trend: one aggregate family, map-side combined, no joins
    val tr = plan("q_trend")
    assert(tr.contains("partial") && !tr.contains("Join"),
      s"grouped OLS must be one aggregate pass:\n$tr")
    // MAD: both percentile bounds re-attach as broadcast equi-joins
    val md = plan("q_mad_outliers")
    assert(md.contains("BroadcastHashJoin") && bnlj(md) == 0 &&
      !md.contains("CartesianProduct"),
      s"MAD bounds must broadcast on the group key:\n$md")
    // graph closers: wedge/degree joins stay equi-shaped
    for (q <- Seq("q_clustering_coef", "q_powerlaw", "q_skyline")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian:\n$p")
    }
    // samplers and linkage: rank cuts fuse (WindowGroupLimit); the
    // jaro block join stays equi-shaped
    for (q <- Seq("q_priority_sample", "q_top_paths")) {
      val p = plan(q)
      assert(p.contains("WindowGroupLimit"),
        s"$q: rank<=k must push into the window sort:\n$p")
    }
    for (q <- Seq("q_jaro_winkler", "q_best_match", "q_streaks",
                  "q_rolling_active", "q_ab_test", "q_reconcile",
                  "q_pareto", "q_cohort_ltv", "q_survival",
                  "q_bounce_rate", "q_peak_concurrency")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian:\n$p")
    }
    // concurrency boundary walk: the running-sum window must be
    // PARTITIONED (by day) — an unpartitioned corpus sort would be the
    // single-task bottleneck the day clipping exists to avoid
    val pc = plan("q_peak_concurrency")
    assert(!pc.contains("Window [") ||
      !pc.linesIterator.exists(l => l.contains("windowspecdefinition()") &&
        l.contains("delta")),
      s"boundary walk must partition by day:\n$pc")
  }

  test("r11 additions: single-pass aggregates, equi-join candidates, " +
       "no corpus cartesians") {
    // OHLC: ONE grouped aggregation, no window, no join
    val ob = plan("q_ohlc_bars")
    assert(!ob.contains("Window") && !ob.contains("Join"),
      s"ohlc must be one aggregation:\n$ob")
    // weighted percentiles: grouped state bounded by distinct values,
    // no cartesian from the percentile explode
    assert(!plan("q_weighted_percentile").contains("CartesianProduct"))
    // negative sampling: bucket equi-join + anti join — the item
    // catalog must never cross-join the user set
    val ns = plan("q_negative_sample")
    assert(!ns.contains("CartesianProduct") &&
      !ns.contains("BroadcastNestedLoopJoin"),
      s"negative sampling must stay equi-join shaped:\n$ns")
    // bitext margin: the scored join broadcasts the declared query
    // side; candidates/windows carry scalars
    assert(plan("q_bitext_margin").contains("BroadcastNestedLoopJoin") ||
      plan("q_bitext_margin").contains("BroadcastExchange"),
      "margin mining must broadcast the bounded source side")
    // source coherence / separability: centroids broadcast, one
    // corpus-side aggregation family
    assert(!plan("q_source_coherence").contains("CartesianProduct"))
    assert(!plan("q_label_separability").contains("CartesianProduct"))
    // embed covariance: cells aggregate with map-side partials
    assert(plan("q_embed_cov").contains("partial"),
      "covariance cells must combine map-side")
    // churn labels / next-event: one aggregate / one window + broadcast
    assert(!plan("q_churn_labels").contains("Join"))
    assert(!plan("q_next_event_hitrate").contains("CartesianProduct"))
  }

  test("r14 additions: one window sort for the CUSUM argmax; top-k " +
       "heaps for textrank; cell-bounded equi self-join for semdedup") {
    // changepoint: exactly one Sort feeds the per-series window AND the
    // max_by SortAggregate (same partitioning+ordering — no re-sort,
    // no join), plus the display orderBy
    val cp = plan("q_changepoint")
    assert(!cp.contains("Join"), s"changepoint must be join-free:\n$cp")
    assert(cp.sliding("Window".length).count(_ == "Window") === 1,
      "one shared window family")
    // textrank: the top-k cut must plan per-task heaps, not a global
    // sort of the vocabulary
    assert(plan("q_textrank").contains("TakeOrderedAndProject"),
      "integer top-k must plan TakeOrderedAndProject")
    // semdedup: the quadratic verify must be the cell-keyed equi
    // self-join, never a cartesian/nested-loop over the corpus
    val sd = plan("q_semdedup")
    assert(!sd.contains("CartesianProduct") &&
      !sd.contains("BroadcastNestedLoopJoin"),
      s"semdedup verify must stay cell-equi shaped:\n$sd")
    // weighted pagerank: per-iteration shuffles carry ids+longs via
    // equi joins only
    assert(!plan("q_pagerank_weighted").contains("CartesianProduct"))
  }

  test("r16 evaluation/repetition queries keep their scale shapes") {
    // repetition: gram counting is aggregate-shaped (no window over
    // corpus rows, no cartesian), scans pruned to id+text
    val rep = plan("q_repetition")
    assert(!rep.contains("CartesianProduct") &&
      !rep.contains("BroadcastNestedLoopJoin"),
      s"repetition must stay aggregate/equi shaped:\n$rep")
    assert(rep.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"repetition scans must prune to (doc_id, text):\n$rep")
    assert(!rep.contains("Window"),
      s"repetition has no window — signals close in aggregates:\n$rep")
    // auc rides the collapsed-value plan: the only window partitions by
    // group, and the raw corpus never sorts per row
    val a = plan("q_auc")
    assert(!a.contains("CartesianProduct") && !a.contains("NestedLoop"),
      s"auc must stay collapsed-value shaped:\n$a")
    // pr curve: group-partitioned cumulative windows over the
    // band-collapsed table only
    val pr = plan("q_pr_curve")
    assert(!pr.contains("CartesianProduct") && !pr.contains("Join"),
      s"prCurve is join-free:\n$pr")
  }

  test("bootstrap CI: replicate blow-up stays map-side, weights are " +
       "codegen comparisons, the only join is the broadcast CI attach") {
    val p = plan("q_bootstrap")
    assert(p.contains("PushedFilters: [IsNotNull(value)"),
      s"value filter must reach the scan:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"bootstrap must never plan a nested loop:\n$p")
    assert(p.contains("partial_sum"),
      s"the (group, replicate) aggregate must combine map-side " +
      s"(the explode never rides an exchange raw):\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the groups-sized CI table broadcasts onto the point " +
      s"estimate:\n$p")
  }

  test("logreg serve: weights bind in as literals — no model join, one " +
       "codegen'd scoring scan, map-side-combined report") {
    val p = plan("q_logreg_score")
    assert(!p.contains("Join"),
      s"serve must be join-free (weights are literals):\n$p")
    assert(p.contains("partial_count"),
      s"the per-source report combines map-side:\n$p")
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans === 1, s"serve reads the corpus exactly once:\n$p")
  }

  test("benjamini-hochberg: the battery is plan-cut before the global " +
       "rank windows — no parquet scan survives into the BH subtree") {
    // the 135s lesson (SURVEY 6.6e): without the localCheckpoint cut,
    // the BH windows' SinglePartition requirement can be satisfied by
    // ONE low exchange that serializes the whole upstream battery
    val p = plan("q_bh")
    assert(!p.contains("Scan parquet"),
      s"BH must rank over the checkpointed m-row battery, never a live " +
      s"corpus subtree:\n$p")
    assert(p.contains("Scan ExistingRDD") || p.contains("LocalTableScan"),
      s"expected the checkpoint scan:\n$p")
  }

  test("no registered query funnels an unreduced file scan into a " +
       "SinglePartition exchange (the q_bh 135s pathology, walk-all-plans)") {
    // The generic form of the BH lesson: a ShuffleExchange to ONE
    // partition is only sound when every file-scan path below it passes
    // through a reducing operator (aggregate / limit / top-k / window
    // group limit) — otherwise Catalyst has serialized a corpus-sized
    // pipeline onto one core. Checkpoint seams (Scan ExistingRDD) are
    // the library's audited boundedness cuts and terminate the walk.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    def unreduced(p: SparkPlan): Boolean = p match {
      case _: org.apache.spark.sql.execution.FileSourceScanExec => true
      case _: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
        false
      case _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec =>
        false
      case _: org.apache.spark.sql.execution.CollectLimitExec => false
      case _: org.apache.spark.sql.execution.GlobalLimitExec => false
      case _: org.apache.spark.sql.execution.LocalLimitExec => false
      case p if p.nodeName.contains("WindowGroupLimit") => false
      case other => other.children.exists(unreduced)
    }
    // queries whose single-partition input is bounded for a reason the
    // walk can't see; each entry needs the argument
    val allow: Map[String, String] = Map(
      "q_epoch_shuffle" -> ("withExclusivePrefixSumOrdered's SIZE-GATED " +
        "fast path: at sf0.001 the scan sits under singleWindowMaxBytes " +
        "(256 MB — one comfortable window task), so the direct global " +
        "window plans; above the gate the two-level distributed prefix " +
        "sum engages instead (MixingSpec pins both branches " +
        "bit-identical, and the gate errs toward two-level)"))
    val wasAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { q =>
        val plan = SparkEntry.queries(q)(spark, d).queryExecution.executedPlan
        val bad = plan.collect {
          case e: ShuffleExchangeExec
              if e.outputPartitioning == SinglePartition &&
                 unreduced(e.child) => e
        }
        if (bad.nonEmpty && !allow.contains(q)) Some(q -> bad.size) else None
      }
      assert(offenders.isEmpty,
        s"SinglePartition exchange over an unreduced file scan in: " +
        s"$offenders — cut the pipeline (localCheckpoint the bounded " +
        "table) or reduce before the exchange; if the input is bounded " +
        "for an invisible reason, register it in the allowlist with " +
        "the argument.")
    } finally spark.conf.set("spark.sql.adaptive.enabled", wasAqe)
  }

  test("whole-stage codegen covers the scan-filter-project pipelines") {
    // codegen spans only appear in the FINAL adaptive plan — execute first
    val df = SparkEntry.queries("q_filter_eq")(spark, d)
    df.collect() // count() would execute a different (pruned) plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("WholeStageCodegen") || p.contains("*("),
      s"expected codegen spans in the final plan:\n$p")
  }
}
