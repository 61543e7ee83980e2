package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Graph analytics over edge-list DataFrames.
  *
  * Complements [[Dedup.connectedComponents]] (near-dup clustering) with
  * PageRank — the classic link-graph quality signal for web-corpus
  * curation (rank a page/domain before deciding how much of it to keep).
  *
  * Design: FIXED-POINT integer arithmetic, not floating point. Ranks are
  * longs in units of 1/[[Graphs.Scale]]; every step is integer
  * multiply/divide/sum, so the result is bit-identical across engines,
  * partition layouts, task retries and speculative re-execution — float
  * PageRank is none of these (double addition is order-dependent, and a
  * rerun task can change the answer). The cost is a bounded truncation
  * of < 1/Scale per division (1e-12 at the default scale), far below any
  * use a rank signal is put to; total mass therefore drifts slightly
  * below 1.0 rather than oscillating. Overflow headroom: with
  * Scale = 1e12, per-node ranks stay ~Scale, sums stay ≤ ~Scale·damping
  * and every intermediate product is ≤ ~100·Scale·... « 2^63.
  *
  * Scale shape (100 TB): per iteration — one equi-join of edges to the
  * rank table (shuffles by src), one sum-by-dst aggregate (map-side
  * partial combine, shuffles ids+longs only), one scalar dangling-mass
  * aggregate broadcast back, one left join onto the static node table.
  * No driver-side state beyond the loop counter; nothing quadratic;
  * lineage is cut every 4 iterations ([[OpCaches.cut]]) like the
  * connected-components loop, so long runs don't accrete plan depth.
  */
object Graphs {

  /** Fixed-point unit: ranks are longs in units of 1/Scale. */
  val Scale = 1000000000000L

  /** Loud weight guard (the changepoint/mannWhitney convention): a zero
    * or negative edge weight would make a source's Σw ≤ 0, so its
    * `rank div deg` turns NULL/negative and its mass silently vanishes
    * from the recurrence instead of failing. Raise at the edge scan —
    * one codegen branch on a column already being read, no extra pass.
    *
    * Validated AFTER the long cast, plus a loud non-integral check:
    * the documented contract is integer weights (the fixed-point
    * arithmetic carries no fraction), and a raw-column-only guard
    * would let 0.7 pass `w <= 0` and then truncate to 0 — recreating
    * the exact mass-vanish failure the guard exists to prevent — while
    * 1.7 would silently become 1. Both now raise at the scan. */
  private def positiveWeight(w: Column, op: String): Column = {
    val wl = w.cast("long")
    // w =!= wl compares in the COERCED common type (double/decimal for
    // fractional inputs), so 0.7 and 1.7 both fail loudly instead of
    // truncating; long inputs compare equal and pass untouched
    when(w.isNull || wl.isNull || wl <= 0 || w =!= wl, raise_error(concat(
        lit(s"$op: edge weights must be positive integers, got "),
        w.cast("string"))))
      .otherwise(wl)
  }

  /** Fixed-iteration PageRank over a directed edge list.
    *
    * Multi-edges contribute multiply (an edge listed twice carries twice
    * the share) — pre-`distinct` the edge list for the unweighted
    * semantics. Dangling nodes (no out-edges) redistribute their mass
    * uniformly, the standard correction. `dampingPct` is the damping
    * factor in percent (85 = the canonical 0.85) — integer so the
    * recurrence stays in exact arithmetic.
    *
    * Output: (node, rank_fp, rank) — the exact fixed-point long and its
    * double rendering rank_fp/Scale.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iterations: Int = 3, dampingPct: Int = 85): DataFrame =
    pageRankKeyed(edges.select(col(srcCol).cast("long").as(srcCol),
        col(dstCol).cast("long").as(dstCol)),
      srcCol, dstCol, iterations, dampingPct)

  /** [[pageRank]] over nodes of ANY orderable key type (string tokens,
    * composite-hash ids, …) — the rank arithmetic never touches the
    * node key, so the long cast in [[pageRank]] is a convenience, not a
    * requirement. Same fixed-point semantics, same multi-edge
    * weighting, same dangling correction. Internally the edge list
    * collapses to (src, dst, multiplicity) first and delegates to
    * [[pageRankWeighted]]: every instance of a multi-edge carries the
    * same integer share, so share·m is BIT-IDENTICAL to summing the
    * exploded instances — but the per-iteration joins now run over the
    * collapsed table (bounded by the distinct-pair vocabulary, not the
    * corpus). */
  def pageRankKeyed(edges: DataFrame, srcCol: String, dstCol: String,
                    iterations: Int = 3, dampingPct: Int = 85): DataFrame =
    pageRankWeighted(
      edges.groupBy(col(srcCol), col(dstCol))
        .agg(count(lit(1)).as("__w")),
      srcCol, dstCol, "__w", iterations, dampingPct)

  /** Weighted PageRank in the same exact fixed-point arithmetic: an
    * edge of integer weight w carries w shares of its source's
    * per-outweight share (share = rank div Σw_out; contribution =
    * share·w — exactly the multi-edge semantics of [[pageRank]], with
    * the weight made explicit so a pre-aggregated co-occurrence graph
    * never explodes back to instances). Overflow headroom: share·w ≤
    * rank_src ≤ total mass = Scale « 2⁶³. */
  def pageRankWeighted(edges: DataFrame, srcCol: String, dstCol: String,
                       weightCol: String, iterations: Int = 3,
                       dampingPct: Int = 85): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    require(dampingPct >= 0 && dampingPct <= 100,
      "dampingPct must be a percent")
    // the collapsed edge table feeds nodes, degrees AND every
    // iteration's contribution join — materialize it ONCE via an eager
    // localCheckpoint (the kCore pattern) or an expensive edge
    // derivation (e.g. textRank's corpus-sized bigram explode) re-runs
    // once per consumer. Measured at sf0.1 on the purchase graph:
    // localCheckpoint 1.4s vs 3.6s recompute vs 14.9s .persist() — the
    // columnar cache's unknown-size InMemoryRelation defeats the
    // broadcast/AQE planning of the per-iteration joins, while the
    // checkpointed blocks keep accurate sizes
    val e = OpCaches.cutNow(edges.select(col(srcCol).as("src"),
      col(dstCol).as("dst"),
      positiveWeight(col(weightCol), "pageRankWeighted").as("w")))
    // Static tables and EVERY iteration's rank table materialize as
    // lazy cuts keyed on their node column (r19, guide §2.4/§5):
    // `ranks` is consumed THREE times per iteration (share join,
    // dangling anti-join, the teleport projection) and `deg` twice, so
    // the inline formulation compounded 3^i duplicated subtrees into
    // the final physical plan (791 operators / 222 ExistingRDD scans at
    // 3 iterations — see plans/r19/q_pagerank_before.txt). Exchange
    // reuse hid some of the recompute but none of the planning/codegen
    // tax. A lazy cut is a plan leaf: each iteration now plans ~a dozen
    // operators and executes exactly once; blocks are (node, long)
    // rows — O(|V|) memory/disk, the standard Pregel superstep shape.
    val degCp = OpCaches.cut(e.groupBy("src").agg(sum(col("w")).as("deg")),
      col("src"))
    val nodesCp = OpCaches.cut(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct(), col("node"))
    val nDf = nodesCp.agg(count(lit(1)).as("__n"))
    var ranks = nodesCp.crossJoin(broadcast(nDf))
      .selectExpr("node", s"${Scale}L div __n as rank", "__n")
    for (i <- 1 to iterations) {
      ranks = pageRankStep(e, degCp, ranks, "__n")
        .selectExpr("node",
          s"(${100L - dampingPct}L * ${Scale}L) div (100L * __n)" +
            s" + (${dampingPct}L * (coalesce(contrib, 0L) + __mass div __n))" +
            " div 100L as rank",
          "__n")
      if (i < iterations) ranks = OpCaches.cut(ranks, col("node"))
    }
    ranks.select(col("node"), col("rank").as("rank_fp"),
      (col("rank").cast("double") / Scale.toDouble).as("rank"))
  }

  /** One PageRank superstep's inputs, joined onto `ranks` (node, rank,
    * `carry`) as (node, `carry`, `__mass`, `contrib`): `contrib` is
    * Σ share·w over the node's in-edges, with share = rank div Σw_out
    * (`deg`: src, deg), NULL when no edge reaches it; `__mass` is the
    * dangling mass, the rank summed over nodes with no out-edge. Each
    * caller turns these into its next rank. */
  private def pageRankStep(e: DataFrame, deg: DataFrame, ranks: DataFrame,
                           carry: String): DataFrame = {
    val share = ranks.select("node", "rank")
      .join(deg, col("node") === col("src"))
      .selectExpr("src as u", "rank div deg as share")
    val contrib = e.join(share, col("src") === col("u"))
      .groupBy(col("dst").as("node"))
      .agg(sum(col("share") * col("w")).as("contrib"))
    val dang = ranks.select("node", "rank")
      .join(deg, col("node") === col("src"), "left_anti")
      .agg(coalesce(sum("rank"), lit(0L)).as("__mass"))
    ranks.select("node", carry).crossJoin(broadcast(dang))
      .join(contrib, Seq("node"), "left")
  }

  /** Personalized (seed-biased) PageRank — the TrustRank curation
    * signal (Gyöngyi, Garcia-Molina & Pedersen, VLDB 2004): the
    * teleport mass restarts at a SEED set instead of uniformly, so
    * rank concentrates near trusted (or suspect) nodes — "how close is
    * this page to the hand-audited good set" is the standard
    * spam-demotion signal a web-corpus curation pipeline runs next to
    * plain [[pageRank]]. Same exact fixed-point arithmetic: init
    * Scale div |S| on seeds (0 elsewhere); per iteration the (1−d)
    * teleport AND the dangling mass redistribute over the seeds only,
    * non-seeds keep the pure d·contrib term. Seeds need not appear in
    * the edge list (an isolated seed still holds teleport mass — it is
    * dangling, so its mass recycles to the seed set). Output: (node,
    * rank_fp, rank, is_seed). |S| is read once up front (one count
    * job) and bound in as a literal; seeds must be non-empty.
    *
    * Scale shape: identical to [[pageRankWeighted]] (two ids+longs
    * shuffles + one broadcast scalar per iteration) plus one
    * node-keyed seed-flag join at init — the flag then rides the rank
    * table, so no per-iteration seed join. */
  def personalizedPageRank(edges: DataFrame, srcCol: String,
                           dstCol: String, weightCol: String,
                           seeds: DataFrame, seedCol: String,
                           iterations: Int = 3,
                           dampingPct: Int = 85): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    require(dampingPct >= 0 && dampingPct <= 100,
      "dampingPct must be a percent")
    val e = OpCaches.cutNow(edges.select(col(srcCol).as("src"),
      col(dstCol).as("dst"),
      positiveWeight(col(weightCol), "personalizedPageRank").as("w")))
    val sd = OpCaches.cutNow(seeds.select(col(seedCol).as("node")).distinct())
    val nSeeds = sd.count()
    require(nSeeds > 0, "personalizedPageRank needs a non-empty seed set")
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .union(sd.select(col("node"))).distinct()
    // per-iteration lazy checkpoints, the [[pageRankWeighted]] r19
    // rationale: ranks is consumed 3× per iteration, deg 2× — the
    // inline form compounded to a 692-operator plan at 3 iterations
    val deg = OpCaches.cut(e.groupBy("src").agg(sum(col("w")).as("deg")),
      col("src"))
    var ranks = nodes
      .join(sd.withColumn("__s", lit(true)), Seq("node"), "left")
      .selectExpr("node", "coalesce(__s, false) as __seed",
        s"case when coalesce(__s, false) then ${Scale}L div ${nSeeds}L" +
          " else 0L end as rank")
    for (i <- 1 to iterations) {
      ranks = pageRankStep(e, deg, ranks, "__seed")
        .selectExpr("node", "__seed",
          "case when __seed then " +
            s"(${100L - dampingPct}L * ${Scale}L) div (100L * ${nSeeds}L)" +
            s" + (${dampingPct}L * (coalesce(contrib, 0L)" +
            s" + __mass div ${nSeeds}L)) div 100L" +
            s" else (${dampingPct}L * coalesce(contrib, 0L)) div 100L" +
            " end as rank")
      if (i < iterations) ranks = OpCaches.cut(ranks, col("node"))
    }
    ranks.select(col("node"), col("rank").as("rank_fp"),
      (col("rank").cast("double") / Scale.toDouble).as("rank"),
      col("__seed").as("is_seed"))
  }

  /** Synchronous label-propagation community detection (Raghavan et al.
    * 2007), DETERMINISTIC variant: init label(v) = v; each iteration
    * every node adopts its neighbors' most frequent label, ties broken
    * by the smallest label — the classic near-linear community finder
    * for link-graph curation (which site cluster does this page belong
    * to), complementing [[Dedup.connectedComponents]] (pure reachability)
    * and [[pageRank]] (importance). The canonical randomized/async LPA
    * is irreproducible; the synchronous min-tie-break form is
    * bit-reproducible across engines and layouts, so the full iterative
    * loop is oracle-checkable by CTE unrolling (the pageRank treatment).
    *
    * Scale shape: per iteration one equi-join of the (symmetrized,
    * deduped) edge list to the label table (shuffle by neighbor id), one
    * (node, label) count aggregate with map-side partial combine, and a
    * per-node WindowGroupLimit rank — ids and counts only, nothing
    * quadratic, no driver state; lineage cut every 4 iterations.
    * Output: (node, label, n_members).
    *
    * Memory ceiling (SURVEY §6.7j, the r19 re-probe): exchange bytes
    * are measured linear in edges (10.3× at 10× data) and time tracks
    * them (3.9×), but the per-round (node, label, count) aggregate
    * holds the widest state of the graph family — ~43 GB stage-summed
    * peak at 60M edges on one JVM. The mitigation is the standard
    * partition knob, measured: per-task aggregate state shrinks
    * proportionally to `spark.sql.shuffle.partitions` (256 vs 32 →
    * 8× smaller per-task state for ~10% wall/byte overhead), which is
    * exactly how a cluster bounds per-executor footprint — no
    * operator-side change needed, and no label-candidate cap that
    * would trade exactness for memory. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       iterations: Int = 3): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val e0 = edges.select(col(srcCol).cast("long").as("src"),
                          col(dstCol).cast("long").as("dst"))
    val und = OpCaches.pin(
      e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
        .filter(col("src") =!= col("dst"))
        .distinct())
    var labels = und.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
    for (i <- 1 to iterations) {
      val counted = und
        .join(labels.select(col("node").as("dst"), col("label")), "dst")
        .groupBy(col("src").as("node"), col("label"))
        .agg(count(lit(1)).as("c"))
      // argmax as ONE hash aggregate — max_by over (count, -label)
      // picks the most frequent label with min-label ties, replacing a
      // per-node sort window (row_number) that cost ~2× the aggregate
      // on measurement (no sort, and ties are impossible within a node
      // since (c, label) pairs are distinct there)
      labels = counted.groupBy("node")
        .agg(max_by(col("label"),
          struct(col("c"), (-col("label")).as("nl"))).as("label"))
      if (i % 4 == 0 && i < iterations) labels = OpCaches.cut(labels)
    }
    // community sizes via a window, NOT a groupBy+self-join: the join
    // form consumes `labels` twice and re-executes the whole iteration
    // chain for the second consumer (measured: it doubled the query)
    labels
      .withColumn("n_members", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("label")))
      .select("node", "label", "n_members")
  }

  /** HITS hubs & authorities (Kleinberg, JACM 1999) — the two-sided
    * importance signal for BIPARTITE-ish graphs where PageRank's single
    * score conflates "links to good things" (hub) with "is a good
    * thing" (authority): per round, auth(v) = Σ_{u→v} hub(u) and
    * hub(u) = Σ_{u→v} auth(v), each side L1-NORMALIZED to
    * [[Scale]] fixed-point mass (the classic L2 norm needs a square
    * root — not expressible in exact integer arithmetic; L1 yields the
    * same ranking order and keeps every step engine-exact). Raw sums
    * are exact past long range via the 2³⁰-radix LONG-limb split (the
    * [[graft.operators.Profiling.weightedPercentiles]] machinery): a
    * hub of 10M in-edges would overflow a single LONG sum of
    * Scale-sized scores, so each score splits into two longs whose
    * sums recombine exactly in DECIMAL(38,0) — every corpus-sized
    * aggregation buffer stays a codegen long (measured ~25% off the
    * record vs decimal-typed buffers), exact to 2³³ ≈ 8.6e9 in-edges
    * per node (the LOW limb binds: scores < 2⁴⁰ leave the high-limb
    * sum headroom to 2⁵³ terms, but the low limb's < 2³⁰ terms hit
    * 2⁶³ at 2³³ of them). Past that the recombine RAISES — a loud
    * per-node in-degree guard rides the same aggregate as one extra
    * long count, so the limb sum can never wrap silently (the
    * [[EventOps.ohlcBars]] overflow contract). The normalization
    * (raw·Scale) div total is one exact integral division — DuckDB
    * replays it as HUGEINT `//`. Nodes with no out-edges hold hub 0,
    * no in-edges auth 0 (they drop from the respective side and
    * re-attach as zeros at the end).
    *
    * Node keys are NEVER touched by the score arithmetic, so any
    * orderable key type (string hosts, composite ids) works as-is —
    * no caller-side re-keying; [[hitsWeighted]] adds integer edge
    * weights. Parallel duplicate edges collapse first (`distinct`),
    * the classic unweighted HITS contract — feed multiplicities to
    * [[hitsWeighted]] when they should count.
    *
    * Scale shape: per round two edge-to-score equi-joins + two
    * map-side-combined aggregates (ids and decimals only on every
    * exchange) and two one-row broadcast totals; the distinct edge
    * list materializes once (eager [[OpCaches.cutNow]], the
    * [[pageRankWeighted]] lesson). */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           rounds: Int = 2, saltShards: Int = 1): DataFrame =
    hitsLoop(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .distinct().withColumn("w", lit(1L)),
      rounds, weighted = false, saltShards)

  /** Weighted HITS: auth(v) = Σ_{u→v} w·hub(u), hub(u) = Σ_{u→v}
    * w·auth(v), same L1 normalization and exact integer arithmetic as
    * [[hits]]. Edge weights must be POSITIVE integers (loud guard, the
    * [[pageRankWeighted]] convention) and < 2²³ ≈ 8.4M so the w·score
    * product (score ≤ [[Scale]] < 2⁴⁰ after every normalization) stays
    * inside long range; the PRODUCT then limb-splits at radix 2³² into
    * two codegen long sums recombined exactly in DECIMAL(38,0) — the
    * same trick as the unweighted path, applied one multiply later, so
    * the weighted variant no longer pays a decimal-typed aggregation
    * buffer on the corpus-sized exchange (measured 1.2× on the 600 k-
    * edge purchase graph, 1.5× at 10× where the buffer dominated). The
    * low limb's < 2³² terms hit
    * 2⁶³ at 2³¹ of them — the loud per-node in-degree guard raises
    * there (vs 2³³ unweighted). Parallel edges are NOT collapsed here:
    * pre-aggregate to (src, dst, w) — e.g. the [[pageRankKeyed]] count
    * collapse — which is exactly equivalent and keeps the per-round
    * joins vocabulary-sized. */
  def hitsWeighted(edges: DataFrame, srcCol: String, dstCol: String,
                   weightCol: String, rounds: Int = 2,
                   saltShards: Int = 1): DataFrame =
    hitsLoop(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
        positiveWeight(col(weightCol), "hitsWeighted").as("w")),
      rounds, weighted = true, saltShards)

  /** `saltShards > 1` switches both sides' per-round sums to the SALTED
    * TWO-LEVEL exact sum (VERDICT r18 item 5 — the documented
    * escalation for graphs whose largest hub exceeds the single-level
    * limb guard, i.e. > 2³¹/2³³ distinct (weighted/unweighted)
    * in-neighbors on one node, ~web-hub scale): level 1 groups by
    * (node, hash(other-endpoint) % saltShards) and long-sums the two
    * limbs per shard — each shard's term count now only needs to stay
    * under the wrap point, so the per-node capacity scales by
    * saltShards — level 2 recombines each shard's limbs in
    * DECIMAL(38,0) and decimal-sums the per-shard partials per node.
    * Same integer arithmetic term-for-term (summation is order-free
    * and the shard assignment cancels in the total), so results are
    * BIT-IDENTICAL to the single-level form wherever both run; the
    * cost is one extra vocabulary-sized exchange per round (the
    * (node, shard) pre-aggregate). The per-shard guard still rides the
    * aggregate and raises pointing at the parameter. `maxTermsOverride`
    * exists for the spec only — the real wrap point needs billions of
    * rows; lowering it lets a test drive the guard and the salted
    * escape hatch at table scale. */
  private[graft] def hitsLoop(edgesW: DataFrame, rounds: Int,
                       weighted: Boolean, saltShards: Int = 1,
                       maxTermsOverride: Option[Long] = None): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    require(saltShards >= 1, "saltShards must be >= 1")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val maxW = 1L << 23
    val e0 =
      if (!weighted) edgesW
      else edgesW.select(col("src"), col("dst"),
        when(col("w") >= maxW, raise_error(concat(
            lit("hitsWeighted: edge weight must be < 2^23 to keep w*score"
              + " in long range, got "), col("w").cast("string"))))
          .otherwise(col("w")).as("w"))
    val e = OpCaches.cutNow(e0)
    // nodes feeds three consumers (the count, the init, the final
    // re-attach) and each round's raw-sum table feeds two (its own
    // normalization total + the normalized scores) — lazy cuts make
    // each a plan leaf computed once (r19, guide §2.4), the score
    // tables pinned on `node`: the inline form compounded to a
    // 1123-operator / 284-RDD-scan plan at 2 rounds
    // (plans/r19/q_hits_before.txt)
    val nodes = OpCaches.cut(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())
    val nDf = nodes.agg(count(lit(1)).as("__n"))
    val radix = 1073741824L // 2³⁰ limb radix (see weightedPercentiles)
    val radixW = 4294967296L // 2³² product-limb radix (weighted path)
    // low-limb wrap points: unweighted terms < 2³⁰ wrap past 2³³ of
    // them; weighted PRODUCT low limbs < 2³² wrap past 2³¹
    val maxTerms =
      maxTermsOverride.getOrElse(if (weighted) 1L << 31 else 1L << 33)
    val capName =
      if (maxTermsOverride.isDefined) maxTerms.toString
      else if (weighted) "2^31" else "2^33"
    val (rdx, shiftBits) = if (weighted) (radixW, 32) else (radix, 30)
    // exact sum of a LONG score column past long range: two long limb
    // sums (codegen fast path) recombined in DECIMAL(38,0); the term
    // count rides the same aggregate and RAISES past the wrap point.
    // Weighted scores split the w·score PRODUCT (< 2⁶³ by the maxW +
    // Scale bounds, nonnegative) the same way — no decimal-typed
    // aggregation buffer on either path.
    def term(score: Column): Column =
      if (weighted) score * col("w") else score
    // exact per-node sum of the joined score rows — single-level
    // (default), or the salted two-level form when saltShards > 1 (see
    // the [[hitsLoop]] doc); `grp` is the aggregation endpoint, `salt`
    // the other one. Output: (node, <out>).
    def sumSide(joined: DataFrame, score: String, grp: String,
                salt: String, side: String, out: String): DataFrame =
      if (saltShards == 1)
        joined.groupBy(col(grp).as("node"))
          .agg((sum(term(col(score)).bitwiseAND(rdx - 1)).cast(dec) +
              sum(shiftright(term(col(score)), shiftBits)).cast(dec) * rdx)
            .as("__r0"), count(lit(1)).as("__c"))
          .select(col("node"),
            when(col("__c") >= maxTerms, raise_error(lit(
                s"hits: > $capName in-edges on one $side node — the long"
                  + " limb sum would wrap; collapse the edge table first"
                  + " or set saltShards > 1 (the salted two-level exact"
                  + " sum)")))
              .otherwise(col("__r0")).as(out))
      else
        joined.groupBy(col(grp).as("node"),
            pmod(hash(col(salt)), lit(saltShards)).as("__shard"))
          .agg(sum(term(col(score)).bitwiseAND(rdx - 1)).as("__lo"),
            sum(shiftright(term(col(score)), shiftBits)).as("__hi"),
            count(lit(1)).as("__c"))
          .select(col("node"),
            when(col("__c") >= maxTerms, raise_error(lit(
                s"hits: > $capName in-edges on one $side-node salt shard"
                  + " — the long limb sum would wrap; raise saltShards")))
              .otherwise(col("__lo").cast(dec) + col("__hi").cast(dec) * rdx)
              .as("__p"))
          .groupBy("node").agg(sum(col("__p")).as(out))
    var hub = nodes.crossJoin(broadcast(nDf))
      .selectExpr("node", s"${Scale}L div __n as h")
    var auth: DataFrame = null
    for (_ <- 1 to rounds) {
      val araw = OpCaches.cut(sumSide(
        e.join(hub.select(col("node").as("src"), col("h")), "src"),
        "h", "dst", "src", "auth", "ar"), col("node"))
      val atot = araw.agg(sum(col("ar")).as("__ta"))
      auth = araw.crossJoin(broadcast(atot))
        .selectExpr("node", s"(ar * ${Scale}L) div __ta as a")
      val hraw = OpCaches.cut(sumSide(
        e.join(auth.select(col("node").as("dst"), col("a")), "dst"),
        "a", "src", "dst", "hub", "hr"), col("node"))
      val htot = hraw.agg(sum(col("hr")).as("__th"))
      hub = hraw.crossJoin(broadcast(htot))
        .selectExpr("node", s"(hr * ${Scale}L) div __th as h")
    }
    nodes
      .join(hub.select(col("node"), col("h").as("hub_fp")),
        Seq("node"), "left")
      .join(auth.select(col("node"), col("a").as("auth_fp")),
        Seq("node"), "left")
      .select(col("node"),
        coalesce(col("hub_fp"), lit(0L)).as("hub_fp"),
        coalesce(col("auth_fp"), lit(0L)).as("auth_fp"))
      .withColumn("hub", col("hub_fp").cast("double") / Scale.toDouble)
      .withColumn("auth", col("auth_fp").cast("double") / Scale.toDouble)
  }

  /** Exact per-node triangle counts over an undirected graph given as an
    * edge list (direction and duplicates ignored; self-loops dropped) —
    * the clustering-coefficient numerator, and the standard structure
    * signal for link-spam and community density in web-corpus curation.
    * Output: (node, n_triangles) for every node with at least one edge.
    *
    * Algorithm: degree-ordered adjacency intersection. Each edge
    * orients from its lower-(degree, id) endpoint to the higher; each
    * node's oriented out-neighbors collect into one SORTED array, and
    * every oriented edge (a, b) intersects out(a) ∩ out(b) — each
    * triangle x→y, x→z, y→z surfaces exactly once, at its pivot edge
    * (x, y), with z the intersection element, so per-node counts are
    * (a: |∩|, b: |∩|, each apex: 1) summed, no dedup, no halving.
    * The orientation is the scale move: a hub of degree D keeps only
    * neighbors RANKED ABOVE it in its out-array, bounding array length
    * by O(sqrt(m)) on any graph (the arboricity bound) instead of D.
    * The total work is Θ(oriented wedges) either way, but packed as
    * ONE codegen'd `array_intersect` per edge instead of a wedge-row
    * shuffle join: on the dense sf0.1 co-purchase graph (20k nodes,
    * 1.2M edges, 148M undirected wedges) the r17 re-formulation cut
    * the materialized join from ~35M wedge rows to 2×1.2M
    * array-carrying rows — measured 15.8 → ~4 s. Exchanges: the
    * adjacency groupBy and two edge-key joins (arrays duplicated per
    * incident edge — O(wedge) BYTES, the honest lower bound for exact
    * counting), one aggregate. The canonical edge table is pinned
    * (release via [[OpCaches.release]]) since degrees and orientation
    * both read it. */
  def triangleCount(edges: DataFrame, srcCol: String, dstCol: String)
      : DataFrame = {
    val e = OpCaches.pin(edges
      .select(least(col(srcCol), col(dstCol)).cast("long").as("u"),
              greatest(col(srcCol), col(dstCol)).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct())
    // deg feeds three consumers (both orientation joins + the final
    // node list), dir three (adjacency build + both sides of the
    // pairing join), adj two — without materialization the orientation
    // join re-executed per consumer (the before-plan repeats the
    // deg/dir subtree; plans/r19/q_triangles_before.txt). Lazy cuts
    // make each a computed-once leaf (r19, guide §2.4); blocks are
    // ids/arrays already bounded by the arboricity argument.
    val deg = OpCaches.cut(
      e.select(explode(array(col("u"), col("v"))).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("__deg")))
    val dir = OpCaches.cut(e
      .join(deg.select(col("node").as("u"), col("__deg").as("__du")), "u")
      .join(deg.select(col("node").as("v"), col("__deg").as("__dv")), "v")
      .select(when(col("__du") < col("__dv") ||
                   (col("__du") === col("__dv") && col("u") < col("v")),
          struct(col("u").as("a"), col("v").as("b")))
        .otherwise(struct(col("v").as("a"), col("u").as("b")))
        .as("o"))
      .select(col("o.a").as("a"), col("o.b").as("b")))
    val adj = OpCaches.cut(dir.groupBy(col("a"))
      .agg(sort_array(collect_list(col("b"))).as("__nb")))
    val paired = dir
      .join(adj.select(col("a"), col("__nb").as("__na")), Seq("a"))
      .join(adj.select(col("a").as("b"), col("__nb")), Seq("b"), "left")
      .select(col("a"), col("b"),
        array_intersect(col("__na"),
          coalesce(col("__nb"), array().cast("array<long>"))).as("__c"))
    val perNode = paired
      .select(explode(concat(
        array(struct(col("a").as("node"),
                     size(col("__c")).cast("long").as("cnt")),
              struct(col("b").as("node"),
                     size(col("__c")).cast("long").as("cnt"))),
        transform(col("__c"),
          c => struct(c.as("node"), lit(1L).as("cnt"))))).as("x"))
      .groupBy(col("x.node").as("node"))
      .agg(sum(col("x.cnt")).as("n_triangles"))
    deg.select(col("node"))
      .join(perNode, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
  }

  /** Local clustering coefficient per node: 2·T(v) / (deg(v)·(deg(v)−1))
    * over the undirected simple graph — "how much of my neighborhood
    * knows each other", the community-structure signal that separates a
    * social graph from a star/hub topology (and the per-node refinement
    * of the global transitivity number). Degree-1 and isolated-in-
    * practice nodes have no possible wedge: their coefficient is NULL,
    * not 0 — absence of evidence, not evidence of openness.
    *
    * Reuses [[triangleCount]] (degree-ordered wedge join, arboricity
    * bound) and joins its per-node counts against the distinct-neighbor
    * degree — one extra explode+aggregate over the canonical edge set,
    * all equi-joins. The coefficient is one IEEE division of exact
    * integer counts, rounded to 9 places. */
  def clusteringCoefficient(edges: DataFrame, srcCol: String,
                            dstCol: String): DataFrame = {
    val e = edges
      .select(least(col(srcCol), col(dstCol)).cast("long").as("u"),
              greatest(col(srcCol), col(dstCol)).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val deg = e.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    triangleCount(edges, srcCol, dstCol)
      .join(deg, "node")
      .select(col("node"), col("degree"), col("n_triangles"),
        when(col("degree") >= 2, round(
          lit(2.0) * col("n_triangles") /
            (col("degree") * (col("degree") - 1)).cast("double"), 9))
          .as("clustering"))
  }

  /** Degree histogram of a (possibly bipartite) edge list: how many
    * `src` nodes touch exactly d distinct `dst` nodes — the
    * connectivity fingerprint read before any graph algorithm is
    * trusted (a power-law tail means hubs that need the skew
    * treatments; a spike at 1 means the "graph" is mostly a lookup
    * table). Parallel edges collapse first, so degree means distinct
    * neighbors.
    *
    * Three shuffles, each smaller than the last: edge distinct (src,
    * dst), per-src count (src — map-side combined), then the
    * degree-sized histogram aggregate. Nothing global, nothing driver-
    * side; all integer arithmetic. */
  /** k-core decomposition membership (Seidman 1983): the maximal
    * subgraph where every node keeps ≥ k DISTINCT neighbors — the
    * standard dense-cluster extractor (spam/link-farm detection in web
    * graphs, engaged-community cores in interaction graphs; peripheral
    * chains and stars peel away). Iterative peel: drop nodes with
    * degree < k, recompute degrees on the surviving subgraph, repeat to
    * fixpoint. Each round is one distinct-neighbor degree aggregate +
    * two semi joins — ids only; the driver reads a one-row count per
    * round (never data) and lineage cuts every 4 rounds like
    * [[pageRank]]. Converges in ≤ |V| rounds, in practice a handful:
    * each round either removes a node or terminates. Returns the
    * surviving (node, degree) rows — empty when no k-core exists;
    * `maxIters` bounds pathological chains, non-convergence throws
    * (strict, like `connectedComponents(strict = true)`). */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
            maxIters: Int = 50): DataFrame = {
    require(k >= 1 && maxIters >= 1)
    // undirected distinct neighbor pairs, self-loops dropped
    val und = edges
      .select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
    var adj = OpCaches.cutNow(und.unionByName(
        und.select(col("b").as("a"), col("a").as("b")))
      .distinct())
    var dropped = 1L
    var it = 0
    while (dropped > 0 && it < maxIters) {
      val deg = adj.groupBy(col("a")).agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") >= k).select(col("a"))
      val next = adj
        .join(keep, Seq("a"), "left_semi")
        .join(keep.select(col("a").as("b")), Seq("b"), "left_semi")
        .select(col("a"), col("b"))
      val cp = if (it % 4 == 3) OpCaches.cutNow(next) else OpCaches.cut(next)
      dropped = adj.count() - cp.count()
      adj = cp
      it += 1
    }
    if (dropped > 0)
      throw new IllegalStateException(
        s"kCore did not converge in $maxIters rounds")
    adj.groupBy(col("a").as("node")).agg(count(lit(1)).as("degree"))
  }

  def degreeHistogram(edges: DataFrame, srcCol: String, dstCol: String)
      : DataFrame =
    edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull)
      .select(col(srcCol).as("__s"), col(dstCol).as("__d"))
      .distinct()
      .groupBy(col("__s")).agg(count(lit(1)).as("degree"))
      .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))

  /** Multi-source BFS shortest-hop distances — the reachability/
    * distance primitive the rest of the graph family lacks (PageRank
    * ranks, HITS scores, k-core filters; nothing says "how FAR is
    * everything from this seed set"). Frontier expansion, level-
    * synchronous: dist 0 = the seeds; each round joins the current
    * frontier to the edge table, anti-joins the already-visited set,
    * and min-collapses multi-path arrivals — exactly the textbook
    * distributed BFS (Pregel's SSSP specialized to unit weights).
    * Distances are exact within `maxHops`; nodes unreached in that
    * horizon are absent (callers wanting ∞ left-join the node set).
    *
    * Ids only on every exchange: (node: long, dist: long). The visited
    * set is cut each round, so the plan never re-derives
    * round i−1 inside round i (the [[kCore]]/[[pageRank]] lineage-cut
    * convention); the symmetrized edge table checkpoints once and is
    * reused by all rounds. `maxHops` is the loud bound (≤ 64): BFS
    * frontiers on real graphs saturate in a few hops, and an unbounded
    * hop loop on a long path graph would schedule |V| joins. No
    * per-round driver reads at all — rounds past frontier exhaustion
    * are empty-input no-op jobs, cheaper than the count() that would
    * detect them.
    *
    * At scale each round is one shuffle on node ids (the frontier-edge
    * join co-partitions with the visited anti-join under AQE), bounded
    * by the frontier size, never the corpus. Output: (node, dist),
    * dist = min hops from any seed. */
  def bfsDistances(edges: DataFrame, srcCol: String, dstCol: String,
                   seeds: DataFrame, seedCol: String, maxHops: Int,
                   directed: Boolean = false): DataFrame = {
    require(maxHops >= 1 && maxHops <= 64,
      s"maxHops must be in [1, 64], got $maxHops")
    val fwd = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull)
      .select(col(srcCol).cast("long").as("__s"),
        col(dstCol).cast("long").as("__d"))
    val adj = OpCaches.cutNow((if (directed) fwd
        else fwd.unionByName(
          fwd.select(col("__d").as("__s"), col("__s").as("__d"))))
      .distinct())
    var visited = OpCaches.cutNow(seeds
      .filter(col(seedCol).isNotNull)
      .select(col(seedCol).cast("long").as("node")).distinct()
      .withColumn("dist", lit(0L)))
    var frontier = visited
    for (h <- 1 to maxHops) {
      val next = frontier
        .join(adj, col("node") === col("__s"))
        .select(col("__d").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .withColumn("dist", lit(h.toLong))
      // lazy, not eager (r19): visited is consumed three times per hop
      // (frontier filter, anti-join, union) and the cut computes it once
      // for all three. Each hop's cut still runs its input's shuffle
      // stages when it is made (see OpCaches.cut); only the last stage
      // of each hop waits for the first action that reads it
      visited = OpCaches.cut(visited.unionByName(next))
      frontier = visited.filter(col("dist") === h)
    }
    visited
  }
}
