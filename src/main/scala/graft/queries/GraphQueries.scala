package graft
package queries

import org.apache.spark.sql.functions._

import graft.SparkEntry.{docsSpread, t}
import graft.operators.{Dedup, Ngrams}

/** Graph queries: PageRank variants, HITS, BFS, label propagation,
  * connected components, triangles, k-core, clustering and degree
  * statistics, TextRank. */
object GraphQueries {

  private val family = "graph"

  /** The oracle's unrolled iteration: `round(1)` to `round(k)`, one
    * CTE group per round, each reading the previous round's CTEs. */
  private def unrolled(k: Int)(round: Int => String): String =
    (1 to k).map(round).mkString(",\n")

  /** A source's rank share along one weighted out-edge, summed per
    * destination (integer fixed point, as the engine computes it). */
  private val weightedShare =
    "CAST(SUM((r.rank // d.deg) * e.wt) AS BIGINT) AS contrib"

  /** Dangling mass m_i and contributions c_i of PageRank round `i`, both
    * read from r{i-1}; `weighted` scales each share by the edge weight. */
  private def prShares(i: Int, weighted: Boolean): String = {
    val p = i - 1
    val share =
      if (weighted) s"\n         $weightedShare"
      else " CAST(SUM(r.rank // d.deg) AS BIGINT) AS contrib"
    s"""m$i AS (SELECT CAST(COALESCE(SUM(rank),0) AS BIGINT) AS mass FROM r$p
       |       WHERE node NOT IN (SELECT src FROM deg)),
       |c$i AS (SELECT e.dst AS node,$share
       |       FROM e JOIN r$p r ON r.node = e.src JOIN deg d ON d.src = e.src
       |       GROUP BY e.dst),
       |""".stripMargin
  }

  /** PageRank round `i`: uniform teleport, damped contributions, and the
    * dangling mass spread over all n nodes. */
  private def prRound(weighted: Boolean)(i: Int): String =
    prShares(i, weighted) +
      s"""r$i AS (SELECT n2.node,
         |         (15 * 1000000000000) // (100 * nn.n)
         |         + (85 * (COALESCE(c.contrib, 0) + m.mass // nn.n)) // 100 AS rank
         |       FROM nodes n2 CROSS JOIN nn CROSS JOIN m$i m
         |       LEFT JOIN c$i c ON c.node = n2.node)""".stripMargin

  /** Personalized PageRank round `i`: teleport and dangling mass go to
    * the seeds only; non-seeds keep the damped contribution. */
  private def pprRound(i: Int): String =
    prShares(i, weighted = true) +
      s"""r$i AS (SELECT r.node,
         |         CASE WHEN r.isseed
         |           THEN (15 * 1000000000000) // (100 * ns.s)
         |              + (85 * (COALESCE(c.contrib, 0) + m.mass // ns.s)) // 100
         |           ELSE (85 * COALESCE(c.contrib, 0)) // 100 END AS rank,
         |         r.isseed
         |       FROM r${i - 1} r CROSS JOIN ns CROSS JOIN m$i m
         |       LEFT JOIN c$i c ON c.node = r.node)""".stripMargin

  /** TextRank round `i` over the symmetric word graph: no dangling mass
    * (every node has out-weight). */
  private def textRankRound(i: Int): String =
    s"""c$i AS (SELECT e.w2 AS node,
       |         $weightedShare
       |       FROM e JOIN r${i - 1} r ON r.node = e.w1
       |         JOIN deg d ON d.src = e.w1
       |       GROUP BY 1),
       |r$i AS (SELECT n2.node,
       |         (15 * 1000000000000) // (100 * nn.n)
       |         + (85 * COALESCE(c.contrib, 0)) // 100 AS rank
       |       FROM nodes n2 CROSS JOIN nn
       |       LEFT JOIN c$i c ON c.node = n2.node)""".stripMargin

  /** HITS round `i`: authorities from h{i-1}, then hubs from them, each
    * L1-normalized to 10^12 in HUGEINT; `weighted` multiplies each
    * score by the edge weight. */
  private def hitsRound(weighted: Boolean)(i: Int): String = {
    def sum(score: String) =
      if (weighted) s"\n          SUM(CAST($score AS HUGEINT) * CAST(e.wt AS HUGEINT))"
      else s" SUM($score)"
    s"""a${i}r AS (SELECT e.dst AS node,${sum("h.h")} AS ar
       |        FROM e JOIN h${i - 1} h ON h.node = e.src GROUP BY 1),
       |a${i}t AS (SELECT SUM(ar) AS t FROM a${i}r),
       |a$i AS (SELECT node,
       |         (CAST(ar AS HUGEINT) * 1000000000000) // CAST(t AS HUGEINT)
       |           AS a
       |       FROM a${i}r, a${i}t),
       |h${i}r AS (SELECT e.src AS node,${sum("a.a")} AS hr
       |        FROM e JOIN a$i a ON a.node = e.dst GROUP BY 1),
       |h${i}t AS (SELECT SUM(hr) AS t FROM h${i}r),
       |h$i AS (SELECT node,
       |         (CAST(hr AS HUGEINT) * 1000000000000) // CAST(t AS HUGEINT)
       |           AS h
       |       FROM h${i}r, h${i}t)""".stripMargin
  }

  /** Label-propagation round `i`: each node takes the most frequent
    * neighbour label of l{i-1}, ties to the smallest label. */
  private def labelRound(i: Int): String =
    s"""c$i AS (SELECT u.src AS node, l.label, COUNT(*) AS c
       |       FROM und u JOIN l${i - 1} l ON u.dst = l.node GROUP BY 1, 2),
       |l$i AS (SELECT node, label FROM (
       |         SELECT node, label, row_number() OVER (
       |           PARTITION BY node ORDER BY c DESC, label) AS rn
       |         FROM c$i) WHERE rn = 1)""".stripMargin

  /** The part co-occurrence graph (parts sharing an order, u < v), its
    * triangles (a < b < c) and its nodes. */
  private val partTriangles: String =
    """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e AS (SELECT DISTINCT x.l_partkey AS u, y.l_partkey AS v
      |      FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
      |        AND x.l_partkey < y.l_partkey),
      |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
      |        FROM e e1 JOIN e e2 ON e2.u = e1.v
      |        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
      |nodes AS (SELECT u AS node FROM e UNION SELECT v FROM e)""".stripMargin

  /** Hub and authority scores after round 2, fixed point and scaled,
    * for every node (0 for a node with no in- or out-edges). */
  private val hitsScores: String =
    """SELECT n.node, CAST(COALESCE(h2.h, 0) AS BIGINT) AS hub_fp,
      |  CAST(COALESCE(a2.a, 0) AS BIGINT) AS auth_fp,
      |  CAST(COALESCE(h2.h, 0) AS DOUBLE) / 1000000000000 AS hub,
      |  CAST(COALESCE(a2.a, 0) AS DOUBLE) / 1000000000000 AS auth
      |FROM nodes n LEFT JOIN h2 ON h2.node = n.node
      |  LEFT JOIN a2 ON a2.node = n.node
      |ORDER BY n.node""".stripMargin

  val all: Seq[Query] = Seq(

    // ---- E24 degree histogram of the customer→supplier trade graph
    // (the connectivity fingerprint before any graph algorithm) ----
    Query("q_degree_hist", family, (s, d) => {
      val edges = t(s, d, "orders").select("o_orderkey", "o_custkey")
        .join(t(s, d, "lineitem").select("l_orderkey", "l_suppkey"),
          col("o_orderkey") === col("l_orderkey"))
      operators.Graphs.degreeHistogram(edges, "o_custkey", "l_suppkey")
        .orderBy("degree")
    },
      """WITH e AS (SELECT DISTINCT o_custkey AS s, l_suppkey AS d
        |      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |      WHERE o_custkey IS NOT NULL AND l_suppkey IS NOT NULL),
        |dg AS (SELECT s, count(*) AS degree FROM e GROUP BY 1)
        |SELECT degree, count(*) AS n_nodes FROM dg
        |GROUP BY 1 ORDER BY degree""".stripMargin),

    // ---- E24 local clustering coefficient over the order-copurchase
    // part graph (community structure vs hub topology) ----
    Query("q_clustering_coef", family, (s, d) => {
      val li = t(s, d, "lineitem").select("l_orderkey", "l_partkey")
      val e = li.as("x").join(li.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
          col("x.l_partkey") < col("y.l_partkey"))
        .select(col("x.l_partkey").as("src"), col("y.l_partkey").as("dst"))
        .distinct()
      operators.Graphs.clusteringCoefficient(e, "src", "dst")
        .orderBy("node")
    },
      s"""$partTriangles,
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
        |ORDER BY node""".stripMargin),

    // ---- E19×E24 TextRank keyword extraction: weighted PageRank over
    // the symmetrized adjacent-word co-occurrence graph; integer
    // fixed-point ranks make the top-50 cut engine-exact ----
    Query("q_textrank", family, (s, d) =>
      Ngrams.textRank(docsSpread(s, d), iterations = 3, topK = 50)
        .orderBy(col("rank_fp").desc, col("tok")),
      // weighted-PageRank replay over the symmetrized bigram graph: the
      // co-occurrence collapse makes every contribution (rank // deg)·wt,
      // bit-identical to exploded multi-edges; the graph is symmetric so
      // every node has out-weight and the dangling-mass term is exactly 0
      // on both sides (omitted here, computed-as-zero in the engine)
      s"""WITH t AS (SELECT string_split(text, ' ') AS w FROM documents),
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
        |${unrolled(3)(textRankRound)}
        |SELECT node AS tok, CAST(rank AS BIGINT) AS rank_fp,
        |       CAST(rank AS DOUBLE) / 1000000000000 AS rank
        |FROM r3 ORDER BY rank_fp DESC, tok LIMIT 50""".stripMargin),

    // ---- E24 k-core decomposition: planted 6-clique + 99-chain over
    // document ids; the 3-core peels the chain away and keeps exactly
    // the clique at degree 5 (closed-form membership) ----
    Query("q_kcore", family, (s, d) => {
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
    },
      // the 3-core of clique(0..5) + chain(0..99) is the clique alone,
      // every member at degree 5 — closed-form membership
      """SELECT doc_id AS node, CAST(5 AS BIGINT) AS degree
        |FROM documents WHERE doc_id <= 5
        |ORDER BY node""".stripMargin),

    // ---- E2 connected components, oracle-checked on a deterministic
    // graph: star edges (hub = id - id%5, leaf = id) → components are
    // the [5k, 5k+4] ranges, expected label id - id%5 in closed form.
    // Stars are the shape near-dup clusters actually take (the
    // operator's scaladoc contract) and converge in the initial
    // min-neighbor fold — a long chain here would buy nothing but
    // per-iteration driver overhead. Transitivity is still exercised:
    // leaf—hub—leaf connects docs that share no direct edge. The
    // LSH-fed path stays rows-only; this pins the operator itself. ----
    Query("q_connected_components", family, (s, d) => {
      val docs = t(s, d, "documents").select("doc_id")
        .filter(col("doc_id") < 500)
      val pairs = docs
        .filter(col("doc_id") % 5 =!= 0)
        .select((col("doc_id") - col("doc_id") % 5).as("doc_a"),
                col("doc_id").as("doc_b"))
      Dedup.connectedComponents(pairs).orderBy("id")
    },
      """SELECT doc_id AS id,
        |       CAST(doc_id - (doc_id % 5) AS BIGINT) AS comp
        |FROM documents WHERE doc_id < 500
        |ORDER BY id""".stripMargin),

    // ---- E22 PageRank over the order→part purchase graph ----
    // fixed-point arithmetic (Graphs.Scale units): the iterative rank is
    // bit-reproducible across engines/layouts, so the oracle unrolls the
    // same 3 integer-arithmetic iterations in SQL. Orders have out-edges,
    // parts are all dangling — both mass paths exercised.
    Query("q_pagerank", family, (s, d) => {
      val edges = t(s, d, "lineitem")
        .select((col("l_orderkey") * 2).as("src"),
                (col("l_partkey") * 2 + 1).as("dst"))
        .distinct()
      graft.operators.Graphs.pageRank(edges, "src", "dst", iterations = 3)
        .orderBy("node")
    },
      // fixed-point PageRank: the same 3 integer-arithmetic iterations
      // unrolled (// is integer division; SUM casts shed DuckDB's HUGEINT)
      s"""WITH e AS (SELECT DISTINCT CAST(l_orderkey*2 AS BIGINT) AS src,
        |                           CAST(l_partkey*2+1 AS BIGINT) AS dst
        |           FROM lineitem),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |nn AS (SELECT COUNT(*) AS n FROM nodes),
        |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
        |r0 AS (SELECT node, CAST(1000000000000 // nn.n AS BIGINT) AS rank
        |       FROM nodes CROSS JOIN nn),
        |${unrolled(3)(prRound(weighted = false))}
        |SELECT node, CAST(rank AS BIGINT) AS rank_fp,
        |       CAST(rank AS DOUBLE) / 1000000000000 AS rank
        |FROM r3 ORDER BY node""".stripMargin),

    // ---- E24 multi-source BFS distances over the undirected purchase
    // graph: min hops from the seed orders (every 512th key) — the
    // reachability/distance primitive beside PageRank's ranks; level-
    // synchronous frontier expansion, ids only on every exchange ----
    Query("q_bfs", family, (s, d) => {
      val edges = t(s, d, "lineitem")
        .select((col("l_orderkey") * 2).as("src"),
                (col("l_partkey") * 2 + 1).as("dst"))
      val seeds = t(s, d, "orders")
        .filter(col("o_orderkey") % 512 === 0)
        .select((col("o_orderkey") * 2).as("seed"))
      graft.operators.Graphs.bfsDistances(edges, "src", "dst",
          seeds, "seed", maxHops = 3)
        .orderBy("node")
    },
      // level-synchronous BFS replayed as a depth-bounded recursive CTE:
      // UNION dedups (node, dist) pairs per level, MIN collapses
      // multi-path arrivals to the shortest hop count
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
        |ORDER BY node""".stripMargin),

    // ---- E22/E24 WEIGHTED PageRank over the same purchase graph,
    // quantity-weighted edges: (rank div Σw)·w integer shares — the
    // volume-aware importance signal; parts stay dangling so the mass
    // term is exercised under weights too ----
    Query("q_pagerank_weighted", family, (s, d) => {
      val edges = t(s, d, "lineitem")
        .groupBy((col("l_orderkey") * 2).as("src"),
                 (col("l_partkey") * 2 + 1).as("dst"))
        .agg(sum(col("l_quantity").cast("long")).as("wt"))
      graft.operators.Graphs.pageRankWeighted(edges, "src", "dst", "wt",
          iterations = 3)
        .orderBy("node")
    },
      // the q_pagerank replay with integer edge weights: deg = Σw per
      // source, each contribution (rank // deg)·w
      s"""WITH e AS (SELECT CAST(l_orderkey*2 AS BIGINT) AS src,
        |                  CAST(l_partkey*2+1 AS BIGINT) AS dst,
        |                  SUM(CAST(l_quantity AS BIGINT)) AS wt
        |           FROM lineitem GROUP BY 1, 2),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |nn AS (SELECT COUNT(*) AS n FROM nodes),
        |deg AS (SELECT src, SUM(wt) AS deg FROM e GROUP BY src),
        |r0 AS (SELECT node, CAST(1000000000000 // nn.n AS BIGINT) AS rank
        |       FROM nodes CROSS JOIN nn),
        |${unrolled(3)(prRound(weighted = true))}
        |SELECT node, CAST(rank AS BIGINT) AS rank_fp,
        |       CAST(rank AS DOUBLE) / 1000000000000 AS rank
        |FROM r3 ORDER BY node""".stripMargin),

    // ---- E24 HITS hubs & authorities over the purchase graph
    // (orders = hubs, parts = authorities): per round auth = Σ in-hub,
    // hub = Σ out-auth, each side L1-normalized to Scale in exact
    // integral division — the two-sided signal PageRank conflates ----
    // Plan: per round two equi-joins and two limb-sum aggregates; normalization totals broadcast.
    Query("q_hits", family, (s, d) => {
      val edges = t(s, d, "lineitem")
        .select((col("l_orderkey") * 2).as("src"),
                (col("l_partkey") * 2 + 1).as("dst"))
      graft.operators.Graphs.hits(edges, "src", "dst", rounds = 2)
        .orderBy("node")
    },
      // two unrolled HITS rounds: HUGEINT sums, (raw·Scale) // total
      // exact L1 normalization per side
      s"""WITH e AS (SELECT DISTINCT CAST(l_orderkey*2 AS BIGINT) AS src,
        |                           CAST(l_partkey*2+1 AS BIGINT) AS dst
        |           FROM lineitem),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |nn AS (SELECT COUNT(*) AS n FROM nodes),
        |h0 AS (SELECT node, CAST(1000000000000 // nn.n AS HUGEINT) AS h
        |       FROM nodes CROSS JOIN nn),
        |${unrolled(2)(hitsRound(weighted = false))}
        |$hitsScores""".stripMargin),

    // ---- E24 WEIGHTED HITS over the quantity-weighted purchase graph:
    // auth = Σ w·hub, hub = Σ w·auth, same L1-normalized exact-integer
    // fixed point — the volume-aware two-sided signal, closing the
    // keyed/weighted parity with the PageRank family ----
    // Plan: q_hits' joins; w*score sums in DECIMAL(38,0) behind the wrap guard (no limb path).
    Query("q_hits_weighted", family, (s, d) => {
      val edges = t(s, d, "lineitem")
        .groupBy((col("l_orderkey") * 2).as("src"),
                 (col("l_partkey") * 2 + 1).as("dst"))
        .agg(sum(col("l_quantity").cast("long")).as("wt"))
      graft.operators.Graphs.hitsWeighted(edges, "src", "dst", "wt",
          rounds = 2)
        .orderBy("node")
    },
      // the q_hits replay with w-weighted sums: the collapsed quantity
      // weights multiply each score term inside the HUGEINT aggregates,
      // normalization chain unchanged
      s"""WITH e AS (SELECT CAST(l_orderkey*2 AS BIGINT) AS src,
        |                  CAST(l_partkey*2+1 AS BIGINT) AS dst,
        |                  SUM(CAST(l_quantity AS BIGINT)) AS wt
        |           FROM lineitem GROUP BY 1, 2),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |nn AS (SELECT COUNT(*) AS n FROM nodes),
        |h0 AS (SELECT node, CAST(1000000000000 // nn.n AS HUGEINT) AS h
        |       FROM nodes CROSS JOIN nn),
        |${unrolled(2)(hitsRound(weighted = true))}
        |$hitsScores""".stripMargin),

    // ---- E24 personalized (seed-biased) PageRank — the TrustRank
    // spam-demotion signal: teleport + dangling mass restart at the
    // seed orders (every-10th customer's), rank measures proximity to
    // the trusted set; same integer fixed-point replay ----
    // Plan: q_pagerank_weighted's exchanges; the seed flag joins once at init, not per iteration.
    Query("q_ppr", family, (s, d) => {
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
    },
      // seed-biased replay: teleport and dangling mass go to seeds only;
      // non-seeds keep the pure 85%-contribution term
      s"""WITH e AS (SELECT DISTINCT CAST(l_orderkey*2 AS BIGINT) AS src,
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
        |${unrolled(3)(pprRound)}
        |SELECT node, CAST(rank AS BIGINT) AS rank_fp,
        |       CAST(rank AS DOUBLE) / 1000000000000 AS rank,
        |       isseed AS is_seed
        |FROM r3 ORDER BY node""".stripMargin),

    // ---- E24 deterministic synchronous label propagation (community
    // detection over the order-part bipartite graph; min-label ties,
    // full 3-iteration loop CTE-unrolled in the oracle) ----
    // Plan: per round one equi-join and one max_by hash aggregate for the mode, no sort window.
    Query("q_label_prop", family, (s, d) => {
      val edges = t(s, d, "lineitem")
        .select((col("l_orderkey") * 2).as("src"),
                (col("l_partkey") * 2 + 1).as("dst"))
      graft.operators.Graphs.labelPropagation(edges, "src", "dst",
          iterations = 3)
        .orderBy("node")
    },
      s"""WITH e0 AS (SELECT DISTINCT CAST(l_orderkey*2 AS BIGINT) AS src,
        |                            CAST(l_partkey*2+1 AS BIGINT) AS dst
        |            FROM lineitem),
        |und AS (SELECT src, dst FROM e0
        |        UNION SELECT dst AS src, src AS dst FROM e0),
        |l0 AS (SELECT DISTINCT src AS node, src AS label FROM und),
        |${unrolled(3)(labelRound)},
        |sz AS (SELECT label, COUNT(*) AS n_members FROM l3 GROUP BY 1)
        |SELECT node, label, n_members FROM l3 JOIN sz USING (label)
        |ORDER BY node""".stripMargin),

    // ---- E24 exact triangle counts over the part co-occurrence graph
    // (parts sharing an order are linked); degree-ordered wedge closure
    // bounds hub fan-out by the arboricity, not degree² ----
    Query("q_triangles", family, (s, d) => {
      val li = t(s, d, "lineitem").select("l_orderkey", "l_partkey")
      val e = li.as("x").join(li.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
          col("x.l_partkey") < col("y.l_partkey"))
        .select(col("x.l_partkey").as("src"), col("y.l_partkey").as("dst"))
        .distinct()
      graft.operators.Graphs.triangleCount(e, "src", "dst")
        .orderBy("node")
    },
      s"""$partTriangles,
        |pn AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS n
        |       FROM (SELECT unnest([a, b, c]) AS node FROM tri)
        |       GROUP BY node)
        |SELECT nodes.node, COALESCE(pn.n, 0) AS n_triangles
        |FROM nodes LEFT JOIN pn USING (node)
        |ORDER BY node""".stripMargin),
  )
}
