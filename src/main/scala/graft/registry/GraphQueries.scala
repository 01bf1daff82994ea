package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.GraphRank

import Memos._
import Shared._

/** Graph analytics over the supplier→part and part co-purchase graphs:
  * PageRank family, HITS, k-core, triangles, label propagation,
  * HyperBall, link prediction and the other `GraphRank` operators. */
private[registry] object GraphQueries {

  val specs: Seq[QuerySpec] = Seq(
    // Deterministic negative edges on the parity-encoded supplier→part
    // graph (every 10th supplier) — link-prediction training pairs.
    QuerySpec("q168_negative_edges", ((s, d) => {
      val edges = Tables.lineitem(s, d)
        .filter(col("l_suppkey") % 10 === 0)
        .select((col("l_suppkey") * 2).as("src"),
          (col("l_partkey") * 2 + 1).as("dst"))
      GraphRank.negativeEdges(edges, "src", "dst")
        .orderBy(col("src"), col("rnk"))
    }),
      // Negative edges: dense node index by ROW_NUMBER, hash-mod
      // candidates (2x over-gen), anti-join reals, per-src quota.
      """WITH e AS (SELECT DISTINCT l_suppkey * 2 AS src, l_partkey * 2 + 1 AS dst
        |  FROM lineitem WHERE l_suppkey % 10 = 0),
        |nd AS (SELECT node, CAST(ROW_NUMBER() OVER (ORDER BY node) - 1 AS BIGINT) AS cidx
        |  FROM (SELECT src AS node FROM e UNION SELECT dst FROM e)),
        |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM nd),
        |dg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
        |gen AS (SELECT src, unnest(range(0, deg * 2)) AS k FROM dg),
        |cd AS (SELECT gen.src, gen.k,
        |    ((gen.src % 1000003) * 8191 + (gen.k % 1000003) * 127 + 524287)
        |      % 1000003 % nc.n_nodes AS cidx
        |  FROM gen, nc),
        |cand AS (SELECT cd.src, cd.k, nd.node AS neg_dst
        |  FROM cd JOIN nd USING (cidx)
        |  WHERE nd.node <> cd.src
        |    AND NOT EXISTS (SELECT 1 FROM e
        |      WHERE e.src = cd.src AND e.dst = nd.node)),
        |rk AS (SELECT src, neg_dst,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY src ORDER BY k ASC) AS BIGINT) AS rnk
        |  FROM cand)
        |SELECT rk.src, rk.neg_dst, rk.rnk
        |FROM rk JOIN dg USING (src) WHERE rk.rnk <= dg.deg
        |ORDER BY rk.src, rk.rnk""".stripMargin),

    // Bibliographic coupling of suppliers on the supplier→part graph:
    // pairs sharing ≥3 parts, hub parts (in-degree > 40) capped out
    // before the wedge join — the q24 stop-key discipline.
    QuerySpec("q153_bib_coupling", ((s, d) => {
      val edges = Tables.lineitem(s, d)
        .select(col("l_suppkey").as("src"), col("l_partkey").as("dst"))
      GraphRank.bibCoupling(edges, "src", "dst",
          maxCitedFanin = 40, minCommon = 3)
        .orderBy(col("id_a"), col("id_b"))
    }),
      // Bib coupling: distinct edges, fan-in ≤ 40 parts only, supplier
      // pairs per shared part, support ≥ 3.
      """WITH sp AS (SELECT DISTINCT l_partkey AS k, l_suppkey AS v FROM lineitem),
        |ok AS (SELECT k, v FROM sp WHERE k IN
        |  (SELECT k FROM sp GROUP BY k HAVING count(*) <= 40))
        |SELECT x.v AS id_a, y.v AS id_b, CAST(count(*) AS BIGINT) AS n_common
        |FROM ok x JOIN ok y ON x.k = y.k AND x.v < y.v
        |GROUP BY 1, 2 HAVING count(*) >= 3
        |ORDER BY id_a, id_b""".stripMargin),

    // Weighted PageRank on the directed supplier->part graph, edge
    // weight = shipment count: (rank*w) div total-out-weight per edge,
    // same integer discipline as q63.
    QuerySpec("q145_pagerank_weighted", ((s, d) =>
      GraphRank.pageRankWeighted(
          Tables.lineitem(s, d).select(
            (col("l_suppkey") * 2).as("src"),
            (col("l_partkey") * 2 + 1).as("dst"),
            lit(1L).as("w")),
          "src", "dst", "w", iters = 3)
        .orderBy(col("node"))),
      // Weighted rank: parallel edges collapse to counts, contribution
      // (r*w) // sw, same unrolled 3-iteration arithmetic as q63.
      {
        def it(prev: String): String =
          s"""(SELECT nodes.node,
             |    (SELECT (15 * (1000000000 // n)) // 100 FROM n) + (85 * COALESCE(c.s, 0)) // 100 AS r
             |  FROM nodes LEFT JOIN (
             |    SELECT e.dst AS node, CAST(SUM((p.r * e.w) // sw.sw) AS BIGINT) AS s
             |    FROM $prev p JOIN e ON p.node = e.src JOIN sw ON e.src = sw.src GROUP BY 1) c USING (node))""".stripMargin
        s"""WITH e AS (SELECT src, dst, w FROM (
           |    SELECT l_suppkey * 2 AS src, l_partkey * 2 + 1 AS dst,
           |      CAST(COUNT(*) AS BIGINT) AS w
           |    FROM lineitem GROUP BY 1, 2) WHERE w > 0),
           |nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
           |n AS (SELECT COUNT(*) AS n FROM nodes),
           |sw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS sw FROM e GROUP BY 1),
           |r0 AS (SELECT node, CAST((SELECT 1000000000 // n FROM n) AS BIGINT) AS r FROM nodes),
           |i1 AS ${it("r0")},
           |i2 AS ${it("i1")},
           |i3 AS ${it("i2")}
           |SELECT node, CAST(r AS BIGINT) AS rank_q FROM i3 ORDER BY node""".stripMargin
      }),

    // Integer-exact PageRank (3 iterations) over the symmetrized
    // supplier↔part co-purchase graph — the link-centrality corpus
    // weighting signal. The two key spaces overlap numerically, so
    // nodes are parity-encoded LONGS (supplier 2k, part 2k+1): every
    // per-iteration shuffle keys on an 8-byte long instead of a
    // variable-length string — at 100 TB the node id is the single
    // hottest shuffle key in the operator.
    QuerySpec("q63_pagerank", ((s, d) => {
      val e = supplierPartEdges(s, d)
      val sym = e.unionByName(
        e.select(col("dst").as("src"), col("src").as("dst")))
      GraphRank.pageRank(sym, "src", "dst", 3).orderBy(col("node"))
    }),
      // Mirrors GraphRank.pageRank (3 iterations, scale 1e9, damping
      // (85·x)//100, teleport (15·(S//n))//100, contributions r//deg,
      // dangling mass leaks): iterations unrolled as identical CTEs.
      {
        def it(prev: String): String =
          s"""(SELECT nodes.node,
             |    (SELECT (15 * (1000000000 // n)) // 100 FROM n) + (85 * COALESCE(c.s, 0)) // 100 AS r
             |  FROM nodes LEFT JOIN (
             |    SELECT e.dst AS node, CAST(SUM(p.r // deg.deg) AS BIGINT) AS s
             |    FROM $prev p JOIN e ON p.node = e.src JOIN deg ON e.src = deg.src GROUP BY 1) c USING (node))""".stripMargin
        s"""WITH e AS (SELECT DISTINCT src, dst FROM (
           |    SELECT l_suppkey * 2 AS src, l_partkey * 2 + 1 AS dst FROM lineitem
           |    UNION ALL SELECT l_partkey * 2 + 1, l_suppkey * 2 FROM lineitem)),
           |nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
           |n AS (SELECT COUNT(*) AS n FROM nodes),
           |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY 1),
           |r0 AS (SELECT node, CAST((SELECT 1000000000 // n FROM n) AS BIGINT) AS r FROM nodes),
           |i1 AS ${it("r0")},
           |i2 AS ${it("i1")},
           |i3 AS ${it("i2")}
           |SELECT node, CAST(r AS BIGINT) AS rank_q FROM i3 ORDER BY node""".stripMargin
      },
      memos = Set("supplier_part_edges")),

    // Mass-conserving PageRank on the DIRECTED supplier→part graph:
    // every part is a dangling sink, so the redistribute-to-all option
    // carries real weight here — each iteration folds the dangling mass
    // back as a per-node `D div n` share inside the damped term. The
    // leak variant (q63) stays the default.
    QuerySpec("q68_pagerank_redistribute", ((s, d) =>
      GraphRank.pageRank(supplierPartEdges(s, d), "src", "dst", 3,
          redistributeDangling = true)
        .orderBy(col("node"))),
      // Mirrors GraphRank.pageRank(redistributeDangling = true) on the
      // DIRECTED supplier→part graph: same unrolled arithmetic as q63
      // plus the per-iteration dangling mass D = Σ rank of nodes with no
      // out-edges, folded in as (85 · (ins + D//n)) // 100.
      {
        def it(prev: String): String =
          s"""(SELECT nodes.node,
             |    (SELECT (15 * (1000000000 // n)) // 100 FROM n)
             |    + (85 * (COALESCE(c.s, 0)
             |        + (SELECT COALESCE(SUM(p.r), 0) FROM $prev p
             |           WHERE p.node NOT IN (SELECT src FROM deg)) // (SELECT n FROM n))) // 100 AS r
             |  FROM nodes LEFT JOIN (
             |    SELECT e.dst AS node, CAST(SUM(p.r // deg.deg) AS BIGINT) AS s
             |    FROM $prev p JOIN e ON p.node = e.src JOIN deg ON e.src = deg.src GROUP BY 1) c USING (node))""".stripMargin
        s"""WITH e AS (SELECT DISTINCT l_suppkey * 2 AS src, l_partkey * 2 + 1 AS dst FROM lineitem),
           |nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
           |n AS (SELECT COUNT(*) AS n FROM nodes),
           |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY 1),
           |r0 AS (SELECT node, CAST((SELECT 1000000000 // n FROM n) AS BIGINT) AS r FROM nodes),
           |i1 AS ${it("r0")},
           |i2 AS ${it("i1")},
           |i3 AS ${it("i2")}
           |SELECT node, CAST(r AS BIGINT) AS rank_q FROM i3 ORDER BY node""".stripMargin
      },
      memos = Set("supplier_part_edges")),

    // Degree-ordered triangle count on the supplier co-supply graph
    // (suppliers sharing a part) — wedges built only at each edge's
    // low-degree end, so hub nodes never fan out quadratically.
    QuerySpec("q97_triangles", ((s, d) => {
      // Co-supply edges via the one-shuffle collect_set pair expansion
      // (replaces the distinct + per-part self-join; ≤ 4 suppliers per
      // part bound the in-core expansion). triangleCount normalizes
      // (least/greatest + distinct) internally, so the pre-deduped pair
      // set is provably the same edge set.
      val edges = GraphRank.keyedValuePairs(
          Tables.lineitem(s, d)
            .select(col("l_partkey").as("p"), col("l_suppkey").as("s")),
          "p", "s")
        .select(col("a").as("src"), col("b").as("dst"))
      GraphRank.triangleCount(edges, "src", "dst")
    }),
      // Triangle count on the supplier co-supply graph: orientation-free
      // a<b<c enumeration over the normalized distinct edge set — exact,
      // and exactly what the degree-ordered wedge builder computes.
      """WITH sp AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
        |e AS (SELECT DISTINCT x.s AS a, y.s AS b
        |  FROM sp x JOIN sp y ON x.p = y.p AND x.s < y.s)
        |SELECT CAST(count(*) AS BIGINT) AS n_triangles
        |FROM e e1 JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
        |JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b""".stripMargin),

    // Weighted label propagation (2 synchronous rounds) on the part
    // co-purchase graph — weight = distinct orders sharing the pair;
    // argmax per node is window-free (struct-min), shuffle ∝ edges.
    QuerySpec("q100_label_propagation", ((s, d) =>
      // (order, part) presence-distinct FIRST inside the shared
      // coPurchasePairs chain (weight == count_distinct(order) per pair).
      GraphRank.labelPropagation(coPurchasePairs(s, d), "a", "b", "w", rounds = 2)
        .orderBy(col("n"))),
      // Weighted LPA, 2 unrolled synchronous rounds; argmax via
      // ROW_NUMBER (tw DESC, lbl ASC) ≡ the engine's struct-min.
      """WITH ew AS (SELECT x.l_partkey AS a, y.l_partkey AS b,
        |  CAST(count(DISTINCT x.l_orderkey) AS BIGINT) AS w
        |  FROM lineitem x JOIN lineitem y
        |  ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        |  GROUP BY 1, 2),
        |sym AS (SELECT a AS n, b AS m, w FROM ew UNION ALL SELECT b, a, w FROM ew),
        |l0 AS (SELECT DISTINCT n, n AS lbl FROM sym),
        |g1 AS (SELECT s.n, l.lbl, CAST(SUM(s.w) AS BIGINT) AS tw
        |  FROM sym s JOIN l0 l ON s.m = l.n GROUP BY 1, 2),
        |l1 AS (SELECT n, lbl FROM (SELECT n, lbl,
        |  ROW_NUMBER() OVER (PARTITION BY n ORDER BY tw DESC, lbl ASC) AS r
        |  FROM g1) WHERE r = 1),
        |g2 AS (SELECT s.n, l.lbl, CAST(SUM(s.w) AS BIGINT) AS tw
        |  FROM sym s JOIN l1 l ON s.m = l.n GROUP BY 1, 2),
        |l2 AS (SELECT n, lbl FROM (SELECT n, lbl,
        |  ROW_NUMBER() OVER (PARTITION BY n ORDER BY tw DESC, lbl ASC) AS r
        |  FROM g2) WHERE r = 1)
        |SELECT n, lbl FROM l2 ORDER BY n""".stripMargin,
      memos = Set("copurchase_pairs")),

    // 3 peel rounds toward the 80-core of the part co-purchase graph —
    // survivors with their final-round degree; the edge set only
    // shrinks, so every round is cheaper than the last.
    QuerySpec("q101_kcore", ((s, d) =>
      // The same co-purchase pair SET as the q100 chain (kCorePeel
      // dedups internally, so the raw-lineitem spelling and the
      // presence-distinct one peel identically — shared memoized chain).
      GraphRank.kCorePeel(coPurchasePairs(s, d), "a", "b", k = 80, rounds = 3)
        .orderBy(col("n"))),
      // 3 unrolled peel rounds at k=80: degrees over the surviving edge
      // set, survivors filter both endpoints.
      """WITH e0 AS (SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
        |  FROM lineitem x JOIN lineitem y
        |  ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
        |d1 AS (SELECT n, CAST(count(*) AS BIGINT) AS deg
        |  FROM (SELECT a AS n FROM e0 UNION ALL SELECT b FROM e0) GROUP BY 1),
        |s1 AS (SELECT n FROM d1 WHERE deg >= 80),
        |e1 AS (SELECT a, b FROM e0
        |  WHERE a IN (SELECT n FROM s1) AND b IN (SELECT n FROM s1)),
        |d2 AS (SELECT n, CAST(count(*) AS BIGINT) AS deg
        |  FROM (SELECT a AS n FROM e1 UNION ALL SELECT b FROM e1) GROUP BY 1),
        |s2 AS (SELECT n FROM d2 WHERE deg >= 80),
        |e2 AS (SELECT a, b FROM e1
        |  WHERE a IN (SELECT n FROM s2) AND b IN (SELECT n FROM s2)),
        |d3 AS (SELECT n, CAST(count(*) AS BIGINT) AS deg
        |  FROM (SELECT a AS n FROM e2 UNION ALL SELECT b FROM e2) GROUP BY 1)
        |SELECT n, deg FROM d3 WHERE deg >= 80 ORDER BY n""".stripMargin,
      memos = Set("copurchase_pairs")),

    // Random-walk-with-restart proximity to the %50 supplier seeds on
    // the directed supplier→part graph — q63's seeded twin.
    QuerySpec("q110_personalized_pagerank", ((s, d) => {
      val seeds = Tables.supplier(s, d)
        .filter(col("s_suppkey") % 50 === 0)
        .select((col("s_suppkey") * 2).as("seed"))
      GraphRank.personalizedPageRank(supplierPartEdges(s, d), "src", "dst",
          seeds, "seed", 3)
        .orderBy(col("node"))
    }),
      // Personalized PageRank: q63's unrolled arithmetic with the
      // teleport term gated on seed membership (seeds ∩ nodes, div nS).
      {
        def it(prev: String): String =
          s"""(SELECT nodes.node,
             |    (CASE WHEN nodes.node IN (SELECT node FROM seeds)
             |      THEN (SELECT (15 * (1000000000 // ns)) // 100 FROM ns) ELSE 0 END)
             |    + (85 * COALESCE(c.s, 0)) // 100 AS r
             |  FROM nodes LEFT JOIN (
             |    SELECT e.dst AS node, CAST(SUM(p.r // deg.deg) AS BIGINT) AS s
             |    FROM $prev p JOIN e ON p.node = e.src JOIN deg ON e.src = deg.src GROUP BY 1) c USING (node))""".stripMargin
        s"""WITH e AS (SELECT DISTINCT l_suppkey * 2 AS src, l_partkey * 2 + 1 AS dst FROM lineitem),
           |nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
           |seeds AS (SELECT node FROM nodes
           |  WHERE node IN (SELECT s_suppkey * 2 FROM supplier WHERE s_suppkey % 50 = 0)),
           |ns AS (SELECT COUNT(*) AS ns FROM seeds),
           |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY 1),
           |r0 AS (SELECT node, CASE WHEN node IN (SELECT node FROM seeds)
           |  THEN (SELECT 1000000000 // ns FROM ns) ELSE 0 END AS r FROM nodes),
           |i1 AS ${it("r0")},
           |i2 AS ${it("i1")},
           |i3 AS ${it("i2")}
           |SELECT node, CAST(r AS BIGINT) AS rank_q FROM i3 ORDER BY node""".stripMargin
      },
      memos = Set("supplier_part_edges")),

    // HITS hubs/authorities (2 rounds) on the supplier→part graph —
    // integer-exact with per-round max-renormalization.
    QuerySpec("q115_hits", ((s, d) =>
      GraphRank.hits(supplierPartEdges(s, d), "src", "dst", 2)
        .orderBy(col("node"))),
      // HITS: 2 unrolled rounds; each half-round renormalizes by its max
      // via a scalar subquery, COALESCE(0) for nodes without the role.
      {
        def half(src: String, prevV: String, prevCol: String,
                 gatherOn: String, outTbl: String, outCol: String): String =
          s"""${outTbl}r AS (SELECT e.$gatherOn AS node, CAST(SUM(p.$prevCol) AS BIGINT) AS v
             |  FROM e JOIN $prevV p ON e.${if (gatherOn == "dst") "src" else "dst"} = p.node GROUP BY 1),
             |$outTbl AS (SELECT n.node,
             |  COALESCE((r.v * 1000000) // (SELECT MAX(v) FROM ${outTbl}r), 0) AS $outCol
             |  FROM nodes n LEFT JOIN ${outTbl}r r ON n.node = r.node)""".stripMargin
        s"""WITH e AS (SELECT DISTINCT l_suppkey * 2 AS src, l_partkey * 2 + 1 AS dst FROM lineitem),
           |nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
           |h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS h FROM nodes),
           |${half("e", "h0", "h", "dst", "a1", "a")},
           |${half("e", "a1", "a", "src", "h1", "h")},
           |${half("e", "h1", "h", "dst", "a2", "a")},
           |${half("e", "a2", "a", "src", "h2", "h")}
           |SELECT n.node, CAST(h2.h AS BIGINT) AS hub_q, CAST(a2.a AS BIGINT) AS auth_q
           |FROM nodes n JOIN h2 ON n.node = h2.node JOIN a2 ON n.node = a2.node
           |ORDER BY n.node""".stripMargin
      },
      memos = Set("supplier_part_edges")),

    // Multi-source BFS on the symmetrized co-purchase graph: hop
    // distance from the q110 seed suppliers, capped at 3.
    QuerySpec("q117_hop_distance", ((s, d) => {
      val fwd = supplierPartEdges(s, d)
      val sym = fwd.unionByName(fwd.select(col("dst").as("src"), col("src").as("dst")))
      val seeds = Tables.supplier(s, d)
        .filter(col("s_suppkey") % 50 === 0)
        .select((col("s_suppkey") * 2).as("seed"))
      GraphRank.hopDistance(sym, "src", "dst", seeds, "seed", 3)
        .orderBy(col("node"))
    }),
      // BFS via a recursive CTE with UNION (not ALL): the working set per
      // level is the NEW (node, hops) rows only, so work stays bounded by
      // |edges|·maxHops instead of the path count; min(hops) = BFS level.
      """WITH RECURSIVE
        |e AS (SELECT DISTINCT l_suppkey*2 AS src, l_partkey*2+1 AS dst FROM lineitem
        |  UNION SELECT DISTINCT l_partkey*2+1 AS src, l_suppkey*2 AS dst FROM lineitem),
        |seedset AS (SELECT s_suppkey*2 AS node FROM supplier WHERE s_suppkey % 50 = 0),
        |nodes AS (SELECT DISTINCT node FROM
        |  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        |walk(node, hops) AS (
        |  SELECT n.node, CAST(0 AS BIGINT) AS hops
        |  FROM nodes n JOIN seedset s ON n.node = s.node
        |  UNION
        |  SELECT e.dst AS node, w.hops + 1 AS hops
        |  FROM walk w JOIN e ON w.node = e.src WHERE w.hops < 3
        |)
        |SELECT node, MIN(hops) AS hops FROM walk GROUP BY 1 ORDER BY 1""".stripMargin,
      memos = Set("supplier_part_edges")),

    // Deterministic DeepWalk corpus: 2 hash-stepped walks of length 3
    // from every node of the symmetrized co-purchase graph.
    QuerySpec("q118_random_walks", ((s, d) => {
      val fwd = supplierPartEdges(s, d)
      val sym = fwd.unionByName(fwd.select(col("dst").as("src"), col("src").as("dst")))
      GraphRank.randomWalks(sym, "src", "dst", walksPerNode = 2, walkLen = 3)
        .orderBy(col("walk_id"), col("step"))
    }),
      // The walk corpus replayed verbatim: ranked adjacency + the same
      // hash-mix step; UNION ALL is safe — each walk row extends to at
      // most one row, so the recursion is walk-count-bounded.
      """WITH RECURSIVE
        |e AS (SELECT DISTINCT l_suppkey*2 AS src, l_partkey*2+1 AS dst FROM lineitem
        |  UNION SELECT DISTINCT l_partkey*2+1 AS src, l_suppkey*2 AS dst FROM lineitem),
        |adj AS (SELECT src, dst,
        |  CAST(row_number() OVER (PARTITION BY src ORDER BY dst) AS BIGINT) - 1 AS rnk,
        |  CAST(count(*) OVER (PARTITION BY src) AS BIGINT) AS deg FROM e),
        |nodes AS (SELECT DISTINCT node FROM
        |  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        |walk(walk_id, step, node) AS (
        |  SELECT n.node*2 + t.i AS walk_id, CAST(0 AS BIGINT) AS step, n.node
        |  FROM nodes n, unnest(range(0, 2)) t(i)
        |  UNION ALL
        |  SELECT w.walk_id, w.step + 1 AS step, a.dst AS node
        |  FROM walk w JOIN adj a ON a.src = w.node
        |   AND a.rnk = ((w.node % 1000003)*8191 + (w.walk_id % 1000003)*127
        |                + (w.step+1)*524287) % 1000003 % a.deg
        |  WHERE w.step < 3
        |)
        |SELECT walk_id, step, node FROM walk ORDER BY walk_id, step""".stripMargin,
      memos = Set("supplier_part_edges")),

    // One GNN propagation step on a deterministic 2-regular-ish graph
    // over the embedding corpus: per-node neighbor feature sums.
    QuerySpec("q123_neighbor_agg", ((s, d) => {
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val n = emb.count()
      val e = emb.select(col("vec_id").as("src"),
          pmod(col("vec_id") + 1, lit(n)).as("dst"))
        .unionByName(emb.select(col("vec_id").as("src"),
          pmod(col("vec_id") * 37 + 11, lit(n)).as("dst")))
        .filter(col("src") =!= col("dst"))
      GraphRank.neighborAggregate(e, "src", "dst", emb, "vec_id", "embedding")
        .orderBy(col("node"), col("pos"))
    }),
      // Neighbor aggregation: quantize-then-sum in row form; the same
      // deterministic ring+skip graph, self-loops dropped.
      """WITH e AS (SELECT DISTINCT src, dst FROM (
        |    SELECT vec_id AS src, (vec_id+1) % (SELECT count(*) FROM embeddings) AS dst FROM embeddings
        |    UNION ALL
        |    SELECT vec_id, (vec_id*37+11) % (SELECT count(*) FROM embeddings) FROM embeddings)
        |  WHERE src <> dst),
        |f AS (SELECT vec_id AS src, CAST(i AS BIGINT) AS pos,
        |  CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE)*1000000) AS BIGINT) AS q
        |  FROM embeddings, unnest(range(1, 65)) t(i))
        |SELECT e.dst AS node, f.pos, CAST(SUM(f.q) AS BIGINT) AS sum_q,
        |  CAST(count(*) AS BIGINT) AS n_in
        |FROM e JOIN f ON e.src = f.src GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Modularity of the supplier/part bipartition on the co-purchase
    // graph — every edge crosses sides, so Q is negative (pairs with
    // q127's negative assortativity). Input is the shared distinct
    // supplier→part edge memo: modularityPpm normalizes (src≠dst filter
    // + distinct) internally, so the pre-distincted frame is provably
    // the same edge set as the raw lineitem projection, and the node
    // set (and so the labels) is unchanged by the dedup.
    QuerySpec("q130_modularity", ((s, d) => {
      val fwd = supplierPartEdges(s, d)
      val labels = fwd.select(col("src").as("node"))
        .unionByName(fwd.select(col("dst").as("node"))).distinct()
        .select(col("node"), pmod(col("node"), lit(2L)).as("side"))
      GraphRank.modularityPpm(fwd, "src", "dst", labels, "node", "side")
    }),
      // Modularity: one exact fraction sum(2m·mc2 − dc²)/(4m²), HUGEINT
      // only at the final ppm division.
      """WITH e AS (SELECT DISTINCT l_suppkey*2 AS src, l_partkey*2+1 AS dst FROM lineitem),
        |und AS (SELECT src, dst FROM e UNION SELECT dst AS src, src AS dst FROM e),
        |m AS (SELECT CAST(count(*)//2 AS BIGINT) AS m FROM und),
        |lab AS (SELECT node, node % 2 AS lab FROM (SELECT DISTINCT src AS node FROM und)),
        |l2 AS (SELECT la.lab AS la, lb.lab AS lb FROM und u
        |  JOIN lab la ON u.src = la.node JOIN lab lb ON u.dst = lb.node),
        |per AS (SELECT la, CAST(SUM(CASE WHEN la = lb THEN 1 ELSE 0 END) AS BIGINT) AS mc2,
        |  CAST(count(*) AS BIGINT) AS dc FROM l2 GROUP BY 1),
        |agg AS (SELECT CAST(SUM(2*m.m*mc2 - dc*dc) AS BIGINT) AS num FROM per, m)
        |SELECT m.m AS m_edges, CAST(CASE
        |  WHEN num >= 0 THEN (CAST(num AS HUGEINT)*1000000) // (CAST(m.m AS HUGEINT)*m.m*4)
        |  ELSE -((CAST(-num AS HUGEINT)*1000000) // (CAST(m.m AS HUGEINT)*m.m*4)) END AS BIGINT)
        |  AS modularity_ppm
        |FROM agg, m""".stripMargin,
      memos = Set("supplier_part_edges")),

    // Per-node local clustering coefficient on the part co-purchase
    // graph (parts sharing an order) — triangle participation and
    // cc_ppm per node via the oriented-adjacency edge iterator. The
    // edge set comes from the shared co-purchase pair memo (a < b,
    // distinct): clusteringCoefficientPpm normalizes its input with
    // least/greatest + distinct anyway, so the memoized pair set is
    // provably the same undirected edge set as the per-order self-join
    // it replaced (weights are ignored by the operator).
    QuerySpec("q131_clustering_coeff", ((s, d) =>
      GraphRank.clusteringCoefficientPpm(
          coPurchasePairs(s, d).select(col("a").as("src"), col("b").as("dst")),
          "src", "dst")
        .orderBy(col("n"))),
      // Clustering coefficient: a<b<c triangle enumeration credited to
      // all three vertices; cc_ppm = (2e6*tri) // (deg*(deg-1)).
      """WITH pe AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (SELECT DISTINCT a.p AS a, b.p AS b
        |  FROM pe a JOIN pe b ON a.o = b.o AND a.p < b.p),
        |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS deg FROM
        |  (SELECT a AS n FROM e UNION ALL SELECT b AS n FROM e) GROUP BY n),
        |tr AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1 JOIN e e2 ON e1.b = e2.a
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |tn AS (SELECT n, CAST(count(*) AS BIGINT) AS tri FROM
        |  (SELECT x AS n FROM tr UNION ALL SELECT y AS n FROM tr
        |   UNION ALL SELECT z AS n FROM tr) GROUP BY n)
        |SELECT d.n, d.deg, COALESCE(t.tri, 0) AS tri,
        |  CAST(CASE WHEN d.deg >= 2
        |    THEN (2000000 * COALESCE(t.tri, 0)) // (d.deg * (d.deg - 1))
        |    ELSE 0 END AS BIGINT) AS cc_ppm
        |FROM deg d LEFT JOIN tn t USING (n) ORDER BY n""".stripMargin,
      memos = Set("copurchase_pairs")),

    // Degree assortativity of the co-purchase graph in exact ppm
    // (bipartite-ish → expect it negative). Reads the shared distinct
    // supplier→part edge memo: degreeAssortativityPpm's own src≠dst
    // filter + distinct make the pre-distincted frame equivalent to the
    // raw lineitem projection it replaced.
    QuerySpec("q127_assortativity", ((s, d) =>
      GraphRank.degreeAssortativityPpm(supplierPartEdges(s, d), "src", "dst")),
      // Assortativity: both orientations make the marginals equal, so
      // r = num/den exactly — no sqrt; HUGEINT only for the ppm step.
      """WITH e AS (SELECT DISTINCT l_suppkey*2 AS src, l_partkey*2+1 AS dst FROM lineitem),
        |und AS (SELECT src, dst FROM e UNION SELECT dst AS src, src AS dst FROM e),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY 1),
        |p AS (SELECT dx.deg AS x, dy.deg AS y FROM und u
        |  JOIN deg dx ON u.src = dx.src JOIN deg dy ON u.dst = dy.src),
        |mm AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
        |  CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x*y) AS BIGINT) AS sxy,
        |  CAST(SUM(x*x) AS BIGINT) AS sxx FROM p),
        |nm AS (SELECT n, n*sxy - sx*sy AS num, n*sxx - sx*sx AS den FROM mm)
        |SELECT n AS n_dir, CAST(CASE WHEN den = 0 THEN 0
        |  WHEN num >= 0 THEN (CAST(num AS HUGEINT) * 1000000) // CAST(den AS HUGEINT)
        |  ELSE -((CAST(-num AS HUGEINT) * 1000000) // CAST(den AS HUGEINT)) END AS BIGINT)
        |  AS assortativity_ppm
        |FROM nm""".stripMargin,
      memos = Set("supplier_part_edges")),

    // X215 HyperBall on the distinct part co-purchase graph (q100's
    // edge construction): per part, the HLL-estimated 0/1/2-hop ball
    // size — the "how central is this item" probe without |V| BFS runs.
    QuerySpec("q250_hyperball", ((s, d) =>
      coPurchaseBalls(s, d).orderBy(col("node"), col("r"))),
      // Mirrors GraphRank.hyperBall (p=6, MaxRho=30, radii=2): seed
      // registers from the node-id polyhash+mix, two rounds of per-bucket
      // max over the symmetrized+self-looped edges, the integer harmonic
      // estimate read after every round.
      {
        val vh = dh("CAST(n AS VARCHAR)")
        s"""WITH pe AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
           |ed AS (SELECT DISTINCT x.p AS a, y.p AS b
           |  FROM pe x JOIN pe y ON x.o = y.o AND x.p < y.p),
           |nodes AS (SELECT a AS n FROM ed UNION SELECT b FROM ed),
           |und AS (SELECT a AS s, b AS t FROM ed
           |  UNION ALL SELECT b, a FROM ed
           |  UNION ALL SELECT n, n FROM nodes),
           |mx AS (SELECT n, ((48271 * ((h * h) % 1000000007)) % 1000000007
           |    + (16807 * h) % 1000000007) % 1000000007 AS m
           |  FROM (SELECT n, $vh AS h FROM nodes)),
           |r0 AS (SELECT n AS node, m % 64 AS bucket,
           |    CASE WHEN m // 64 = 0 THEN 30
           |         ELSE least(30, bit_count(((m // 64) & -(m // 64)) - 1) + 1)
           |    END AS register FROM mx),
           |r1 AS (SELECT u.s AS node, r0.bucket, max(r0.register) AS register
           |  FROM und u JOIN r0 ON r0.node = u.t GROUP BY 1, 2),
           |r2 AS (SELECT u.s AS node, r1.bucket, max(r1.register) AS register
           |  FROM und u JOIN r1 ON r1.node = u.t GROUP BY 1, 2),
           |est AS (
           |  SELECT node, CAST(0 AS BIGINT) AS r, count(*) AS occ,
           |      SUM(CAST(1 AS BIGINT) << CAST(30 - register AS INT)) AS s
           |    FROM r0 GROUP BY 1, 2
           |  UNION ALL SELECT node, 1, count(*),
           |      SUM(CAST(1 AS BIGINT) << CAST(30 - register AS INT))
           |    FROM r1 GROUP BY 1, 2
           |  UNION ALL SELECT node, 2, count(*),
           |      SUM(CAST(1 AS BIGINT) << CAST(30 - register AS INT))
           |    FROM r2 GROUP BY 1, 2)
           |SELECT node, r, CAST(occ AS BIGINT) AS n_occupied,
           |  CAST((709 * 64 * 64 * (CAST(1 AS BIGINT) << 30))
           |    // (1000 * (s + (64 - occ) * (CAST(1 AS BIGINT) << 30))) AS BIGINT) AS est
           |FROM est ORDER BY node, r""".stripMargin
      },
      memos = Set("copurchase_balls", "copurchase_pairs")),

    // X216 harmonic centrality off the q250 sketches: Σ shell_r / r in
    // ppm — per-node reach-weighted centrality with the 2-hop horizon.
    QuerySpec("q251_harmonic_centrality", ((s, d) =>
      // Reads q250's memoized sketch chain; the shell fold is all that
      // is specific to this query.
      GraphRank.harmonicFromBalls(coPurchaseBalls(s, d), radii = 2)
        .orderBy(col("node"))),
      // Mirrors GraphRank.harmonicCentrality: the q250 sketch chain, then
      // Σ ((est_r − est_{r−1})·1e6) // r per node with the lag window.
      {
        val vh = dh("CAST(n AS VARCHAR)")
        s"""WITH pe AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
           |ed AS (SELECT DISTINCT x.p AS a, y.p AS b
           |  FROM pe x JOIN pe y ON x.o = y.o AND x.p < y.p),
           |nodes AS (SELECT a AS n FROM ed UNION SELECT b FROM ed),
           |und AS (SELECT a AS s, b AS t FROM ed
           |  UNION ALL SELECT b, a FROM ed
           |  UNION ALL SELECT n, n FROM nodes),
           |mx AS (SELECT n, ((48271 * ((h * h) % 1000000007)) % 1000000007
           |    + (16807 * h) % 1000000007) % 1000000007 AS m
           |  FROM (SELECT n, $vh AS h FROM nodes)),
           |r0 AS (SELECT n AS node, m % 64 AS bucket,
           |    CASE WHEN m // 64 = 0 THEN 30
           |         ELSE least(30, bit_count(((m // 64) & -(m // 64)) - 1) + 1)
           |    END AS register FROM mx),
           |r1 AS (SELECT u.s AS node, r0.bucket, max(r0.register) AS register
           |  FROM und u JOIN r0 ON r0.node = u.t GROUP BY 1, 2),
           |r2 AS (SELECT u.s AS node, r1.bucket, max(r1.register) AS register
           |  FROM und u JOIN r1 ON r1.node = u.t GROUP BY 1, 2),
           |agg AS (
           |  SELECT node, CAST(0 AS BIGINT) AS r, count(*) AS occ,
           |      SUM(CAST(1 AS BIGINT) << CAST(30 - register AS INT)) AS s
           |    FROM r0 GROUP BY 1, 2
           |  UNION ALL SELECT node, 1, count(*),
           |      SUM(CAST(1 AS BIGINT) << CAST(30 - register AS INT))
           |    FROM r1 GROUP BY 1, 2
           |  UNION ALL SELECT node, 2, count(*),
           |      SUM(CAST(1 AS BIGINT) << CAST(30 - register AS INT))
           |    FROM r2 GROUP BY 1, 2),
           |res AS (SELECT node, r,
           |    CAST((709 * 64 * 64 * (CAST(1 AS BIGINT) << 30))
           |      // (1000 * (s + (64 - occ) * (CAST(1 AS BIGINT) << 30))) AS BIGINT) AS est
           |  FROM agg),
           |sh AS (SELECT node, r, est,
           |    lag(est) OVER (PARTITION BY node ORDER BY r) AS prev
           |  FROM res)
           |SELECT node,
           |  CAST(SUM(((est - prev) * 1000000) // r) AS BIGINT) AS centrality_ppm,
           |  CAST(MAX(CASE WHEN r = 2 THEN est END) AS BIGINT) AS reach_est
           |FROM sh WHERE r >= 1 GROUP BY node ORDER BY node""".stripMargin
      },
      memos = Set("copurchase_balls", "copurchase_pairs")),
  )
}
