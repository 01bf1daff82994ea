package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Integer-exact PageRank (Page et al. 1999) — the centrality signal a
  * corpus-curation pipeline uses to weight sources/documents by link
  * structure (CommonCrawl-style harmonic/PageRank corpus weighting).
  *
  * All arithmetic is integer: ranks live as quantized longs at scale
  * 10⁹, per-edge contributions are `rank DIV outdeg`, damping is
  * `(85 · x) DIV 100`, and the teleport base is
  * `(15 · (SCALE DIV n)) DIV 100`. Integer division loses a few
  * quanta of mass per step — the standard price for making the result
  * bit-identical under ANY partitioning, merge order, or engine
  * (the DuckDB oracle runs the same unrolled arithmetic). Dangling
  * nodes (no out-edges) simply leak their mass — documented choice,
  * mirrored by the oracle.
  *
  * Dataflow per iteration: ranks ⋈ edges on src (shuffle bounded by
  * |edges|), groupBy dst with a SUM — map-side combinable — then a
  * left join back onto the node set so sink nodes keep the teleport
  * base. Each iteration is localCheckpoint'ed: bounded lineage, and
  * iteration k is computed exactly once even though k+1 reads it
  * twice (join + base). Driver round-trips = `iters`, fixed and small
  * — unlike the convergence loops in [[ConnectedComponents]], rank
  * iteration count is a caller-chosen constant, so no fixpoint
  * detection is needed.
  */
object GraphRank {

  val Scale: Long = 1000000000L

  /** @param edges directed edges (srcCol, dstCol); symmetrize upstream
    *              for an undirected walk
    * @param iters fixed iteration count (unrolled by the oracle)
    * @param redistributeDangling when true, each iteration gathers the
    *              dangling nodes' rank mass D and hands every node its
    *              truncated share `D div n` INSIDE the damped term —
    *              the standard mass-conserving PageRank variant. The
    *              default leaks dangling mass (documented r7 choice);
    *              both spellings are mirrored by their oracles.
    * @return (node, rank_q): quantized rank per distinct node
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int = 3,
               redistributeDangling: Boolean = false): DataFrame = {
    require(iters >= 1, "pageRank needs at least one iteration")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct().localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct().localCheckpoint()
    val n = nodes.count()
    // An empty edge frame would otherwise surface as a bare
    // ArithmeticException at `Scale / n` — name the precondition.
    require(n > 0, "pageRank needs at least one edge")
    // Out-degree rides WITH the edge — joined once here, not once per
    // iteration (every loop join below already shuffles on src; no
    // reason to re-derive the degree side each round).
    val eDeg = e.join(e.groupBy("src").agg(count(lit(1)).as("__deg")), Seq("src"))
      .localCheckpoint(eager = false)
    // Dangling set (no out-edges) — static, computed once.
    val dangling = nodes.join(e.select(col("src")).distinct(),
        nodes("node") === col("src"), "left_anti")
      .localCheckpoint(eager = false)
    val base = (15L * (Scale / n)) / 100L
    var ranks = nodes.select(col("node"), lit(Scale / n).as("rank_q"))
      .localCheckpoint(eager = false)
    (1 to iters).foreach { it =>
      val contrib = ranks
        .join(eDeg, ranks("node") === eDeg("src"))
        .select(col("dst").as("node"),
          expr("rank_q div __deg").as("__c"))
        .groupBy("node").agg(sum("__c").as("__in"))
      val joined = nodes.join(contrib, Seq("node"), "left")
      val next =
        if (redistributeDangling) {
          // D as a ONE-ROW aggregate cross-joined broadcast: the loop
          // stays fully lazy (no per-iteration driver action), and the
          // physical join is a 1-row broadcast, not a shuffle. Share is
          // `D div n` per node — truncating, like every quantum here.
          val dmass = ranks.join(dangling, Seq("node"))
            .agg(coalesce(sum("rank_q"), lit(0L)).as("__d"))
          joined.crossJoin(broadcast(dmass))
            .select(col("node"),
              (lit(base) +
                expr(s"(85 * (coalesce(__in, 0L) + (__d div $n))) div 100"))
                .as("rank_q"))
        } else {
          joined.select(col("node"),
            (lit(base) + expr(s"(85 * coalesce(__in, 0L)) div 100"))
              .as("rank_q"))
        }
      // LAZY checkpoints, and only every CheckpointEvery-th iteration:
      // a checkpoint bounds lineage but REPLACES the frame with a bare
      // RDD scan whose partitioning Catalyst no longer knows, so every
      // checkpointed round re-exchanges both join sides. Between
      // checkpoints the optimizer sees the whole chain — the
      // groupBy(node) output's hashpartitioning flows into the next
      // round's joins and exchanges get reused. With the typical
      // fixed iters (3), the loop runs checkpoint-free; a caller
      // asking for 50 rounds still gets bounded lineage. The final
      // frame is always marked so callers inherit bounded lineage.
      // The redistribute variant reads ranks TWICE per round (contrib
      // + dangling mass), so an unmarked chain would DOUBLE per
      // iteration — that branch checkpoints every round, like r7.
      ranks =
        if (redistributeDangling || it % CheckpointEvery == 0 || it == iters)
          next.localCheckpoint(eager = false)
        else next
    }
    ranks
  }

  /** Checkpoint cadence inside the rank loop: high enough that short
    * fixed-iteration runs stay checkpoint-free (partitioning-aware),
    * low enough that long runs keep bounded lineage. */
  val CheckpointEvery: Int = 8

  /** X118: WEIGHTED PageRank — the variant real link/co-occurrence
    * graphs want (an edge crossed 500 times should carry 500× the
    * mass of a one-off): per-edge contribution is
    * `(rank · w) div sw(src)` with sw = the source's total out-weight,
    * pre-joined once like [[pageRank]]'s out-degree. Same integer
    * discipline (10⁹ scale, truncating DIV, 85/100 damping, leaking
    * dangling mass), so rank_q·w ≤ 10⁹·w stays far inside a Long for
    * any realistic weight and the unrolled oracle matches
    * bit-for-bit. Parallel edges collapse by summing their weights;
    * non-positive weights are dropped (a zero total out-weight would
    * be a division by zero, and negative mass is meaningless here) —
    * both mirrored by the oracle's aggregate-then-filter build.
    *
    * @return (node, rank_q) per distinct node
    */
  def pageRankWeighted(edges: DataFrame, srcCol: String, dstCol: String,
                       wCol: String, iters: Int = 3): DataFrame = {
    require(iters >= 1, "weighted PageRank needs at least one iteration")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
        col(wCol).cast("long").as("w"))
      .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
      .filter(col("w") > 0)
      .localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct().localCheckpoint()
    val n = nodes.count()
    require(n > 0, "weighted PageRank needs at least one positive-weight edge")
    val eW = e.join(e.groupBy("src").agg(sum(col("w")).as("__sw")), Seq("src"))
      .localCheckpoint(eager = false)
    val base = (15L * (Scale / n)) / 100L
    var ranks = nodes.select(col("node"), lit(Scale / n).as("rank_q"))
      .localCheckpoint(eager = false)
    (1 to iters).foreach { it =>
      val contrib = ranks
        .join(eW, ranks("node") === eW("src"))
        .select(col("dst").as("node"),
          expr("(rank_q * w) div __sw").as("__c"))
        .groupBy("node").agg(sum("__c").as("__in"))
      val next = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit(base) + expr("(85 * coalesce(__in, 0L)) div 100"))
            .as("rank_q"))
      ranks =
        if (it % CheckpointEvery == 0 || it == iters)
          next.localCheckpoint(eager = false)
        else next
    }
    ranks
  }

  /** X85: personalized PageRank — random-walk-with-restart proximity
    * to a SEED set (Haveliwala WWW'02): the teleport mass lands only on
    * the seeds, so ranks measure closeness to them rather than global
    * centrality. The similar-item / related-entity expansion primitive
    * (seed = one supplier's parts → ranked neighborhood), and the
    * seeded variant of [[pageRank]] with identical integer arithmetic:
    * quantized ranks on the 10⁹ scale, truncating DIV everywhere,
    * bit-identical under any partitioning.
    *
    * Init: rank = Scale div nS on each seed, 0 elsewhere; per round:
    * rank = seed·(15·(Scale div nS)) div 100 + (85·in) div 100. Seeds
    * outside the graph's node set are ignored (nS counts the
    * intersection, mirrored by the oracle); dangling mass leaks, like
    * the default [[pageRank]] spelling.
    *
    * Scale shape shared with [[pageRank]]: out-degree pre-joined once,
    * per-round shuffle bounded by |edges|, map-side-combinable sums,
    * fully lazy loop with the same checkpoint cadence. The seed flag
    * rides on the node frame (computed once), never re-derived.
    *
    * @return (node, rank_q) for every node of the graph
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                           seeds: DataFrame, seedCol: String,
                           iters: Int = 3): DataFrame = {
    require(iters >= 1, "personalized PageRank needs at least one iteration")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct().localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct()
    // flag computed ONCE and checkpointed: every round's base term and
    // the init both read it (an unmarked join would recompute the seed
    // intersection per iteration)
    val flagged = nodes.join(
        seeds.select(col(seedCol).as("node")).distinct()
          .withColumn("__s", lit(1L)),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("__s"), lit(0L)).as("__seed"))
      .localCheckpoint()
    val nS = flagged.agg(sum(col("__seed"))).head.getLong(0)
    require(nS > 0,
      "personalized PageRank needs at least one seed present in the graph")
    val eDeg = e.join(e.groupBy("src").agg(count(lit(1)).as("__deg")), Seq("src"))
      .localCheckpoint(eager = false)
    val base = (15L * (Scale / nS)) / 100L
    var ranks = flagged
      .select(col("node"), (col("__seed") * lit(Scale / nS)).as("rank_q"))
      .localCheckpoint(eager = false)
    (1 to iters).foreach { it =>
      val contrib = ranks
        .join(eDeg, ranks("node") === eDeg("src"))
        .select(col("dst").as("node"), expr("rank_q div __deg").as("__c"))
        .groupBy("node").agg(sum("__c").as("__in"))
      val next = flagged.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (col("__seed") * lit(base) +
            expr("(85 * coalesce(__in, 0L)) div 100")).as("rank_q"))
      ranks =
        if (it % CheckpointEvery == 0 || it == iters)
          next.localCheckpoint(eager = false)
        else next
    }
    ranks
  }

  /** X88: HITS hubs & authorities (Kleinberg JACM'99) — the directed
    * complement of PageRank for bipartite-ish link structures: a good
    * HUB points at good authorities, a good AUTHORITY is pointed at by
    * good hubs. The crawl-seeding / link-spam signal where a single
    * centrality can't separate the two roles.
    *
    * Integer-exact: scores live on the 10⁶ scale and each half-round
    * renormalizes by the vector's max (v ← v·10⁶ div max v — the
    * Spectral renorm discipline), so sums stay long-safe at any size
    * and the max-score node is pinned at exactly 10⁶ — bit-identical
    * under any partitioning, mirrored by an unrolled oracle.
    *
    * Shape: per half-round ONE edge-keyed equi-join + a
    * map-side-combinable sum; the renorm max is a ONE-ROW aggregate
    * attached by a broadcast cross-join (the [[pageRank]] dangling-mass
    * pattern), so the whole loop is LAZY — zero mid-loop driver
    * actions; the r10 spelling blocked on a `.head` per half-round
    * (2·iters scheduling round-trips). Frames checkpoint per
    * half-round because each is read twice (next half-round + the
    * output join).
    *
    * @return (node, hub_q, auth_q) for every node; nodes without the
    *         role score 0
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iters: Int = 2): DataFrame = {
    require(iters >= 1, "HITS needs at least one iteration")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct().localCheckpoint()
    // the max-score node of each half-round holds exactly 10⁶, so a
    // non-empty edge set can never drive a renorm max to 0 — name the
    // degenerate precondition ONCE here (reads the checkpoint blocks,
    // not the lineage) instead of probing the max per half-round
    require(e.count() > 0, "HITS on a degenerate (empty) graph")
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct().localCheckpoint(eager = false)
    var hub = nodes.select(col("node"), lit(1000000L).as("h"))
      .localCheckpoint(eager = false)
    var auth: DataFrame = null
    // In-loop frames are SPARSE: only nodes carrying the role's score
    // appear (r10 optimization — the old spelling left-joined `nodes`
    // every half-round to pad zeros, one |V| join + |V|-row checkpoint
    // per half-round). A zero-padded row contributes exactly 0 to the
    // next half-round's sum and cannot own the max (m > 0), so the
    // sparse and padded loops compute identical scores; the zeros are
    // attached ONCE on the way out. The renorm max rides as a ONE-ROW
    // broadcast cross-join (the pageRank dangling-mass pattern): the
    // loop stays fully lazy — the r10 `.head` spelling paid a blocking
    // driver action per half-round for the same scalar.
    def renorm(rawIn: DataFrame, joinKey: String, out: String): DataFrame = {
      // forked below (max agg + renormed output): mark it so one pass
      // computes the join+sum and the second reader hits the blocks
      val raw = rawIn.localCheckpoint(eager = false)
      val m = raw.agg(max(col("__v")).as("__m"))
      raw.crossJoin(broadcast(m))
        .select(col(joinKey).as("node"),
          expr("(__v * 1000000) div __m").as(out))
        .localCheckpoint(eager = false)
    }
    (1 to iters).foreach { _ =>
      auth = renorm(
        e.join(hub, e("src") === hub("node"))
          .groupBy(col("dst")).agg(sum(col("h")).as("__v")), "dst", "a")
      hub = renorm(
        e.join(auth, e("dst") === auth("node"))
          .groupBy(col("src")).agg(sum(col("a")).as("__v")), "src", "h")
    }
    nodes.join(hub, Seq("node"), "left").join(auth, Seq("node"), "left")
      .select(col("node"), coalesce(col("h"), lit(0L)).as("hub_q"),
        coalesce(col("a"), lit(0L)).as("auth_q"))
  }

  /** X90: multi-source BFS hop distance — the minimum number of edge
    * hops from any seed to each reachable node, capped at `maxHops`.
    * The graph-proximity labeler of a curation pipeline: "how far is
    * this document/site from the trusted seed set" (the crawl-frontier
    * / TrustRank-style distance signal), and the deterministic
    * complement of [[personalizedPageRank]]'s soft proximity.
    *
    * Level-synchronous frontier expansion — the Pregel BFS shape: per
    * round ONE src-keyed equi-join of the CURRENT FRONTIER (not the
    * whole reached set) against the edges, then an anti-join against
    * the reached set so each node is expanded exactly once. Total
    * shuffle across ALL rounds is therefore bounded by |edges| +
    * rounds·|reached| — each edge fires exactly once, when its source
    * enters the frontier. Rounds = `maxHops`, a caller-chosen constant
    * (no fixpoint detection needed); an emptied frontier makes the
    * remaining rounds empty-frame no-ops. Driver state: nothing
    * row-proportional.
    *
    * Out-of-graph seeds are ignored (the [[personalizedPageRank]]
    * convention, oracle-mirrored). Directed: symmetrize upstream for
    * an undirected distance.
    *
    * @return (node, hops) for nodes reachable within `maxHops`;
    *         seeds themselves at hops 0
    */
  def hopDistance(edges: DataFrame, srcCol: String, dstCol: String,
                  seeds: DataFrame, seedCol: String,
                  maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"negative hop cap: $maxHops")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct().localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
    var reached = nodes
      .join(seeds.select(col(seedCol).as("node")).distinct(), Seq("node"))
      .select(col("node"), lit(0L).as("hops"))
      .localCheckpoint() // read k+1 times: every round's anti-join + output
    var frontier = reached
    (1 to maxHops).foreach { k =>
      frontier = frontier
        .join(e, frontier("node") === e("src"))
        .select(col("dst").as("node")).distinct()
        .join(reached, Seq("node"), "left_anti")
        .select(col("node"), lit(k.toLong).as("hops"))
        .localCheckpoint() // forked: reached union + next round's join
      reached = reached.unionByName(frontier).localCheckpoint(eager = false)
    }
    reached
  }

  /** X91: deterministic random walks — the DeepWalk/node2vec corpus
    * generator (Perozzi et al. KDD'14): `walksPerNode` truncated walks
    * of ≤ `walkLen` steps from every node, emitted as (walk_id, step,
    * node) rows ready to feed a skip-gram trainer as "sentences".
    *
    * "Random" is a hash, not an RNG: step t of walk w at node v moves
    * to out-neighbor rank ((v mod M)·8191 + (w mod M)·127 + t·524287)
    * mod M mod outdeg(v), with M = 1000003 — every term stays far from
    * Long overflow, so the walk corpus is bit-identical on any engine,
    * partitioning, or retry (the property an RNG-seeded walker cannot
    * give on a cluster), and the oracle replays it verbatim.
    *
    * Shape: adjacency is ranked ONCE (row_number per src — the only
    * per-key sequential piece, sized by out-degree); each step is two
    * state-sized equi-joins — degree join to compute the pick, then
    * (src, rank) join to move — so per-step shuffle is |state| =
    * |nodes|·walksPerNode rows, NEVER Σ outdeg. Steps = `walkLen`, a
    * caller constant; walks reaching a sink simply end (inner degree
    * join drops them — truncated-walk semantics, oracle-mirrored).
    *
    * @return (walk_id, step, node); walk_id = node·walksPerNode + i
    */
  def randomWalks(edges: DataFrame, srcCol: String, dstCol: String,
                  walksPerNode: Int = 1, walkLen: Int = 3): DataFrame = {
    require(walksPerNode >= 1 && walkLen >= 0,
      s"need walksPerNode >= 1, walkLen >= 0: $walksPerNode, $walkLen")
    val M = 1000003L
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct().localCheckpoint()
    val adj = e.withColumn("rnk",
        row_number().over(Window.partitionBy("src").orderBy("dst")).cast("long") - 1)
      .localCheckpoint(eager = false)
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
      .localCheckpoint(eager = false)
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
    var cur = nodes
      .select(col("node"),
        explode(sequence(lit(0L), lit(walksPerNode - 1L))).as("__i"))
      .select((col("node") * walksPerNode + col("__i")).as("walk_id"),
        lit(0L).as("step"), col("node"))
      .localCheckpoint() // read twice: output union + step-1 join
    var out = cur
    (1 to walkLen).foreach { t =>
      val picked = cur.join(deg, cur("node") === deg("src"))
        .select(col("walk_id"), col("node"),
          ((col("node") % M) * 8191L + (col("walk_id") % M) * 127L
            + lit(t.toLong) * 524287L).%(M).%(col("deg")).as("pick"))
      cur = picked.join(adj,
          picked("node") === adj("src") && picked("pick") === adj("rnk"))
        .select(col("walk_id"), lit(t.toLong).as("step"), col("dst").as("node"))
        .localCheckpoint(eager = false) // forked: output union + next step
      out = out.unionByName(cur)
    }
    out
  }

  /** X96: neighbor feature aggregation — one graph-convolution
    * propagation step (the SGC/LightGCN primitive, Wu et al. ICML'19):
    * for every node, the element-wise SUM of its in-neighbors' feature
    * vectors plus the in-degree, from which any mean/renorm variant
    * derives exactly. The "enrich each document's embedding with its
    * link neighborhood" step of a graph-aware curation pipeline.
    *
    * Integer-exact: features quantize to longs at 10⁶ (the
    * [[Clustering]] Quantum discipline) BEFORE any aggregation, so
    * partial sums merge identically in any order; the caller divides
    * sum by count downstream if a mean is wanted (kept as (sum, n) —
    * exact, and engine div-semantics-proof).
    *
    * Shape and the r7 dims lesson: output and aggregation live in ROW
    * form (node, pos, …) — never a dims-wide aggregate column list, so
    * codegen width is constant in dimensionality ([[Spectral]]'s
    * documented weak axis). The feature array rides the edge join ONCE
    * per edge (array payload, one shuffle bounded by |edges|), then
    * explodes into the map-side-combinable (dst, pos) sum — the
    * explode happens AFTER the join so the shuffle moves |edges| rows,
    * not |edges|·dims.
    *
    * @return (node, pos, sum_q, n_in): 1-based pos, one row per
    *         in-degree>0 node and dimension
    */
  def neighborAggregate(edges: DataFrame, srcCol: String, dstCol: String,
                        feats: DataFrame, idCol: String,
                        vecCol: String): DataFrame = {
    val Quantum = 1000000L
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct()
    val f = feats.select(col(idCol).as("src"), col(vecCol).as("__v"))
    e.join(f, Seq("src"))
      .select(col("dst").as("node"), posexplode(col("__v")))
      .select(col("node"), (col("pos") + 1).cast("long").as("pos"),
        floor(col("col").cast("double") * Quantum).cast("long").as("__q"))
      .groupBy("node", "pos")
      .agg(sum(col("__q")).as("sum_q"), count(lit(1)).as("n_in"))
  }

  /** X100: degree assortativity (Newman PRL 2002) — the Pearson
    * correlation of endpoint degrees over the undirected edge set, in
    * exact ppm: positive = hubs link hubs (social-graph shape),
    * negative = hubs link leaves (web/bipartite shape). The one-number
    * graph-health signal a link-curation pipeline tracks across crawls
    * (a sudden assortativity flip = a link-farm or scraper artifact).
    *
    * Every edge enters in BOTH orientations, so the x and y marginals
    * coincide, the two denominator moments are equal, and the
    * correlation collapses to num/den — NO square root, hence exact:
    * r_ppm = sign(num)·((|num|·10⁶) div den), the [[graft.ops.Behavior
    * .trendSlopePpm]] truncation discipline, with only the final ·10⁶
    * step widened to DECIMAL(38,0) (moment sums stay in Long — exact
    * while m·maxdeg² ≤ 9·10¹⁸; re-encode degrees first beyond that).
    *
    * Shape: symmetrize, one degree aggregate, two |edges|-bounded
    * equi-joins to attach endpoint degrees, one global moment
    * aggregate (map-side combinable; a single output row).
    *
    * @return one row: (n_dir = 2·|undirected edges|, assortativity_ppm)
    */
  def degreeAssortativityPpm(edges: DataFrame, srcCol: String,
                             dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    val und = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint(eager = false) // forked: degree agg + pair join
    val deg = und.groupBy("src").agg(count(lit(1)).as("deg"))
      .localCheckpoint(eager = false) // forked: both endpoint joins
    und
      .join(deg.select(col("src"), col("deg").as("x")), Seq("src"))
      .join(deg.select(col("src").as("dst"), col("deg").as("y")), Seq("dst"))
      .agg(count(lit(1)).as("n_dir"), sum(col("x")).as("__sx"),
        sum(col("y")).as("__sy"), sum(col("x") * col("y")).as("__sxy"),
        sum(col("x") * col("x")).as("__sxx"))
      .select(col("n_dir"),
        (col("n_dir") * col("__sxy") - col("__sx") * col("__sy")).as("__num"),
        (col("n_dir") * col("__sxx") - col("__sx") * col("__sx")).as("__den"))
      .select(col("n_dir"),
        when(col("__den") === 0, lit(0L))
          .when(col("__num") >= 0,
            expr("(cast(__num as decimal(38,0)) * 1000000) div cast(__den as decimal(38,0))"))
          .otherwise(-expr("(cast(-__num as decimal(38,0)) * 1000000) div cast(__den as decimal(38,0))"))
          .as("assortativity_ppm"))
  }

  /** X103: modularity of a node labeling (Newman & Girvan 2004) — the
    * community-quality score in exact ppm: Q = Σ_c (m_c/m − (d_c/2m)²)
    * for intra-community edge count m_c and community degree sum d_c
    * over the undirected edge set. THE evaluation metric for X75's
    * label propagation (and any clustering of a graph): Q near 0 =
    * labels no better than chance, Q < 0 = anti-community structure
    * (e.g. a bipartition of a bipartite graph).
    *
    * Single exact fraction — Q = Σ_c (4·m·m_c − d_c²) / (4m²) — so ONE
    * truncating division happens at the end (sign·(|num|·10⁶ div den),
    * the trendSlopePpm discipline, DECIMAL(38,0) for the final step):
    * per-community divisions would each truncate and not sum back.
    * Long moment sums are exact while m ≤ ~1.5·10⁹ undirected edges
    * (|num| ≤ 4m²); widen the per-label terms to decimal beyond that.
    *
    * Shape: symmetrize + two label attachments (edge-bounded
    * equi-joins), one intra-edge count and one degree-sum aggregate —
    * both map-side combinable over |labels|-sized keys — then a
    * single-row fold. m comes from one bounded driver count.
    *
    * @param labels (nodeCol, labelCol) — every graph node must appear
    * @return one row: (m_edges, modularity_ppm)
    */
  def modularityPpm(edges: DataFrame, srcCol: String, dstCol: String,
                    labels: DataFrame, nodeCol: String,
                    labelCol: String): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    val und = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint() // forked: m count + labeled joins
    val m = und.count() / 2
    require(m > 0, "modularity needs at least one edge")
    val lab = labels.select(col(nodeCol).as("node"), col(labelCol).as("lab"))
    val labeled = und
      .join(lab.select(col("node").as("src"), col("lab").as("la")), Seq("src"))
      .join(lab.select(col("node").as("dst"), col("lab").as("lb")), Seq("dst"))
      .localCheckpoint(eager = false) // forked: intra count + degree sum
    // directed intra count = 2·m_c; directed degree sum per label = d_c
    val perLabel = labeled
      .groupBy(col("la"))
      .agg((sum(when(col("la") === col("lb"), 1L).otherwise(0L))).as("__mc2"),
        count(lit(1)).as("__dc"))
    perLabel
      // num = Σ_c (4·m·m_c − d_c²) = Σ_c (2·m·__mc2 − __dc²)
      .agg(sum(lit(2L * m) * col("__mc2") - col("__dc") * col("__dc")).as("__num"))
      .select(lit(m).as("m_edges"),
        // 4m² is built IN decimal — a long literal would overflow past
        // m ≈ 1.5·10⁹ edges
        when(col("__num") >= 0,
          expr(s"(cast(__num as decimal(38,0)) * 1000000) div (cast(${m}L as decimal(38,0)) * ${m}L * 4)"))
          .otherwise(-expr(s"(cast(-__num as decimal(38,0)) * 1000000) div (cast(${m}L as decimal(38,0)) * ${m}L * 4)"))
          .as("modularity_ppm"))
  }

  /** X72: triangle counting via the degree-ordered node iterator
    * (Suri & Vassilvitskii WWW'11; the MapReduce-era standard) — the
    * clustering-coefficient numerator, and the graph-health signal
    * (spam farms and scraped link rings are triangle-dense).
    *
    * Every edge is oriented from its LOWER endpoint under the total
    * order (degree, node), which bounds every out-degree by √(2m) —
    * the skew killer. Counting then runs as the EDGE iterator on the
    * oriented graph: for each oriented edge (u,v), the triangles it
    * closes are |N⁺(u) ∩ N⁺(v)|, and each triangle is counted exactly
    * once (at the edge whose two endpoints both point at its third,
    * highest-ordered vertex).
    *
    * Shape: normalize+distinct, one degree aggregate, one adjacency
    * aggregate (sorted out-neighbor array per node, ≤ √(2m) entries by
    * the orientation bound — bounded row width at any scale), and two
    * equi-joins that attach each edge's endpoint arrays. The
    * intersection happens IN-CORE per edge row inside codegen — the
    * Σ min(deg) wedge volume is CPU work, never shuffle rows, unlike
    * the classic wedge self-join which materializes every wedge into
    * the exchange (measured 46.7 → ~6 s on the dense sf0.1 co-supply
    * graph, where ~500k edges over ~1k nodes wedge-expand to ~166M
    * rows).
    *
    * @return one row: (n_triangles)
    */
  /** Synchronous weighted label propagation (Raghavan et al. 2007),
    * a FIXED number of rounds — the community-detection step a corpus
    * pipeline runs on its co-occurrence graphs where connected
    * components (X17) are too coarse: each round every node adopts the
    * label carrying the greatest incident edge weight, ties to the
    * smaller label. Deterministic by construction (no random visit
    * order), so the unrolled DuckDB oracle reproduces it exactly.
    *
    * Per round: labels (node-keyed) equi-join the symmetrized edge
    * list on the neighbor end, then TWO map-side-combinable
    * aggregates — (node, label) weight sums, then the per-node argmax
    * as a struct-min on (−weight, label) (q64's window-free argmax
    * discipline). Shuffle per round is bounded by 2·|edges|; rounds
    * are caller-fixed, each localCheckpoint'ed to truncate lineage.
    *
    * @param wCol positive integer edge weight
    * @return (n, lbl) for every node with at least one edge
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       wCol: String, rounds: Int = 2): DataFrame = {
    require(rounds >= 1, "label propagation needs at least one round")
    val ew = edges.select(col(srcCol).as("a"), col(dstCol).as("b"),
      col(wCol).cast("long").as("w"))
    // Symmetrize by EXPLODING each edge into both directions — one pass
    // over the (possibly expensive) edge lineage, where a self-union
    // would compute it twice before the checkpoint materializes.
    val sym = ew.select(explode(array(
        struct(col("a").as("n"), col("b").as("m"), col("w")),
        struct(col("b").as("n"), col("a").as("m"), col("w")))).as("__e"))
      .select(col("__e.n").as("n"), col("__e.m").as("m"), col("__e.w").as("w"))
      .localCheckpoint(eager = false) // read every round
    var labels = sym.select(col("n")).distinct()
      .select(col("n"), col("n").as("lbl"))
      .localCheckpoint(eager = false)
    (1 to rounds).foreach { _ =>
      labels = sym.join(labels.select(col("n").as("m"), col("lbl")), Seq("m"))
        .groupBy(col("n"), col("lbl")).agg(sum(col("w")).as("__tw"))
        .groupBy(col("n"))
        .agg(min(struct((-col("__tw")).as("__nw"), col("lbl"))).as("__m"))
        .select(col("n"), col("__m.lbl").as("lbl"))
        .localCheckpoint(eager = false)
    }
    labels
  }

  /** `rounds` synchronous peel steps toward the k-core: each step
    * drops every node whose degree in the surviving subgraph is below
    * k, together with its edges. With a fixed round count this is the
    * BOUNDED approximation the unrolled oracle can mirror (converged
    * iff a round removes nothing); the exact k-core is its fixpoint.
    * The densest-region extractor for co-occurrence graphs — and the
    * standard pre-filter before the quadratic-ish graph analytics
    * (triangles, community detection) since it only ever SHRINKS the
    * edge set.
    *
    * Per round: one map-side-combinable degree aggregate (each edge
    * explodes to its two endpoints) and two left-semi joins keyed on
    * the endpoints — shuffle bounded by the CURRENT |edges|, which is
    * non-increasing. Zero driver state; fixed rounds, each
    * localCheckpoint'ed.
    *
    * @return (n, deg): survivors of the final round with their degree
    *         in the round's input subgraph (≥ k)
    */
  def kCorePeel(edges: DataFrame, srcCol: String, dstCol: String,
                k: Int, rounds: Int = 3): DataFrame = {
    require(k >= 1, "kCorePeel needs k >= 1")
    require(rounds >= 1, "kCorePeel needs at least one round")
    var e = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(eager = false)
    var out: DataFrame = null
    (1 to rounds).foreach { r =>
      val surv = e.select(explode(array(col("a"), col("b"))).as("n"))
        .groupBy(col("n")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .localCheckpoint(eager = false)
      out = surv
      if (r < rounds)
        e = e.join(surv.select(col("n").as("a")), Seq("a"), "left_semi")
          .join(surv.select(col("n").as("b")), Seq("b"), "left_semi")
          .localCheckpoint(eager = false)
    }
    out.select(col("n"), col("deg"))
  }

  def triangleCount(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e0 = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(eager = false) // degrees, orientation, closing join
    val deg = e0.select(explode(array(col("a"), col("b"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    val dir = e0
      .join(deg.select(col("n").as("a"), col("deg").as("__da")), Seq("a"))
      .join(deg.select(col("n").as("b"), col("deg").as("__db")), Seq("b"))
      .select(
        when(col("__da") < col("__db") ||
          (col("__da") === col("__db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("v")))
          .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("__e"))
      .select(col("__e.u").as("u"), col("__e.v").as("v"))
      .localCheckpoint(eager = false) // forked: adjacency build + probe side
    val adj = dir.groupBy(col("u"))
      .agg(array_sort(collect_list(col("v"))).as("nbrs"))
    dir
      .join(adj.select(col("u"), col("nbrs").as("__nu")), Seq("u"))
      .join(adj.select(col("u").as("v"), col("nbrs").as("__nv")), Seq("v"))
      .select(size(array_intersect(col("__nu"), col("__nv")))
        .cast("long").as("__t"))
      .agg(coalesce(sum(col("__t")), lit(0L)).as("n_triangles"))
  }

  /** X104: per-node triangle participation and local clustering
    * coefficient in ppm — the node-level refinement of
    * [[triangleCount]], and the standard link-farm / scraped-ring
    * detector (organic neighborhoods close triangles; spam stars and
    * chains don't).
    *
    * Same oriented-adjacency machinery as [[triangleCount]]: each
    * oriented edge (u,v) closes |N⁺(u) ∩ N⁺(v)| triangles; here the
    * closing set is EXPLODED so each triangle {u,v,w} credits all
    * three of its vertices — output rows are 3·|triangles|,
    * output-proportional, never wedge-proportional. The coefficient
    * is the division-free integer
    * `cc_ppm = (2·10⁶·tri) DIV (deg·(deg−1))` (0 when deg < 2), so
    * the result is bit-identical on any engine and the oracle can
    * mirror it verbatim.
    *
    * @return (n, deg, tri, cc_ppm) — one row per node of the
    *         normalized simple graph
    */
  def clusteringCoefficientPpm(edges: DataFrame, srcCol: String,
                               dstCol: String): DataFrame = {
    val e0 = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(eager = false) // forked: degrees + orientation
    val deg = e0.select(explode(array(col("a"), col("b"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(eager = false) // forked: orientation join + output
    val dir = e0
      .join(deg.select(col("n").as("a"), col("deg").as("__da")), Seq("a"))
      .join(deg.select(col("n").as("b"), col("deg").as("__db")), Seq("b"))
      .select(
        when(col("__da") < col("__db") ||
          (col("__da") === col("__db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("v")))
          .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("__e"))
      .select(col("__e.u").as("u"), col("__e.v").as("v"))
      .localCheckpoint(eager = false) // forked: adjacency build + probe side
    val adj = dir.groupBy(col("u"))
      .agg(array_sort(collect_list(col("v"))).as("nbrs"))
    val tri = dir
      .join(adj.select(col("u"), col("nbrs").as("__nu")), Seq("u"))
      .join(adj.select(col("u").as("v"), col("nbrs").as("__nv")), Seq("v"))
      .select(col("u"), col("v"),
        explode(array_intersect(col("__nu"), col("__nv"))).as("w"))
      .select(explode(array(col("u"), col("v"), col("w"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("tri"))
    deg.join(tri, Seq("n"), "left")
      .select(col("n"), col("deg"),
        coalesce(col("tri"), lit(0L)).as("tri"),
        when(col("deg") >= 2,
          expr("(2000000 * coalesce(tri, 0L)) div (deg * (deg - 1))")
            .cast("long"))
          .otherwise(lit(0L)).as("cc_ppm"))
  }

  /** In-core i<j pair expansion of a sorted value-set column: each
    * row's pairs are enumerated inside codegen (higher-order
    * functions), so pair rows exist only as the downstream
    * aggregation's INPUT — never as shuffle rows of a self-join. The
    * one-shuffle replacement for the classic distinct + equi-self-join
    * pair spelling (guide §2.3 "aggregate before you shuffle" / §2.4):
    * the partial collect_set combines map-side, so the exchange
    * carries one set row per key instead of the edge list twice plus
    * the joined pairs. Per-row work/memory is C(|set|, 2) — callers
    * own the bound (basket sizes are small constants; degree-capped
    * callers filter on set size before expanding). */
  def pairsFromSets(grouped: DataFrame, vsCol: String): DataFrame = {
    // withColumn would silently replace these (case-insensitively)
    val clash = grouped.columns.filter(c => Seq("a", "b", "__p").exists(_.equalsIgnoreCase(c)))
    require(clash.isEmpty,
      s"pairsFromSets: input already has column(s) ${clash.mkString(", ")}")
    val vs = "`" + vsCol.replace("`", "``") + "`"
    grouped.withColumn("__p", explode(expr(
        s"flatten(transform($vs, (x, i) -> " +
        s"transform(slice($vs, i + 2, size($vs)), " +
        "y -> named_struct('a', x, 'b', y))))")))
      .withColumn("a", col("__p.a")).withColumn("b", col("__p.b"))
      .drop(vsCol, "__p")
  }

  /** Distinct (a < b) value pairs sharing a key, one row per
    * (key, pair) incidence — the shared-neighbor pair generator
    * ([[commonNeighborPairs]] without the cap/floor), via the
    * one-shuffle [[pairsFromSets]] path. Identical to the
    * distinct-then-self-join spelling: collect_set dedups values per
    * key, nulls never pair on either spelling (collect_set drops them;
    * the v < v' predicate rejected them), null keys never pair (the
    * equi-join never matched them; filtered here). */
  def keyedValuePairs(df: DataFrame, keyCol: String, valCol: String): DataFrame =
    pairsFromSets(
      df.filter(col(keyCol).isNotNull)
        .groupBy(col(keyCol).as("__k"))
        .agg(array_sort(collect_set(col(valCol))).as("__vs")),
      "__vs")

  /** X126 core: pairs of `valCol` nodes sharing a `keyCol` neighbor,
    * with the shared-neighbor count — the common-neighbor similarity
    * both citation-graph classics reduce to (co-citation pairs DSTs
    * per SRC, bibliographic coupling pairs SRCs per DST; see the
    * wrappers).
    *
    * Work bound: the wedge expansion is Σ deg(key)² — quadratic in hub
    * keys, so keys above `maxKeyDegree` are EXCLUDED before pairing
    * (the q24 stop-shingle discipline: a reference cited by everyone
    * carries no pair signal and all of the cost; the cap is part of
    * the operator contract and every oracle mirrors it). `minCommon`
    * gates output AFTER counting — it cannot prune the join, only the
    * result.
    *
    * Dataflow: one map-side-combinable value-set aggregation per key,
    * the degree gate as a set-size filter, in-core pair expansion
    * ([[pairsFromSets]]), one pair count. No windows, no driver state.
    *
    * @return (id_a, id_b, n_common) with id_a < id_b
    */
  def commonNeighborPairs(edges: DataFrame, keyCol: String, valCol: String,
                          maxKeyDegree: Long, minCommon: Long): DataFrame = {
    require(maxKeyDegree >= 1, s"non-positive degree cap: $maxKeyDegree")
    require(minCommon >= 1, s"non-positive support floor: $minCommon")
    // One map-side-combinable set aggregation replaces the old
    // distinct + degree semi-join + equi-self-join (three exchanges of
    // the edge list → one): the key's degree IS its distinct value
    // count — size(set) plus one when a null value exists, since the
    // old spelling's distinct kept a (k, null) row that counted toward
    // the degree gate but could never pair (guide §2.4).
    val grouped = edges.select(col(keyCol).as("__k"), col(valCol).as("__v"))
      .filter(col("__k").isNotNull)
      .groupBy(col("__k"))
      .agg(array_sort(collect_set(col("__v"))).as("__vs"),
        max(col("__v").isNull).as("__hasNull"))
      .filter(size(col("__vs")) +
        when(col("__hasNull"), 1).otherwise(0) <= maxKeyDegree)
      .drop("__hasNull")
    pairsFromSets(grouped, "__vs")
      .groupBy(col("a").as("id_a"), col("b").as("id_b"))
      .agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= minCommon)
  }

  /** X141: deterministic negative-edge sampling — the link-prediction
    * training-data generator (the standard negative-sampling step of
    * every GNN/embedding link model): per positive edge, `negPerEdge`
    * pseudo-random NON-edges from the same source, reproducible
    * bit-for-bit under any partitioning because the RNG is
    * [[randomWalks]]' hash spelling ((src·8191 + k·127 + 524287) mod
    * 1000003) mod N over a DENSE node index — what a seeded RNG cannot
    * give on a cluster.
    *
    * The node index is [[graft.ops.Packing]]'s distributed rank (no
    * single-partition window over the node set); candidates
    * over-generate by `overGen`× then drop self-loops and real edges
    * (one anti-join), and the per-source quota keeps the FIRST
    * survivors in attempt order — a rank window whose partition is
    * ∝ that source's own candidate count, never the graph. Sources
    * whose neighborhoods cover most of the graph can deliver fewer
    * than their quota (documented; raise `overGen`).
    *
    * @param negPerEdge negatives requested per positive edge
    * @param overGen    candidate over-generation factor (≥ 2)
    * @return (src, neg_dst, rnk) with rnk 1..quota in attempt order;
    *         node ids must be numeric (the hash is arithmetic)
    */
  def negativeEdges(edges: DataFrame, srcCol: String, dstCol: String,
                    negPerEdge: Int = 1, overGen: Int = 2): DataFrame = {
    require(negPerEdge >= 1, s"non-positive negPerEdge: $negPerEdge")
    require(overGen >= 2, s"over-generation factor must be >= 2: $overGen")
    val M = 1000003L
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct()
      .localCheckpoint(eager = false) // forked: nodes + degrees + anti-join
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
      .select(struct(col("node").as("n")).as("__sk"), lit(1L).as("__one"))
    val idx = Packing.runningTotalsMulti(nodes, "__sk", Seq("__one"))
      .select(col("__id.n").as("node"), (col("__one_cum") - 1).as("cidx"))
      .localCheckpoint(eager = false) // forked: candidate map + node count
    val nCount = idx.agg(count(lit(1)).as("n_nodes"))
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(eager = false) // forked: generation + quota join
    val gen = deg.crossJoin(broadcast(nCount))
      .select(col("src"),
        explode(sequence(lit(0L),
          col("deg") * (negPerEdge * overGen) - 1)).as("k"),
        col("n_nodes"))
      .select(col("src"), col("k"),
        (((col("src") % M) * 8191L + (col("k") % M) * 127L + lit(524287L))
          % M % col("n_nodes")).as("cidx"))
    val w = Window.partitionBy("src").orderBy(col("k").asc)
    gen.join(idx.select(col("cidx"), col("node").as("neg_dst")), Seq("cidx"))
      .filter(col("neg_dst") =!= col("src"))
      .join(e.select(col("src"), col("dst").as("neg_dst")),
        Seq("src", "neg_dst"), "left_anti")
      .join(deg, Seq("src"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= col("deg") * negPerEdge)
      .select(col("src"), col("neg_dst"), col("rnk"))
  }

  /** Bibliographic coupling (Kessler AmDoc 1963): how many references
    * two documents SHARE — pairs of edge sources sharing a
    * destination. `maxCitedFanin` caps a cited node's in-degree. */
  def bibCoupling(edges: DataFrame, srcCol: String, dstCol: String,
                  maxCitedFanin: Long = 1000, minCommon: Long = 2): DataFrame =
    commonNeighborPairs(edges, dstCol, srcCol, maxCitedFanin, minCommon)


  /** X215: HyperBall — the approximate neighborhood function: for every
    * node, an HLL-sketched estimate of |B(v, r)|, the number of nodes
    * within r hops (Palmer, Gibbons & Faloutsos, "ANF", KDD 2002;
    * Boldi, Rosa & Vigna, "HyperANF", WWW 2011 — the algorithm that
    * measured the Facebook graph's four degrees). Exact r-hop
    * reachability is a frontier BFS per node (|V| traversals); this
    * keeps ONE fixed-size register sketch per node and runs r rounds of
    * "my ball = me ∪ my neighbors' balls", which the HLL union (per-
    * bucket max) prices in m small ints per node — the graph-scale
    * "how connected is this corpus / how big is each doc's citation
    * ball" probe that is flatly impossible exactly at 100 TB.
    *
    * Determinism: registers are [[graft.ops.Sketches.hllRegisters]]'
    * (polyhash + quadratic mix, trailing-zero rho) and the union is a
    * max — order-free, merge-safe, engine-portable; estimates are the
    * integer harmonic [[graft.ops.Sketches.hllEstimate]] fold. The
    * estimate at r = 0 is the sketch's read of the singleton ball
    * (≈ 1) — reported, not special-cased, so the error model is uniform
    * across radii.
    *
    * Scale shape (HyperANF §4's own layout): the m registers live in
    * ONE packed vector per node — m/8 bigints of eight 7-bit byte
    * lanes — so each round is ONE equi-join of the symmetrized edge
    * list against the ≤ |V|-row vector table and one
    * [[graft.functions.PackedRegMaxAgg]] lane-max: a DECLARATIVE
    * aggregate over primitive long buffer slots, so the merge runs on
    * HashAggregateExec's fast path inside whole-stage codegen with
    * map-side partial combine, and the join moves |E| rows (not
    * |E|·m); state never exceeds |V| vectors; rounds are lazily
    * localCheckpoint'ed (bounded lineage, the
    * [[graft.ops.ConnectedComponents]] discipline). The row-per-bucket
    * spelling ([[graft.ops.Sketches.hllRegisters]] + per-(node, bucket)
    * max) computes identical registers but starves the partial
    * aggregate once the graph densifies — the r10 golden sweep
    * measured it super-linear (771.6 s at 10×, ~70× for 10× data);
    * the packed rewrite is the scoped fix, bit-identical output
    * (spec-pinned). The radius loop is driver-side orchestration of
    * r ≪ diameter rounds, not per-node work.
    *
    * @param edges undirected edges (a, b); isolated nodes don't appear
    * @return (node, r, n_occupied, est) for r = 0..radii — est ≈ |B(node, r)|
    */
  def hyperBall(edges: DataFrame, radii: Int, p: Int = 6): DataFrame = {
    require(radii >= 1 && radii <= 30, s"radii must sit in [1, 30]: $radii")
    require(p >= 3, s"packed layout needs p >= 3 (full lane-longs): $p")
    val nLongs = (1 << p) / 8
    val nodes = edges.select(col("a").as("node"))
      .unionByName(edges.select(col("b").as("node"))).distinct()
      .localCheckpoint(eager = false) // forked: seed registers + self-loops
    val und = edges.select(col("a"), col("b"))
      .unionByName(edges.select(col("b").as("a"), col("a").as("b")))
      .unionByName(nodes.select(col("node").as("a"), col("node").as("b")))
      .localCheckpoint(eager = false) // probed once per round
    // seed: each node's own rho lands in lane (bucket mod 8) of long
    // (bucket div 8); the lane-max aggregate unions duplicates
    var regs = Sketches.hllRhoRows(nodes, "node", col("node").cast("string"), p)
      .select(col("node"),
        expr(s"transform(sequence(0, ${nLongs - 1}), i -> " +
          "IF(bucket DIV 8 = i, shiftleft(__rho, cast(8 * (bucket % 8) AS int)), 0L))")
          .as("regs"))
      .groupBy(col("node"))
      .agg(expr(s"graft_packmax(regs, $nLongs)").as("regs"))
      .localCheckpoint(eager = false)
    var out = packedEstimate(regs, 0L, p)
    for (r <- 1 to radii) {
      regs = ballRound(und, regs, nLongs)
        .localCheckpoint(eager = false) // next round + this round's read
      out = out.unionByName(packedEstimate(regs, r.toLong, p))
    }
    out
  }

  /** One HyperBall round: pull every neighbor's packed vector across
    * the edge list and lane-max per owner — |E| single-vector rows
    * through one equi-join and one map-side-combining declarative
    * aggregate. Factored out (pre-checkpoint) so the plan shape is
    * pinnable. */
  private[graft] def ballRound(und: DataFrame, regs: DataFrame,
                               nLongs: Int): DataFrame =
    und
      .join(regs, und("b") === regs("node"))
      .groupBy(und("a").as("node"))
      .agg(expr(s"graft_packmax(regs, $nLongs)").as("regs"))

  /** [[graft.ops.Sketches.hllEstimate]]'s integer-exact arithmetic read
    * off a packed register vector: split each long into its eight byte
    * lanes (bucket = 8·i + j, matching the seed pack), then the same
    * harmonic fold — an empty bucket (rho 0) contributes the full
    * 2^MaxRho weight, exactly the (m − n_occupied) term of the
    * row-based spelling, so the two layouts estimate bit-identically. */
  private def packedEstimate(regs: DataFrame, r: Long, p: Int): DataFrame = {
    val m = 1L << p
    val full = 1L << Sketches.MaxRho
    regs
      .select(col("node"), lit(r).as("r"),
        expr("flatten(transform(regs, L -> transform(sequence(0, 7), " +
          "j -> shiftright(L, cast(8 * j AS int)) & 255)))").as("__a"))
      .select(col("node"), col("r"),
        expr("cast(size(filter(__a, x -> x > 0)) as bigint)").as("n_occupied"),
        expr(s"(709 * $m * $m * ${full}L) DIV (1000 * aggregate(__a, 0L, " +
          s"(acc, x) -> acc + shiftleft(1L, cast(${Sketches.MaxRho} - x as int))))")
          .as("est"))
  }

  /** X216: harmonic centrality, approximated from the [[hyperBall]]
    * sketches — Boldi & Vigna's own application ("Axioms for
    * centrality", Internet Math 2014; HyperANF WWW 2011): H(v) =
    * Σ_{u≠v} 1/d(u,v), read from the ball sizes as Σ_r (|B(v,r)| −
    * |B(v,r−1)|)/r — every node first reached at radius r contributes
    * 1/r. The centrality that handles disconnected graphs out of the
    * box (unreachable nodes contribute 0, no ∞ to patch, unlike
    * closeness) — per-node, at graph scales where |V| BFS runs are
    * impossible; truncation at `radii` is the documented horizon (the
    * tail past r contributes < (|V|−|B(v,radii)|)/(radii+1)).
    *
    * Integer-exact given the sketches: the shell term is
    * ((est_r − est_{r−1})·10⁶) div r — est is [[hyperBall]]'s integer
    * harmonic estimate, provably non-decreasing in r (registers only
    * grow under max; the estimator is monotone in registers), so every
    * shell is ≥ 0 and the fold is engine-portable. est ≤ 709·2¹²·2³⁰
    * div (1000·64) < 5·10¹⁰, so shell·10⁶ sits far inside a long.
    *
    * @return (node, centrality_ppm, reach_est) — reach_est = the
    *         estimated |B(node, radii)| the truncation saw
    */
  def harmonicCentrality(edges: DataFrame, radii: Int,
                         p: Int = 6): DataFrame =
    harmonicFromBalls(hyperBall(edges, radii, p), radii)

  /** The shell fold alone, over an already-computed [[hyperBall]] frame —
    * split out so a caller holding the sketches (e.g. a run computing
    * both ball sizes and centrality) does not re-run the whole register
    * chain. Identical arithmetic to the fused spelling. */
  def harmonicFromBalls(balls: DataFrame, radii: Int): DataFrame = {
    val w = Window.partitionBy(col("node")).orderBy(col("r").asc)
    balls
      .withColumn("__prev", lag(col("est"), 1).over(w))
      .filter(col("r") >= 1)
      .groupBy(col("node"))
      .agg(sum(expr("((est - __prev) * 1000000) div r")).as("centrality_ppm"),
        max(when(col("r") === radii, col("est"))).as("reach_est"))
  }
}
