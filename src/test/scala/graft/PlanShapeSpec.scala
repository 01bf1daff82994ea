package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{RangeJoin, Sketches}

/** Physical-plan regression guards: these operators' scale stories are
  * plan properties, not just result properties — a refactor can keep
  * results identical while silently reintroducing a nested-loop join or
  * a full-sort window. Pin the plan.
  */
class PlanShapeSpec extends SparkSpec {
  import spark.implicits._

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("range join compiles to an equi-join, never a nested loop") {
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val left = Seq((1L, 1L, ts("2024-01-01 10:00:00"))).toDF("id", "key", "t")
    val right = Seq((1L, ts("2024-01-01 10:10:00"), 1.0)).toDF("key", "t", "v")
    val plan = planOf(RangeJoin.countInWindow(left, right, "id", "key", "t", "v", 1800L))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"range join degraded to a nested loop:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"expected a hash/sort-merge equi-join:\n$plan")
  }

  test("KMV bottom-k is pushed ahead of the shuffle (WindowGroupLimit partial)") {
    val hashed = (1 to 1000).map(i => ("g", i.toLong * 7919 % 1000000007))
      .toDF("g", "__h").distinct()
    val plan = planOf(Sketches.kmvFromHashed(hashed, "g", "__h", 64))
    assert(plan.contains("WindowGroupLimit"),
      s"bottom-k not pushed; full distinct set would shuffle:\n$plan")
  }

  test("dedup fan-out repartitions an under-split source, NOT a pre-split one") {
    // The dedup operators' fan-out feeds a localCheckpoint, so their
    // final plans always start at an RDD scan — the exchange (or its
    // absence) is only observable on the fan-out stage itself.
    val docs = (1 to 200).map(i => (i.toLong, s"alpha beta gamma delta token$i"))
      .toDF("doc_id", "text")
    // Pre-split source (defaultParallelism partitions): no round-robin
    // exchange may be injected — at 100 TB that exchange is a full extra
    // shuffle of the corpus.
    val preSplit = docs.repartition(spark.sparkContext.defaultParallelism)
      .localCheckpoint() // pin the partitioning as the source's own
    val planPre = planOf(graft.ops.TextDedup.fanOut(preSplit))
    assert(!planPre.contains("RoundRobinPartitioning"),
      s"pre-split source still pays a round-robin fan-out exchange:\n$planPre")
    // Single-partition source (the small-parquet case): fan-out must kick in.
    val planOne = planOf(graft.ops.TextDedup.fanOut(docs.coalesce(1)))
    assert(planOne.contains("RoundRobinPartitioning"),
      s"single-partition source no longer fans out:\n$planOne")
  }

  test("sequence packing never funnels through a single-partition window") {
    // The global running sum must be the two-pass prefix sum — a
    // per-partition window keyed by __p plus a broadcast offset join.
    // `Window.orderBy` with no partition key would show up here as an
    // Exchange SinglePartition feeding the Window.
    val docs = (1L to 500L).map(i => (i, (i % 7) + 1)).toDF("doc_id", "tok")
    val plan = planOf(graft.ops.Packing.packSequences(docs, "doc_id", col("tok"), 64L))
    assert(!plan.contains("Exchange SinglePartition"),
      s"packing degraded to a single-partition global window:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"per-partition offsets should join broadcast, not shuffle:\n$plan")
  }

  test("quantile profiler compacts to (group, value, count) BELOW the window") {
    // The rank window's defense against group skew is that its input is
    // the compacted distinct-value frame, not raw rows: the aggregate
    // (splittable, map-side combinable) must sit under the window
    // (unsplittable per partition) in the physical plan.
    val df = (1 to 500).map(i => (s"g${i % 3}", (i % 20).toLong)).toDF("g", "v")
    val plan = planOf(graft.ops.Profiler.discreteQuantiles(df, "g", col("v"), Seq(50, 99)))
    val winAt = plan.indexOf("Window")
    val aggAt = plan.lastIndexOf("HashAggregate")
    assert(winAt >= 0 && aggAt > winAt,
      s"expected a HashAggregate (count compaction) BELOW the Window:\n$plan")
  }

  test("count-min estimate joins the broadcast cell matrix, not a shuffle") {
    val docs = (1 to 200).map(i => (i.toLong, s"w${i % 30} w${i % 11}"))
      .toDF("doc_id", "text")
    val plan = planOf(Sketches.countMinHeavyHitters(docs, "text", 3, 64))
    assert(plan.contains("BroadcastHashJoin"),
      s"cell matrix (≤ depth·width rows) must broadcast:\n$plan")
  }

  test("inverted index: the df band gate joins BEFORE the posting-list collect") {
    val docs = Seq((1L, "a b"), (2L, "a c"), (3L, "a d")).toDF("doc_id", "text")
    val plan = planOf(graft.ops.TermStats.invertedIndex(docs, "doc_id", "text", 2, 2))
    // collect_list must sit above the band join, so its input is already
    // band-filtered; a plan with collect_list but no join under it would
    // mean stop-term lists get built and discarded
    val collectAt = plan.indexOf("partial_collect_list")
    val joinAt = plan.indexOf("Join")
    assert(collectAt >= 0 && joinAt > collectAt,
      s"expected band join below the partial collect:\n$plan")
  }

  test("all-pairs cosine: postings self-join is an equi-join, never all-pairs") {
    val docs = (1 to 40).map(i => (i.toLong, s"w${i % 5} w${i % 7} w${i % 3}"))
      .toDF("doc_id", "text")
    val plan = planOf(graft.ops.TermStats.allPairsCosine(docs, "doc_id", "text", 500, 30))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"all-pairs cosine degraded to a cross join:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"expected a term-keyed equi self-join:\n$plan")
  }

  test("resample: the ffill window reads the bounded grid, not raw events") {
    // The per-key running-last window must sit ABOVE the (key, bucket)
    // compaction aggregate — raw event volume entering a window would
    // be the q56 skew hazard all over again.
    val ev = (1 to 300).map(i => (i % 5L,
      new java.sql.Timestamp(1700000000000L + i * 37000L), i.toLong, i * 1.0))
      .toDF("k", "t", "eid", "v0")
    val plan = planOf(graft.ops.Behavior.resampleForwardFill(ev, "k", "t", "eid", "v0", 600L))
    val winAt = plan.indexOf("Window")
    assert(winAt >= 0, s"expected a window:\n$plan")
    assert(plan.indexOf("Generate", winAt) > winAt,
      s"grid explode (Generate) must feed the window from below:\n$plan")
  }

  test("sorted neighborhood never funnels through a single-partition window") {
    val df = (1 to 200).map(i => (i.toLong, s"s${i % 17}")).toDF("id", "s")
    val plan = planOf(graft.ops.FuzzyJoin.sortedNeighborhoodPairs(df, "id", col("s"), 4))
    assert(!plan.contains("Exchange SinglePartition"),
      s"global rank degraded to a one-task window:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"band join degraded to all-pairs:\n$plan")
  }

  test("edit-distance join never degrades to a nested loop or cross join") {
    val docs = (1 to 60).map(i => (i.toLong, s"abcdefghijkl${i % 7}"))
      .toDF("id", "s")
    val plan = planOf(graft.ops.FuzzyJoin.editDistanceJoin(docs, "id", "s", 2))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"edit-distance join degraded to all-pairs:\n$plan")
  }

  test("bloom probe reaches the scan as a data filter (pre-exchange kill)") {
    // The probe must be a pushable filter on the big side's scan — not a
    // post-shuffle Filter node — so non-matches die inside codegen
    // before any exchange. element_at on the bitmap literal appearing in
    // the scan's DataFilters is the evidence.
    val dir = tmpDir("bloom_scan")
    (1 to 500).map(i => (i.toLong, s"key$i")).toDF("id", "k")
      .write.mode("overwrite").parquet(dir)
    val big = spark.read.parquet(dir)
    val keys = Seq("key7", "key99").toDF("bk")
    val plan = planOf(graft.ops.BloomPrune.prunedSemiJoin(
      big, keys, col("k"), col("bk")))
    val scanAt = plan.indexOf("FileScan")
    assert(scanAt >= 0 && plan.substring(scanAt).take(400).contains("element_at"),
      s"bitmap probe not pushed into the scan:\n$plan")
  }

  test("triangle count stays on equi-joins; no nested loop anywhere") {
    // The degree orientation makes every stage an equi-join on node
    // ids; a refactor that loses the struct-orientation trick would
    // fall back to a theta-join (u < v as the only predicate) and
    // compile a nested loop. Pin it.
    val edges = (1 to 200).map(i => ((i % 20).toLong, (i % 31).toLong))
      .toDF("src", "dst")
    val plan = planOf(graft.ops.GraphRank.triangleCount(edges, "src", "dst"))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"triangle count degraded to all-pairs:\n$plan")
  }

  test("cdfPpm compacts to (group, value, count) BELOW the rank window") {
    // Same skew discipline as discreteQuantiles: the window's input
    // must be the compacted distinct-value frame.
    val df = (1 to 500).map(i => (s"g${i % 3}", (i % 20).toLong)).toDF("g", "v")
    val plan = planOf(graft.ops.Profiler.cdfPpm(df, "g", col("v")))
    val winAt = plan.indexOf("Window")
    val aggAt = plan.lastIndexOf("HashAggregate")
    assert(winAt >= 0 && aggAt > winAt,
      s"expected the count compaction BELOW the Window:\n$plan")
  }

  test("iqrOutlierFences compacts BELOW the window; fences join broadcast") {
    // q56 discipline again: both the quantile walk and the fence count
    // must read the compacted frame, and the |groups|-row quartile
    // frame must come back as a broadcast, not a shuffle.
    val df = (1 to 500).map(i => (s"g${i % 3}", (i % 20).toLong)).toDF("g", "v")
    val plan = planOf(graft.ops.Profiler.iqrOutlierFences(df, "g", col("v")))
    val winAt = plan.indexOf("Window")
    assert(winAt >= 0, s"expected the quantile rank Window:\n$plan")
    // the (group, value, count) compaction is checkpointed so both
    // consumers share ONE computation — the window's subtree must
    // bottom out at that compacted scan, not at a raw-row scan
    val below = plan.substring(winAt)
    assert(below.contains("Scan ExistingRDD") && !below.contains("LocalTableScan"),
      s"window must read the checkpointed compaction, not raw rows:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"quartile frame (|groups| rows) must broadcast:\n$plan")
  }

  test("transition matrix shuffles the event volume exactly once") {
    // The event stream enters exactly ONE user-keyed exchange (the lag
    // window); normalization is a window over the tiny state-pair
    // frame — a totals self-join would re-run the event-volume window
    // for its second branch (2× scan + 2× shuffle).
    val df = (1 to 500).map(i =>
      (i.toLong % 20, new java.sql.Timestamp(i * 1000L), s"t${i % 4}", i.toLong))
      .toDF("user_id", "ts", "event_type", "event_id")
    val plan = planOf(graft.ops.Behavior.transitionMatrixPpm(
      df, "user_id", "event_type", "ts", "event_id"))
    val userExchanges = "Exchange hashpartitioning\\(__u".r.findAllIn(plan).size
    assert(userExchanges == 1,
      s"expected exactly ONE event-volume exchange, got $userExchanges:\n$plan")
  }

  test("overlapJoin compiles to an equi-join, never a nested loop") {
    import java.sql.Timestamp
    def df(id: String) = (1 to 50).map(i =>
      (i.toLong, i.toLong % 5, new Timestamp(i * 60000L), new Timestamp(i * 60000L + 120000L)))
      .toDF(id, "key", "s", "e")
    val plan = planOf(RangeJoin.overlapJoin(df("lid"), df("rid"),
      "lid", "rid", "key", "s", "e", 60L))
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"),
      s"interval overlap degraded to a non-equi join:\n$plan")
    assert(plan.contains("Join") || plan.contains("join"),
      s"expected an equi-join on (key, bin):\n$plan")
  }

  test("materialized forks stay single-pass: edit join, BM25, PMI") {
    // Each of these operators forks a frame derived from a corpus-
    // volume subtree; the fork is local-checkpointed so the subtree
    // runs ONCE. The physical symptom of a lost checkpoint is the
    // duplicated Generate/scan — pin the count.
    def gens(plan: String): Int = "Generate ".r.findAllIn(plan).size
    // editDistanceJoin: input forked 5 ways; the only Generates left
    // are the build-side and probe-side enumerations (3: segments +
    // probe lengths + probe indices... counted on the actual shape)
    val docs = (1 to 60).map(i => (i.toLong, s"abcdefgh${i % 7}jklmnop${i}xyz"))
      .toDF("doc_id", "s")
    val ejPlan = planOf(graft.ops.FuzzyJoin.editDistanceJoin(docs, "doc_id", "s", 2))
    assert(ejPlan.contains("ExistingRDD"),
      s"edit-join input must be materialized (checkpoint scan):\n$ejPlan")
    // bm25Rank: the tf fork reads a checkpoint, so NO corpus-token
    // explode is visible above the barrier — a lost checkpoint would
    // surface the explode (twice) in this plan
    val corpus = (1 to 80).map(i => (i.toLong, s"alpha beta w${i % 9} gamma"))
      .toDF("doc_id", "text")
    val bmPlan = planOf(graft.ops.TermStats.bm25Rank(corpus, "doc_id", "text",
      Seq("alpha", "w3", "w5")))
    assert(gens(bmPlan) == 0 && bmPlan.contains("ExistingRDD"),
      s"bm25's corpus explode must sit behind the tf checkpoint barrier " +
        s"(got ${gens(bmPlan)} visible Generates):\n$bmPlan")
    // pmiCollocations: unigram and bigram explodes each sit behind their
    // count frame's checkpoint; totals derive from the counts — zero
    // visible Generates, two checkpoint scans
    val pmiPlan = planOf(graft.ops.TermStats.pmiCollocations(corpus, "doc_id", "text",
      minCount = 1, topK = 5))
    assert(gens(pmiPlan) == 0 && pmiPlan.contains("ExistingRDD"),
      s"PMI's gram explodes must sit behind the count checkpoints " +
        s"(got ${gens(pmiPlan)} visible Generates):\n$pmiPlan")
  }

  test("qsketch: map-side partial agg below the cell shuffle; windows read the sketch") {
    // The cell build must partial-aggregate BEFORE its exchange (each
    // executor ships ≤ ~1k cells per group, never its raw values), and
    // the quantile read's windows must sit ABOVE the cell aggregate —
    // the windows see the bounded sketch, never the corpus.
    val df = (1 to 800).map(i => (s"g${i % 3}", (i.toLong * i) % 100000L))
      .toDF("g", "v")
    val cellPlan = planOf(Sketches.qsketchCells(df, "g", col("v")))
    val partialAt = cellPlan.indexOf("partial_count")
    val exchangeAt = cellPlan.indexOf("Exchange hashpartitioning")
    assert(partialAt >= 0 && exchangeAt >= 0 && partialAt > exchangeAt,
      s"expected partial_count BELOW the cell exchange (plan reads top-down):\n$cellPlan")
    val qPlan = planOf(Sketches.qsketchQuantiles(
      Sketches.qsketchCells(df, "g", col("v")), "g", Seq(50, 99)))
    val winAt = qPlan.indexOf("Window")
    val aggAt = qPlan.lastIndexOf("HashAggregate")
    assert(winAt >= 0 && aggAt > winAt,
      s"expected the cell HashAggregate BELOW the quantile windows:\n$qPlan")
    assert(!qPlan.contains("Exchange SinglePartition"),
      s"quantile read degraded to a single-partition pass:\n$qPlan")
  }

  test("kendall: dense grid stays on equi-joins, windows keyed by group") {
    // The grid densification is a per-group cross of the two distinct
    // grade sets — it must compile to equi-joins on the group key (the
    // fan-out is the ≤ grades² bounded state, NOT a cartesian), and
    // every sweep window must partition by (group, grade) — a global
    // window would funnel the grid through one task.
    val rows = (1 to 400).map(i => (s"g${i % 2}", i.toLong % 37, i.toLong % 11))
    val plan = planOf(graft.ops.Behavior.kendallGradePpm(
      rows.toDF("g", "x", "y"), "g", col("x"), col("y")))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"kendall grid degraded to a nested loop:\n$plan")
    assert(!plan.contains("windowspecdefinition()"),
      s"found an unpartitioned window:\n$plan")
  }

  test("charGramConcentration: gram counts partial-aggregate below their exchange") {
    // The (doc, gram-hash) count must map-side combine BEFORE its
    // shuffle — a stamped 4 MB doc ships its distinct grams, never a
    // row per char position.
    val docs = (1 to 50).map(i => (i.toLong, "ab" * 200)).toDF("doc_id", "text")
    val plan = planOf(graft.ops.TermStats.charGramConcentration(
      docs, "doc_id", "text", 3))
    val partialAt = plan.indexOf("partial_count")
    val exchangeAt = plan.indexOf("Exchange hashpartitioning")
    assert(partialAt >= 0 && exchangeAt >= 0 && partialAt > exchangeAt,
      s"expected partial_count BELOW the gram exchange (plan reads top-down):\n$plan")
  }

  test("prioritySample: the k+1 rank filter pushes WindowGroupLimit ahead of the shuffle") {
    // the operator checkpoints right after the rank stage (tau + the
    // survivor rows fork), so the pushed limit is only observable on
    // the stage itself — the TextDedup.fanOut visibility pattern
    val base = (1 to 500).map(i => ("g" + (i % 4), i.toLong, (i % 97 + 1).toLong))
      .toDF("__g", "__id", "__p")
    val plan = planOf(graft.ops.Curation.rankTopK(base, k = 8))
    assert(plan.contains("WindowGroupLimit"),
      s"rank filter not pushed; a full group would sort on one task:\n$plan")
  }

  test("skyline2D: bucket-frame prefix + broadcast join back, no nested loop") {
    val pts = (1 to 400).map(i => (i.toLong, (i % 60).toLong, (i % 37).toLong))
      .toDF("id", "xc", "yc")
    val plan = planOf(graft.ops.Curation.skyline2D(pts, "id", col("xc"), col("yc")))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"skyline degraded to a nested loop:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"bucket maxima should broadcast back, not shuffle:\n$plan")
  }

  test("gridDensityClusters: corpus collapses map-side; the label join back is broadcast") {
    // (i % 5)/(i % 3) grids pack ~20 points per cell — well past minPts,
    // so the dense map is non-empty and the label join survives the
    // optimizer (an empty broadcast side legitimately constant-folds
    // the whole join to cluster = -1)
    val pts = (1 to 300).map(i =>
      (i.toLong, (i % 5).toDouble / 8, (i % 3).toDouble / 8)).toDF("id", "x", "y")
    val plan = planOf(graft.ops.Clustering.gridDensityClusters(
      pts, "id", col("x"), col("y"), invCell = 8, minPts = 3L))
    assert(!plan.contains("CartesianProduct"),
      s"cell adjacency degraded to a cross join:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the dense-cell label map should broadcast onto the points:\n$plan")
  }

  test("hyperBall: each round is one equi-join + partial-agg max, never a nested loop") {
    val edges = (1L to 60L).map(i => (i, i % 30 + 1)).toDF("a", "b")
    val plan = planOf(graft.ops.GraphRank.hyperBall(edges, radii = 2))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"register merge degraded:\n$plan")
  }

  test("hyperBall round: packed vectors lane-max on the codegen hash-agg fast path") {
    // the packed layout's whole point: each round's join moves |E|
    // single-vector rows (not |E|·m bucket rows) and the lane-max
    // union partial-combines BEFORE the exchange on HashAggregateExec
    // (primitive long buffers — NOT ObjectHashAggregate, whose
    // interpreted per-row path and sort fallback this layout replaces).
    // Pinned on the pre-checkpoint round frame (the final plan reads
    // checkpoint RDDs).
    val und = (1L to 60L).map(i => (i, i % 30 + 1)).toDF("a", "b")
    val regs = (1L to 60L).map(i => (i, Array.fill(8)(1L))).toDF("node", "regs")
    val plan = planOf(graft.ops.GraphRank.ballRound(und, regs, 8))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"round merge degraded:\n$plan")
    assert(plan.contains("graft_packmax"),
      s"round merge should lane-max packed vectors:\n$plan")
    assert(plan.contains("partial_graft_packmax"),
      s"vector union must combine map-side before the exchange:\n$plan")
    assert(plan.contains("HashAggregate") && !plan.contains("ObjectHashAggregate"),
      s"declarative lane-max must ride the codegen hash-agg fast path:\n$plan")
  }
}
