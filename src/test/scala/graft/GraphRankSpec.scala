package graft

import graft.ops.GraphRank

class GraphRankSpec extends SparkSpec {
  import spark.implicits._

  test("symmetric 2-cycle: both nodes hold equal rank, mass nearly conserved") {
    val edges = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val r = GraphRank.pageRank(edges, "src", "dst", 3)
      .as[(String, Long)].collect().toMap
    assert(r("a") == r("b"))
    // no dangling nodes: only integer-division quanta leak
    val total = r.values.sum
    assert(total <= GraphRank.Scale && total > GraphRank.Scale * 99 / 100,
      s"mass $total vs scale ${GraphRank.Scale}")
  }

  test("star graph: the hub out-ranks every leaf") {
    val leaves = (1 to 8).map(i => s"leaf$i")
    val edges = (leaves.map(l => ("hub", l)) ++ leaves.map(l => (l, "hub")))
      .toDF("src", "dst")
    val r = GraphRank.pageRank(edges, "src", "dst", 3)
      .as[(String, Long)].collect().toMap
    assert(leaves.forall(l => r("hub") > r(l)),
      s"hub ${r("hub")} not above leaves ${leaves.map(r).max}")
    assert(leaves.map(r).distinct.size == 1) // leaves are symmetric
  }

  test("redistribute variant conserves dangling mass the leak variant loses") {
    // a -> b -> c, c dangling: with redistribution, c's mass re-enters
    // the walk each round instead of leaking — total mass stays within
    // integer-truncation quanta of Scale, and strictly above the leak run
    val edges = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val leak = GraphRank.pageRank(edges, "src", "dst", 3)
      .as[(String, Long)].collect().toMap
    val keep = GraphRank.pageRank(edges, "src", "dst", 3, redistributeDangling = true)
      .as[(String, Long)].collect().toMap
    assert(keep.values.sum > leak.values.sum)
    assert(keep.values.sum > GraphRank.Scale * 97 / 100,
      s"mass ${keep.values.sum} vs scale ${GraphRank.Scale}")
    // layout-independence holds for the variant too
    val keep7 = GraphRank.pageRank(edges.repartition(7), "src", "dst", 3,
      redistributeDangling = true).as[(String, Long)].collect().toMap
    assert(keep == keep7)
  }

  test("empty edge frame fails with a named precondition, not a bare div-by-zero") {
    val empty = Seq.empty[(String, String)].toDF("src", "dst")
    val ex = intercept[IllegalArgumentException] {
      GraphRank.pageRank(empty, "src", "dst", 3)
    }
    assert(ex.getMessage.contains("at least one edge"))
  }

  test("triangleCount: K4 has 4, a star has 0, duplicates and reversals collapse") {
    import org.apache.spark.sql.functions.col
    val k4 = (for { a <- 1 to 4; b <- 1 to 4 if a != b } yield (a.toLong, b.toLong))
      .toDF("src", "dst") // both orientations + all pairs: must dedup to C(4,2)=6 edges
    assert(GraphRank.triangleCount(k4, "src", "dst").head().getLong(0) == 4L)
    val star = (1 to 8).map(i => (0L, i.toLong)).toDF("src", "dst")
    assert(GraphRank.triangleCount(star, "src", "dst").head().getLong(0) == 0L)
    // self-loops are dropped, not counted into degrees
    val loops = Seq((1L, 1L), (1L, 2L), (2L, 3L), (1L, 3L), (2L, 2L))
      .toDF("src", "dst")
    assert(GraphRank.triangleCount(loops, "src", "dst").head().getLong(0) == 1L)
    // layout independence: the orientation is a total order, not partition luck
    assert(GraphRank.triangleCount(k4.repartition(7), "src", "dst")
      .head().getLong(0) == 4L)
  }

  test("triangleCount: hub-heavy graph matches the brute-force model") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(42)
    val edges = (1 to 300).map { _ =>
      // skew: node 0 in ~1/3 of edges — exercises the degree orientation
      val a = if (rnd.nextInt(3) == 0) 0 else rnd.nextInt(40)
      val b = rnd.nextInt(40)
      (a.toLong, b.toLong)
    }.toDF("src", "dst")
    val got = GraphRank.triangleCount(edges, "src", "dst").head().getLong(0)
    val und = edges.as[(Long, Long)].collect()
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter { case (a, b) => a != b }.toSet
    val nodes = und.flatMap { case (a, b) => Seq(a, b) }.toSeq.sorted
    val brute = (for {
      i <- nodes.indices; j <- i + 1 until nodes.size; k <- j + 1 until nodes.size
      if und((nodes(i), nodes(j))) && und((nodes(i), nodes(k))) && und((nodes(j), nodes(k)))
    } yield 1).size
    assert(got == brute.toLong, s"spark $got vs brute $brute")
  }

  test("clusteringCoefficientPpm: K4 is 10^6 everywhere; triangle+tail splits; brute model") {
    import org.apache.spark.sql.functions.col
    val k4 = (for { a <- 1 to 4; b <- 1 to 4 if a != b } yield (a.toLong, b.toLong))
      .toDF("src", "dst")
    val ccK4 = GraphRank.clusteringCoefficientPpm(k4, "src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(ccK4.length == 4 && ccK4.forall { case (_, d, t, c) =>
      d == 3L && t == 3L && c == 1000000L })
    // triangle 1-2-3 with tail 3-4: node 3 has deg 3, 1 triangle -> 333333
    val tail = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst")
    val m = GraphRank.clusteringCoefficientPpm(tail, "src", "dst")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(m(1L) == ((2L, 1L, 1000000L)))
    assert(m(3L) == ((3L, 1L, 333333L)))
    assert(m(4L) == ((1L, 0L, 0L)))
    // random graph: per-node triangle counts match the brute-force model
    val rnd = new scala.util.Random(7)
    val edges = (1 to 200).map { _ =>
      (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong) }.toDF("src", "dst")
    val got = GraphRank.clusteringCoefficientPpm(edges, "src", "dst")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val und = edges.as[(Long, Long)].collect()
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter { case (a, b) => a != b }.toSet
    val nodes = und.flatMap { case (a, b) => Seq(a, b) }.toSeq.sorted
    nodes.foreach { n =>
      val nbrs = nodes.filter(x => und((math.min(n, x), math.max(n, x))) && x != n)
      val tri = (for {
        i <- nbrs.indices; j <- i + 1 until nbrs.size
        if und((math.min(nbrs(i), nbrs(j)), math.max(nbrs(i), nbrs(j))))
      } yield 1).size
      assert(got(n) == ((nbrs.size.toLong, tri.toLong)),
        s"node $n: spark ${got(n)} vs brute (${nbrs.size}, $tri)")
    }
  }

  test("dangling sink keeps only the teleport base; result is layout-independent") {
    // c has no out-edges: its collected mass leaks each round, and its
    // own rank is exactly the teleport base after any iteration.
    val edges = Seq(("a", "b"), ("b", "a"), ("a", "c")).toDF("src", "dst")
    val n = 3L
    val base = (15L * (GraphRank.Scale / n)) / 100L
    val one = GraphRank.pageRank(edges.coalesce(1), "src", "dst", 3)
      .as[(String, Long)].collect().toMap
    val many = GraphRank.pageRank(edges.repartition(5), "src", "dst", 3)
      .as[(String, Long)].collect().toMap
    assert(one == many)
    assert(one("c") > base) // receives from a on the last hop
    assert(one("a") > one("c")) // a gets b's full rank, c only half of a's
  }

  test("label propagation: strong communities keep their min label across a weak bridge") {
    // two triangles with internal weight 10, bridged by weight 1:
    // after 2 rounds each triangle is uniformly labeled with its min id
    val t1 = Seq((1L, 2L, 10L), (2L, 3L, 10L), (1L, 3L, 10L))
    val t2 = Seq((4L, 5L, 10L), (5L, 6L, 10L), (4L, 6L, 10L))
    val edges = (t1 ++ t2 :+ ((3L, 4L, 1L))).toDF("a", "b", "w")
    val got = GraphRank.labelPropagation(edges, "a", "b", "w", rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L).map(got).distinct == Seq(1L))
    assert(Seq(4L, 5L, 6L).map(got).distinct == Seq(4L))
  }

  test("label propagation matches the brute-force synchronous model, any layout") {
    val rnd = new scala.util.Random(11)
    val raw = Seq.fill(300) {
      (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong, (rnd.nextInt(5) + 1).toLong)
    }.filter { case (a, b, _) => a != b }
    // mirror the operator's input contract: one row per undirected pair
    val byPair = raw.groupBy { case (a, b, _) => (math.min(a, b), math.max(a, b)) }
      .map { case ((a, b), ws) => (a, b, ws.map(_._3).sum) }.toSeq
    val edges = byPair.toDF("a", "b", "w")
    def brute(rounds: Int): Map[Long, Long] = {
      val sym = byPair.flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
      var lbl = sym.map(_._1).distinct.map(n => n -> n).toMap
      (1 to rounds).foreach { _ =>
        lbl = sym.groupBy(_._1).map { case (n, inc) =>
          val byLbl = inc.groupBy(e => lbl(e._2)).map { case (l, es) => (l, es.map(_._3).sum) }
          n -> byLbl.toSeq.minBy { case (l, tw) => (-tw, l) }._1
        }
      }
      lbl
    }
    Seq(1, 2, 3).foreach { r =>
      val got = GraphRank.labelPropagation(edges.repartition(7), "a", "b", "w", rounds = r)
        .as[(Long, Long)].collect().toMap
      assert(got == brute(r), s"rounds=$r")
    }
  }

  test("kCorePeel: pendant is peeled, the 4-clique survives at k=3") {
    val clique = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val edges = (clique :+ ((1L, 5L))).toDF("a", "b")
    val got = GraphRank.kCorePeel(edges, "a", "b", k = 3, rounds = 2)
      .as[(Long, Long)].collect().toMap
    // round 1 drops node 5 (deg 1); round 2 degrees: the bare clique
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("kCorePeel matches brute-force peeling and converges on a fixpoint") {
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(250) {
      (rnd.nextInt(35).toLong, rnd.nextInt(35).toLong)
    }.toDF("a", "b")
    val und = edges.as[(Long, Long)].collect()
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter { case (a, b) => a != b }.toSet
    def brute(k: Int, rounds: Int): Map[Long, Long] = {
      var e = und
      var deg = Map.empty[Long, Long]
      (1 to rounds).foreach { r =>
        deg = e.toSeq.flatMap { case (a, b) => Seq(a, b) }
          .groupBy(identity).map { case (n, xs) => n -> xs.size.toLong }
          .filter(_._2 >= k)
        if (r < rounds)
          e = e.filter { case (a, b) => deg.contains(a) && deg.contains(b) }
      }
      deg
    }
    Seq((6, 1), (6, 2), (6, 4)).foreach { case (k, r) =>
      val got = GraphRank.kCorePeel(edges.repartition(5), "a", "b", k, r)
        .as[(Long, Long)].collect().toMap
      assert(got == brute(k, r), s"k=$k rounds=$r")
    }
    // fixpoint: once a round removes nothing, more rounds are identity
    val a = GraphRank.kCorePeel(edges, "a", "b", 6, 8).as[(Long, Long)].collect().toMap
    val b = GraphRank.kCorePeel(edges, "a", "b", 6, 9).as[(Long, Long)].collect().toMap
    assert(a == b)
  }

  test("hopDistance: BFS levels, cap honored, out-of-graph seeds ignored") {
    // chain 1→2→3→4→5 plus a shortcut 1→4: node 4 is 1 hop, not 3
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 4L))
      .toDF("src", "dst")
    val seeds = Seq(1L, 999L).toDF("seed") // 999 not in the graph
    val got = GraphRank.hopDistance(edges, "src", "dst", seeds, "seed", 2)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 4L -> 1L, 3L -> 2L, 5L -> 2L))
    // cap 0 = seeds only; unreachable stays absent at any cap
    val only = GraphRank.hopDistance(edges, "src", "dst", seeds, "seed", 0)
      .as[(Long, Long)].collect().toMap
    assert(only == Map(1L -> 0L))
    val far = GraphRank.hopDistance(
        edges.unionByName(Seq((7L, 8L)).toDF("src", "dst")),
        "src", "dst", seeds, "seed", 4)
      .as[(Long, Long)].collect().toMap
    assert(!far.contains(7L) && !far.contains(8L) && far(5L) == 2L) // 1→4→5
  }

  test("neighborAggregate: hand-checked quantized sums, layout-independent") {
    val feats = Seq(
      (1L, Array(0.5f, -0.25f)),
      (2L, Array(1.0f, 0.5f)),
      (3L, Array(0.1f, 0.2f))
    ).toDF("id", "v")
    val edges = Seq((1L, 3L), (2L, 3L), (1L, 2L)).toDF("src", "dst")
    val out = GraphRank.neighborAggregate(edges, "src", "dst", feats, "id", "v")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(out == Map(
      (3L, 1L) -> ((1500000L, 2L)), (3L, 2L) -> ((250000L, 2L)),
      (2L, 1L) -> ((500000L, 1L)), (2L, 2L) -> ((-250000L, 1L))))
    val again = GraphRank.neighborAggregate(
        edges.repartition(5), "src", "dst", feats.repartition(3), "id", "v")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(again == out)
  }

  test("degreeAssortativityPpm: star = -1, regular = 0, K4-minus-edge exact") {
    def r(edges: Seq[(Long, Long)]): (Long, Long) =
      GraphRank.degreeAssortativityPpm(edges.toDF("src", "dst"), "src", "dst")
        .as[(Long, Long)].collect().head
    // star K1,3: perfect hub→leaf anti-correlation
    assert(r(Seq((1L, 2L), (1L, 3L), (1L, 4L))) == ((6L, -1000000L)))
    // 4-cycle: every degree equal → den 0 → defined as 0
    assert(r(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))) == ((8L, 0L)))
    // K4 minus edge (3,4): num=-16 den=24 → trunc(-666666.67) = -666666
    assert(r(Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L))) ==
      ((10L, -666666L)))
    // orientation/duplication invariant: reversed + duplicated edges collapse
    assert(r(Seq((2L, 1L), (1L, 2L), (3L, 1L), (1L, 4L))) == ((6L, -1000000L)))
  }

  test("modularityPpm: two triangles + bridge exact; bipartition negative") {
    // two triangles {1,2,3} and {4,5,6} joined by edge 3-4: m = 7,
    // with the natural labels Q = 70/196 → 357142 ppm (truncated)
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)).toDF("src", "dst")
    val good = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 1L), (5L, 1L), (6L, 1L))
      .toDF("node", "lab")
    val q1 = GraphRank.modularityPpm(edges, "src", "dst", good, "node", "lab")
      .as[(Long, Long)].collect().head
    assert(q1 == ((7L, 357142L)))
    // everything in ONE community: Q = 1 - 1 = 0 exactly
    import org.apache.spark.sql.functions.{col, lit}
    val one = good.select(col("node"), lit(9L).as("lab"))
    assert(GraphRank.modularityPpm(edges, "src", "dst", one, "node", "lab")
      .as[(Long, Long)].collect().head == ((7L, 0L)))
    // complete bipartite K2,2 split by side: no intra edges, Q < 0
    val bip = Seq((1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L)).toDF("src", "dst")
    val sides = Seq((1L, 0L), (2L, 0L), (3L, 1L), (4L, 1L)).toDF("node", "lab")
    val qb = GraphRank.modularityPpm(bip, "src", "dst", sides, "node", "lab")
      .as[(Long, Long)].collect().head
    assert(qb == ((4L, -500000L))) // -2·(8/(2·4))² = -0.5
  }

  test("randomWalks: every step follows an edge; sinks truncate; layout-stable") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (4L, 5L))
      .toDF("src", "dst") // 5 is a sink
    val eset = Set((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (4L, 5L))
    val out = GraphRank.randomWalks(edges, "src", "dst", 2, 4)
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    // walks start at every node, twice
    assert(out.filter(_._2 == 0L).map(_._1).sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L, 5L).flatMap(n => Seq(n * 2, n * 2 + 1)).sorted)
    // consecutive steps are edges
    out.groupBy(_._1).values.foreach { w =>
      w.sortBy(_._2).map(_._3).sliding(2).filter(_.length == 2).foreach { p =>
        assert(eset((p(0), p(1))), s"non-edge ${p(0)}->${p(1)}")
      }
    }
    // sink 5's walks are just the start row; 4's walks end at 5 (step 1)
    assert(out.filter(_._1 == 10L).map(_._2).toSeq == Seq(0L))
    assert(out.filter(_._1 == 8L).map(_._2).max == 1L)
    // bit-identical under a different partitioning
    val again = GraphRank.randomWalks(edges.repartition(7), "src", "dst", 2, 4)
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    assert(out.toSeq == again.toSeq)
  }

  test("pageRankWeighted: uniform weights reproduce pageRank exactly; heavy edges pull mass") {
    // floor((r*c)/(deg*c)) == floor(r/deg): constant weights change nothing
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)).toDF("src", "dst")
    val uni = edges.withColumn("w", org.apache.spark.sql.functions.lit(7L))
    val a = GraphRank.pageRank(edges, "src", "dst", 3)
      .orderBy("node").as[(Long, Long)].collect().toSeq
    val b = GraphRank.pageRankWeighted(uni, "src", "dst", "w", 3)
      .orderBy("node").as[(Long, Long)].collect().toSeq
    assert(a == b)
    // node 1 splits 1:9 between 2 and 3 -> 3 ends up above 2
    val skew = Seq((1L, 2L, 1L), (1L, 3L, 9L), (2L, 1L, 1L), (3L, 1L, 1L))
      .toDF("src", "dst", "w")
    val m = GraphRank.pageRankWeighted(skew, "src", "dst", "w", 3)
      .as[(Long, Long)].collect().toMap
    assert(m(3L) > m(2L))
    // parallel edges collapse by weight sum; zero weights drop
    val par = Seq((1L, 2L, 5L), (1L, 2L, 4L), (1L, 3L, 1L), (1L, 4L, 0L),
      (2L, 1L, 1L), (3L, 1L, 1L)).toDF("src", "dst", "w")
    val p = GraphRank.pageRankWeighted(par, "src", "dst", "w", 2)
      .as[(Long, Long)].collect().toMap
    assert(!p.contains(4L))
    val p2 = GraphRank.pageRankWeighted(
        Seq((1L, 2L, 9L), (1L, 3L, 1L), (2L, 1L, 1L), (3L, 1L, 1L))
          .toDF("src", "dst", "w"), "src", "dst", "w", 2)
      .as[(Long, Long)].collect().toMap
    assert(p == p2)
  }

  test("negativeEdges: brute-force replay, no real edges, quota and determinism") {
    val rnd = new scala.util.Random(89)
    val raw = (1 to 120).map(_ => (rnd.nextInt(12).toLong, 100L + rnd.nextInt(25)))
      .distinct
    val edges = raw.toDF("src", "dst")
    val got = GraphRank.negativeEdges(edges.repartition(7), "src", "dst")
      .as[(Long, Long, Long)].collect().toSeq
    // replay the construction in memory
    val e = raw.toSet
    val nodeIdx = (raw.map(_._1) ++ raw.map(_._2)).distinct.sorted.zipWithIndex
      .map { case (n, i) => i.toLong -> n }.toMap
    val n = nodeIdx.size
    val model = raw.groupBy(_._1).toSeq.flatMap { case (src, es) =>
      val deg = es.size
      val cands = (0L until (deg * 2L)).map { k =>
        nodeIdx(((src % 1000003L) * 8191L + (k % 1000003L) * 127L + 524287L)
          % 1000003L % n)
      }.filter(c => c != src && !e.contains((src, c)))
      cands.take(deg).zipWithIndex.map { case (c, i) => (src, c, i + 1L) }
    }
    assert(got.sorted == model.sorted)
    // hygiene: never a real edge, never a self-loop
    got.foreach { case (s, d0, _) =>
      assert(s != d0 && !e.contains((s, d0)), s"($s,$d0)") }
    assert(got.nonEmpty)
    // identical under a different layout
    val re = GraphRank.negativeEdges(edges.repartition(13), "src", "dst")
      .as[(Long, Long, Long)].collect().toSeq
    assert(re.sorted == got.sorted)
  }

  test("pairsFromSets: clashing input columns are rejected; set column names are quoted") {
    import org.apache.spark.sql.functions.lit
    val sets = Seq((1, Seq(1, 2, 3)), (2, Seq(4, 5)), (3, Seq(6))).toDF("__k", "__vs")
    for (c <- Seq("a", "B", "__p")) {
      val e = intercept[IllegalArgumentException](
        GraphRank.pairsFromSets(sets.withColumn(c, lit(0)), "__vs"))
      assert(e.getMessage.contains(c), e.getMessage)
    }
    def pairs(df: org.apache.spark.sql.DataFrame, vsCol: String) =
      GraphRank.pairsFromSets(df, vsCol).as[(Int, Int, Int)].collect().toSet
    val expected = pairs(sets, "__vs")
    assert(expected == Set((1, 1, 2), (1, 1, 3), (1, 2, 3), (2, 4, 5)))
    val odd = "item set-1 `x`"
    assert(pairs(sets.withColumnRenamed("__vs", odd), odd) == expected)
  }

  test("coCitation/bibCoupling match the brute-force model; hub cap excludes keys") {
    val rnd = new scala.util.Random(47)
    val raw = (1 to 300).map(_ => (rnd.nextInt(20).toLong, 100L + rnd.nextInt(30)))
    val edges = raw.toDF("src", "dst")
    def model(pairsOf: Map[Long, Set[Long]], cap: Int, minC: Int) = {
      val kept = pairsOf.filter(_._2.size <= cap)
      kept.values.toSeq.flatMap { vs =>
        vs.toSeq.flatMap(a => vs.toSeq.filter(_ > a).map(b => (a, b)))
      }.groupBy(identity).view.mapValues(_.size.toLong).toMap
        .filter(_._2 >= minC)
    }
    // co-citation: dst pairs per src (cap on src out-degree)
    val bySrc = raw.distinct.groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    val gotCC = GraphRank.coCitation(edges.repartition(5), "src", "dst",
        maxCiterFanout = 12, minCommon = 2)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(gotCC == model(bySrc, 12, 2))
    assert(gotCC.nonEmpty, "fixture must produce common-neighbor pairs")
    // coupling: src pairs per dst (cap on dst in-degree)
    val byDst = raw.distinct.groupBy(_._2).view
      .mapValues(_.map(_._1).toSet).toMap
    val gotBC = GraphRank.bibCoupling(edges, "src", "dst",
        maxCitedFanin = 8, minCommon = 2)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(gotBC == model(byDst, 8, 2))
    // the cap excludes hub keys entirely: with cap 1 nothing pairs
    assert(GraphRank.coCitation(edges, "src", "dst", 1, 1).count() == 0)
  }

  test("hyperBall: sketch after r rounds == HLL of the exact r-ball; growth is monotone") {
    import graft.ops.GraphRank
    // chain 1-2-3-4-5, triangle 10-11-12, isolated edge 20-21
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L))
    val got = GraphRank.hyperBall(edges.toDF("a", "b"), radii = 2)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    // exact balls by BFS
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val adj = (edges ++ edges.map(e => (e._2, e._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def ball(v: Long, r: Int): Set[Long] =
      (1 to r).foldLeft(Set(v))((s, _) => s ++ s.flatMap(adj.getOrElse(_, Set.empty)))
    // model registers: polyhash of the id string, quadratic mix, rho
    val M = 1000000007L
    def polyhash(s: String): Long =
      s.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % M)
    def mix(h: Long): Long = ((48271L * ((h * h) % M)) % M + (16807L * h) % M) % M
    def est(members: Set[Long]): (Long, Long) = {
      val regs = members.toSeq
        .map { u => val m = mix(polyhash(u.toString)); (m % 64, m / 64) }
        .groupBy(_._1).view.mapValues(_.map { case (_, r) =>
          if (r == 0L) 30L
          else math.min(30L, java.lang.Long.numberOfTrailingZeros(r) + 1L)
        }.max).toMap
      val s = regs.values.map(r => 1L << (30 - r).toInt).sum
      val occ = regs.size.toLong
      (occ, (709L * 64 * 64 * (1L << 30)) / (1000L * (s + (64 - occ) * (1L << 30))))
    }
    for (v <- nodes; r <- 0 to 2)
      assert(got((v, r.toLong)) == est(ball(v, r)), s"node $v radius $r")
    // ball growth is monotone in the sketch too (union only adds)
    for (v <- nodes)
      assert(got((v, 0L))._2 <= got((v, 1L))._2 + 0 &&
        got((v, 1L))._2 <= got((v, 2L))._2, s"monotone $v")
  }

  test("harmonicCentrality == the shell fold over hyperBall; isolated pair reads one shell") {
    import graft.ops.GraphRank
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L))
    val balls = GraphRank.hyperBall(edges.toDF("a", "b"), radii = 2)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._4).toMap
    val got = GraphRank.harmonicCentrality(edges.toDF("a", "b"), radii = 2)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    nodes.foreach { v =>
      val (e0, e1, e2) = (balls((v, 0L)), balls((v, 1L)), balls((v, 2L)))
      val exp = (e1 - e0) * 1000000L / 1 + (e2 - e1) * 1000000L / 2
      assert(got(v) == ((exp, e2)), s"node $v")
    }
    // the isolated pair's 2-ball is its 1-ball: the r=2 shell is empty
    assert(balls((20L, 2L)) == balls((20L, 1L)))
    assert(got(20L)._1 == (balls((20L, 1L)) - balls((20L, 0L))) * 1000000L)
  }
}
