package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Lloyd k-means over an embedding column, shaped for Spark's execution
  * model: the MODEL (k centroids) is driver-side state broadcast into a
  * single codegen'd projection per iteration; the DATA never moves. Each
  * iteration is (a) one narrow pass computing the argmax-cosine
  * assignment — no crossJoin, no per-vector window — and (b) one
  * map-side-combined aggregate of quantized per-dimension sums (k×dims
  * rows) collected back as the next model. That collect is model state
  * (k·dims doubles), not data — the legitimate driver-side footprint of
  * iterative ML on a cluster, identical at sf0.01 and 100 TB.
  *
  * Determinism (the cross-engine contract): seeds are the first k
  * vectors by id; assignment ties break toward the lower centroid id;
  * centroid updates sum FLOOR-QUANTIZED values (exact integers, so
  * partial-aggregate merge order cannot perturb them) and the mean is
  * rounded to FLOAT — one double division and one float rounding, both
  * IEEE-identical in any engine. Cosines are the same left-to-right
  * double fold as [[Similarity.cosine]].
  */
object Clustering {

  private val Quantum = 1e6

  /** Driver-side twin of [[graft.functions.DotProduct.dot]] — same
    * float→double promotion, same left-to-right accumulation, so a
    * centroid norm computed here is bit-identical to one computed by the
    * oracle's list fold over the same floats. */
  private def normOf(v: Array[Float]): Double = {
    var acc = 0.0d; var i = 0
    while (i < v.length) { acc += v(i).toDouble * v(i).toDouble; i += 1 }
    math.sqrt(acc)
  }

  /** Deterministic farthest-point (k-center / kmeans++-style) seeding:
    * the min-id vector starts; each of the remaining k-1 rounds adds
    * the vector LEAST similar to its nearest chosen seed (argmin of max
    * cosine; ties → lower id). Spreads seeds across the data instead of
    * whatever the first k ids happen to be — one Spark job per round,
    * model state driver-side, same execution shape as [[lloydAssign]].
    * (Deterministic stand-in for kmeans++'s random proportional draw —
    * randomness would break the cross-engine/replay contract.)
    */
  def farthestPointSeeds(corpus: DataFrame, idCol: String, vecCol: String,
                         k: Int): Seq[(Long, Array[Float])] = {
    val src = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("v"))
      .localCheckpoint()
    val first = src.orderBy("vec_id").limit(1)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    require(first.nonEmpty, "farthestPointSeeds: empty corpus")
    var seeds = first.toSeq
    while (seeds.size < k) {
      val normV = sqrt(Similarity.dot(col("v"), col("v")))
      val maxCos = seeds.map { case (_, ce) =>
        Similarity.dot(col("v"), lit(ce)) / (normV * lit(normOf(ce)))
      }.reduce((a, b) => when(b > a, b).otherwise(a))
      val next = src
        .join(broadcast(src.sparkSession.createDataFrame(
            seeds.map(s => Tuple1(s._1))).toDF("vec_id")),
          Seq("vec_id"), "left_anti")
        .select(col("vec_id"), col("v"), maxCos.as("__mc"))
        .orderBy(col("__mc").asc, col("vec_id").asc).limit(1)
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      if (next.isEmpty) return seeds // fewer than k distinct vectors
      seeds = seeds ++ next.toSeq
    }
    seeds
  }

  /** `iters` Lloyd iterations from explicit seed centroids; returns
    * (id, cid, cosine) — each vector's final centroid and similarity.
    *
    * A centroid whose cluster empties out is DROPPED from the model for
    * subsequent iterations (standard Lloyd behavior; the result can
    * carry fewer than k distinct cids). Callers needing exactly k
    * clusters should re-seed; the oracle mirrors the drop. */
  def lloydAssignFrom(corpus: DataFrame, idCol: String, vecCol: String,
                      seeds: Seq[(Long, Array[Float])], iters: Int): DataFrame = {
    require(iters >= 1, "need at least one assignment pass")
    val src = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("v"))
      .localCheckpoint() // scanned 2×/iteration; don't re-read the source
    var centroids: Seq[(Long, Array[Float])] = seeds
    require(centroids.nonEmpty, "lloydAssign: empty corpus, no seeds")

    def assign(): DataFrame = {
      val normV = sqrt(Similarity.dot(col("v"), col("v")))
      // cosines materialized as named columns FIRST, so the argmax fold
      // below references each one once (no expression-tree blowup)
      val withCos = src.select(
        (col("vec_id") +: col("v") +: centroids.map { case (cid, ce) =>
          (Similarity.dot(col("v"), lit(ce)) / (normV * lit(normOf(ce))))
            .as(s"__c$cid")
        }): _*)
      // fold in ascending-cid order; strict > keeps the earlier (lower)
      // cid on ties — the deterministic tiebreak the oracle mirrors
      val (bestCid, bestCos) = centroids.map(_._1).sorted.tail
        .foldLeft((lit(centroids.map(_._1).min).cast("long"),
          col(s"__c${centroids.map(_._1).min}"))) {
          case ((bc, bv), cid) =>
            val c = col(s"__c$cid")
            (when(c > bv, lit(cid)).otherwise(bc), when(c > bv, c).otherwise(bv))
        }
      withCos.select(col("vec_id"), col("v"),
        bestCid.as("cid"), bestCos.as("cosine"))
    }

    var assigned = assign()
    var it = 1
    while (it < iters) {
      // quantized partial sums: exact longs, mergeable in any order
      val stats = assigned
        .select(col("cid"), posexplode(col("v")))
        .select(col("cid"), col("pos"),
          floor(col("col").cast("double") * Quantum).as("vq"))
        .groupBy("cid", "pos")
        .agg(sum("vq").as("sum_q"), count(lit(1)).as("n"))
        .collect()
      centroids = stats.groupBy(_.getLong(0)).toSeq.map { case (cid, rows) =>
        val dims = rows.map(r => (r.getInt(1),
          (r.getLong(2).toDouble / (r.getLong(3).toDouble * Quantum)).toFloat))
          .sortBy(_._1).map(_._2).toArray
        (cid, dims)
      }.sortBy(_._1)
      assigned = assign()
      it += 1
    }
    assigned.select(col("vec_id").as(idCol), col("cid"), col("cosine"))
  }

  /** Lloyd from the first-`k`-by-id seeds (the fixed, engine-neutral
    * quantizer the q39 oracle mirrors — see [[farthestPointSeeds]] for
    * the spread-seeking alternative). */
  def lloydAssign(corpus: DataFrame, idCol: String, vecCol: String,
                  k: Int, iters: Int): DataFrame = {
    val seeds = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("v"))
      .orderBy("vec_id").limit(k)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    lloydAssignFrom(corpus, idCol, vecCol, seeds, iters)
  }

  /** X109: label-cohesion index — per label, how directionally aligned
    * its member embeddings are, WITHOUT a square root anywhere:
    * `cohesion_ppm = 10⁶·|Σv|² div (n·Σ|v|²)`. For unit-norm vectors
    * this reads 10⁶ when all members point the same way and ~10⁶/n for
    * random directions (|Σv|² expands to Σᵢⱼ vᵢ·vⱼ — the sum of ALL
    * pairwise dots, diagonal included, so the index is the mean
    * pairwise cosine without ever materializing pairs). The cluster-
    * quality audit for labeled corpora and k-means outputs: a label
    * with low cohesion is incoherent or mislabeled.
    *
    * Integer-exact: elements floor-quantize at 10³ (the
    * embeddingDimStats squared-sum quantum — component sums up to
    * ~10⁹ rows × 10³ square inside a Long), |Σv|² folds the per-
    * (label, pos) component sums, Σ|v|² folds per-row self-dots; both
    * are map-side-combinable aggregates in ROW form (codegen width
    * independent of dims), and only the final ppm step lifts to
    * DECIMAL(38,0).
    *
    * @return (label, n, norm2_sum, sum_norm2, cohesion_ppm);
    *         cohesion_ppm is NULL for an all-zero label (0/0)
    */
  /** X119: pairwise group-centroid similarity — which labels/sources
    * are semantically CLOSE, the mixing diagnostic that complements
    * [[labelCohesionPpm]]'s within-group number: for every group pair,
    * the dot product of their (quantized) member-sum vectors together
    * with both squared norms, so the caller reads cos² as the exact
    * rational dot²/(n2_a·n2_b) without this operator ever taking a
    * square root or emitting a float.
    *
    * One explode + (group, pos) component-sum aggregate (map-side
    * combinable, row form — dims-independent codegen), then all
    * pairwise arithmetic runs on |groups|·dims rows — comparing 50
    * sources never rescans the corpus (the histogramDrift discipline).
    * Long arithmetic at the 10³ quantum is exact to ~10¹² rows per
    * group ([[graft.ops.Profiler.embeddingDimStats]]'s documented
    * bound).
    *
    * @return (g_a < g_b, dot, n2_a, n2_b): quantized-integer centroid
    *         dot and squared norms per group pair
    */
  def groupCentroidSims(feats: DataFrame, groupCol: String,
                        vecCol: String): DataFrame = {
    val comp = feats
      .select(col(groupCol).as("g"), posexplode(col(vecCol)))
      .select(col("g"), col("pos"),
        floor(col("col").cast("double") * 1e3).cast("long").as("__q"))
      .groupBy(col("g"), col("pos"))
      .agg(sum(col("__q")).as("__s"))
      .localCheckpoint(eager = false) // forked: norms + pairwise dots
    val n2 = comp.groupBy(col("g"))
      .agg(sum(col("__s") * col("__s")).as("n2"))
      .localCheckpoint(eager = false) // joined twice below
    comp.as("a").join(comp.as("b"),
        col("a.pos") === col("b.pos") && col("a.g") < col("b.g"))
      .groupBy(col("a.g").as("g_a"), col("b.g").as("g_b"))
      .agg(sum(col("a.__s") * col("b.__s")).as("dot"))
      .join(n2.select(col("g").as("g_a"), col("n2").as("n2_a")), Seq("g_a"))
      .join(n2.select(col("g").as("g_b"), col("n2").as("n2_b")), Seq("g_b"))
      .select(col("g_a"), col("g_b"), col("dot"), col("n2_a"), col("n2_b"))
  }

  /** X128: Adjusted Rand Index in exact ppm (Hubert & Arabie 1985) —
    * THE chance-corrected agreement score between two partitions of
    * the same rows: clustering vs ground-truth labels, two dedup
    * policies, language vs source purity. Everything derives from the
    * contingency table's pair-counting binomials, which makes the
    * whole metric PURE INTEGER arithmetic — no floats anywhere:
    *
    *   ARI = (C·Σij − Σa·Σb) / (C·(Σa+Σb)/2 − Σa·Σb)
    *
    * with C = C(n,2), Σij/Σa/Σb the cell/margin C(x,2) sums; both
    * sides are multiplied by 2 so the half stays integral, and the
    * final ppm uses the sign-split truncating DIV. The binomial
    * products reach n⁴·10⁶ — DECIMAL(38,0) holds that exactly to
    * 5·10⁷ rows, and the operator raises loudly beyond (compute per
    * slice or on a sample at larger n — the PMI bound discipline).
    *
    * Degenerate inputs (n < 2, or both partitions a single cluster)
    * have expected index == max index: defined as 1 000 000 ppm (the
    * sklearn convention), mirrored by the oracle.
    *
    * Scale shape: one count aggregate onto the |A|·|B| contingency
    * key, margin sums derived FROM the contingency (the raw frame is
    * scanned once), three single-row folds broadcast into the final
    * projection. Row volume shuffles exactly once.
    *
    * @return one row (n, sum_comb_ab, sum_comb_a, sum_comb_b, ari_ppm)
    */
  def adjustedRandPpm(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    // T-values are 2·C(x,2) = Σ x(x−1): always even, so no halving
    // ever happens inside an aggregate — the ARI ratio is rewritten as
    //   ari = 2·(Tn·Tij − Ta·Tb) / (Tn·(Ta+Tb) − 2·Ta·Tb)
    // which is the num2/den2 form with every term doubled twice.
    val ct = pairs.select(col(aCol).as("la"), col(bCol).as("lb"))
      .groupBy(col("la"), col("lb")).agg(count(lit(1)).as("nij"))
      .localCheckpoint(eager = false) // forked: cell sum + both margins
    val cell = ct.agg(sum(dec(col("nij")) * (col("nij") - 1)).as("tij"),
      sum(col("nij")).as("n"))
    val ma = ct.groupBy(col("la")).agg(sum(col("nij")).as("ai"))
      .agg(sum(dec(col("ai")) * (col("ai") - 1)).as("ta"))
    val mb = ct.groupBy(col("lb")).agg(sum(col("nij")).as("bj"))
      .agg(sum(dec(col("bj")) * (col("bj") - 1)).as("tb"))
    cell.crossJoin(broadcast(ma)).crossJoin(broadcast(mb))
      .select(col("n"), col("tij"), col("ta"), col("tb"),
        (dec(col("n")) * (col("n") - 1)).as("tn"))
      .select(col("n"),
        (col("tij") / 2).cast("long").as("sum_comb_ab"),
        (col("ta") / 2).cast("long").as("sum_comb_a"),
        (col("tb") / 2).cast("long").as("sum_comb_b"),
        (lit(2) * (col("tn") * col("tij") - col("ta") * col("tb"))).as("num2"),
        (col("tn") * (col("ta") + col("tb"))
          - lit(2) * col("ta") * col("tb")).as("den2"))
      .select(col("n"), col("sum_comb_ab"), col("sum_comb_a"), col("sum_comb_b"),
        // n⁴·10⁶ must stay inside DECIMAL(38,0): exact to 5·10⁷ rows,
        // loud beyond (the PMI magnitude-bound discipline — ARI on a
        // larger corpus is computed per slice/sample at that bound)
        when(col("n") > 50000000L, raise_error(lit(
          "ARI magnitude bound: compute per slice below 5e7 rows")))
          .when(col("den2") === 0, lit(1000000L))
          .when(col("num2") >= 0,
            expr("(num2 * 1000000) div den2").cast("long"))
          .otherwise((-expr("((-num2) * 1000000) div den2")).cast("long"))
          .as("ari_ppm"))
  }

  /** X125: simplified silhouette in exact ppm — THE cluster-quality
    * score (Rousseeuw 1987, simplified variant: distance to CENTROIDS,
    * not mean pairwise distance, which is what makes it computable in
    * one pass instead of |n|²) for any labeled embedding set: k-means
    * output, classifier labels, source tags. Per point a = squared
    * distance to its own label's centroid, b = min squared distance to
    * any other centroid, s = (b−a)/max(a,b) ∈ [−1, 1] reported as
    * per-label means in ppm. Using SQUARED distances is a deliberate,
    * documented variant (sign and the |s|=1 extremes agree with the
    * classic form; no sqrt keeps every step integer-exact).
    *
    * Determinism: components quantize at the 10³ quantum BEFORE any
    * arithmetic ([[labelCohesionPpm]]'s overflow discipline — squared
    * sums stay far from Long bounds at any corpus size); centroid
    * means and all ratio steps use the sign-split truncating division
    * so Spark DIV ≡ DuckDB //.
    *
    * Scale shape: the centroid model is |labels|·dims longs of driver
    * state (the X21 broadcast-model contract — labels are a model
    * axis, not a data axis); scoring is ONE corpus pass with the model
    * inlined as literals (per-centroid distance columns named first so
    * the a/b folds reference each once — no expression-tree blowup),
    * then one |labels|-key aggregate. No shuffle touches raw vectors.
    *
    * @return (label, n, mean_sil_ppm); a single-label input scores 0
    *         (silhouette is undefined there — documented, not an error)
    */
  def silhouettePpm(feats: DataFrame, labelCol: String,
                    vecCol: String): DataFrame = {
    val q3 = (x: Column) => floor(x.cast("double") * 1e3).cast("long")
    val stats = feats
      .select(col(labelCol).cast("long").as("label"), posexplode(col(vecCol)))
      .select(col("label"), col("pos"), q3(col("col")).as("vq"))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("vq")).as("s"), count(lit(1)).as("n"))
      .collect()
    require(stats.nonEmpty, "silhouettePpm: empty corpus")
    val cents: Seq[(Long, Array[Long])] = stats.groupBy(_.getLong(0)).toSeq
      .map { case (l, rows) =>
        // Scala / truncates toward zero on longs — the same sign-split
        // semantics the in-frame DIVs use
        (l, rows.map(r => (r.getInt(1), r.getLong(2) / r.getLong(3)))
          .sortBy(_._1).map(_._2).toArray)
      }.sortBy(_._1)
    val withD = feats
      .select(col(labelCol).cast("long").as("label"),
        transform(col(vecCol), x => q3(x)).as("__xq"))
      .select(col("label") +: cents.map { case (l, cq) =>
        aggregate(zip_with(col("__xq"), lit(cq), (x, c) => (x - c) * (x - c)),
          lit(0L), (acc, v) => acc + v).as(s"__d$l")
      }: _*)
    val aCol = cents.tail.foldLeft(
      when(col("label") === cents.head._1, col(s"__d${cents.head._1}"))) {
      case (acc, (l, _)) => acc.when(col("label") === l, col(s"__d$l"))
    }
    val others = array(cents.map { case (l, _) =>
      struct(lit(l).as("l"), col(s"__d$l").as("d")) }: _*)
    val bCol = array_min(transform(
      filter(others, s => s.getField("l") =!= col("label")),
      s => s.getField("d")))
    val sil = withD
      .select(col("label"), aCol.as("a"), bCol.as("b"))
      .select(col("label"),
        when(col("b").isNull || greatest(col("a"), col("b")) === 0, lit(0L))
          .when(col("b") >= col("a"),
            expr("(b - a) * 1000000 DIV greatest(a, b)"))
          .otherwise(-expr("(a - b) * 1000000 DIV greatest(a, b)")).as("sp"))
    sil.groupBy(col("label"))
      .agg(count(lit(1)).as("n"), sum(col("sp")).as("__ssp"))
      .select(col("label"), col("n"),
        when(col("__ssp") >= 0, expr("__ssp DIV n"))
          .otherwise(-expr("(-__ssp) DIV n")).as("mean_sil_ppm"))
  }

  def labelCohesionPpm(feats: DataFrame, labelCol: String,
                       vecCol: String): DataFrame = {
    val q3 = (x: Column) => floor(x.cast("double") * 1e3).cast("long")
    val comp = feats
      .select(col(labelCol).as("label"), posexplode(col(vecCol)))
      .select(col("label"), col("pos"), q3(col("col")).as("__q"))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("__q")).as("__s"))
      .groupBy(col("label"))
      .agg(sum(col("__s") * col("__s")).as("norm2_sum"))
    val rows = feats
      .select(col(labelCol).as("label"),
        aggregate(col(vecCol), lit(0L),
          (acc, x) => acc + q3(x) * q3(x)).as("__n2"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"), sum(col("__n2")).as("sum_norm2"))
    rows.join(comp, Seq("label"))
      .select(col("label"), col("n"), col("norm2_sum"), col("sum_norm2"),
        when(col("sum_norm2") > 0,
          expr("(cast(norm2_sum as decimal(38,0)) * 1000000) div " +
            "(cast(n as decimal(38,0)) * sum_norm2)").cast("long"))
          .as("cohesion_ppm"))
  }

  /** X166: cluster purity — the external-label diagnostic next to
    * [[adjustedRandPpm]] (chance-corrected agreement) and
    * [[silhouettePpm]] (geometry): per cluster, the share of its
    * members carrying the majority label. The readable per-cluster
    * answer to "which clusters are clean, which are mixed" that the
    * single-number scores average away — purity 40% in one cluster and
    * 99% in nine reads very differently from 93% overall.
    *
    * Row volume collapses once onto the (cluster, label) contingency
    * key (map-side combinable); the majority is a window-free
    * struct-min (highest count, ties to the lexicographically smaller
    * label — deterministic under any layout).
    *
    * @return (cluster_id, n_members, majority_label, majority_n,
    *         purity_ppm)
    */
  def clusterPurityPpm(df: DataFrame, clusterCol: String,
                       labelCol: String): DataFrame =
    df.select(col(clusterCol).as("cluster_id"),
        col(labelCol).cast("string").as("__l"))
      .groupBy(col("cluster_id"), col("__l")).agg(count(lit(1)).as("__c"))
      .groupBy(col("cluster_id"))
      .agg(sum(col("__c")).as("n_members"),
        min(struct((-col("__c")).as("nc"), col("__l").as("l"))).as("__m"))
      .select(col("cluster_id"), col("n_members"),
        col("__m.l").as("majority_label"), (-col("__m.nc")).as("majority_n"))
      .withColumn("purity_ppm", expr("(majority_n * 1000000) div n_members"))


  /** X214: grid-density clustering — the bounded-state member of the
    * density-based family (the grid tier of DBSCAN: STING / the
    * cell-based DBSCAN accelerations, Wang et al. VLDB 1997; Ester et
    * al. KDD 1996 for the density semantics): points land on a square
    * grid of side 1/`invCell`, a cell is DENSE when it holds ≥ `minPts`
    * points, clusters are connected components of 8-adjacent dense
    * cells, and points in sparse cells read cluster −1 (noise). The
    * embedding-map view a curator uses to find modes and strip outliers
    * when k-means' "exactly k convex blobs" assumption is wrong —
    * density finds however many arbitrarily-shaped modes exist.
    *
    * Determinism: `invCell` must be a power of two (loud), so
    * x·invCell is an EXACT IEEE product and floor() lands identically
    * on any engine — same pin as the quantizer family. Cell
    * coordinates are loudly bounded to |c| < 2^20 so a cell packs into
    * one long key ((cx+2^20) << 21 | cy+2^20); the cluster id is the
    * min packed key in the component — canonical and engine-portable.
    *
    * Scale shape: the corpus collapses to cell counts in ONE map-side-
    * combinable aggregate (state = live cells, never points); dense-
    * cell adjacency is 4 equi-joins on shifted keys (forward offsets
    * only — each undirected edge built once) over the ≤ |cells| frame;
    * components run on [[graft.ops.ConnectedComponents]] (pointer-
    * doubling, ⌈log₂ n⌉ rounds); the only corpus-width operation is
    * the final broadcast-size label join back onto the points.
    *
    * @return (`idCol`, cx, cy, cluster) — cluster = min packed dense-cell
    *         key in the component, −1 for points in sparse cells
    */
  def gridDensityClusters(df: DataFrame, idCol: String, xExpr: Column,
                          yExpr: Column, invCell: Int,
                          minPts: Long): DataFrame = {
    require(invCell >= 1 && (invCell & (invCell - 1)) == 0 &&
      invCell <= (1 << 20),
      s"invCell must be a power of two in [1, 2^20] (exact IEEE product): $invCell")
    require(minPts >= 1, s"minPts must be >= 1: $minPts")
    val Half = 1L << 20
    def cellOf(e: Column, name: String): Column = {
      val c = floor(e.cast("double") * invCell).cast("long")
      when(abs(c) >= Half, raise_error(concat(
        lit(s"gridDensityClusters: |$name cell| must stay below 2^20 "
          + "(packs into one long key) — coarsen invCell: "),
        c.cast("string")))).otherwise(c)
    }
    val pts = df.select(col(idCol).as("__id"),
        cellOf(xExpr, "x").as("cx"), cellOf(yExpr, "y").as("cy"))
      .localCheckpoint(eager = false) // forked: cell counts + label join
    val packed = expr(s"shiftleft(cx + ${Half}L, 21) + (cy + ${Half}L)")
    val dense = pts.groupBy(col("cx"), col("cy"))
      .agg(count(lit(1)).as("__cnt"))
      .filter(col("__cnt") >= minPts)
      .select(col("cx"), col("cy"), packed.as("__k"))
      .localCheckpoint(eager = false) // forked: 4 edge probes + self rows
    // forward offsets only: each undirected adjacency built exactly once
    val edges = Seq((1, -1), (1, 0), (1, 1), (0, 1))
      .map { case (dx, dy) =>
        dense.as("a").join(dense.as("b"),
          col("a.cx") + dx === col("b.cx") && col("a.cy") + dy === col("b.cy"))
          .select(col("a.__k").as("a"), col("b.__k").as("b"))
      }
      .reduce(_ unionByName _)
      // isolated dense cells are single-cell clusters: keep them in the
      // node set with a self-loop (labels() only sees edge endpoints)
      .unionByName(dense.select(col("__k").as("a"), col("__k").as("b")))
    val labels = ConnectedComponents.labels(edges)
      .select(col("node").as("__k"), col("cluster_id").as("__c"))
    pts
      .join(broadcast(dense.join(labels, Seq("__k"))
        .select(col("cx"), col("cy"), col("__c"))), Seq("cx", "cy"), "left")
      .select(col("__id").as(idCol), col("cx"), col("cy"),
        coalesce(col("__c"), lit(-1L)).as("cluster"))
  }
}
