package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Embedding storage quantization — the compression primitive of a
  * 100 TB embedding table: symmetric per-vector int8 (4× smaller than
  * float32 at rest, and the shape ANN engines consume). Pure narrow
  * projection: no shuffle, codegen'd, columnar in and out.
  *
  * Determinism (cross-engine contract): `scale = 127/max|v_i|` is one
  * double division off an exact float max; each code is
  * `floor(v_i · scale)` — same association order in the DuckDB oracle,
  * so codes match bit-for-bit. The floor edge can emit -128 (when
  * `v_i = -max` rounds a hair past -127), which still fits int8; a
  * zero vector gets scale 0 and all-zero codes.
  */
object Quantize {

  /** @return (id, qvec: array<byte>, scale: double) — reconstruct with
    *         `v_i ≈ qvec_i / scale`.
    *
    * The O(dims) scale fold is BOUND AS A LAMBDA VARIABLE (a transform
    * over a one-element array) rather than carried as a projection
    * column: Catalyst's projection collapse and generator/filter
    * pushdown substitute plain column aliases into every use site —
    * which previously inlined the fold into the per-element lambda and
    * into a filter pushed to the scan (O(dims²) interpreted work per
    * row; the r4 q42 plan defect). A LambdaVariable is opaque to
    * expression substitution, so the fold is evaluated once per
    * reference to the packed struct — O(dims) per row under ANY
    * downstream plan rewrite. */
  def int8(corpus: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val maxAbs = array_max(transform(col(vecCol), x => abs(x)))
    val scale = when(maxAbs > 0, lit(127.0) / maxAbs.cast("double"))
      .otherwise(lit(0.0))
    val packed = transform(array(scale), s0 => struct(
      transform(col(vecCol), x =>
        when(s0 > 0, floor(x.cast("double") * s0))
          .otherwise(lit(0L)).cast("byte")).as("qvec"),
      s0.as("scale"))).getItem(0)
    corpus.select(col(idCol),
      packed.getField("qvec").as("qvec"),
      packed.getField("scale").as("scale"))
  }

  /** X116: product quantization codes (Jégou et al. TPAMI'11) — the
    * faiss-style memory-reduction step between int8 ([[int8]]) and raw
    * floats: each vector splits into `m` subvectors and each subvector
    * is replaced by the index of its nearest codebook centroid
    * (squared L2, left-to-right double fold), so a 64-float vector
    * stores as m small codes. Deterministic, iteration-free codebook:
    * the first `ksub` corpus vectors by id (the X7b IVF seed
    * convention) — a production deployment plugs trained centroids
    * into the same shape.
    *
    * Spark shape: the codebook is ksub·dims floats of DRIVER state
    * broadcast as a literal into ONE native codegen'd projection
    * ([[graft.functions.PqAssignExpr]]) — no per-(row, code) explode,
    * no shuffle, the data never moves (the X21 k-means discipline).
    * Ties take the smallest code (strict `<` scan), bit-identical to
    * the oracle's (d2 ASC, code ASC) rank because both engines run the
    * identical IEEE double fold.
    *
    * @return (`idCol`, sub 0..m−1, code 0..ksub−1), m rows per vector
    */
  def pqCodes(corpus: DataFrame, idCol: String, vecCol: String,
              m: Int = 8, ksub: Int = 16): DataFrame = {
    require(m >= 1 && ksub >= 1, s"pqCodes needs m, ksub >= 1: $m, $ksub")
    val cbRows = corpus.select(col(idCol).cast("long").as("__i"),
        col(vecCol).as("__v"))
      .orderBy(col("__i")).limit(ksub).collect()
    require(cbRows.length == ksub,
      s"pqCodes needs at least ksub=$ksub vectors, got ${cbRows.length}")
    val dims = cbRows.head.getSeq[Float](1).length
    require(dims % m == 0, s"dims=$dims must be divisible by m=$m")
    require(cbRows.forall(_.getSeq[Float](1).length == dims),
      "codebook vectors must share one dimensionality")
    val flat = cbRows.flatMap(_.getSeq[Float](1)).toArray
    corpus.select(col(idCol),
        posexplode(call_function("graft_pqassign", col(vecCol),
          lit(flat), lit(m), lit(ksub))))
      .select(col(idCol), col("pos").cast("long").as("sub"),
        col("col").cast("long").as("code"))
  }

  /** X117: PQ asymmetric-distance kNN (the ADC search of Jégou
    * TPAMI'11 §IV) — the query path over [[pqCodes]]' compressed
    * corpus: per query a (m × ksub) distance table is precomputed
    * against the codebook, and a corpus vector's approximate distance
    * is just m TABLE LOOKUPS summed — the corpus is never decoded.
    *
    * Spark shape: the distance table is |queries|·m·ksub rows of
    * DRIVER-computed state joined BROADCAST onto the (sub, code)
    * columns of the code table; one map-side-combinable
    * (query, vector) sum and a per-query top-k window. Distances
    * floor-quantize to longs at 10⁹ in the TABLE (before any
    * aggregation), so the summed distance is merge-order exact and the
    * ranking bit-identical on any engine — a raw double sum over the m
    * lookups would depend on partial-aggregation order.
    *
    * @return (query_id, neighbor_id, rnk, dist_q): top `k` by
    *         (quantized ADC distance ASC, neighbor ASC), self excluded
    */
  def pqAdcTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int, m: Int = 8,
                ksub: Int = 16): DataFrame = {
    require(k >= 1, s"pqAdcTopK needs k >= 1: $k")
    val spark = corpus.sparkSession
    import spark.implicits._
    val cbRows = corpus.select(col(idCol).cast("long").as("__i"),
        col(vecCol).as("__v"))
      .orderBy(col("__i")).limit(ksub).collect()
    require(cbRows.length == ksub,
      s"pqAdcTopK needs at least ksub=$ksub vectors, got ${cbRows.length}")
    val dims = cbRows.head.getSeq[Float](1).length
    require(dims % m == 0, s"dims=$dims must be divisible by m=$m")
    val sub = dims / m
    val cb = cbRows.map(_.getSeq[Float](1).toArray)
    val qRows = queries.select(col(idCol).cast("long").as("__i"),
        col(vecCol).as("__v")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    // Per-(query, sub, code) squared L2, the same left-to-right double
    // fold as the assignment — floor-quantized HERE, not after summing.
    val dtable = (for {
      (qid, qv) <- qRows.toSeq
      j <- 0 until m
      c <- 0 until ksub
    } yield {
      var d2 = 0.0d
      var i = 0
      while (i < sub) {
        val idx = j * sub + i
        val v = if (idx < qv.length) qv(idx).toDouble else 0.0d
        val t = v - cb(c)(idx).toDouble
        d2 += t * t
        i += 1
      }
      (qid, j.toLong, c.toLong, math.floor(d2 * 1e9).toLong)
    }).toDF("query_id", "sub", "code", "dq")
    pqCodes(corpus, idCol, vecCol, m, ksub)
      .withColumnRenamed(idCol, "neighbor_id")
      .join(broadcast(dtable), Seq("sub", "code"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("dq")).as("dist_q"))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("dist_q").asc, col("neighbor_id").asc)).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"), col("dist_q"))
  }
}
