package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions injector for graft's native expressions — the
  * one place graft's SQL functions are registered. Any session that runs
  * graft ops installs it at construction: declaratively on a cluster,
  *
  *   spark.sql.extensions=graft.functions.GraftSparkExtensions
  *
  * or through the session builder's `withExtensions(new GraftSparkExtensions())`
  * in embedded use, as [[graft.RunnerSession]] does. The functions then
  * resolve in every SQL string and `call_function` of that session.
  */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftSparkExtensions.Functions.foreach { case (name, usage, build) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftSparkExtensions].getName, null, name,
          s"$name$usage", "", "", "", "", "", "", "scala_udf"),
        build))
    }
}

object GraftSparkExtensions {
  /** integer literal argument `i` (sizes fixed at plan time) */
  private def int(es: Seq[Expression], i: Int): Int =
    es(i).eval().asInstanceOf[Number].intValue()

  /** (name, usage after the name, builder) of every graft SQL function */
  val Functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("normalize_text", "(str) - reference cell normalization",
      es => NormalizeTextExpr(es.head, header = false)),
    ("normalize_header", "(str) - reference header normalization",
      es => NormalizeTextExpr(es.head, header = true)),
    ("graft_polyhash", "(str) - polynomial code-point hash mod 1e9+7",
      es => PolyHashExpr(es.head)),
    ("graft_dot", "(a, b) - ordered double dot product of float arrays",
      es => DotProductExpr(es.head, es(1))),
    ("graft_simhash30", "(tokens) - 30-bit tf-weighted SimHash",
      es => SimHashExpr(es.head, bits = 30)),
    ("graft_minhash16", "(hashes) - 16-function MinHash signature",
      es => MinHashExpr(es.head, k = 16)),
    ("graft_jlproject", "(vec, dims, outDims) - JL random projection of a float array",
      es => JlProjectExpr(es.head, int(es, 1), int(es, 2))),
    ("graft_pqassign", "(vec, cbFlat, m, ksub) - product-quantization codes",
      es => PqAssignExpr(es.head, es(1), int(es, 2), int(es, 3))),
    ("graft_bytemax", "(bin) - aggregate: elementwise byte max",
      es => ByteMaxAgg(es.head)),
    ("graft_hllpack", "(bucket, rho, m) - aggregate: packed HLL registers",
      es => HllPackAgg(es.head, es(1), int(es, 2))),
    ("graft_unpack_bytes", "(bin) - bytes as array<bigint>",
      es => UnpackBytesExpr(es.head)),
    ("graft_mg", "(item, k) - aggregate: Misra-Gries frequent-items summary",
      es => MgSummaryAgg(es.head, int(es, 1))),
    ("graft_jaro_winkler", "(a, b) - Jaro-Winkler similarity in ppm",
      es => JaroWinklerExpr(es.head, es(1))),
    ("graft_swarmax", "(a, b) - lane-wise max of 8 byte lanes in a bigint",
      es => SwarByteMaxExpr(es.head, es(1))),
    ("graft_packmax", "(arr, n) - aggregate: lane-wise max of packed register vectors",
      es => PackedRegMaxAgg(es.head, int(es, 1))),
    ("graft_mgw", "(item, w, k) - aggregate: weighted Misra-Gries summary",
      es => MgWeightedAgg(es.head, es(1), int(es, 2))))
}
