package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only 100× probe of the HEAVY operator family (VERDICT r8 task 4).
  *
  * GoldenScale's 10× sweep is green, but the next decade is where the
  * size-dependent cliffs live: broadcast thresholds, the connected-
  * components ≤100k-edge driver fast path, and any accidentally
  * super-linear pair generation. This runner synthesizes the heavy
  * queries' two input tables (documents, lineitem) at BOTH 10× and
  * 100× sf0.1 with the same construction, times each heavy query at
  * both scales, and reports the wall ratio next to a post-AQE
  * join-shape diff. Linear operators should land near ratio 10; a
  * ratio well past that is either a documented fixture artifact or a
  * bug to fix.
  *
  * Construction differs from GoldenScale in one deliberate way: copy
  * i > 0 of `documents` suffixes every token with `~i` (key shifts
  * alone cannot stop TEXT operators from pairing the 100 verbatim
  * clones of every doc — that cross-copy explosion is quadratic in
  * copies by construction and would measure the fixture, not the
  * engine). Token salting keeps each copy's INTERNAL near-dup
  * structure byte-identical while making cross-copy shingles/sketches
  * disjoint, so the 100× corpus behaves like 100 shards of the same
  * distribution — exactly the shape a 100 TB corpus has. lineitem
  * needs only the GoldenScale key shifts: the graph queries join on
  * keys, so shifted copies are disjoint components.
  *
  * Output lands under /tmp (testdata is read-only); results are
  * recorded in BASELINE.md, clearly self-measured.
  *
  * Usage: runMain graft.HeavyScale [outDirBase] [bigCopies]
  */
object HeavyScale {

  /** the heavy set named by VERDICT r8 task 4 */
  private val HeavyQueries = Seq(
    "q23_dedup_simhash",       // simhash band join, documents
    "q36_dedup_clusters",      // minhash pairs → connected components
    "q63_pagerank",            // 3-round pagerank, lineitem graph
    "q87_edit_join",           // PassJoin segments + banded levenshtein
    "q97_triangles",           // degree-ordered triangle count
    "q100_label_propagation",  // weighted LPA, part co-purchase
    "q106_entity_clusters")    // edit-join pairs → connected components

  private val LineitemShifts = Map("l_orderkey" -> 10000000L,
    "l_partkey" -> 1000000L, "l_suppkey" -> 1000000L)

  /** documents: shift doc_id AND salt every token of copy i with `~i`
    * (regex \S+ keeps whitespace structure, so per-copy tokenization
    * is isomorphic to the base corpus). */
  private def buildDocs(spark: SparkSession, srcDir: String, outDir: String,
                        copies: Int): Unit = {
    val src = spark.read.parquet(s"$srcDir/documents.parquet")
    val scaled = (0 until copies).map { i =>
      val shifted = src.withColumn("doc_id", col("doc_id") + lit(i * 1000000L))
      if (i == 0) shifted
      else shifted.withColumn("text",
        regexp_replace(col("text"), "(\\S+)", "$1~" + i))
    }.reduce(_ unionByName _)
    scaled.write.mode("overwrite").parquet(s"$outDir/documents.parquet")
  }

  private def buildLineitem(spark: SparkSession, srcDir: String,
                            outDir: String, copies: Int): Unit = {
    val src = spark.read.parquet(s"$srcDir/lineitem.parquet")
    val scaled = (0 until copies).map { i =>
      LineitemShifts.foldLeft(src) { case (df, (k, off)) =>
        df.withColumn(k, col(k) + lit(i * off))
      }
    }.reduce(_ unionByName _)
    scaled.write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
  }

  private def build(spark: SparkSession, srcDir: String, outDir: String,
                    copies: Int): Unit = {
    val meta = java.nio.file.Paths.get(outDir, "_HEAVY_META")
    if (java.nio.file.Files.exists(meta) &&
        new String(java.nio.file.Files.readAllBytes(meta)).trim ==
          s"copies=$copies") return
    buildDocs(spark, srcDir, outDir, copies)
    buildLineitem(spark, srcDir, outDir, copies)
    println(s"[heavy] built ${copies}x fixture at $outDir")
    // written LAST — an interrupted build never passes the check
    java.nio.file.Files.write(meta,
      s"copies=$copies\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  private def joinShape(df: DataFrame): Map[String, Int] = {
    val plan = df.queryExecution.executedPlan.toString
    Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
      "BroadcastNestedLoopJoin", "CartesianProduct")
      .map(op => op -> plan.sliding(op.length).count(_ == op)).toMap
      .filter(_._2 > 0)
  }

  private def run(spark: SparkSession, name: String,
                  dir: String): (Long, Double, Map[String, Int]) = {
    registry.Memos.clearMemos()
    BlockRelease.releaseTransient(spark) // memos cleared → releases all
    System.gc()
    spark.sparkContext.setJobDescription(s"heavy:$name:$dir")
    val t0 = System.nanoTime()
    val d = SparkEntry.queries(name)(spark, dir)
    val n = d.count()
    ((n, (System.nanoTime() - t0) / 1e9, joinShape(d)))
  }

  def main(args: Array[String]): Unit = {
    val base = if (args.nonEmpty) args(0) else "/tmp/heavy"
    val bigCopies = if (args.length > 1) args(1).toInt else 100
    // Both legs of every ratio must run the SAME CC algorithm: the 10x
    // pair graphs of q36/q106 can sit under the 100k-edge driver fast
    // path while the 100x legs take pointer doubling — that ratio would
    // measure an algorithm switch, not scaling. Forced for this harness
    // only (per-probe JVMs make it process-wide-safe).
    sys.props("graft.cc.localThreshold") = "0"
    val spark = RunnerSession.create(defaultCpus = 8)

    val smallDir = s"$base/x10"
    val bigDir = s"$base/x$bigCopies"
    build(spark, "/root/testdata/sf0.1", smallDir, 10)
    build(spark, "/root/testdata/sf0.1", bigDir, bigCopies)

    val names = HeavyQueries.filter(registry.Registry.wanted("SPARK_GRAFT_HEAVY_ONLY"))
    var failures = 0
    names.foreach { name =>
      val res =
        try {
          val (n10, t10, s10) = run(spark, name, smallDir)
          val (n100, t100, s100) = run(spark, name, bigDir)
          Right((n10, t10, s10, n100, t100, s100))
        } catch { case e: Throwable => Left(e) }
      res match {
        case Right((n10, t10, s10, n100, t100, s100)) =>
          val intoNested = Seq("BroadcastNestedLoopJoin", "CartesianProduct")
            .exists(op => s100.getOrElse(op, 0) > s10.getOrElse(op, 0))
          if (intoNested) failures += 1
          val flip = if (s100 == s10) "" else
            s"${if (intoNested) " NESTED-LOOP-FLIP" else " PLAN-FLIP"} x10=$s10 x$bigCopies=$s100"
          println(f"[heavy] $name x10: rows=$n10 $t10%.1f s | x$bigCopies: " +
            f"rows=$n100 $t100%.1f s | wall-ratio=${t100 / t10}%.1f " +
            f"row-ratio=${n100.toDouble / n10}%.1f$flip")
        case Left(e) =>
          failures += 1
          println(s"[heavy] $name FAILED: ${e.getClass.getSimpleName}: " +
            s"${Option(e.getMessage).getOrElse("").take(200)}")
      }
    }
    println(s"[heavy] done: ${names.size - failures}/${names.size} heavy queries green at ${bigCopies}x sf0.1")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
