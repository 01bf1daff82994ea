package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole forked test JVM. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      // graft's SQL functions, installed the way every runner session does
      .withExtensions(new graft.functions.GraftSparkExtensions())
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
      .config("spark.ui.enabled", "false")
      // GC-envelope hardening (the BASELINE.md q97 lesson, applied to the
      // shared test session): one long stop-the-world pause in this 48 GiB
      // single-JVM fork can trip HeartbeatReceiver's 120 s default, mark the
      // only executor dead, and local mode cannot re-register it (the
      // BlockManager re-register path asks the CoarseGrainedScheduler
      // endpoint, which exists only on clusters) — the fork then dies with
      // exit 56 minutes later. Clusters pin exactly these two for their own
      // GC envelopes.
      .config("spark.network.timeout", "600s")
      .config("spark.executor.heartbeatInterval", "30s")
      // Session parity with the runners (see RunnerSession.scala): coalesce
      // post-shuffle stages by data size, not core count — specs run
      // KB-sized frames, so per-task scheduling overhead is pure waste.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
