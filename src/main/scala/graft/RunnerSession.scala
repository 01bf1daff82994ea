package graft

import org.apache.spark.sql.SparkSession

import graft.functions.GraftSparkExtensions

/** The one session definition of the query runners (Bench, Verify, RunOne,
  * PlanOne, Plans, ProfileOne, GoldenScale, HeavyScale, StressScale), so
  * the configuration a plan audit or profile describes is the one Bench
  * times. Every session that runs graft ops needs [[GraftSparkExtensions]]:
  * it is installed here at construction, the way a cluster installs it
  * with `spark.sql.extensions=graft.functions.GraftSparkExtensions`.
  *
  * `SPARK_GRAFT_CPUS` sets the local core count (`defaultCpus` when
  * unset). `graft.pipeline.Main` keeps its own, smaller session.
  */
object RunnerSession {
  def create(defaultCpus: Int = 4): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(defaultCpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftSparkExtensions())
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // AQE partition headroom: start wide so big-stage aggregates and
      // sorts never funnel millions of keys through one task (the r9
      // 100x probe measured pageRank's edge distinct going 28x super-
      // linear on exactly this cliff: 7.5M keys/partition at width 16
      // spills; width 256 restored ~linear scaling, 420 -> 255 s).
      // AQE coalesces small stages back down to the advisory size, so
      // sf0.001-sized queries pay nothing. A real cluster sizes this
      // to data volume; 8 threads of headroom per core is the local
      // stand-in.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        math.max(128, cpus * 8))
      // Coalesce post-shuffle stages to the ADVISORY SIZE, not to the
      // core count (guide §2.2: size partitions to data, not cores):
      // with the default parallelismFirst=true a KB-sized stage still
      // runs `defaultParallelism` tasks, and at local[32] the per-task
      // scheduling overhead (single-threaded DAGScheduler event loop)
      // dominates small queries — measured on a 45-query sf0.1 slice:
      // 79.2 s → 64.9 s best-of-2 (single-pass 182 → 121 s). At 100 TB
      // the same setting yields the same wide stages as before, because
      // data volume, not core count, then drives the width.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      // ...with the advisory size PARAMETERISED and a local default that
      // keeps CPU-dense stages parallel: coalescing is size-based, but a
      // stage can be compute-bound on few bytes (q97's in-core triangle
      // intersections: 5.8 MB shuffle, ~7 s CPU — 64 MB advisory funnels
      // it into ONE task). 2 MB at sf0.1 (~100 MB inputs) is the same
      // partitions-per-input ratio a 64-256 MB advisory gives cluster
      // inputs; production sets SPARK_GRAFT_ADVISORY_PART accordingly.
      // Measured (best-of-2, sf0.1, 32c): CPU-dense 12-query slice
      // 75.4 s @64m -> 47.7 s @2m; scheduling-bound 45-query slice
      // 79.2 s (parallelismFirst=true) -> 59.2 s.
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        sys.env.getOrElse("SPARK_GRAFT_ADVISORY_PART", "2m"))
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet stores nanosecond timestamps (see Tables.events)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // GC-envelope hardening (BASELINE.md q97 lesson): local mode has no
      // executor recovery, so a single long stop-the-world pause in this
      // one-JVM fleet (measured: 160 s on the q97 x100 adjacency build,
      // near the 48g heap ceiling) trips HeartbeatReceiver's 120 s
      // default and the context kills ITSELF mid-run. Clusters pin the
      // same pair to their own GC envelopes.
      .config("spark.network.timeout", "600s")
      .config("spark.executor.heartbeatInterval", "30s")
      // Let AQE coalesce CACHED plans' output partitioning too: a cached
      // post-shuffle frame otherwise pins initialPartitionNum partitions,
      // so every downstream job (counts, writes) pays shuffle-width task
      // counts on tiny data — the q236 store-write regression class.
      // Values are unchanged; only partition counts move (scale-neutral:
      // the flag defers to the same AQE size targets on any volume).
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // saveAsTable targets (GoldenScale's bucketed-join guard) land in a
      // throwaway directory, never in the working directory
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Dev-only runtime-conf passthrough (";"-separated k=v pairs) for
    // config A/Bs without a rebuild — runtime SQL confs only, e.g.
    // spark.sql.objectHashAggregate.sortBased.fallbackThreshold=N. The
    // driver never sets it; the session above is what drivers measure.
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(';').filter(_.contains("="))
      .foreach { kv =>
        val i = kv.indexOf('='); spark.conf.set(kv.take(i), kv.drop(i + 1))
      })
    spark
  }
}
