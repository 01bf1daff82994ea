package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload in one JVM: set up, measure for the
  * requested seconds, check every output, and print one JSON line of
  * metric values (`perfbench/run.py` attaches units and the run verdict).
  *
  * Usage: perfbench.Harness <workload> <seed> <seconds> <trace 0|1> <workDir> <cores>
  */
object Harness {

  /** Months of history already in the warehouse before the new month. */
  val HistoryMonths = 2

  /** Seeding passes per untraced run: each seeds a fresh warehouse from
    * the model through `TableStore.overwrite`, and `setup_s` is their
    * median. The model and the workbooks are made once per run and are
    * not part of `setup_s`; they are the benchmark's work, not the
    * program's. The first pass runs in a cold JVM, so the median of three
    * is a warm pass. A traced run does not report `setup_s` and seeds once. */
  val SetupPasses = 3

  final case class Run(workload: String, seed: Long, seconds: Double, trace: Boolean,
                       work: Path, cores: Int) {
    private val failuresFile = work.resolve("failures.jsonl")

    /** Side file of every failure the benchmark caught: exception class and message. */
    def recordFailure(what: String, e: Throwable): Unit = {
      val msg = Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" | ")
        .replace("\\", "\\\\").replace("\"", "\\\"")
      Files.write(failuresFile,
        s"""{"workload":"$workload","op":"$what","exception":"${e.getClass.getName}","message":"$msg"}\n"""
          .getBytes(StandardCharsets.UTF_8),
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    }
  }

  final case class Outcome(correct: Boolean, attempted: Int, failed: Int, metrics: Map[String, Double]) {
    def json: String = {
      val ms = metrics.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${Stats.num(v)}""" }
      s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":${ms.mkString("{", ",", "}")}}"""
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 6,
      "usage: perfbench.Harness <workload> <seed> <seconds> <trace 0|1> <workDir> <cores>")
    val run = Run(args(0), args(1).toLong, args(2).toDouble, args(3) == "1",
      Paths.get(args(4)).toAbsolutePath, args(5).toInt)
    Files.createDirectories(run.work)
    val spark = session(run.cores)
    val outcome =
      try run.workload match {
        case "etl_monthly" => new EtlMonthly(spark, run).apply()
        case "warehouse_reads" => new WarehouseReads(spark, run).apply()
        case w => throw new IllegalArgumentException(s"unknown workload: $w")
      } finally spark.stop()
    println(outcome.json)
  }

  /** The session `graft.pipeline.Main` builds, so in-process calls run
    * under the program's own configuration. */
  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Progress line on stderr: what ran and how long it took. */
  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** Runs `body` and logs its wall time under `what`. */
  def timed[A](what: String)(body: => A): A = {
    val (a, s) = time(body)
    log(f"$what: $s%.3f s")
    a
  }

  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p)
    try all.iterator.asScala.toSeq.reverse.foreach(Files.delete) finally all.close()
  }

  def copyTree(from: Path, to: Path): Unit = {
    val all = Files.walk(from)
    try all.iterator.asScala.foreach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
    } finally all.close()
  }

  /** Regular files under `dir` (relative path -> bytes), skipping `.staging`. */
  def dataFiles(dir: Path): Map[String, Long] = {
    val all = Files.walk(dir)
    try all.iterator.asScala
      .filter(f => Files.isRegularFile(f))
      .map(f => dir.relativize(f).toString -> Files.size(f))
      .filterNot(_._1.startsWith(".staging"))
      .toMap
    finally all.close()
  }
}

object Stats {
  /** Linear-interpolated quantile (q in [0,1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else quantile(xs, 0.5)

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
