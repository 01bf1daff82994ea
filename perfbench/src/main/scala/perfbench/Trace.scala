package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.store.TableStore

/** In-memory spans around the calls the benchmark makes into each layer;
  * written out once, when the run ends. A disabled tracer only runs the
  * body. */
final class Tracer(val enabled: Boolean, runId: String) {
  import Tracer.Span

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def apply[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Summed duration of the spans named `name`, in seconds. */
  def seconds(name: String): Double =
    spans.iterator.filter(_.name == name).map(s => s.endNs - s.startNs).sum / 1e9

  /** Writes every span as a JSON line, and a table of count, total and
    * self time (total minus the time covered by child spans) per name. */
  def write(dir: Path): Unit = if (enabled) {
    Files.createDirectories(dir)
    val lines = spans.sortBy(_.startNs).map { s =>
      s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    Files.write(dir.resolve("spans.jsonl"), lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    val childNs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(c => c.endNs - c.startNs).sum }
    val rows = spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      val total = ss.map(s => s.endNs - s.startNs).sum
      val self = ss.map(s => s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)).sum
      f"$name%-28s ${ss.size}%7d ${total / 1e9}%10.3f ${self / 1e9}%10.3f"
    }
    val header = f"${"span"}%-28s ${"count"}%7s ${"total_s"}%10s ${"self_s"}%10s"
    Files.write(dir.resolve("layers.txt"),
      (header +: rows).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)
}

/** `TableStore` that times each load policy and counts reads, so the
  * store layer's share of a pipeline run or of a query shows. */
final class TimingTableStore(spark: SparkSession, root: String, trace: Tracer)
    extends TableStore(spark, root) {
  val readCalls = new AtomicInteger()

  override def read(table: String): DataFrame = {
    readCalls.incrementAndGet()
    trace("store.read")(super.read(table))
  }
  override def overwrite(table: String, df: DataFrame): Unit =
    trace("store.overwrite")(super.overwrite(table, df))
  override def appendIgnore(table: String, df: DataFrame,
                            tiebreak: Seq[org.apache.spark.sql.Column]): Long =
    trace("store.append_ignore")(super.appendIgnore(table, df, tiebreak))
  override def upsert(table: String, df: DataFrame,
                      tiebreak: Seq[org.apache.spark.sql.Column]): Long =
    trace("store.upsert")(super.upsert(table, df, tiebreak))
}

/** Job, stage and task counters, from a listener attached to the session
  * for the measured window. */
final class SparkCounters extends SparkListener {
  val jobs = new AtomicInteger()
  val stages = new AtomicInteger()
  val tasks = new AtomicInteger()
  val maxTasksPerStage = new AtomicInteger()
  val taskRunMs = new AtomicLong()
  val shuffleBytes = new AtomicLong()
  val spillBytes = new AtomicLong()
  val gcMs = new AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    maxTasksPerStage.accumulateAndGet(e.stageInfo.numTasks, math.max)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      taskRunMs.addAndGet(m.executorRunTime)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      gcMs.addAndGet(m.jvmGCTime)
    }
  }

  /** The benchmark's `spark.*` per-layer metrics over `wallS` seconds;
    * `task_busy_share` is task run time / (wall x cores). */
  def metrics(wallS: Double, cores: Int): Map[String, Double] = Map(
    "spark.jobs" -> jobs.get.toDouble, "spark.stages" -> stages.get.toDouble,
    "spark.tasks" -> tasks.get.toDouble, "spark.max_tasks_per_stage" -> maxTasksPerStage.get.toDouble,
    "spark.task_busy_share" -> taskRunMs.get / 1000.0 / (wallS * cores),
    "spark.shuffle_bytes" -> shuffleBytes.get.toDouble, "spark.spill_bytes" -> spillBytes.get.toDouble,
    "spark.gc_s" -> gcMs.get / 1000.0)
}
