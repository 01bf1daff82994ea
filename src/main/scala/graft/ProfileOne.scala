package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Dev-only stage-level profiler: run one named query with the bench
  * session config and print, per completed stage, the wall duration,
  * task count, summed executor run/GC/deserialize time, shuffle bytes
  * and spill — the guide §1/§7.1 task-metrics table without the UI
  * (headless container). Extra `k=v` args after the query name are set
  * as runtime SQL confs before the run, so AQE knob A/Bs need no
  * rebuild.
  *
  * Usage: runMain graft.ProfileOne <queryName> [sfDir] [reps] [k=v ...]
  */
object ProfileOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = args.lift(1).filterNot(_.contains("=")).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(2).filterNot(_.contains("=")).map(_.toInt).getOrElse(1)
    val confs = args.filter(_.contains("=")).map { a =>
      val i = a.indexOf('='); (a.take(i), a.drop(i + 1))
    }
    val spark = RunnerSession.create()
    confs.foreach { case (k, v) => spark.conf.set(k, v) }

    final case class St(var wallMs: Long = 0, var tasks: Int = 0,
                        var runMs: Long = 0, var gcMs: Long = 0,
                        var deserMs: Long = 0, var resSerMs: Long = 0,
                        var shRead: Long = 0, var shWrite: Long = 0,
                        var spill: Long = 0, var nameHint: String = "")
    val stages = mutable.LinkedHashMap.empty[Int, St]
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
        val s = stages.getOrElseUpdate(t.stageId, St())
        val m = t.taskMetrics
        if (m != null) {
          s.tasks += 1
          s.runMs += m.executorRunTime
          s.gcMs += m.jvmGCTime
          s.deserMs += m.executorDeserializeTime
          s.resSerMs += m.resultSerializationTime
          s.shRead += m.shuffleReadMetrics.totalBytesRead
          s.shWrite += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.diskBytesSpilled + m.memoryBytesSpilled
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
        val i = e.stageInfo
        val s = stages.getOrElseUpdate(i.stageId, St())
        s.wallMs = (for {a <- i.completionTime; b <- i.submissionTime} yield a - b).getOrElse(-1L)
        s.nameHint = i.name.takeWhile(_ != '\n').take(60)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val fn = SparkEntry.queries(name)
    (1 to reps).foreach { i =>
      registry.Memos.clearMemos()
      listener.synchronized(stages.clear())
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      // listener events are posted async; let the bus drain
      Thread.sleep(500)
      val snap = listener.synchronized(stages.toSeq.sortBy(_._1))
      println(f"[profile] $name rep $i: $wall%.2f s, $n rows, ${snap.size} stages, " +
        f"sum(stageWall)=${snap.map(_._2.wallMs).sum / 1e3}%.2f s")
      println(f"${"stage"}%6s ${"wall_s"}%8s ${"tasks"}%6s ${"run_s"}%8s ${"gc_s"}%7s " +
        f"${"deser_s"}%8s ${"shR_MB"}%8s ${"shW_MB"}%8s ${"spill_MB"}%9s  name")
      snap.foreach { case (id, s) =>
        println(f"$id%6d ${s.wallMs / 1e3}%8.2f ${s.tasks}%6d ${s.runMs / 1e3}%8.2f " +
          f"${s.gcMs / 1e3}%7.2f ${s.deserMs / 1e3}%8.2f ${s.shRead / 1e6}%8.1f " +
          f"${s.shWrite / 1e6}%8.1f ${s.spill / 1e6}%9.1f  ${s.nameHint}")
      }
    }
    spark.stop()
  }
}
