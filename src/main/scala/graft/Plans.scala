package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Physical-plan audit artifact generator (`PLANS_r{N}.md`): dumps the
  * initial (pre-AQE) executed plan of every declared query, condensed to
  * the lines that matter for a scale review — exchanges, joins,
  * aggregates, windows, scans (with pushed filters), generators. Run:
  * `sbt "runMain graft.Plans <sfDir> <outFile>"`.
  */
object Plans {
  private val Keep =
    Seq("Exchange", "HashAggregate", "ObjectHashAggregate", "SortAggregate",
      "FileScan", "Join", "Window", "Expand", "Generate", "Sort ", "Scan ",
      "Union", "LocalLimit", "GlobalLimit", "TakeOrdered", "Project [", "Filter (",
      "WindowGroupLimit", "UnionLoop", "MapPartitions", "SerializeFromObject")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("PLANS_r3.md")
    val spark = RunnerSession.create()
    val sb = new StringBuilder(
      s"# Physical plans (initial, pre-AQE) at $sfDir\n")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      sb.append(s"\n## $name\n\n```\n")
      try {
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString()
        plan.linesIterator
          .filter(l => Keep.exists(l.contains))
          .map(l => if (l.length > 240) l.take(240) else l)
          .foreach(l => sb.append(l.trim.replaceAll("^[:+\\- ]*", "+- ")).append('\n'))
      } catch {
        case e: Exception => sb.append(s"ERROR: ${e.getMessage}\n")
      }
      sb.append("```\n")
    }
    Files.write(Paths.get(out), sb.toString.getBytes(StandardCharsets.UTF_8))
    println(s"wrote $out")
    spark.stop()
  }
}
