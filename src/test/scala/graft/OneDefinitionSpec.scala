package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftSparkExtensions

/** The runner session, the SQL function table and each suite query are
  * written once: sessions come from [[RunnerSession]] (or
  * `pipeline.Main`'s own), functions are registered only by
  * [[GraftSparkExtensions]], and a query is one `QuerySpec`. A copy
  * added anywhere else in `src/main/scala` fails here. */
class OneDefinitionSpec extends AnyFunSuite {
  private lazy val sources: Map[String, String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: $root")
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map((p: Path) => root.relativize(p).toString -> Files.readString(p)).toMap
    finally walk.close()
  }

  private def filesWith(needle: String): Set[String] =
    sources.collect { case (f, text) if text.contains(needle) => f }.toSet

  test("SparkSession.builder appears only in RunnerSession and pipeline.Main") {
    assert(filesWith("SparkSession.builder") ==
      Set("graft/RunnerSession.scala", "graft/pipeline/Main.scala"))
  }

  test("no imperative function registration; every graft_* call is in the table") {
    assert(filesWith("createOrReplaceTempFunction").isEmpty)
    val table = GraftSparkExtensions.Functions.map(_._1).toSet
    val called = sources.values.flatMap { text =>
      "\\b(graft_[a-z0-9_]+)\\(".r.findAllMatchIn(text).map(_.group(1)) ++
        "call_function\\(\"(graft_[a-z0-9_]+)\"".r.findAllMatchIn(text).map(_.group(1))
    }.toSet
    assert(called.nonEmpty && called.subsetOf(table), s"not in the table: ${called -- table}")
  }

  test("no query is a name -> body or name -> SQL map entry") {
    val entries = sources.toSeq.flatMap { case (f, text) =>
      "\"q\\d+_\\w+\"\\s*->".r.findAllIn(text).map(m => s"$f: $m")
    }
    assert(entries.isEmpty, entries.mkString("\n"))
  }
}
