package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Knob and tool census of `src/main`: every `spark.graft.*` key the
  * engine reads is documented in README's "Deployment confs" table, every
  * `SPARK_GRAFT_*` env var in its "Verify / bench" section (and nothing
  * else is), every main builds its session through the one builder in
  * `Graft.session`, and every output tree is written by the one pipeline
  * in `StreamingJob`. Run from the repository root.
  */
class CensusSpec extends AnyFunSuite {

  private def mainSources: Seq[(Path, String)] =
    scala.util.Using.resource(Files.walk(Paths.get("src/main/scala"))) { walk =>
      walk.iterator.asScala.filter(_.toString.endsWith(".scala"))
        .map(p => p -> Files.readString(p)).toList
    }

  test("the spark.graft.* keys read in src/main are exactly README's conf table") {
    val inCode = mainSources.flatMap { case (_, src) =>
      "\"(spark\\.graft\\.[A-Za-z0-9_.]+)".r.findAllMatchIn(src).map(_.group(1))
    }.toSet
    val readme = Files.readString(Paths.get("README.md"))
    val section = readme.linesIterator
      .dropWhile(!_.startsWith("## Deployment confs"))
      .drop(1).takeWhile(!_.startsWith("## ")).toList
    val inTable = section.flatMap(l =>
      "^\\| `(spark\\.graft\\.[A-Za-z0-9_.]+)`".r.findFirstMatchIn(l).map(_.group(1))).toSet
    assert(inCode.nonEmpty)
    assert(inCode == inTable,
      s"undocumented: ${inCode -- inTable}; documented but unread: ${inTable -- inCode}")
  }

  test("the SPARK_GRAFT_* env vars read in src/main are exactly README's list") {
    val inCode = mainSources.flatMap { case (_, src) =>
      "\"(SPARK_GRAFT_[A-Z0-9_]+)\"".r.findAllMatchIn(src).map(_.group(1))
    }.toSet
    val section = Files.readString(Paths.get("README.md")).linesIterator
      .dropWhile(!_.startsWith("## Verify / bench"))
      .drop(1).takeWhile(!_.startsWith("## ")).mkString("\n")
    val inReadme = "`(SPARK_GRAFT_[A-Z0-9_]+)`".r.findAllMatchIn(section)
      .map(_.group(1)).toSet
    assert(inCode.nonEmpty)
    assert(inCode == inReadme,
      s"undocumented: ${inCode -- inReadme}; documented but unread: ${inReadme -- inCode}")
  }

  test("SparkSession.builder appears in exactly one src/main file") {
    val builders = mainSources.collect {
      case (p, src) if src.contains("SparkSession.builder") => p.toString
    }
    assert(builders == Seq("src/main/scala/graft/core/Graft.scala"), builders)
  }

  test("new NexusSink( appears in exactly one src/main file") {
    val sinks = mainSources.collect {
      case (p, src) if src.contains("new NexusSink(") => p.toString
    }
    assert(sinks == Seq("src/main/scala/graft/streaming/StreamingJob.scala"), sinks)
  }

  test("rows are numbered once, in the writer modules") {
    // each module emits final row ids; the sink appends tables as emitted
    val numbering = mainSources.collect {
      case (p, src) if src.contains("Rows.indexed(") => p.toString
    }
    assert(numbering == Seq("src/main/scala/graft/operators/WriterModules.scala"), numbering)
    val stale = mainSources.collect {
      case (p, src) if src.contains("denseRowTables") || src.contains("sparseKey") => p.toString
    }
    assert(stale.isEmpty, stale)
  }

  test("writer modules stay lazy: no collect, toDF or createDataFrame outside the distributed cue walk") {
    // module plans are built once per stream and evaluated per trigger,
    // so building one must run no Spark action; the Spark evaluator of
    // ev44's cue chain is the one named exception
    val src = Files.readString(Paths.get("src/main/scala/graft/operators/WriterModules.scala"))
    val code = src.linesIterator.map(_.replaceAll("//.*$", "")).mkString("\n")
    val walk = code.indexOf("private def distributedCueWalk(")
    assert(walk >= 0, "the distributed cue walk is gone or renamed")
    // the walk's body: from its first brace to the matching one
    val open = code.indexOf('{', walk)
    var depth = 0
    var end = open
    do {
      if (code(end) == '{') depth += 1
      if (code(end) == '}') depth -= 1
      end += 1
    } while (depth > 0)
    val rest = code.substring(0, walk) + code.substring(end)
    val eager = Seq("\\.collect\\(\\)", "\\btoDF\\(", "\\bcreateDataFrame\\(").flatMap { p =>
      p.r.findAllMatchIn(rest).map(m => rest.substring(0, m.start).count(_ == '\n') + 1)
    }
    assert(eager.isEmpty, s"eager Spark actions in WriterModules.scala outside the walk, near lines $eager")
  }
}
