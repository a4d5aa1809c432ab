package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Knob and tool census of `src/main`: every `spark.graft.*` key the
  * engine reads is documented in README's "Deployment confs" table, every
  * `SPARK_GRAFT_*` env var in its "Verify / bench" section (and nothing
  * else is), every main builds its session through the one builder in
  * `Graft.session`, every output tree is written by the one pipeline in
  * `StreamingJob`, and every `src/main` file is reached from an entry
  * point. Run from the repository root.
  */
class CensusSpec extends AnyFunSuite {
  import CensusSpec._

  private def mainSources: Seq[(Path, String)] = sources("src/main/scala")

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

  test("every src/main file is reached from an entry point") {
    val missed = unreached(
      (sources("src/main/scala") ++ sources("perfbench/src")).map { case (p, s) => p.toString -> s })
    if (missed.nonEmpty)
      fail("reached by no main, SparkEntry, GraftExtensions or perfbench source: " +
        missed.map { case (p, n) => s"$p ($n lines)" }.mkString(", "))
  }

  // a planted tree: one main that calls Used, and the file under test
  private val app = "src/main/scala/graft/App.scala" ->
    "package graft\nobject App { def main(args: Array[String]): Unit = Used.go() }\n"
  private val planted = "src/main/scala/graft/Planted.scala" ->
    "package graft\n\nobject Planted { def go(): Unit = () }\n"
  private def used(body: String) = "src/main/scala/graft/Used.scala" ->
    s"package graft\n\nobject Used {\n  def go(): Unit = {\n$body\n  }\n}\n"

  test("reachability: a file that nothing references is reported") {
    assert(unreached(Seq(app, used(""), planted)) == Seq(planted._1 -> 3))
    // the control: one call from a reached file reaches it, and a `//`
    // inside a string literal starts no comment
    assert(unreached(Seq(app, used("""val u = "file:///x"; Planted.go()"""), planted)).isEmpty)
  }

  test("reachability: a name in a comment or scaladoc link is no reference") {
    val mentions = Seq(
      "// Planted.go()",
      "/** Calls [[graft.Planted.go]] and [[Planted]]. */",
      "/* outer /* nested */ Planted */")
    mentions.foreach { m =>
      assert(unreached(Seq(app, used(m), planted)).map(_._1) == Seq(planted._1), m)
    }
  }

  test("reachability: a reference from a src/test source does not count") {
    val spec = "src/test/scala/graft/PlantedSpec.scala" ->
      "package graft\n\nclass PlantedSpec { def main(args: Array[String]): Unit = Planted.go() }\n"
    assert(unreached(Seq(app, used(""), planted, spec)).map(_._1) == Seq(planted._1))
    // perfbench sources are roots: a harness call reaches the file
    val harness = "perfbench/src/graftperf/Run.scala" -> "object Run { graft.Planted.go() }"
    assert(unreached(Seq(app, used(""), planted, harness)).isEmpty)
  }
}

object CensusSpec {

  def sources(root: String): Seq[(Path, String)] =
    scala.util.Using.resource(Files.walk(Paths.get(root))) { walk =>
      walk.iterator.asScala.filter(_.toString.endsWith(".scala"))
        .map(p => p -> Files.readString(p)).toList
    }

  /** Scala source with line, block (nested) and scaladoc comments removed.
    * String and char literals are kept, or blanked to `""` when
    * `keepStrings` is false; newlines are kept.
    */
  def stripComments(src: String, keepStrings: Boolean = true): String = {
    val out = new StringBuilder
    val charLit = """'(\\u[0-9a-fA-F]{4}|\\.|[^\\'\n])'""".r
    val n = src.length
    var i = 0
    def at(s: String) = src.startsWith(s, i)
    def literal(end: Int): Unit = {
      out ++= (if (keepStrings) src.substring(i, end) else "\"\"")
      i = end
    }
    while (i < n) {
      if (at("//")) {
        while (i < n && src(i) != '\n') i += 1
      } else if (at("/*")) {
        var depth = 0
        do {
          if (at("/*")) { depth += 1; i += 2 }
          else if (at("*/")) { depth -= 1; i += 2 }
          else { if (src(i) == '\n') out += '\n'; i += 1 }
        } while (depth > 0 && i < n)
        out += ' '
      } else if (at("\"\"\"")) {
        var j = src.indexOf("\"\"\"", i + 3)
        if (j < 0) j = n
        else { while (j + 3 < n && src(j + 3) == '"') j += 1; j += 3 }
        literal(j)
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < n && src(j) != '"' && src(j) != '\n') j += (if (src(j) == '\\') 2 else 1)
        literal(math.min(j + 1, n))
      } else {
        val char =
          if (src(i) == '\'') charLit.findPrefixMatchOf(src.substring(i, math.min(i + 8, n)))
          else None
        char match {
          case Some(m) => literal(i + m.end)
          case None    => out += src(i); i += 1
        }
      }
    }
    out.toString
  }

  /** The `object`/`class`/`trait` names a source declares at top level. */
  def declared(src: String): Set[String] = {
    val code = stripComments(src, keepStrings = false)
    var depth = 0
    "[{}]|\\b(?:object|class|trait)\\s+([A-Za-z_][A-Za-z0-9_]*)".r.findAllMatchIn(code).flatMap { m =>
      m.matched match {
        case "{" => depth += 1; None
        case "}" => depth -= 1; None
        case _   => if (depth == 0) Some(m.group(1)) else None
      }
    }.toSet
  }

  private def words(code: String): Set[String] =
    "[A-Za-z_][A-Za-z0-9_]*".r.findAllIn(code).toSet

  /** The `src/main/scala` files of `sources` (path, text) that no entry
    * point reaches, with their line counts. File A reaches file B when
    * A's code, comments removed, names one of B's top-level declarations
    * as a whole word. The roots are the files that define a `main`,
    * `SparkEntry`, `GraftExtensions` (Spark loads it by class name) and
    * every file a `perfbench/src` source names; any other path, `src/test`
    * included, is ignored.
    */
  def unreached(sources: Seq[(String, String)]): Seq[(String, Int)] = {
    val main = sources.filter(_._1.startsWith("src/main/scala/"))
    val names = main.map { case (p, s) => p -> declared(s) }.toMap
    val code = main.map { case (p, s) => p -> stripComments(s) }.toMap
    def named(ws: Set[String], self: String): Seq[String] =
      main.map(_._1).filter(q => q != self && names(q).exists(ws))
    val harness = sources.filter(_._1.startsWith("perfbench/src/"))
      .flatMap { case (_, s) => named(words(stripComments(s)), "") }
    val roots = main.map(_._1).filter(p => code(p).contains("def main(") ||
      p.endsWith("/SparkEntry.scala") || p.endsWith("/GraftExtensions.scala")) ++ harness
    val seen = scala.collection.mutable.Set(roots: _*)
    var frontier = roots.distinct
    while (frontier.nonEmpty) {
      frontier = frontier.flatMap(p => named(words(code(p)), p)).distinct.filter(seen.add)
    }
    main.collect { case (p, s) if !seen(p) => p -> s.linesIterator.length }.sortBy(_._1)
  }
}
