package graft.operators

import org.json4s._
import org.json4s.jackson.JsonMethods

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.WriterModules.{Da00, ModuleConfig}

/** da00 first-message schema reconciliation (`da00_Writer.cpp:65-130`):
  * declared config is authoritative, gaps fill from the message, mismatches
  * are flagged, undeclared message variables are appended.
  */
class Da00ReconcileSpec extends AnyFunSuite {

  private def cfg(json: String) = ModuleConfig(
    JsonMethods.parse(json) match {
      case JObject(fs) => fs.toMap
      case _           => Map.empty
    })

  test("declared spec wins; missing dtype/shape fill from the message") {
    val c = cfg("""{"variables":[
      {"name":"signal","data_type":"int32"},
      {"name":"aux"}]}""")
    val out = Da00.reconcile(c, Map(
      "signal" -> ("int64", Seq(7L)),
      "aux"    -> ("float64", Seq(3L))))
    val byName = out.map(v => v.name -> v).toMap
    assert(byName("signal").dataType.contains("int32")) // declared wins
    assert(byName("signal").shape.contains(Seq(7L)))    // filled from message
    assert(byName("signal").mismatch)                   // int32 vs int64 flagged
    assert(byName("aux").dataType.contains("float64"))
    assert(!byName("aux").mismatch)
  }

  test("declared-but-absent kept (null-fill later); undeclared appended") {
    val c = cfg("""{"variables":[{"name":"signal","data_type":"int32","shape":[7]}]}""")
    val out = Da00.reconcile(c, Map("other" -> ("uint8", Seq(2L, 2L))))
    assert(out.map(_.name) == Seq("signal", "other"))
    assert(out.head.declared && out.head.dataType.contains("int32"))
    assert(!out(1).declared && out(1).shape.contains(Seq(2L, 2L)))
  }
}

/** Runtime constants-consistency check (`da00_Writer.cpp:92-118`): a later
  * message carrying a constant's name with DIFFERENT data is flagged; the
  * streaming job surfaces the count as write errors.
  */
class Da00ConstantsSpec extends graft.SparkSpec {
  import spark.implicits._
  import graft.sources.Fixtures.Da00Msg

  private def cfgJ(json: String) = ModuleConfig(
    JsonMethods.parse(json) match {
      case JObject(fs) => fs.toMap
      case _           => Map.empty
    })

  private def msg(off: Long, name: String, data: Seq[Double]) =
    Da00Msg("tp", "arr", off, 10100 + off, (10100 + off) * 1000000L, name, "x", data)

  test("constant carried with different data is counted; matching is not") {
    val c = cfgJ("""{"constants":[{"name":"cal","data_type":"float64","data":[1.0,2.0]}]}""")
    val df = Seq(
      msg(0, "cal", Seq(1.0, 2.0)),    // consistent
      msg(1, "cal", Seq(1.0, 9.0)),    // mismatch
      msg(2, "signal", Seq(5.0)),      // not a constant — ignored
      msg(3, "cal", Seq(1.0, 2.0, 3.0)) // mismatch (shape)
    ).toDF()
    // counted on the driver: the input is a local relation
    assert(graft.streaming.StreamingJob.checkCounts(Da00.checks(df, c).get) == Map("cal" -> 2L))
    // and by Spark's aggregate for a distributed input
    val distributed = spark.createDataFrame(df.rdd.repartition(2), df.schema)
    assert(graft.streaming.StreamingJob.checkCounts(Da00.checks(distributed, c).get) ==
      Map("cal" -> 2L))
  }

  test("no declared constant data ⇒ nothing to check") {
    val c = cfgJ("""{"constants":[{"name":"cal","data_type":"float64"}]}""")
    assert(Da00.checks(Seq(msg(0, "cal", Seq(1.0))).toDF(), c).isEmpty)
  }

  test("streaming job surfaces constant mismatches as write errors") {
    val template =
      """{ "children": [
        |  { "name": "arr", "type": "group", "children": [
        |    { "module": "da00",
        |      "config": { "source": "arr", "topic": "tp",
        |                  "variables": [ {"name": "signal"} ],
        |                  "constants": [
        |                    {"name": "cal", "data_type": "float64",
        |                     "data": [1.0, 2.0]} ] } } ] }
        |] }""".stripMargin
    val out = java.nio.file.Files.createTempDirectory("graft-da00").toString
    val job = new graft.streaming.StreamingJob(
      spark, graft.plans.NexusPlan.parse(template), out, 10000, 15000)
    job.processBatch("da00", Seq(
      msg(0, "signal", Seq(7.0)),
      msg(1, "cal", Seq(1.0, 2.0)),
      msg(2, "cal", Seq(4.0, 4.0))).toDF())
    assert(job.metrics("arr")("write_errors") == 1L)
  }
}
