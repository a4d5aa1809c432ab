package graft.operators

import java.nio.file.{Files, Paths}

import org.json4s.JsonAST.JInt

import graft.SparkSpec
import graft.operators.WriterModules.{Cursor, ModuleConfig}
import graft.plans.NexusPlan
import graft.streaming.StreamingJob

/** Pins the driver-side cue arithmetic that lets the streaming write path
  * skip provably-empty cue appends (`WriterModule.plannedCueCount`): the
  * closed form must equal the row count the module's cue FILTER produces,
  * for every cursor/grid alignment — the skip is only sound if the two
  * computations can never disagree.
  */
class CueGridSpec extends SparkSpec {
  import spark.implicits._

  private def f144Cfg(interval: Long) =
    ModuleConfig(Map("cue_interval" -> JInt(interval)))
  private def ad00Cfg(interval: Option[Long]) =
    ModuleConfig(interval.map(i => "cue_interval" -> (JInt(i): org.json4s.JValue)).toMap)

  // (lastCue, rowStart, rows, interval) corners: grid-aligned starts,
  // mid-grid cursors, batches smaller/larger than the interval, a cursor
  // AHEAD of rowStart (never happens in the job, must still be consistent)
  private val cases = Seq(
    (0L, 0L, 10L, 3L), (0L, 0L, 3L, 3L), (0L, 0L, 2L, 3L),
    (5L, 5L, 7L, 3L), (5L, 6L, 1L, 3L), (4L, 7L, 9L, 5L),
    (0L, 100L, 50L, 1000L), (999L, 999L, 1L, 1000L), (999L, 999L, 2L, 1000L),
    (10L, 0L, 30L, 7L), (0L, 0L, 1L, 1L), (3L, 3L, 0L, 2L))

  test("f144: plannedCueCount equals the cue filter's row count on every corner") {
    for ((lastCue, rowStart, rows, n) <- cases) {
      val df = (0 until rows.toInt)
        .map(i => (rowStart + i, 1000L + i, i.toDouble))
        .toDF("offset", "ts", "value")
      val cur = Cursor(rowsWritten = Map("data" -> rowStart), lastCue = lastCue,
        sizeHint = rows, elemHint = rows)
      val planned = WriterModules.F144
        .plannedCueCount(f144Cfg(n), cur, rows)
      val actual = WriterModules.F144
        .tables(df, f144Cfg(n), cur)("cue").count()
      assert(planned.contains(actual),
        s"f144 lastCue=$lastCue rowStart=$rowStart rows=$rows n=$n: " +
          s"planned=$planned actual=$actual")
    }
  }

  test("ad00: plannedCueCount equals the cue filter's row count, incl. the 1000 default") {
    for ((lastCue, rowStart, rows, n) <- cases) {
      val df = (0 until rows.toInt)
        .map(i => (rowStart + i, 1000L + i, Seq(1.0, 2.0), Seq(2L)))
        .toDF("offset", "ts", "data", "dimensions")
      val cur = Cursor(rowsWritten = Map("data" -> rowStart), lastCue = lastCue,
        sizeHint = rows, elemHint = rows * 2)
      val planned = WriterModules.Ad00
        .plannedCueCount(ad00Cfg(Some(n)), cur, rows)
      val actual = WriterModules.Ad00
        .tables(df, ad00Cfg(Some(n)), cur)("cue").count()
      assert(planned.contains(actual),
        s"ad00 lastCue=$lastCue rowStart=$rowStart rows=$rows n=$n: " +
          s"planned=$planned actual=$actual")
    }
    // unset interval → the module's 1000-message default, still predictable
    assert(WriterModules.Ad00
      .plannedCueCount(ad00Cfg(None), Cursor(), 999L).contains(0L))
    assert(WriterModules.Ad00
      .plannedCueCount(ad00Cfg(None), Cursor(), 1000L).contains(1L))
  }

  test("ev44 keeps plannedCueCount=None — its cue walk is data-dependent") {
    assert(WriterModules.Ev44
      .plannedCueCount(ModuleConfig(Map.empty), Cursor(), 100L).isEmpty)
  }

  test("streaming: a never-firing cue grid writes no per-trigger cue files, counters intact") {
    val template =
      """{ "children": [
        |  { "name": "entry", "type": "group", "children": [
        |    { "name": "speed", "type": "group", "children": [
        |      { "module": "f144",
        |        "config": { "source": "speed", "topic": "tp",
        |                    "cue_interval": 1000000 } } ] } ] } ] }""".stripMargin
    val out = Files.createTempDirectory("graft-cueskip").toString
    val job = new StreamingJob(spark, NexusPlan.parse(template), out, 0, 1L << 40)
    (0 until 3).foreach { b =>
      job.processBatch("f144", (0 until 5).map { i =>
        graft.sources.Fixtures.F144Msg("tp", "speed", b * 5L + i, 1000 + b * 5L + i,
          (1000 + b * 5L + i) * 1000000L, i.toDouble)
      }.toDF())
    }
    // grid never fires: the skip means the cue directory does not even
    // exist yet (the old shape left one empty part file per trigger)
    assert(!Files.exists(Paths.get(s"$out/data/entry/speed/cue")),
      "cue dir should not exist before finish()")
    assert(job.counter("entry/speed", "data") == 15L)
    assert(job.counter("entry/speed", "cue") == 0L)
    job.finish()
    // finish()'s empty seeding still materializes the declared table
    assert(spark.read.parquet(s"$out/data/entry/speed/cue").count() == 0L)
    assert(spark.read.parquet(s"$out/data/entry/speed/data").count() == 15L)
  }

  test("streaming: a firing cue grid is identical with the skip path in place") {
    val template =
      """{ "children": [
        |  { "name": "entry", "type": "group", "children": [
        |    { "name": "speed", "type": "group", "children": [
        |      { "module": "f144",
        |        "config": { "source": "speed", "topic": "tp",
        |                    "cue_interval": 4 } } ] } ] } ] }""".stripMargin
    val out = Files.createTempDirectory("graft-cuefire").toString
    val job = new StreamingJob(spark, NexusPlan.parse(template), out, 0, 1L << 40)
    (0 until 3).foreach { b =>
      job.processBatch("f144", (0 until 5).map { i =>
        graft.sources.Fixtures.F144Msg("tp", "speed", b * 5L + i, 1000 + b * 5L + i,
          (1000 + b * 5L + i) * 1000000L, i.toDouble)
      }.toDF())
    }
    job.finish()
    // 15 writes on a 4-grid → cues after writes 4, 8, 12 (cue_index 3,7,11)
    val cues = spark.read.parquet(s"$out/data/entry/speed/cue")
      .orderBy("cue_index").collect()
    assert(cues.map(_.getAs[Long]("cue_index")).toSeq == Seq(3L, 7L, 11L))
    assert(job.counter("entry/speed", "cue") == 3L)
  }

  test("appends write no _SUCCESS markers") {
    val out = Files.createTempDirectory("graft-nosuccess").toString
    val template =
      """{ "children": [
        |  { "name": "entry", "type": "group", "children": [
        |    { "name": "speed", "type": "group", "children": [
        |      { "module": "f144",
        |        "config": { "source": "speed", "topic": "tp" } } ] } ] } ] }""".stripMargin
    val job = new StreamingJob(spark, NexusPlan.parse(template), out, 0, 1L << 40)
    job.processBatch("f144", Seq(
      graft.sources.Fixtures.F144Msg("tp", "speed", 0L, 1000L, 1000000000L, 1.0)
    ).toDF())
    job.finish()
    val markers = {
      val s = Files.walk(Paths.get(out))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.count(_.getFileName.toString == "_SUCCESS")
      } finally s.close()
    }
    assert(markers == 0, "append dirs must carry no _SUCCESS markers")
  }
}
