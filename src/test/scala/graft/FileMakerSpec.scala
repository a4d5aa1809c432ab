package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

/** Acceptance suite — the reference's domain tests re-expressed over the
  * parquet-mirror sink (`domain-tests/test_writer_modules.py`,
  * `test_buffered.py`, `test_messages_before_and_after.py`,
  * `test_repeated_messages.py`). Same message values, same window
  * [10 s, 15 s], same golden outputs.
  */
class FileMakerSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft-fm").toString

  private def read(out: String, path: String): DataFrame =
    spark.read.parquet(s"$out/data/$path").orderBy("row")

  private def longs(df: DataFrame, c: String): Seq[Long] =
    df.select(c).collect().map(_.getLong(0)).toSeq

  private def doubles(df: DataFrame, c: String): Seq[Double] =
    df.select(c).collect().map(_.getDouble(0)).toSeq

  private val template =
    """{ "children": [
      |  { "name": "entry", "type": "group",
      |    "attributes": [ { "name": "NX_class", "dtype": "string", "values": "NXentry" } ],
      |    "children": [
      |      { "module": "dataset",
      |        "config": { "name": "title", "values": "This is a title", "dtype": "string" } },
      |      { "module": "mdat", "config": { "items": ["start_time", "end_time"] } },
      |      { "name": "instrument", "type": "group", "children": [
      |        { "name": "chopper", "type": "group", "children": [
      |          { "name": "rotation_speed", "type": "group", "children": [
      |            { "module": "f144",
      |              "config": { "source": "local:choppers:rotation_speed",
      |                          "topic": "local_choppers", "value_units": "Hz",
      |                          "dtype": "double" } } ] },
      |          { "name": "delay", "type": "group", "children": [
      |            { "module": "f144",
      |              "config": { "source": "local:choppers:delay",
      |                          "topic": "local_choppers", "dtype": "double" } } ] } ] },
      |        { "name": "events", "type": "group", "children": [
      |          { "module": "ev44",
      |            "config": { "source": "detector_events", "topic": "local_detector" } } ] },
      |        { "name": "image", "type": "group", "children": [
      |          { "module": "ad00",
      |            "config": { "source": "image_data", "topic": "local_detector",
      |                        "array_size": [2, 2], "dtype": "uint16" } } ] },
      |        { "name": "monitor", "type": "group", "children": [
      |          { "module": "da00",
      |            "config": { "source": "monitor_data", "topic": "local_detector",
      |                        "variables": [ { "name": "signal", "unit": "counts",
      |                                         "data_type": "int32",
      |                                         "axes": ["x"], "shape": [7] } ] } } ] } ] },
      |      { "module": "link",
      |        "config": { "name": "speed_link",
      |                    "source": "../instrument/chopper/rotation_speed/value" } }
      |    ] } ] }""".stripMargin

  private def msg(fields: String): String = s"{ $fields }"
  private def f144(src: String, ts: Long, v: Double) =
    msg(s""""schema":"f144","topic":"local_choppers","kafka_timestamp":$ts,
         |"source_name":"$src","timestamp":$ts,"value":$v""".stripMargin)
  private def ev44(ts: Long, tof: Seq[Int], pix: Seq[Int]) =
    msg(s""""schema":"ev44","topic":"local_detector","kafka_timestamp":$ts,
         |"source_name":"detector_events","reference_time":$ts,
         |"time_of_flight":[${tof.mkString(",")}],"pixel_ids":[${pix.mkString(",")}]""".stripMargin)

  private val messages = "[" + Seq(
    f144("local:choppers:rotation_speed", 10100, 10),
    msg(""""schema":"ep01","topic":"local_choppers","kafka_timestamp":10101,
        |"source_name":"local:choppers:rotation_speed",
        |"connection_status":"ConnectionInfo::CONNECTED","timestamp":10101""".stripMargin),
    msg(""""schema":"al00","topic":"local_choppers","kafka_timestamp":10102,
        |"source_name":"local:choppers:rotation_speed","timestamp":10102,
        |"severity":"Severity::MINOR","message":"Chopper speed is too low"""".stripMargin),
    f144("local:choppers:delay", 10150, 1000000000),
    f144("local:choppers:rotation_speed", 10110, 15),
    msg(""""schema":"ep01","topic":"local_choppers","kafka_timestamp":10111,
        |"source_name":"local:choppers:rotation_speed",
        |"connection_status":"ConnectionInfo::CONNECTED","timestamp":10111""".stripMargin),
    msg(""""schema":"al00","topic":"local_choppers","kafka_timestamp":10112,
        |"source_name":"local:choppers:rotation_speed","timestamp":10112,
        |"severity":"Severity::OK","message":"Chopper speed is perfect"""".stripMargin),
    ev44(10200, Seq(10, 20, 30, 40), Seq(1, 2, 3, 4)),
    ev44(10210, Seq(50, 60, 70, 80), Seq(1, 2, 3, 4)),
    ev44(10220, Seq(90, 100, 110, 120), Seq(1, 2, 3, 4)),
    ev44(10230, Seq(130, 140, 150, 160), Seq(1, 2, 3, 4)),
    msg(""""schema":"ad00","topic":"local_detector","kafka_timestamp":10300,
        |"source_name":"image_data","timestamp":10300,"data":[[10,11],[12,13]]""".stripMargin),
    msg(""""schema":"ad00","topic":"local_detector","kafka_timestamp":10310,
        |"source_name":"image_data","timestamp":10310,"data":[[13,12],[11,10]]""".stripMargin),
    msg(""""schema":"da00","topic":"local_detector","kafka_timestamp":10500,
        |"source_name":"monitor_data","timestamp":10500,"name":"signal",
        |"axis_name":"x","data":[1,2,3,4,3,2,1]""".stripMargin),
    msg(""""schema":"da00","topic":"local_detector","kafka_timestamp":10600,
        |"source_name":"monitor_data","timestamp":10600,"name":"signal",
        |"axis_name":"x","data":[4,3,2,1,2,3,4]""".stripMargin)
  ).mkString(",\n") + "]"

  private lazy val out: String = {
    val dir = tmp()
    FileMaker.run(spark, template, messages, dir)
    dir
  }

  test("f144 writes values, times, and running aggregates (min 10, max 15, mean 12.5)") {
    val d = read(out, "entry/instrument/chopper/rotation_speed/data")
    assert(doubles(d, "value") == Seq(10.0, 15.0))
    assert(longs(d, "time") == Seq(10100000000L, 10110000000L))
    val meta = spark.read
      .parquet(s"$out/data/entry/instrument/chopper/rotation_speed/meta")
      .collect().head
    assert(meta.getAs[Double]("minimum_value") == 10.0)
    assert(meta.getAs[Double]("maximum_value") == 15.0)
    assert(meta.getAs[Double]("average_value") == 12.5)
  }

  test("ep01 companion stream is synthesized and written (status [2,2])") {
    val d = read(out, "entry/instrument/chopper/rotation_speed/ep01/data")
    assert(d.collect().map(_.getAs[Short]("connection_status")).toSeq == Seq(2, 2))
    assert(longs(d, "connection_status_time") == Seq(10101000000L, 10111000000L))
  }

  test("al00 companion stream: severity [1,0] with messages") {
    val d    = read(out, "entry/instrument/chopper/rotation_speed/al00/data")
    val rows = d.collect()
    assert(rows.map(_.getAs[Short]("alarm_severity")).toSeq == Seq(1, 0))
    assert(rows.map(_.getAs[String]("alarm_message")).toSeq ==
      Seq("Chopper speed is too low", "Chopper speed is perfect"))
    assert(longs(d, "alarm_time") == Seq(10102000000L, 10112000000L))
  }

  test("ev44 events with cumulative event_index shift [0,4,8,12]") {
    val ev = read(out, "entry/instrument/events/events")
    assert(ev.collect().map(_.getAs[Int]("event_time_offset")).toSeq ==
      (1 to 16).map(_ * 10))
    assert(ev.collect().map(_.getAs[Int]("event_id")).toSeq ==
      Seq(1, 2, 3, 4, 1, 2, 3, 4, 1, 2, 3, 4, 1, 2, 3, 4))
    val idx = read(out, "entry/instrument/events/index")
    assert(longs(idx, "event_time_zero") ==
      Seq(10200000000L, 10210000000L, 10220000000L, 10230000000L))
    assert(longs(idx, "event_index") == Seq(0L, 4L, 8L, 12L))
    // exploded tables carry dense row ids, as the streaming service writes them
    assert(longs(ev, "row") == (0L until 16L) && longs(idx, "row") == (0L until 4L))
  }

  test("ad00 images: flattened values with shape, times") {
    val d    = read(out, "entry/instrument/image/data")
    val rows = d.collect()
    assert(rows.map(_.getSeq[Int](rows.head.fieldIndex("value"))).toSeq ==
      Seq(Seq(10, 11, 12, 13), Seq(13, 12, 11, 10)))
    assert(rows.map(_.getSeq[Long](rows.head.fieldIndex("shape"))).toSeq ==
      Seq(Seq(2L, 2L), Seq(2L, 2L)))
    assert(longs(d, "time") == Seq(10300000000L, 10310000000L))
  }

  test("da00 variables: signal rows with times") {
    val d    = read(out, "entry/instrument/monitor/data")
    val rows = d.collect()
    assert(rows.map(_.getSeq[Double](rows.head.fieldIndex("signal"))).toSeq ==
      Seq(Seq(1.0, 2, 3, 4, 3, 2, 1), Seq(4.0, 3, 2, 1, 2, 3, 4)))
    assert(longs(d, "time") == Seq(10500000000L, 10600000000L))
  }

  test("manifest carries statics, links, groups; closing carries mdat + units") {
    val manifest = Files.readString(java.nio.file.Paths.get(s"$out/manifest.json"))
    assert(manifest.contains("This is a title"))
    assert(manifest.contains("speed_link"))
    assert(manifest.contains("NXentry"))
    val closing = Files.readString(java.nio.file.Paths.get(s"$out/closing.json"))
    assert(closing.contains("start_time") && closing.contains("1970-01-01T00:00:10Z"))
    assert(closing.contains("\"value\" : \"Hz\""))
  }

  test("window semantics: last pre-start buffered, post-stop dropped (f144)") {
    val dir = tmp()
    val msgs = "[" + Seq(
      f144("local:choppers:delay", 9000, 3),
      f144("local:choppers:delay", 9999, 5),
      f144("local:choppers:delay", 12000, 11),
      f144("local:choppers:delay", 15000, 16),
      f144("local:choppers:delay", 15500, 99)
    ).mkString(",") + "]"
    FileMaker.run(spark, template, msgs, dir)
    val d = read(dir, "entry/instrument/chopper/delay/data")
    assert(doubles(d, "value") == Seq(5.0, 11.0, 16.0))
    assert(longs(d, "time") == Seq(9999000000L, 12000000000L, 15000000000L))
  }

  test("buffered value written even with no in-window data (test_buffered.py)") {
    val dir  = tmp()
    val msgs = "[" + f144("local:choppers:delay", 9000, 3) + "]"
    FileMaker.run(spark, template, msgs, dir)
    val d = read(dir, "entry/instrument/chopper/delay/data")
    assert(doubles(d, "value") == Seq(3.0))
    assert(longs(d, "time") == Seq(9000000000L))
  }

  test("se00 generated timestamps and tdct explode end-to-end") {
    val dir = tmp()
    val tpl =
      """{ "children": [ { "name": "entry", "type": "group", "children": [
        |  { "name": "env", "type": "group", "children": [
        |    { "module": "se00", "config": { "source": "env1", "topic": "t",
        |      "dtype": "int64", "enable_epics_con_info": false,
        |      "enable_alarm_info": false } } ] },
        |  { "name": "chopper_tdc", "type": "group", "children": [
        |    { "module": "tdct", "config": { "source": "tdc1", "topic": "t",
        |      "enable_epics_con_info": false, "enable_alarm_info": false } } ] }
        |] } ] }""".stripMargin
    val msgs =
      """[
        |{ "schema": "se00", "topic": "t", "kafka_timestamp": 11000,
        |  "source_name": "env1", "packet_timestamp": 11000,
        |  "time_delta": 1000000.0, "values": [7, 8, 9] },
        |{ "schema": "se00", "topic": "t", "kafka_timestamp": 12000,
        |  "source_name": "env1", "packet_timestamp": 12000,
        |  "time_delta": 0.0, "timestamps": [12000000000, 12000000005],
        |  "values": [1, 2] },
        |{ "schema": "tdct", "topic": "t", "kafka_timestamp": 13000,
        |  "source_name": "tdc1",
        |  "timestamps": [13000000000, 13000000007, 13000000011] }
        |]""".stripMargin
    FileMaker.run(spark, tpl, msgs, dir)
    val se = read(dir, "entry/env/data").collect()
    // message 1: generated t0 + i·Δ; message 2: provided timestamps win
    assert(se.map(_.getAs[Long]("time")).toSeq ==
      Seq(11000000000L, 11001000000L, 11002000000L, 12000000000L, 12000000005L))
    assert(se.map(_.getAs[Long]("value")).toSeq == Seq(7L, 8L, 9L, 1L, 2L))
    val td = read(dir, "entry/chopper_tdc/data").collect()
    assert(td.map(_.getAs[Long]("time")).toSeq ==
      Seq(13000000000L, 13000000007L, 13000000011L))
    assert(se.map(_.getAs[Long]("row")).toSeq == (0L until 5L) &&
      td.map(_.getAs[Long]("row")).toSeq == (0L until 3L))
  }

  test("every table the eight modules write reads the same on the driver as through Spark") {
    // the close-time readers (finals, HDF5 export) read the mirror with
    // LocalParquet: per table, same schema and the rows Spark gives after
    // the row-id dedup, in row order
    val seDir = tmp()
    FileMaker.run(spark,
      """{ "children": [ { "name": "entry", "type": "group", "children": [
        |  { "name": "env", "type": "group", "children": [
        |    { "module": "se00", "config": { "source": "env1", "topic": "t",
        |      "dtype": "int16" } } ] },
        |  { "name": "tdc", "type": "group", "children": [
        |    { "module": "tdct", "config": { "source": "tdc1", "topic": "t" } } ] }
        |] } ] }""".stripMargin,
      """[ { "schema": "se00", "topic": "t", "kafka_timestamp": 11000,
        |    "source_name": "env1", "packet_timestamp": 11000,
        |    "time_delta": 1000000.0, "values": [7, 8, 9] },
        |  { "schema": "tdct", "topic": "t", "kafka_timestamp": 13000,
        |    "source_name": "tdc1", "timestamps": [13000000000, 13000000007] } ]""".stripMargin,
      seDir)
    val modules = scala.collection.mutable.Set.empty[String]
    Seq(out, seDir).foreach { dir =>
      val root = java.nio.file.Paths.get(dir, "data")
      val walk = Files.walk(root)
      val tables =
        try walk.iterator().asScala.filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet")).map(_.getParent).toSet
        finally walk.close()
      tables.foreach { t =>
        modules += root.relativize(t).toString
        val df   = spark.read.parquet(t.toString)
        val want = if (df.columns.contains("row")) df.dropDuplicates("row").orderBy("row") else df
        val got  = graft.sinks.LocalParquet.read(t.toString)
        val rows = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
        got.foreach()(rows += _)
        assert(got.schema == want.schema, s"$t schema")
        assert(rows.toSeq == want.collect().toSeq, s"$t rows")
      }
    }
    // every module's tables took part (ep01/al00 are f144's companions)
    Seq("rotation_speed/data", "rotation_speed/meta", "ep01/data", "al00/data",
      "events/events", "events/index", "events/meta", "image/data", "monitor/data",
      "env/data", "tdc/data").foreach(t => assert(modules.exists(_.endsWith(t)), t))
  }

  test("repeated timestamps skipped (test_repeated_messages.py)") {
    val dir = tmp()
    val msgs = "[" + Seq(
      f144("local:choppers:delay", 10100, 10),
      f144("local:choppers:delay", 10100, 11),
      f144("local:choppers:delay", 10150, 12),
      f144("local:choppers:delay", 10200, 15)
    ).mkString(",") + "]"
    FileMaker.run(spark, template, msgs, dir)
    val d = read(dir, "entry/instrument/chopper/delay/data")
    assert(doubles(d, "value") == Seq(10.0, 12.0, 15.0))
    assert(longs(d, "time") == Seq(10100000000L, 10150000000L, 10200000000L))
  }
}
