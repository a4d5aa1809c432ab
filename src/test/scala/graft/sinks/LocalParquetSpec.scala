package graft.sinks

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.plans.NexusPlan
import graft.sources.Fixtures.Ev44Msg
import graft.streaming.StreamingJob

/** The driver-side parquet writer must be indistinguishable from the Spark
  * write path to every reader: same directory, same values, same merged
  * schema — files from both paths coexist in one table. And the streaming
  * job must actually take it for driver-materialized tables (ev44 cue).
  */
class LocalParquetSpec extends SparkSpec {
  import spark.implicits._

  test("local file and Spark file coexist in one dir with identical read-back") {
    val dir = Files.createTempDirectory("graft-localpq").toString + "/t"
    // Spark writes the first file
    val df = Seq((0L, 10L, 1000L), (1L, 20L, 2000L))
      .toDF("row", "cue_index", "cue_timestamp_zero")
    df.coalesce(1).write.mode("append").parquet(dir)
    // driver path appends the second — rows arrive as catalyst InternalRows
    val schema = StructType(Seq(
      StructField("row", LongType, nullable = false),
      StructField("cue_index", LongType, nullable = false),
      StructField("cue_timestamp_zero", LongType, nullable = false)))
    val rows = Seq(
      org.apache.spark.sql.catalyst.InternalRow(2L, 30L, 3000L),
      org.apache.spark.sql.catalyst.InternalRow(3L, 40L, 4000L))
    assert(LocalParquet.supports(schema))
    assert(LocalParquet.write(dir, schema, rows) == 2L)
    val back = spark.read.parquet(dir).orderBy("row").collect()
    assert(back.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((0L, 10L, 1000L), (1L, 20L, 2000L), (2L, 30L, 3000L), (3L, 40L, 4000L)))
    assert(spark.read.parquet(dir).schema.fieldNames.toSeq ==
      Seq("row", "cue_index", "cue_timestamp_zero"))
    // no temp/crc residue, exactly one part-local file
    val files = Files.list(Paths.get(dir)).toArray.map(_.toString)
    assert(files.count(_.contains("part-local-")) == 1)
    assert(!files.exists(_.contains("inprogress")))
  }

  test("all supported primitive types round-trip, incl. nulls and strings") {
    val dir = Files.createTempDirectory("graft-localpq2").toString + "/t"
    val schema = StructType(Seq(
      StructField("row", LongType, nullable = false),
      StructField("i", IntegerType, nullable = true),
      StructField("d", DoubleType, nullable = true),
      StructField("f", FloatType, nullable = true),
      StructField("b", BooleanType, nullable = true),
      StructField("s", StringType, nullable = true)))
    val rows = Seq(
      org.apache.spark.sql.catalyst.InternalRow(
        0L, 7, 2.5, 1.5f, true,
        org.apache.spark.unsafe.types.UTF8String.fromString("héllo")),
      org.apache.spark.sql.catalyst.InternalRow(1L, null, null, null, null, null))
    LocalParquet.write(dir, schema, rows)
    val back = spark.read.parquet(dir).orderBy("row").collect()
    assert(back(0).getInt(1) == 7 && back(0).getDouble(2) == 2.5 &&
      back(0).getFloat(3) == 1.5f && back(0).getBoolean(4) &&
      back(0).getString(5) == "héllo")
    assert((1 to 5).forall(back(1).isNullAt))
    // one-level arrays are in scope; nested ones, maps and structs are
    // not — the caller must fall back to the Spark path
    assert(LocalParquet.supports(StructType(Seq(
      StructField("a", ArrayType(LongType), nullable = true)))))
    Seq(ArrayType(ArrayType(LongType)), MapType(StringType, LongType),
      StructType(Seq(StructField("x", LongType)))).foreach { t =>
      assert(!LocalParquet.supports(StructType(Seq(StructField("a", t)))), t)
    }
  }

  /** every row of `dir` through the driver reader, in its order */
  private def driverRows(dir: String, columns: Seq[String] = Nil): (StructType, Seq[Row]) = {
    val t   = LocalParquet.read(dir)
    val out = scala.collection.mutable.ArrayBuffer.empty[Row]
    if (columns.isEmpty) t.foreach()(out += _) else t.foreach(columns)(out += _)
    (t.schema, out.toSeq)
  }

  /** the read-back the driver reader replaces */
  private def sparkRows(dir: String): (StructType, Seq[Row]) = {
    val df = spark.read.parquet(dir).dropDuplicates("row").orderBy("row")
    (df.schema, df.collect().toSeq)
  }

  test("read ≡ Spark's dropDuplicates(row).orderBy(row): flat columns, " +
    "Spark range-partitioned and local files, replayed append, 0-row files") {
    val dir = Files.createTempDirectory("graft-localpq-read").toString + "/t"
    val schema = StructType(Seq(
      StructField("row", LongType, nullable = false),
      StructField("l", LongType),
      StructField("i", IntegerType),
      StructField("s", ShortType),
      StructField("y", ByteType),
      StructField("f", FloatType),
      StructField("d", DoubleType),
      StructField("b", BooleanType),
      StructField("str", StringType)))
    def row(r: Long): Row = Row(r,
      r match {
        case 3L => Long.MaxValue
        case 4L => Long.MinValue
        case 5L => null
        case _  => r * 1000003L
      },
      if (r % 7 == 0) null else (r * 31).toInt,
      (r % 300 - 150).toShort, (r % 200 - 100).toByte,
      if (r % 11 == 0) Float.NaN else r / 4.0f,
      if (r % 13 == 0) null else -r / 8.0,
      r % 3 == 0,
      if (r % 5 == 0) null else if (r % 6 == 0) "" else s"é$r")
    def sparkWrite(rows: Seq[Long], parts: Int): Unit =
      spark.createDataFrame(java.util.Arrays.asList(rows.map(row): _*), schema)
        .repartitionByRange(parts, col("row")).sortWithinPartitions("row")
        .write.mode("append").parquet(dir)
    def localWrite(rows: Seq[Long]): Unit = {
      val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
        .createToCatalystConverter(schema)
      LocalParquet.write(dir, schema,
        rows.map(r => conv(row(r)).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]))
    }
    sparkWrite(0L until 40L, 3)      // three range-partitioned files
    sparkWrite(20L until 40L, 2)     // a replayed append over the same ids
    sparkWrite(Nil, 1)               // a 0-row Spark part file
    localWrite(40L until 43L)        // driver-written appends
    localWrite(41L until 43L)        // … and a replayed one
    localWrite(Nil)                  // a 0-row local file
    sparkWrite(43L until 60L, 2)
    val (dSchema, dRows) = driverRows(dir)
    val (sSchema, sRows) = sparkRows(dir)
    assert(dSchema == sSchema)
    assert(sRows.map(_.getLong(0)) == (0L until 60L))
    assert(dRows == sRows)
    // a projection reads only its columns (plus `row` for the merge)
    assert(driverRows(dir, Seq("str", "y"))._2 ==
      sRows.map(r => Row(r.get(8), r.get(4))))
  }

  test("read ≡ Spark on array columns: null and empty arrays, null elements") {
    val dir = Files.createTempDirectory("graft-localpq-arr").toString + "/t"
    def frame(rows: Seq[Long]) = rows.map { r =>
      (r,
        if (r % 5 == 0) null else if (r % 5 == 1) Seq.empty[Int]
        else Seq.tabulate((r % 4).toInt + 1)(k => (r * 10 + k).toInt),
        if (r % 3 == 0) null else Seq(Some(r / 2.0), None, Some(-0.0)),
        Seq(Long.MinValue + r, Long.MaxValue - r),
        Seq(r.toFloat, Float.MinPositiveValue),
        if (r % 2 == 0) Seq(r.toShort) else Seq.empty[Short],
        Seq(s"s$r", ""))
    }.toDF("row", "ints", "doubles", "longs", "floats", "shorts", "strs")
    frame(0L until 30L).repartitionByRange(3, col("row")).sortWithinPartitions("row")
      .write.mode("append").parquet(dir)
    frame(10L until 20L).coalesce(1).sortWithinPartitions("row")
      .write.mode("append").parquet(dir)
    frame(Nil).coalesce(1).write.mode("append").parquet(dir)
    val (dSchema, dRows) = driverRows(dir)
    val (sSchema, sRows) = sparkRows(dir)
    assert(dSchema == sSchema)
    assert(dRows == sRows)
  }

  test("arrays written on the driver read as Spark writes them: null and empty arrays, null elements") {
    val dir = Files.createTempDirectory("graft-localpq-arrw").toString
    val df = (0L until 12L).map { r =>
      (r,
        if (r % 5 == 0) null else if (r % 5 == 1) Seq.empty[Int]
        else Seq.tabulate((r % 4).toInt + 1)(k => (r * 10 + k).toInt),
        if (r % 3 == 0) null else Seq(Some(r / 2.0), None, Some(-0.0)),
        Seq(Long.MinValue + r, Long.MaxValue - r),
        Seq(r.toFloat, Float.MinPositiveValue),
        if (r % 2 == 0) Seq(r.toShort, (-r).toShort) else Seq.empty[Short],
        Seq(Some(s"s$r"), None, Some("")))
    }.toDF("row", "ints", "doubles", "longs", "floats", "shorts", "strs")
    val rows = df.queryExecution.toRdd.map(_.copy()).collect().toSeq
    // the same rows once per writer, and once each into one directory
    LocalParquet.write(s"$dir/local", df.schema, rows)
    df.coalesce(1).write.parquet(s"$dir/spark")
    LocalParquet.write(s"$dir/mixed", df.schema, rows.take(6))
    df.filter(col("row") >= 6).coalesce(1).write.mode("append").parquet(s"$dir/mixed")
    val want = sparkRows(s"$dir/spark")
    Seq("local", "mixed").foreach { t =>
      assert(sparkRows(s"$dir/$t") == want, s"$t through Spark")
      assert(driverRows(s"$dir/$t") == want, s"$t on the driver")
    }
    assert(spark.read.parquet(s"$dir/local").schema == spark.read.parquet(s"$dir/spark").schema)
  }

  test("read skips hidden names: committer scratch and in-progress files") {
    val dir = Files.createTempDirectory("graft-localpq-hidden").toString + "/t"
    Seq((0L, 1.0), (1L, 2.0)).toDF("row", "v").coalesce(1).write.parquet(dir)
    val part = Files.list(Paths.get(dir)).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .find(_.getFileName.toString.startsWith("part-")).get
    val scratch = Paths.get(dir, "_temporary", "0", "_temporary", "attempt_0")
    Files.createDirectories(scratch)
    Files.copy(part, scratch.resolve("part-00000-x.snappy.parquet"))
    Files.copy(part, Paths.get(dir, ".part-local-x.snappy.parquet"))
    Files.copy(part, Paths.get(dir, "_part-x.snappy.parquet"))
    assert(driverRows(dir)._2 == Seq(Row(0L, 1.0), Row(1L, 2.0)))
    assert(driverRows(dir)._2 == sparkRows(dir)._2)
  }

  test("overwrite replaces every file of the directory") {
    val dir = Files.createTempDirectory("graft-localpq-ow").toString + "/meta"
    Seq((1.0, 2L)).toDF("v", "n").coalesce(1).write.parquet(dir)
    val schema = StructType(Seq(StructField("v", DoubleType),
      StructField("n", LongType, nullable = false)))
    LocalParquet.overwrite(dir, schema,
      Seq(org.apache.spark.sql.catalyst.InternalRow(3.0, 4L)))
    assert(spark.read.parquet(dir).collect().toSeq == Seq(Row(3.0, 4L)))
    assert(Files.list(Paths.get(dir)).count() == 1)
  }

  test("streaming ev44 cue rides the driver path: part-local file, exact chain") {
    val template =
      """{ "children": [
        |  { "name": "entry", "type": "group", "children": [
        |    { "name": "events", "type": "group", "children": [
        |      { "module": "ev44",
        |        "config": { "source": "det", "topic": "tp",
        |                    "cue_interval": 25 } } ] } ] } ] }""".stripMargin
    val out = Files.createTempDirectory("graft-cuelocal").toString
    val job = new StreamingJob(spark, NexusPlan.parse(template), out, 0, 1L << 40)
    // 3 batches x 4 msgs x 10 events = 120 events; greedy 25-chain fires
    // at the first message CROSSING lastCue+25 (cumulative events 30, 60,
    // 90, 120 → cue event indexes 29, 59, 89, 119), with the anchor
    // carried across batch boundaries
    (0 until 3).foreach { b =>
      job.processBatch("ev44", (0 until 4).map { i =>
        val o = b * 4L + i
        Ev44Msg("tp", "det", o, 1000 + o, (1000 + o) * 1000000L,
          Seq((1000 + o) * 1000000L), Seq(0),
          Seq.tabulate(10)(j => j), Seq.tabulate(10)(j => j + 1))
      }.toDF())
    }
    job.finish()
    val cues = spark.read.parquet(s"$out/data/entry/events/cue")
      .orderBy("cue_index").collect()
    assert(cues.map(_.getAs[Long]("cue_index")).toSeq == Seq(29L, 59L, 89L, 119L))
    assert(job.counter("entry/events", "cue") == 4L)
    // the per-batch cue files came from the driver path, not a write job
    val cueFiles = Files.list(Paths.get(s"$out/data/entry/events/cue"))
      .toArray.map(_.toString).filter(_.endsWith(".parquet"))
    assert(cueFiles.exists(_.contains("part-local-")),
      s"expected a part-local file among ${cueFiles.mkString(", ")}")
  }

  test("small triggers ride the bounded-collect driver path; big ones fall back") {
    // production f144 shape: a slow EPICS source lands 1-3 messages per
    // 10 s trigger — once a tiny trigger has armed the fused payload, the
    // data append must not pay a write job for them. A job's first
    // trigger (no history) and a large trigger (> 4×maxRows messages)
    // keep the Spark path so file shaping stays distributed. Both file
    // kinds coexist in one table.
    val template =
      """{ "children": [
        |  { "name": "entry", "type": "group", "children": [
        |    { "name": "speed", "type": "group", "children": [
        |      { "module": "f144",
        |        "config": { "source": "speed", "topic": "tp",
        |                    "enable_epics_con_info": false,
        |                    "enable_alarm_info": false } } ] } ] } ] }""".stripMargin
    val out = Files.createTempDirectory("graft-smalltrig").toString
    val job = new StreamingJob(spark, NexusPlan.parse(template), out, 0, 1L << 40)
    def msgs(from: Long, n: Int) = (0 until n).map { i =>
      val o = from + i
      graft.sources.Fixtures.F144Msg("tp", "speed", o, 1000 + o,
        (1000 + o) * 1000000L, o.toDouble)
    }
    job.processBatch("f144", msgs(0, 3).toDF())    // first: Spark path, arms the gate
    job.processBatch("f144", msgs(3, 2).toDF())    // tiny → driver path
    // past the fused-payload overflow bound (4×maxRows): must stay on
    // the distributed Spark write path
    job.processBatch("f144", msgs(5, 600).toDF())
    // opting out forces the Spark path even for a tiny trigger
    spark.conf.set("spark.graft.stream.localAppend.maxRows", "-1")
    try job.processBatch("f144", msgs(605, 2).toDF())
    finally spark.conf.unset("spark.graft.stream.localAppend.maxRows")
    job.finish()
    val dir = s"$out/data/entry/speed/data"
    val files = Files.list(Paths.get(dir)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet"))
    assert(files.count(_.contains("part-local-")) == 1,
      s"exactly the tiny trigger should be a local file: ${files.mkString(", ")}")
    assert(files.count(!_.contains("part-local-")) >= 3,
      "the first, big and opted-out triggers stay on the Spark path")
    val back = spark.read.parquet(dir).orderBy("row").collect()
    assert(back.length == 607)
    assert(back.map(_.getAs[Long]("row")).toSeq == (0L until 607L))
    assert(back.map(_.getAs[Double]("value")).toSeq == (0 until 607).map(_.toDouble))
    assert(job.counter("entry/speed", "data") == 607L)
  }
}
