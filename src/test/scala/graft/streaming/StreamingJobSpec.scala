package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, lit}

import graft.SparkSpec
import graft.plans.NexusPlan
import graft.sources.Fixtures.{Ev44Msg, F144Msg}

/** Cross-batch streaming semantics: the hard parts from SURVEY §7.4 —
  * consecutive dedup across micro-batch boundaries, the buffered pre-start
  * message surviving until its trigger, the ev44 cumulative index shift, and
  * strict finish — exercised through MemoryStream micro-batches.
  */
class StreamingJobSpec extends SparkSpec {
  import spark.implicits._

  private val template =
    """{ "children": [
      |  { "name": "entry", "type": "group", "children": [
      |    { "name": "speed", "type": "group", "children": [
      |      { "module": "f144",
      |        "config": { "source": "speed", "topic": "tp",
      |                    "enable_epics_con_info": false,
      |                    "enable_alarm_info": false } } ] },
      |    { "name": "events", "type": "group", "children": [
      |      { "module": "ev44", "config": { "source": "det", "topic": "tp" } } ] }
      |  ] } ] }""".stripMargin

  private def f144(offset: Long, tsMs: Long, v: Double) =
    F144Msg("tp", "speed", offset, tsMs, tsMs * 1000000L, v)
  private def ev44(offset: Long, tsMs: Long, tof: Seq[Int]) =
    Ev44Msg("tp", "det", offset, tsMs, tsMs * 1000000L,
      Seq(tsMs * 1000000L), Seq(0), tof, tof.map(_ + 1))

  private def newJob(out: String) =
    new StreamingJob(spark, NexusPlan.parse(template), out, 10000, 15000)

  test("finish materializes declared tables for streams with no messages") {
    val out = Files.createTempDirectory("graft-stream").toString
    val job = newJob(out)
    // only f144 sees data; the ev44 stream never receives a message
    job.processBatch("f144", Seq(f144(0, 10100, 1.0)).toDF())
    job.finish()
    // ev44 declares events/index/cue — all must exist, zero rows, typed
    for (t <- Seq("events", "index", "cue")) {
      val df = spark.read.parquet(s"$out/data/entry/events/$t")
      assert(df.count() == 0, s"$t should be an empty seed")
    }
    assert(spark.read.parquet(s"$out/data/entry/events/events")
      .schema.fieldNames.toSet == Set("row", "event_time_offset", "event_id"))
    // the written f144 data table is untouched by seeding
    assert(spark.read.parquet(s"$out/data/entry/speed/data").count() == 1)
  }

  test("attach checkpoints under the job output (restart-continuous batch ids)") {
    val out = Files.createTempDirectory("graft-attachckpt").toString
    val job = newJob(out)
    val stream = MemoryStream[F144Msg](spark)
    val q = StreamingJob.attach(job, "f144", stream.toDF(), triggerMs = 50)
    try {
      stream.addData(f144(0, 10100, 1.0))
      q.processAllAvailable()
    } finally q.stop()
    // replay idempotency persists a batch-id high-water mark in state.bin;
    // it is only sound if the query's batch ids survive restarts, i.e. the
    // checkpoint is stable — an ephemeral checkpoint would renumber from 0
    // and the mark would skip FRESH batches as replays
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$out/.checkpoints/f144")))
    assert(spark.read.parquet(s"$out/data/entry/speed/data").count() == 1)
  }

  test("finish() closes the job: parked/late batches drop instead of appending") {
    val out = Files.createTempDirectory("graft-closed").toString
    val job = newJob(out)
    job.processBatch("f144", Seq(f144(0, 10100, 1.0)).toDF())
    job.finish()
    assert(job.isClosed)
    // a batch arriving after close (e.g. a pause-parked trigger resuming)
    // must not append past closing.json
    job.processBatch("f144", Seq(f144(1, 10200, 2.0)).toDF())
    assert(spark.read.parquet(s"$out/data/entry/speed/data").count() == 1)
    assert(job.counter("entry/speed", "data") == 1L)
  }

  test("finish() writes close-time finals from the sink (f144 meta, ev44 events)") {
    val out = Files.createTempDirectory("graft-finals").toString
    val job = newJob(out)
    job.processBatch("f144", Seq(
      f144(0, 10100, 10.0), f144(1, 10200, 15.0)).toDF())
    job.processBatch("ev44", Seq(
      ev44(0, 10100, Seq(1, 2, 3)), ev44(1, 10200, Seq(4, 5))).toDF())
    job.finish()
    val meta = spark.read.parquet(s"$out/data/entry/speed/meta").collect().head
    assert(meta.getAs[Double]("minimum_value") == 10.0)
    assert(meta.getAs[Double]("maximum_value") == 15.0)
    assert(meta.getAs[Double]("average_value") == 12.5)
    assert(meta.getAs[Long]("num_values") == 2L)
    val evMeta = spark.read.parquet(s"$out/data/entry/events/meta").collect().head
    assert(evMeta.getAs[Long]("events") == 5L)
  }

  test("finish() checkpoints its own state: a restart cannot re-flush the buffer") {
    val out = Files.createTempDirectory("graft-finstate").toString
    val job = newJob(out)
    // only a pre-start message arrives → buffered, flushed at finish
    job.processBatch("f144", Seq(f144(0, 9500, 7.0)).toDF())
    job.finish()
    assert(spark.read.parquet(s"$out/data/entry/speed/data").count() == 1)
    // a restarted job must load the POST-flush cursors (buffered=None,
    // rowsWritten advanced) — re-running finish() must not duplicate row 0
    val job2 = new StreamingJob(spark, NexusPlan.parse(template), out, 10000, 15000)
    job2.finish()
    val d = spark.read.parquet(s"$out/data/entry/speed/data")
    assert(d.count() == 1)
    assert(job2.counter("entry/speed", "data") == 1L)
  }

  test("da00 multi-variable messages ride F4 whole: repeat dropped entirely, kept ones pivot fully") {
    // a da00 message explodes into one row per VARIABLE before the
    // kernel; message-grain dedup must drop/keep those rows together —
    // row-grain dedup would strip every variable after the first from
    // EVERY message (same offset, same ts)
    val template =
      """{ "children": [
        |  { "name": "entry", "type": "group", "children": [
        |    { "name": "img", "type": "group", "children": [
        |      { "module": "da00",
        |        "config": { "source": "arr", "topic": "tp",
        |                    "variables": [
        |                      {"name": "a", "data_type": "float64"},
        |                      {"name": "b", "data_type": "float64"} ] } } ] }
        |  ] } ] }""".stripMargin
    val out = Files.createTempDirectory("graft-da00mg").toString
    val job = new StreamingJob(spark, NexusPlan.parse(template), out, 0, 1L << 40)
    def msg(off: Long, tsMs: Long) = Seq(
      ("tp", "arr", off, tsMs * 1000000L, "a", "x", Seq(1.0 + off, 2.0)),
      ("tp", "arr", off, tsMs * 1000000L, "b", "x", Seq(9.0 + off)))
    job.processBatch("da00",
      (msg(0, 1000) ++ msg(1, 1000) ++ msg(2, 2000))
        .toDF("topic", "source_name", "offset", "ts", "name", "axis_name", "data"))
    job.finish()
    val d = spark.read.parquet(s"$out/data/entry/img/data").orderBy("row").collect()
    // msg1 (repeated ts) dropped WHOLE; msg0 and msg2 keep BOTH variables
    assert(d.length == 2)
    def arr(r: org.apache.spark.sql.Row, c: String): Seq[Double] =
      r.getSeq[Double](r.fieldIndex(c)).toSeq
    assert(arr(d(0), "a") == Seq(1.0, 2.0) && arr(d(0), "b") == Seq(9.0))
    assert(arr(d(1), "a") == Seq(3.0, 2.0) && arr(d(1), "b") == Seq(11.0))
    assert(job.counter("entry/img", "data") == 2L)
  }

  test("da00 pre-start message is buffered WHOLE: both variables survive to the pivot") {
    val template =
      """{ "children": [
        |  { "name": "entry", "type": "group", "children": [
        |    { "name": "img", "type": "group", "children": [
        |      { "module": "da00",
        |        "config": { "source": "arr", "topic": "tp",
        |                    "variables": [
        |                      {"name": "a", "data_type": "float64"},
        |                      {"name": "b", "data_type": "float64"} ] } } ] }
        |  ] } ] }""".stripMargin
    val out = Files.createTempDirectory("graft-da00buf").toString
    val job = new StreamingJob(spark, NexusPlan.parse(template), out, 10000, 15000)
    def msg(off: Long, tsMs: Long, tag: Double) = Seq(
      ("tp", "arr", off, tsMs * 1000000L, "a", "x", Seq(tag, 2.0)),
      ("tp", "arr", off, tsMs * 1000000L, "b", "x", Seq(tag + 100)))
    // batch 1: two pre-start messages — the later one becomes the buffer
    job.processBatch("da00",
      (msg(0, 9000, 1.0) ++ msg(1, 9500, 2.0))
        .toDF("topic", "source_name", "offset", "ts", "name", "axis_name", "data"))
    // batch 2: first in-window message → buffered message emitted with it
    job.processBatch("da00",
      msg(2, 10100, 3.0)
        .toDF("topic", "source_name", "offset", "ts", "name", "axis_name", "data"))
    job.finish()
    val d = spark.read.parquet(s"$out/data/entry/img/data").orderBy("row").collect()
    def arr(r: org.apache.spark.sql.Row, c: String): Seq[Double] =
      r.getSeq[Double](r.fieldIndex(c)).toSeq
    // buffered msg(1) first (offset order), then the in-window msg(2) —
    // BOTH with both variables (the old row-grain buffer kept one
    // variable row and null-filled the other)
    assert(d.length == 2)
    assert(arr(d(0), "a") == Seq(2.0, 2.0) && arr(d(0), "b") == Seq(102.0))
    assert(arr(d(1), "a") == Seq(3.0, 2.0) && arr(d(1), "b") == Seq(103.0))
  }

  test("f144: dedup across batches, buffered pre-start, strict finish") {
    val out = Files.createTempDirectory("graft-stream").toString
    val job = newJob(out)
    // batch 1: two pre-start (later one buffered), one in-window
    job.processBatch("f144", Seq(
      f144(0, 9000, 1.0), f144(1, 9500, 2.0), f144(2, 10100, 10.0)
    ).toDF())
    // batch 2: head repeats batch-1 tail ts → dropped; new value written
    job.processBatch("f144", Seq(
      f144(3, 10100, 99.0), f144(4, 10200, 15.0)
    ).toDF())
    // batch 3: beyond stop finishes the stream; stragglers dropped
    job.processBatch("f144", Seq(
      f144(5, 16000, 77.0), f144(6, 12000, 88.0)
    ).toDF())
    // batch 4: stream finished — ignored entirely
    job.processBatch("f144", Seq(f144(7, 12500, 66.0)).toDF())
    job.finish()

    val d = spark.read.parquet(s"$out/data/entry/speed/data").orderBy("row")
    assert(d.select("value").collect().map(_.getDouble(0)).toSeq ==
      Seq(2.0, 10.0, 15.0))
    assert(d.select("row").collect().map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
  }

  test("paused job blocks batch processing until resume (pause/resume parity)") {
    val out = Files.createTempDirectory("graft-stream").toString
    val job = newJob(out)
    job.pause()
    val df = Seq(f144(0, 10100, 10.0)).toDF()
    val t  = new Thread(() => job.processBatch("f144", df))
    t.start()
    // the worker parks in the pause wait-loop; nothing is written
    val deadline = System.currentTimeMillis() + 10000
    while (t.getState != Thread.State.TIMED_WAITING &&
      System.currentTimeMillis() < deadline) Thread.sleep(10)
    assert(t.getState == Thread.State.TIMED_WAITING)
    assert(!Files.exists(java.nio.file.Paths.get(s"$out/data/entry/speed/data")))
    job.resume()
    t.join(30000)
    assert(!t.isAlive)
    val d = spark.read.parquet(s"$out/data/entry/speed/data").collect()
    assert(d.map(_.getAs[Double]("value")).toSeq == Seq(10.0))
  }

  test("A4: approx file size grows with appends and lands in x5f2 status") {
    val out = Files.createTempDirectory("graft-stream").toString
    val job = newJob(out)
    val before = job.approxFileSizeBytes
    assert(before > 0) // manifest.json exists after create
    job.processBatch("f144", Seq(f144(0, 10100, 10.0), f144(1, 10200, 15.0)).toDF())
    assert(job.approxFileSizeBytes > before)
  }

  test("buffered value flushes at job end when no in-window data arrives") {
    val out = Files.createTempDirectory("graft-stream").toString
    val job = newJob(out)
    job.processBatch("f144", Seq(f144(0, 9000, 3.0)).toDF())
    job.processBatch("f144", Seq(f144(1, 9200, 4.0)).toDF())
    job.finish()
    val d = spark.read.parquet(s"$out/data/entry/speed/data")
    assert(d.select("value").collect().map(_.getDouble(0)).toSeq == Seq(4.0))
  }

  test("ev44 cue chain is stable across micro-batches (greedy, not grid)") {
    val cueTemplate =
      """{ "children": [
        |  { "name": "events", "type": "group", "children": [
        |    { "module": "ev44",
        |      "config": { "source": "det", "topic": "tp", "cue_interval": 5 } } ] }
        |] }""".stripMargin
    val out = Files.createTempDirectory("graft-stream").toString
    val job = new StreamingJob(spark, NexusPlan.parse(cueTemplate), out, 10000, 15000)
    // two batches of two 4-event messages: greedy cues at event indexes
    // 7 then 15 (a per-batch grid would emit 7 and 11)
    job.processBatch("ev44", Seq(
      ev44(0, 10100, (1 to 4).toSeq), ev44(1, 10200, (1 to 4).toSeq)).toDF())
    job.processBatch("ev44", Seq(
      ev44(2, 10300, (1 to 4).toSeq), ev44(3, 10400, (1 to 4).toSeq)).toDF())
    job.finish()
    val cue = spark.read.parquet(s"$out/data/events/cue").orderBy("row").collect()
    assert(cue.map(_.getAs[Long]("cue_index")).toSeq == Seq(7L, 15L))
  }

  test("cue-chain anchor survives a restart (lastCue in the checkpoint)") {
    val cueTemplate =
      """{ "children": [
        |  { "name": "events", "type": "group", "children": [
        |    { "module": "ev44",
        |      "config": { "source": "det", "topic": "tp", "cue_interval": 5 } } ] }
        |] }""".stripMargin
    val out  = Files.createTempDirectory("graft-stream").toString
    val job1 = new StreamingJob(spark, NexusPlan.parse(cueTemplate), out, 10000, 15000)
    job1.processBatch("ev44", Seq(
      ev44(0, 10100, (1 to 4).toSeq), ev44(1, 10200, (1 to 4).toSeq)).toDF())
    // crash + restart over the same output dir: the anchor (7) must load
    val job2 = new StreamingJob(spark, NexusPlan.parse(cueTemplate), out, 10000, 15000)
    job2.processBatch("ev44", Seq(
      ev44(2, 10300, (1 to 4).toSeq), ev44(3, 10400, (1 to 4).toSeq)).toDF())
    job2.finish()
    val cue = spark.read.parquet(s"$out/data/events/cue").orderBy("row").collect()
    assert(cue.map(_.getAs[Long]("cue_index")).toSeq == Seq(7L, 15L))
  }

  test("ev44: event_index continues across micro-batches") {
    val out = Files.createTempDirectory("graft-stream").toString
    val job = newJob(out)
    job.processBatch("ev44", Seq(
      ev44(0, 10200, Seq(10, 20, 30, 40)), ev44(1, 10210, Seq(50, 60, 70, 80))
    ).toDF())
    job.processBatch("ev44", Seq(
      ev44(2, 10220, Seq(90, 100)), ev44(3, 10230, Seq(110))
    ).toDF())
    job.finish()
    val idx = spark.read.parquet(s"$out/data/entry/events/index").orderBy("row")
    assert(idx.select("event_index").collect().map(_.getLong(0)).toSeq ==
      Seq(0L, 4L, 8L, 10L))
    val ev = spark.read.parquet(s"$out/data/entry/events/events").orderBy("row")
    assert(ev.count() == 11)
  }

  test("restart resumes cursors: row numbering, dedup boundary, ev44 index") {
    val out  = Files.createTempDirectory("graft-stream").toString
    val job1 = newJob(out)
    job1.processBatch("f144", Seq(f144(0, 10100, 10.0)).toDF())
    job1.processBatch("ev44", Seq(ev44(0, 10200, Seq(10, 20, 30))).toDF())
    // simulate a crash: new job instance over the same output dir
    val job2 = newJob(out)
    job2.processBatch("f144", Seq(
      f144(1, 10100, 99.0), // repeats pre-restart tail ts → deduped
      f144(2, 10300, 20.0)
    ).toDF())
    job2.processBatch("ev44", Seq(ev44(1, 10210, Seq(40, 50))).toDF())
    job2.finish()
    val d = spark.read.parquet(s"$out/data/entry/speed/data").orderBy("row")
    assert(d.select("value").collect().map(_.getDouble(0)).toSeq == Seq(10.0, 20.0))
    assert(d.select("row").collect().map(_.getLong(0)).toSeq == Seq(0L, 1L))
    val idx = spark.read.parquet(s"$out/data/entry/events/index").orderBy("row")
    assert(idx.select("event_index").collect().map(_.getLong(0)).toSeq == Seq(0L, 3L))
  }

  test("replayed batch ids are skipped (effectively-once)") {
    val out = Files.createTempDirectory("graft-stream").toString
    val job = newJob(out)
    job.processBatch("f144", Seq(f144(0, 10100, 10.0)).toDF(), batchId = 0)
    // replay of batch 0 (e.g. after a foreachBatch retry) must be a no-op
    job.processBatch("f144", Seq(f144(0, 10100, 10.0)).toDF(), batchId = 0)
    job.processBatch("f144", Seq(f144(1, 10200, 20.0)).toDF(), batchId = 1)
    job.finish()
    val d = spark.read.parquet(s"$out/data/entry/speed/data").orderBy("row")
    assert(d.select("value").collect().map(_.getDouble(0)).toSeq == Seq(10.0, 20.0))
  }

  test("da00: a two-variable message with a repeated ts drops whole, end to end") {
    // within a trigger (msg2 repeats msg1) and across triggers (msg3
    // repeats trigger 2's tail): every variable row of the repeat drops,
    // every row of a kept message stays
    val template =
      """{ "children": [
        |  { "name": "entry", "type": "group", "children": [
        |    { "name": "img", "type": "group", "children": [
        |      { "module": "da00",
        |        "config": { "source": "arr", "topic": "tp",
        |                    "variables": [
        |                      {"name": "a", "data_type": "float64"},
        |                      {"name": "b", "data_type": "float64"} ] } } ] }
        |  ] } ] }""".stripMargin
    val out = Files.createTempDirectory("graft-dedupauto").toString
    val job = new StreamingJob(spark, NexusPlan.parse(template), out, 0, 1L << 40)
    def msg(off: Long, tsMs: Long, tag: Double) = Seq(
      ("tp", "arr", off, tsMs * 1000000L, "a", "x", Seq(tag, 2.0)),
      ("tp", "arr", off, tsMs * 1000000L, "b", "x", Seq(tag + 100)))
    def trigger(msgs: Seq[(String, String, Long, Long, String, String, Seq[Double])]) =
      job.processBatch("da00",
        msgs.toDF("topic", "source_name", "offset", "ts", "name", "axis_name", "data"))
    trigger(msg(0, 1000, 1.0))
    trigger(msg(1, 2000, 2.0) ++ msg(2, 2000, 9.9))
    trigger(msg(3, 2000, 7.7) ++ msg(4, 3000, 3.0))
    job.finish()
    val d = spark.read.parquet(s"$out/data/entry/img/data").orderBy("row").collect()
    def arr(r: org.apache.spark.sql.Row, c: String): Seq[Double] =
      r.getSeq[Double](r.fieldIndex(c)).toSeq
    // msg2 and msg3 (repeated ts) dropped whole; msg0/msg1/msg4 keep both vars
    assert(d.length == 3)
    assert(arr(d(0), "a") == Seq(1.0, 2.0) && arr(d(0), "b") == Seq(101.0))
    assert(arr(d(1), "a") == Seq(2.0, 2.0) && arr(d(1), "b") == Seq(102.0))
    assert(arr(d(2), "a") == Seq(3.0, 2.0) && arr(d(2), "b") == Seq(103.0))
  }

  /** The same rows as a frame Spark must run: one partition per row
    * group, no local relation and no exchange.
    */
  private def distributed(df: DataFrame): DataFrame = spark.createDataFrame(df.rdd, df.schema)

  /** Jobs run, stages run and shuffle bytes written during `body`. */
  private def sparkWork(body: => Unit): (Int, Int, Long) = {
    val jobs    = new java.util.concurrent.atomic.AtomicInteger
    val stages  = new java.util.concurrent.atomic.AtomicInteger
    val shuffle = new java.util.concurrent.atomic.AtomicLong
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        shuffle.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      // listener delivery is async: wait until the counts are stable
      var prev = (-1, -1); var stable = 0
      while (stable < 3) {
        Thread.sleep(100)
        if ((jobs.get, stages.get) == prev) stable += 1
        else { prev = (jobs.get, stages.get); stable = 0 }
      }
      (jobs.get, stages.get, shuffle.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("fused payload: a tiny steady-state trigger runs ONE Spark job total") {
    // production f144 shape (slow EPICS sources, a few messages per 10 s
    // trigger): after the first trigger arms the gate, the trigger's rows
    // come to the driver in the driver kernel's one bounded collect —
    // one job of one stage, no shuffle, one per schema whatever its PV
    // count — and the kernel, the module transform and the data AND cue
    // appends run on the driver. The trigger crossing stop costs no
    // second job: its cutoff is applied on the driver too. A batch that
    // is a local relation already needs no job at all. Two inputs: one
    // PV with a cue grid, and three PVs interleaved on one topic.
    def f144Plan(pvs: Seq[String], cue: String) =
      s"""{ "children": [
         |  { "name": "entry", "type": "group", "children": [""".stripMargin +
        pvs.map(pv =>
          s"""    { "name": "$pv", "type": "group", "children": [
             |      { "module": "f144",
             |        "config": { "source": "$pv", "topic": "tp"$cue,
             |                    "enable_epics_con_info": false,
             |                    "enable_alarm_info": false } } ] }""".stripMargin)
          .mkString(",\n") + "\n  ] } ] }"
    val StopMs = 100000L
    for ((pvs, cue) <- Seq(Seq("speed") -> """, "cue_interval": 2""",
        Seq("a", "b", "c") -> ""); dist <- Seq(false, true)) {
      val template = f144Plan(pvs, cue)
      val jobs = if (dist) 1 else 0
      // message o of every PV, interleaved on one topic (unique offsets,
      // timestamps tied across PVs); `beyond` adds each PV's first
      // message past stop
      def msgs(from: Long, n: Int, beyond: Boolean = false) = {
        val ts = (from until from + n).map(o => (o, 1000 + o)) ++
          (if (beyond) Seq((from + n, StopMs + 1)) else Nil)
        val df = ts.flatMap { case (o, tsMs) => pvs.zipWithIndex.map { case (pv, i) =>
          F144Msg("tp", pv, o * pvs.size + i, tsMs, tsMs * 1000000L, o.toDouble)
        } }.toDF()
        if (dist) distributed(df) else df
      }
      val out = Files.createTempDirectory("graft-fused").toString
      val job = new StreamingJob(spark, NexusPlan.parse(template), out, 0, StopMs)
      job.processBatch("f144", msgs(0, 2)) // arms the gate (no history yet)
      val steady = sparkWork(job.processBatch("f144", msgs(2, 3)))
      assert(steady == ((jobs, jobs, 0L)),
        s"${pvs.size} PV(s) dist=$dist: steady-state tiny trigger (jobs, stages, shuffle bytes)")
      val keys = pvs.map(pv => s"entry/$pv")
      // the band decision is observable: trigger 2's data (+ cue) appends
      // were written on the driver (x5f2 appends_fused), and the arming
      // trigger's by Spark write jobs
      keys.foreach { k =>
        assert(job.counter(k, "appends_fused") == (if (cue.nonEmpty) 2L else 1L),
          s"$k: fused trigger must count its data (and cue) appends as fused")
        assert(job.counter(k, "appends_spark") >= 1L,
          s"$k: the arming trigger's appends ran as Spark write jobs")
      }
      val crossing = sparkWork(job.processBatch("f144", msgs(5, 2, beyond = true)))._1
      assert(crossing == jobs,
        s"${pvs.size} PV(s) dist=$dist: the trigger crossing stop should be $jobs jobs, saw $crossing")
      keys.foreach(k => assert(job.counter(k, "finished") == 1L, s"$k not finished"))
      job.finish()
      keys.foreach { k =>
        val d = spark.read.parquet(s"$out/data/$k/data").orderBy("row")
        assert(d.select("value").collect().map(_.getDouble(0)).toSeq ==
          (0 until 7).map(_.toDouble), s"$k data")
        assert(job.counter(k, "data") == 7L)
      }
      // the cue grid fired inside the job-free triggers too (gw 2, 4, 6)
      if (cue.nonEmpty) {
        val cues = spark.read.parquet(s"$out/data/entry/speed/cue").orderBy("row")
        assert(cues.select("cue_index").collect().map(_.getLong(0)).toSeq ==
          Seq(1L, 3L, 5L))
      }

      // parity: the same streams on the keyed pass (maxRows=0 turns off
      // the driver kernel) are byte-identical
      val out2 = Files.createTempDirectory("graft-fusedoff").toString
      spark.conf.set("spark.graft.stream.localAppend.maxRows", "0")
      try {
        val job2 = new StreamingJob(spark, NexusPlan.parse(template), out2, 0, StopMs)
        job2.processBatch("f144", msgs(0, 2))
        job2.processBatch("f144", msgs(2, 3))
        job2.processBatch("f144", msgs(5, 2, beyond = true))
        job2.finish()
      } finally spark.conf.unset("spark.graft.stream.localAppend.maxRows")
      keys.foreach { k =>
        val a = spark.read.parquet(s"$out/data/$k/data").orderBy("row").collect()
        val b = spark.read.parquet(s"$out2/data/$k/data").orderBy("row").collect()
        assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq, s"$k parity")
      }
    }

    // ev44 rides the same band: the module transform (its numbering, the
    // explodes of the events and index tables and the cue-candidate
    // collect) and all three appends run on the driver, so a steady
    // trigger is the driver kernel's collect alone. Four events per
    // message against a cue interval of four fires a cue on every message
    // after the first.
    val evPlan =
      """{ "children": [ { "name": "entry", "type": "group", "children": [
        |  { "name": "det", "type": "group", "children": [
        |    { "module": "ev44", "config": { "source": "det", "topic": "tp",
        |                                    "cue_interval": 4 } } ] } ] } ] }""".stripMargin
    def evMsgs(from: Long, n: Int) = distributed((from until from + n).map { o =>
      val tsMs = 1000 + o
      Ev44Msg("tp", "det", o, tsMs, tsMs * 1000000L, Seq(tsMs * 1000000L), Seq(0),
        Seq.tabulate(4)(i => (o * 10 + i).toInt), Seq.tabulate(4)(i => (o * 100 + i).toInt))
    }.toDF())
    def evRun(maxRows: String): (String, Int, Map[String, Long]) = {
      val out = Files.createTempDirectory("graft-fused-ev44").toString
      spark.conf.set("spark.graft.stream.localAppend.maxRows", maxRows)
      try {
        val job = new StreamingJob(spark, NexusPlan.parse(evPlan), out, 0, StopMs)
        job.processBatch("ev44", evMsgs(0, 2)) // arms the gate
        def paths = Seq("appends_fused", "appends_spark")
          .map(c => c -> job.counter("entry/det", c)).toMap
        val before = paths
        val steady = sparkWork(job.processBatch("ev44", evMsgs(2, 3)))._1
        val after = paths
        job.processBatch("ev44", evMsgs(5, 3))
        job.finish()
        (out, steady, after.map { case (c, v) => c -> (v - before(c)) })
      } finally spark.conf.unset("spark.graft.stream.localAppend.maxRows")
    }
    val (evOut, evSteady, evPaths) = evRun("128")
    assert(evSteady == 1, s"ev44: steady-state tiny trigger should be 1 job, saw $evSteady")
    assert(evPaths == Map("appends_fused" -> 3L, "appends_spark" -> 0L),
      s"ev44: events, index and cue must all append on the driver: $evPaths")
    val (evOff, _, offPaths) = evRun("0")
    assert(offPaths("appends_spark") == 2L, "maxRows=0: events and index take Spark appends")
    Seq("events", "index", "cue").foreach { t =>
      def read(o: String) = spark.read.parquet(s"$o/data/entry/det/$t").orderBy("row")
        .collect().map(_.toString).toSeq
      assert(read(evOut) == read(evOff), s"ev44 $t parity")
    }
    assert(spark.read.parquet(s"$evOut/data/entry/det/cue").count() == 7L)
  }

  /** One input per module: (module, config extra, messages at offsets →
    * the module's input frame, a local relation), every message in the
    * window of a job started at 0.
    */
  private lazy val eightModules: Seq[(String, String, Seq[Long] => DataFrame)] = {
    import graft.sources.Fixtures._
    val vars = """, "variables": [ {"name": "a", "data_type": "float64"},
                 |                 {"name": "b", "data_type": "float64"} ]""".stripMargin
    Seq(
      ("f144", "", os => os.map(o => F144Msg("tp", "m", o, 1000 + o, (1000 + o) * 1000000L,
        o.toDouble)).toDF()),
      ("ep01", "", os => os.map(o => Ep01Msg("tp", "m", o, 1000 + o, (1000 + o) * 1000000L,
        (o % 5).toShort)).toDF()),
      ("al00", "", os => os.map(o => Al00Msg("tp", "m", o, 1000 + o, (1000 + o) * 1000000L,
        1.toShort, s"m$o")).toDF()),
      ("ev44", "", os => os.map(o => Ev44Msg("tp", "m", o, 1000 + o, (1000 + o) * 1000000L,
        Seq((1000 + o) * 1000000L), Seq(0), Seq(1, 2), Seq(3, 4))).toDF()),
      ("ad00", "", os => os.map(o => Ad00Msg("tp", "m", o, 1000 + o, (1000 + o) * 1000000L,
        Seq(2L), Seq(o + 0.1, o + 0.2))).toDF()),
      ("da00", vars, os => os.flatMap(o => Seq(
        Da00Msg("tp", "m", o, 1000 + o, (1000 + o) * 1000000L, "a", "x", Seq(o + 0.1, 2.0)),
        Da00Msg("tp", "m", o, 1000 + o, (1000 + o) * 1000000L, "b", "x", Seq(o + 0.5)))).toDF()),
      ("se00", """, "dtype": "double"""", os => os.map(o => Se00Msg("tp", "m", o, 1000 + o,
        (1000 + o) * 1000000L, 1.0, None, Seq(o + 0.1, o + 0.2))).toDF()),
      ("tdct", "", os => os.map(o => TdctMsg("tp", "m", o, 1000 + o, (1000 + o) * 1000000L,
        Seq((1000 + o) * 1000000L + 1))).toDF()))
  }

  test("a steady tiny trigger of each of the eight modules runs one Spark job and appends on the driver") {
    // one stream per module, each fed a distributed frame, so the driver
    // kernel's collect is the trigger's one job: every module transform
    // (da00's per-message pivot and the array tables of ad00/da00
    // included) and every append then run on the driver
    val modules = eightModules
    for ((module, extra, frame) <- modules) {
      val plan = NexusPlan.parse(
        s"""{ "children": [ { "name": "g", "type": "group", "children": [
           |  { "module": "$module", "config": { "source": "m", "topic": "tp",
           |    "enable_epics_con_info": false, "enable_alarm_info": false$extra } } ] } ] }""".stripMargin)
      val out = Files.createTempDirectory(s"graft-eight-$module").toString
      val job = new StreamingJob(spark, plan, out, 0, 1L << 40)
      job.processBatch(module, distributed(frame(Seq(0L, 1L)))) // arms the gate
      val (fused0, spark0) = (job.counter("g", "appends_fused"), job.counter("g", "appends_spark"))
      val (jobs, stages, shuffle) = sparkWork(
        job.processBatch(module, distributed(frame(Seq(2L, 3L, 4L)))))
      assert((jobs, stages, shuffle) == ((1, 1, 0L)), s"$module: (jobs, stages, shuffle bytes)")
      assert(job.counter("g", "appends_spark") == spark0, s"$module: a Spark append ran")
      assert(job.counter("g", "appends_fused") > fused0, s"$module: no driver append")
      assert(job.counter("g", "write_errors") == 0L, s"$module: write errors")
      job.finish()
    }
  }

  /** Every table of stream `g` under `out`, rows in row order (the
    * close-time finals have one row).
    */
  private def tablesOf(out: String): Map[String, Seq[String]] = {
    val dir = new java.io.File(s"$out/data/g")
    dir.listFiles().filter(_.isDirectory).map(_.getName).sorted.map { t =>
      val df = spark.read.parquet(s"$out/data/g/$t")
      t -> (if (df.columns.contains("row")) df.orderBy("row") else df).collect().map(_.toString).toSeq
    }.toMap
  }

  private def onePlan(module: String, config: String) = NexusPlan.parse(
    s"""{ "children": [ { "name": "g", "type": "group", "children": [
       |  { "module": "$module", "config": { "source": "m", "topic": "tp",
       |    "enable_epics_con_info": false, "enable_alarm_info": false$config } } ] } ] }""".stripMargin)

  test("module plans are built once per stream: six steady triggers of each of the eight modules equal the keyed pass") {
    // cue grids that fire on consecutive triggers, so the kept plans' cue
    // anchors move between evaluations
    val cues = Map("f144" -> """, "cue_interval": 2""", "ad00" -> """, "cue_interval": 2""",
      "ev44" -> """, "cue_interval": 3""")
    for ((module, extra, frame) <- eightModules) {
      val plan = onePlan(module, extra + cues.getOrElse(module, ""))
      // trigger 0 arms the driver kernel, 1-6 are steady, 7 carries one
      // more column (a new input schema) and 8 the usual schema again
      val triggers = (0 until 9).map(t => (t * 3L until t * 3L + 1 + t % 3).toSeq)
      def input(t: Int) = {
        val df = distributed(frame(triggers(t)))
        if (t == 7) df.select(lit("drift").as("note") +: df.columns.toSeq.map(col): _*) else df
      }
      def run(maxRows: String): (Map[String, Seq[String]], Seq[Option[(Int, Int)]], Seq[Int]) = {
        val out = Files.createTempDirectory(s"graft-kept-$module").toString
        spark.conf.set("spark.graft.stream.localAppend.maxRows", maxRows)
        try {
          val job = new StreamingJob(spark, plan, out, 0, 1L << 40)
          val (use, jobs) = triggers.indices.map { t =>
            val n = if (t >= 1 && t <= 6) sparkWork(job.processBatch(module, input(t)))._1
                    else { job.processBatch(module, input(t)); -1 }
            (job.planUse.get("g"), n)
          }.unzip
          assert(job.counter("g", "write_errors") == 0L, s"$module maxRows=$maxRows")
          job.finish()
          (tablesOf(out), use, jobs.filter(_ >= 0))
        } finally spark.conf.unset("spark.graft.stream.localAppend.maxRows")
      }
      val (driver, use, jobs) = run("128")
      // (builds, evaluated triggers) after each trigger: one build serves
      // triggers 1-6; the new schema builds again, and so does the old one
      assert(use == Seq(None) ++ (1 to 6).map(i => Some((1, i))) ++ Seq(Some((2, 7)), Some((3, 8))),
        s"$module: plan use per trigger")
      assert(jobs == Seq.fill(6)(1), s"$module: each steady trigger is the kernel's one job")
      val (keyed, keyedUse, _) = run("0")
      assert(keyedUse.forall(_.isEmpty), s"$module: the keyed pass keeps no plans")
      assert(driver == keyed, s"$module: kept plans and the keyed pass wrote different tables")
      cues.get(module).foreach { _ =>
        assert(driver("cue").size >= 6, s"$module: the cue grid must fire on several triggers")
      }
    }
    // plans are kept per stream: one source under two paths with two
    // configs builds each stream's plans once
    val two = NexusPlan.parse(
      """{ "children": [ { "name": "g", "type": "group", "children": [
        |  { "name": "a", "type": "group", "children": [ { "module": "f144", "config": {
        |    "source": "m", "topic": "tp", "cue_interval": 2,
        |    "enable_epics_con_info": false, "enable_alarm_info": false } } ] },
        |  { "name": "b", "type": "group", "children": [ { "module": "f144", "config": {
        |    "source": "m", "topic": "tp", "cue_interval": 3,
        |    "enable_epics_con_info": false, "enable_alarm_info": false } } ] } ] } ] }""".stripMargin)
    val job = new StreamingJob(spark, two,
      Files.createTempDirectory("graft-kept-two").toString, 0, 1L << 40)
    val f144 = eightModules.head._3
    (0 until 6).foreach(t => job.processBatch("f144", f144((t * 2L until t * 2L + 2).toSeq)))
    assert(job.planUse == Map("g/a" -> ((1, 5)), "g/b" -> ((1, 5))))
    job.finish()
  }

  test("a buffered message under a drifted schema rebuilds the kept plans; both kernel forms write it") {
    for ((module, extra, frame) <- eightModules if Set("f144", "da00")(module)) {
      // the job starts at 1005 ms: offsets below 5 are pre-start. Trigger
      // 1 carries only a pre-start straggler, with one more column, so the
      // buffered message keeps that schema; trigger 2 emits it with rows
      // of the usual schema
      def noted(df: DataFrame) = df.select(lit("x").as("note") +: df.columns.toSeq.map(col): _*)
      val triggers = Seq(frame(Seq(5L, 6L)), noted(frame(Seq(2L))), frame(Seq(7L, 8L)),
        frame(Seq(9L)))
      def run(maxRows: String) = {
        val out = Files.createTempDirectory(s"graft-drift-$module").toString
        spark.conf.set("spark.graft.stream.localAppend.maxRows", maxRows)
        try {
          val job = new StreamingJob(spark, onePlan(module, extra), out, 1005, 1L << 40)
          triggers.foreach(job.processBatch(module, _))
          val use = job.planUse.get("g")
          assert(job.counter("g", "write_errors") == 0L, s"$module maxRows=$maxRows")
          job.finish()
          (tablesOf(out), use)
        } finally spark.conf.unset("spark.graft.stream.localAppend.maxRows")
      }
      val (driver, use) = run("128")
      // the buffered message's trigger evaluates plans of the merged
      // schema; the next trigger's schema builds again
      assert(use.contains((2, 2)), s"$module: plan use $use")
      val (keyed, _) = run("0")
      assert(driver == keyed, s"$module: the kernel forms wrote different tables")
      assert(driver("data").size == 6, s"$module: ${driver("data")}")
    }
  }

  test("ev44: a superset miss on a driver trigger walks on the driver: no Spark job, the keyed pass's cues") {
    import graft.operators.WriterModules.Ev44
    // interval 10 from 1 event written: eas 16, 24, 27, 34, 37, 44, 47 —
    // the greedy chain fires at 16, then at 27, 37 and 47, which are not
    // grid candidates: three superset misses
    def msgs(from: Long, sizes: Seq[Int]) = sizes.zipWithIndex.map { case (n, i) =>
      val o = from + i
      Ev44Msg("tp", "m", o, 1000 + o, (1000 + o) * 1000000L, Seq((1000 + o) * 1000000L),
        Seq(0), (1 to n).toSeq, (1 to n).toSeq)
    }.toDF()
    def run(maxRows: String): (Seq[Long], Int, Int) = {
      val out = Files.createTempDirectory("graft-miss").toString
      spark.conf.set("spark.graft.stream.localAppend.maxRows", maxRows)
      try {
        val job = new StreamingJob(spark, onePlan("ev44", """, "cue_interval": 10"""), out, 0,
          1L << 40)
        job.processBatch("ev44", msgs(0, Seq(1))) // arms the gate
        val jobs = sparkWork(job.processBatch("ev44", msgs(1, Seq(15, 8, 3, 7, 3, 7, 3))))._1
        val misses = Ev44.lastCueFallbacks
        job.finish()
        (spark.read.parquet(s"$out/data/g/cue").orderBy("row").collect()
          .map(_.getAs[Long]("cue_index")).toSeq, misses, jobs)
      } finally spark.conf.unset("spark.graft.stream.localAppend.maxRows")
    }
    val (cues, misses, jobs) = run("128")
    assert(cues == Seq(15L, 26L, 36L, 46L))
    assert(misses == 3, s"the chain must miss three times, saw $misses")
    assert(jobs == 0, s"a local batch's driver trigger must run no Spark job, saw $jobs")
    val (keyedCues, keyedMisses, keyedJobs) = run("0")
    assert(keyedCues == cues && keyedMisses == 3 && keyedJobs > 0)
  }

  test("ev44: a message with events and no reference time writes under both kernel forms") {
    // the wire never delivers one (the envelope rejects it), a hand-built
    // frame can: its cue timestamp must not throw under ANSI, so the
    // trigger's other messages still land
    val plan = NexusPlan.parse(
      """{ "children": [ { "name": "entry", "type": "group", "children": [
        |  { "name": "det", "type": "group", "children": [
        |    { "module": "ev44", "config": { "source": "det", "topic": "tp",
        |                                    "cue_interval": 1 } } ] } ] } ] }""".stripMargin)
    def msg(o: Long, refTime: Seq[Long]) = Ev44Msg("tp", "det", o, 1000 + o,
      (1000 + o) * 1000000L, refTime, if (refTime == null) null else refTime.map(_ => 0),
      Seq((o * 10).toInt, (o * 10 + 1).toInt), Seq(1, 2))
    def good(o: Long) = msg(o, Seq((1000 + o) * 1000000L))
    val tables = for (maxRows <- Seq("128", "0")) yield {
      val out = Files.createTempDirectory("graft-ev44-noref").toString
      spark.conf.set("spark.graft.stream.localAppend.maxRows", maxRows)
      val job = new StreamingJob(spark, plan, out, 0, 1L << 40)
      try {
        job.processBatch("ev44", Seq(good(0), good(1)).toDF()) // arms the gate
        job.processBatch("ev44", Seq(good(2), msg(3, Nil), good(4), msg(5, null)).toDF())
      } finally spark.conf.unset("spark.graft.stream.localAppend.maxRows")
      assert(job.counter("entry/det", "write_errors") == 0L, s"maxRows=$maxRows")
      job.finish()
      def read(t: String) = spark.read.parquet(s"$out/data/entry/det/$t").orderBy("row").collect()
      assert(read("events").map(_.getAs[Int]("event_time_offset")).toSeq ==
        (0 until 6).flatMap(o => Seq(o * 10, o * 10 + 1)), s"maxRows=$maxRows: events")
      assert(read("index").map(_.getAs[Long]("event_time_zero")).toSeq ==
        Seq(0L, 1L, 2L, 4L).map(o => (1000 + o) * 1000000L), s"maxRows=$maxRows: index")
      Seq("events", "index", "cue").map(t => read(t).map(_.toString).toSeq)
    }
    assert(tables(0) == tables(1), "the two kernel forms write different tables")
  }

  test("fused payload survives a burst after an idle trigger (overflow → distributed path)") {
    val out = Files.createTempDirectory("graft-fusedburst").toString
    val job = new StreamingJob(spark, NexusPlan.parse(template), out, 0, 1L << 40)
    def msgs(from: Long, n: Int) = (from until from + n).map(o =>
      f144(o, 1000 + o, o.toDouble)).toDF()
    spark.conf.set("spark.graft.stream.localAppend.maxRows", "4")
    try {
      job.processBatch("f144", msgs(0, 2))   // tiny → arms the gate
      job.processBatch("f144", msgs(2, 100)) // burst: 100 > 4×4 → overflow
      assert(job.counter("entry/speed", "appends_spark") >= 1L,
        "the 100-row burst (> 4x4 overflow) must count as a distributed append")
      val sparkBefore = job.counter("entry/speed", "appends_spark")
      job.processBatch("f144", msgs(102, 2)) // gate off (last was 100) → frame path
      assert(job.counter("entry/speed", "appends_spark") > sparkBefore,
        "the gate-off tiny trigger is served by a Spark write job")
    } finally spark.conf.unset("spark.graft.stream.localAppend.maxRows")
    job.finish()
    val d = spark.read.parquet(s"$out/data/entry/speed/data").orderBy("row")
    assert(d.count() == 104)
    assert(d.select("row").collect().map(_.getLong(0)).toSeq == (0L until 104L))
  }

  test("a wide ad00 burst after a tiny trigger overflows the byte cap: distributed path, same rows") {
    // a row bound alone (4 × maxRows = 512 messages) brings this burst of
    // ten 16 KB images to the driver in the driver kernel's collect; the
    // byte cap (spark.graft.rows.smallRenumberBytes) latches it in each
    // task, and no other step of the trigger brings the rows to the
    // driver either: neither the images nor, on al00, ten 16 KB alarm
    // messages, whose flat table a driver-side append could take.
    // Observed as the sum of the results the tasks of the trigger return
    // to the driver, less that sum for the same trigger of 1.6 KB rows
    // (every task returns a few KB of metrics whatever its rows), on a
    // burst after a tiny trigger and on a job's first trigger. The frames
    // are distributed, so the collect runs as a job.
    def plan(module: String, extra: String) = NexusPlan.parse(
      s"""{ "children": [ { "name": "entry", "type": "group", "children": [
         |  { "name": "img", "type": "group", "children": [
         |    { "module": "$module", "config": { "source": "cam", "topic": "tp"$extra,
         |      "enable_epics_con_info": false, "enable_alarm_info": false } } ] } ] } ] }""".stripMargin)
    val Cap = 4L * 1024
    // random pixels and text: task results travel compressed
    def images(from: Long, n: Int, width: Int) = distributed((from until from + n).map { o =>
      val rnd = new scala.util.Random(o)
      graft.sources.Fixtures.Ad00Msg("tp", "cam", o, 1000 + o, (1000 + o) * 1000000L,
        Seq(width.toLong), Seq.fill(width)(rnd.nextDouble()))
    }.toDF())
    def alarms(from: Long, n: Int, width: Int) = distributed((from until from + n).map { o =>
      val rnd = new scala.util.Random(o)
      graft.sources.Fixtures.Al00Msg("tp", "cam", o, 1000 + o, (1000 + o) * 1000000L, 1,
        Seq.fill(width)(java.lang.Long.toString(rnd.nextLong(), 36)).mkString.take(8 * width))
    }.toDF())
    // (sum, largest) of the task results of `body`'s jobs
    def resultBytes(body: => Unit): (Long, Long) = {
      val sum = new java.util.concurrent.atomic.AtomicLong
      val top = new java.util.concurrent.atomic.AtomicLong
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (t.taskMetrics != null) {
            sum.addAndGet(t.taskMetrics.resultSize)
            top.accumulateAndGet(t.taskMetrics.resultSize, math.max)
          }
      }
      spark.sparkContext.addSparkListener(l)
      try {
        body
        // listener delivery is async: wait until the value is stable
        var prev = -1L; var stable = 0
        while (stable < 3) {
          Thread.sleep(100)
          if (sum.get == prev) stable += 1 else { prev = sum.get; stable = 0 }
        }
        (sum.get, top.get)
      } finally spark.sparkContext.removeSparkListener(l)
    }
    for ((module, extra, frame, tables) <- Seq(
        ("ad00", """, "cue_interval": 2""", images _, Seq("data", "cue")),
        ("al00", "", alarms _, Seq("data")))) {
      def run(maxRows: String, capBytes: Option[Long], width: Int = 2000)
          : (String, (Long, Long), Seq[Long]) = {
        val out = Files.createTempDirectory("graft-wideburst").toString
        spark.conf.set("spark.graft.stream.localAppend.maxRows", maxRows)
        capBytes.foreach(c => spark.conf.set("spark.graft.rows.smallRenumberBytes", c.toString))
        try {
          val job = new StreamingJob(spark, plan(module, extra), out, 0, 1L << 40)
          def fused = job.counter("entry/img", "appends_fused")
          job.processBatch(module, frame(0, 2, 4)) // arms the gate
          val f1 = fused
          job.processBatch(module, frame(2, 2, 4)) // tiny: every table appends fused
          val f2 = fused
          val burst = resultBytes(job.processBatch(module, frame(4, 10, width)))
          job.finish()
          (out, burst, Seq(f1, f2))
        } finally {
          spark.conf.unset("spark.graft.stream.localAppend.maxRows")
          spark.conf.unset("spark.graft.rows.smallRenumberBytes")
        }
      }
      val (on, burstOn, fusedOn) = run("128", Some(Cap))
      assert(fusedOn(1) == fusedOn(0) + tables.size,
        s"$module: the tiny trigger must append fused: $fusedOn")
      val (_, burstNarrow, _) = run("128", Some(Cap), width = 200)
      assert(burstOn._1 - burstNarrow._1 < 32L * 1024,
        s"$module: the burst reached the driver: ${burstOn._1} against ${burstNarrow._1} bytes")
      // a fresh job's first trigger has no history, so no payload: the
      // same wide rows must not reach the driver on its write path
      def first(width: Int): Long = {
        val fresh = Files.createTempDirectory("graft-widefirst").toString
        spark.conf.set("spark.graft.rows.smallRenumberBytes", Cap.toString)
        try {
          val job = new StreamingJob(spark, plan(module, extra), fresh, 0, 1L << 40)
          val b = resultBytes(job.processBatch(module, frame(0, 10, width)))
          job.finish()
          assert(spark.read.parquet(s"$fresh/data/entry/img/data").count() == 10L)
          b._1
        } finally spark.conf.unset("spark.graft.rows.smallRenumberBytes")
      }
      val (firstWide, firstNarrow) = (first(2000), first(200))
      assert(firstWide - firstNarrow < 32L * 1024,
        s"$module: the first trigger reached the driver: $firstWide against $firstNarrow bytes")
      // under the default 32 MiB cap the same burst does come to the driver
      if (module == "ad00") {
        val (_, burstDefault, _) = run("128", None)
        // ten 16 kB rows in at most four tasks: one task returns three
        assert(burstDefault._2 > 32L * 1000 && burstDefault._2 > burstOn._2,
          s"the driver kernel should collect the burst: $burstDefault against $burstOn")
      }
      val (off, _, _) = run("0", Some(Cap))
      tables.foreach { t =>
        def read(o: String) = spark.read.parquet(s"$o/data/entry/img/$t").orderBy("row")
          .collect().map(_.toString).toSeq
        assert(read(on) == read(off), s"$module $t parity")
      }
      assert(spark.read.parquet(s"$on/data/entry/img/data").count() == 14L)
    }
  }

  test("x5f2 counters ride the push-metrics reporter with live values") {
    import graft.commands.MetricsReporter._
    val out = Files.createTempDirectory("graft-stream").toString
    val job = newJob(out)
    job.processBatch("f144", Seq(f144(0, 10100, 10.0)).toDF())
    job.processBatch("ev44", Seq(ev44(0, 10100, Seq(1, 2, 3))).toDF())

    val lines  = collection.mutable.ArrayBuffer.empty[String]
    val carbon = new Reporter(new CarbonSink(lines += _), periodMs = 10000)
    registerJob(job, new Registrar(
      appPrefix("kafka-to-nexus", "host.example.org"), Seq(carbon)))
    assert(carbon.tick(0L))
    val byName = lines.map(_.split(' ')).map(p => p(0) -> p(1).toLong).toMap
    // per-stream counters under app.host.<tree path>.counter, pulled live
    assert(byName("kafka-to-nexus.host_example_org.entry.speed.events_written") == 0L)
    assert(byName("kafka-to-nexus.host_example_org.entry.events.events_written") == 3L)
    assert(byName.keys.exists(_.endsWith(".write_errors")))
    // the append-path band decision rides the same surface (driver /
    // distributed — at production the 1-job-vs-5-jobs difference per
    // trigger)
    Seq("appends_fused", "appends_spark").foreach { c =>
      assert(byName.contains(s"kafka-to-nexus.host_example_org.entry.speed.$c"),
        s"$c missing from the push-metrics surface")
    }
    assert(byName("kafka-to-nexus.host_example_org.entry.speed.appends_spark") >= 1L)
    // the wall time of the schema's last processBatch, per stream
    assert(byName("kafka-to-nexus.host_example_org.entry.speed.last_batch_ms") > 0L)

    // values are pulled at report time: a later batch moves the counter
    job.processBatch("ev44", Seq(ev44(1, 10200, Seq(4, 5))).toDF())
    lines.clear()
    assert(carbon.tick(10000L))
    val after = lines.map(_.split(' ')).map(p => p(0) -> p(1).toLong).toMap
    assert(after("kafka-to-nexus.host_example_org.entry.events.events_written") == 5L)
  }

  test("a replacement job's counters take over once the old names are removed") {
    import graft.commands.MetricsReporter._
    val jobA = newJob(Files.createTempDirectory("graft-stream").toString)
    val jobB = newJob(Files.createTempDirectory("graft-stream").toString)
    jobA.processBatch("ev44", Seq(ev44(0, 10100, Seq(1, 2, 3))).toDF())
    jobB.processBatch("ev44", Seq(ev44(0, 10100, Seq(4, 5))).toDF())

    val lines  = collection.mutable.ArrayBuffer.empty[String]
    val carbon = new Reporter(new CarbonSink(lines += _), periodMs = 10000,
      clock = () => 0L)
    val registrar = new Registrar("app", Seq(carbon))
    val namesA = registerJob(jobA, registrar)
    // same stream paths: without deregistration the suppliers would stay
    // bound to job A forever (addMetric rejects the duplicate names)
    namesA.foreach(registrar.removeMetric)
    registerJob(jobB, registrar)
    assert(carbon.tick(0L))
    val byName = lines.map(_.split(' ')).map(p => p(0) -> p(1).toLong).toMap
    assert(byName("app.entry.events.events_written") == 2L) // job B's count
  }

  test("streaming finish can emit the native .h5 artifact") {
    val out = Files.createTempDirectory("graft-stream").toString
    val job = newJob(out)
    job.processBatch("f144", Seq(
      f144(0, 10100, 10.0), f144(1, 10110, 15.0)).toDF())
    job.finish(emitHdf5 = Some(s"$out/run.h5"))
    val root = graft.sinks.MiniHdf5Reader.read(s"$out/run.h5")
    val speed = root.groups("entry").groups("speed")
    assert(speed.groups("value").datasets("").asInstanceOf[Array[Double]].toSeq ==
      Seq(10.0, 15.0))
  }

  test("large appends split into range-partitioned files, order reconstructible") {
    val out  = Files.createTempDirectory("graft-sink").toString
    val sink = new graft.sinks.NexusSink(out)
    sink.create(graft.plans.NexusPlan.parse("""{ "children": [] }"""))
    val df = spark.range(0, 10000).toDF("row")
      .withColumn("v", org.apache.spark.sql.functions.col("row") * 2)
    sink.append("p", "data", df, rows = 10000, rowsPerFile = 2500)
    val files = new java.io.File(s"$out/data/p/data")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(files >= 3, s"expected multiple part files, got $files")
    val back = spark.read.parquet(s"$out/data/p/data").orderBy("row")
      .select("v").collect().map(_.getLong(0))
    assert(back.toSeq == (0L until 10000L).map(_ * 2))
  }

  test("end-to-end through a real MemoryStream query") {
    val out    = Files.createTempDirectory("graft-stream").toString
    val job    = newJob(out)
    val stream = MemoryStream[F144Msg](spark)
    val query = job match {
      case j =>
        stream.toDF().writeStream
          .outputMode("append")
          .foreachBatch { (batch: DataFrame, _: Long) =>
            j.processBatch("f144", batch)
          }
          .start()
    }
    stream.addData(f144(0, 10100, 10.0), f144(1, 10110, 15.0))
    query.processAllAvailable()
    stream.addData(f144(2, 10120, 20.0))
    query.processAllAvailable()
    query.stop()
    job.finish()
    val d = spark.read.parquet(s"$out/data/entry/speed/data").orderBy("row")
    assert(d.select("value").collect().map(_.getDouble(0)).toSeq ==
      Seq(10.0, 15.0, 20.0))
  }

  test("restart through Spark's OWN streaming checkpoint equals the uninterrupted run") {
    // The real restart choreography the reference's integration suite
    // exercises (integration-tests/test_filewriter.py): kill the query
    // (no finish), construct a NEW job over the same output, re-attach —
    // Spark resumes from outDir/.checkpoints, batch ids stay continuous,
    // the replayed last batch hits the replay-skip mark, and the sink
    // matches a run that was never interrupted. A file-stream source
    // (unlike MemoryStream) genuinely recovers from the checkpoint.
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("topic", StringType), StructField("source_name", StringType),
      StructField("offset", LongType), StructField("kafka_ts_ms", LongType),
      StructField("ts", LongType), StructField("value", DoubleType)))
    def line(off: Long, tsMs: Long, v: Double) =
      s"""{"topic":"tp","source_name":"speed","offset":$off,""" +
        s""""kafka_ts_ms":$tsMs,"ts":${tsMs * 1000000L},"value":$v}"""
    def drive(out: String, src: String, interrupted: Boolean): Unit = {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
      def wave(n: Int, lines: String*): Unit =
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(src, s"wave$n.json"), lines.mkString("\n"))
      def attach(job: StreamingJob) = StreamingJob.attach(job, "f144",
        spark.readStream.schema(schema).json(src), triggerMs = 100)
      wave(1, line(0, 10100, 1.0), line(1, 10200, 2.0))
      val job1 = newJob(out)
      val q1 = attach(job1)
      try q1.processAllAvailable() finally q1.stop()
      if (interrupted) {
        // crash: job1 abandoned (no finish); fresh instance, same outDir
        wave(2, line(2, 10200, 9.9), line(3, 12000, 3.0)) // head repeats ts
        val job2 = newJob(out)
        val q2 = attach(job2)
        try q2.processAllAvailable() finally q2.stop()
        job2.finish()
      } else {
        wave(2, line(2, 10200, 9.9), line(3, 12000, 3.0))
        val q1b = attach(job1)
        try q1b.processAllAvailable() finally q1b.stop()
        job1.finish()
      }
    }
    val outA = Files.createTempDirectory("graft-ckptrestart-a").toString
    val outB = Files.createTempDirectory("graft-ckptrestart-b").toString
    drive(outA, Files.createTempDirectory("graft-src-a").toString, interrupted = true)
    drive(outB, Files.createTempDirectory("graft-src-b").toString, interrupted = false)
    val a = spark.read.parquet(s"$outA/data/entry/speed/data").orderBy("row").collect()
    val b = spark.read.parquet(s"$outB/data/entry/speed/data").orderBy("row").collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq,
      "restarted sink must equal the uninterrupted sink")
    // the cross-restart dedup boundary held: offset 2 repeated the
    // pre-restart tail ts and was dropped; rows are 1.0, 2.0, 3.0
    assert(a.map(_.getAs[Double]("value")).toSeq == Seq(1.0, 2.0, 3.0))
  }

  test("concurrent jobs restore the session confs they flip per batch") {
    // processBatch temporarily disables AQE / narrows shuffle width for
    // its window; with TWO jobs on one session the set/restore pairs must
    // serialize on a global lock — per-job monitors would let job B read
    // job A's "false" as its prior and restore it, leaving AQE off for
    // the session. Stress the interleave and assert the conf comes back.
    val priorAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val jobs = Seq(
      newJob(Files.createTempDirectory("sjob-conf-a").toString),
      newJob(Files.createTempDirectory("sjob-conf-b").toString))
    val threads = jobs.zipWithIndex.map { case (j, i) =>
      new Thread(() => (0 until 5).foreach { b =>
        j.processBatch("f144",
          Seq(f144(b * 2 + i, 10010 + b, b.toDouble)).toDF())
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(spark.conf.get("spark.sql.adaptive.enabled") == priorAqe)
    jobs.foreach(_.finish())
  }
}
