package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Semantic goldens for the stream kernel, ported from the reference's
  * domain tests (value-level assertions):
  * `domain-tests/test_writer_modules.py`, `test_buffered.py`,
  * `test_messages_before_and_after.py`, `test_repeated_messages.py`.
  *
  * Message model: (source, offset, ts ns, value). Reference window in the
  * file-maker harness is [10 s, 15 s] (`apps/file-maker.cpp:131-133`).
  */
class StreamKernelSpec extends SparkSpec {
  import spark.implicits._

  private val StartNs = 10000000000L // 10 s
  private val StopNs  = 15000000000L // 15 s

  // f144 domain fixture: two in-window samples (10, 15) at 10.1 s / 10.11 s,
  // plus strays before/after the window.
  private def f144 = Seq(
    ("speed", 0L, 9000000000L, 5.0),   // before start — buffered candidate
    ("speed", 1L, 9500000000L, 7.0),   // before start — newer, wins buffer
    ("speed", 2L, 10100000000L, 10.0), // in window
    ("speed", 3L, 10110000000L, 15.0), // in window
    ("speed", 4L, 16000000000L, 99.0)  // after stop — dropped
  ).toDF("source", "offset", "ts", "value")

  test("window keeps in-window rows and buffers ONLY the latest pre-start value") {
    val out = StreamKernel
      .windowWithBuffer(f144, Seq("source"), "offset", "ts", StartNs, StopNs)
      .orderBy("offset")
      .collect()
    assert(out.map(_.getAs[Double]("value")).toSeq == Seq(7.0, 10.0, 15.0))
    assert(out.map(_.getAs[Boolean]("is_buffered")).toSeq == Seq(true, false, false))
  }

  test("buffered value survives with no in-window data (test_buffered.py)") {
    val pre = f144.filter($"ts" < StartNs)
    val out = StreamKernel
      .windowWithBuffer(pre, Seq("source"), "offset", "ts", StartNs, StopNs)
      .collect()
    assert(out.length == 1)
    assert(out.head.getAs[Double]("value") == 7.0)
    assert(out.head.getAs[Boolean]("is_buffered"))
  }

  test("ev44 mode (emitBuffered=false) drops pre-start rows entirely") {
    val out = StreamKernel
      .windowWithBuffer(f144, Seq("source"), "offset", "ts", StartNs, StopNs,
        emitBuffered = false)
      .collect()
    assert(out.map(_.getAs[Double]("value")).sorted.toSeq == Seq(10.0, 15.0))
  }

  test("f144 running aggregates: min 10, max 15, mean 12.5 (test_writer_modules.py)") {
    val inWin = StreamKernel
      .windowWithBuffer(f144, Seq("source"), "offset", "ts", StartNs, StopNs,
        emitBuffered = false)
    val row = inWin
      .groupBy("source")
      .agg(
        min("value").as("mn"), max("value").as("mx"),
        avg("value").as("mean"), count(lit(1)).as("n"))
      .collect()
      .head
    assert(row.getAs[Double]("mn") == 10.0)
    assert(row.getAs[Double]("mx") == 15.0)
    assert(row.getAs[Double]("mean") == 12.5)
    assert(row.getAs[Long]("n") == 2L)
  }

  test("consecutive repeated-timestamp dedup drops only adjacent repeats") {
    // A A B A at same source: second A dropped, trailing A kept (consecutive
    // semantics, not global distinct) — test_repeated_messages.py.
    val df = Seq(
      ("s", 0L, 100L, 1.0), ("s", 1L, 100L, 2.0),
      ("s", 2L, 200L, 3.0), ("s", 3L, 100L, 4.0)
    ).toDF("source", "offset", "ts", "value")
    val out = StreamKernel
      .dedupConsecutive(df, Seq("source"), "offset", "ts")
      .orderBy("offset")
      .collect()
    assert(out.map(_.getAs[Long]("offset")).toSeq == Seq(0L, 2L, 3L))
  }

  test("dedup is MESSAGE-grain: multi-row messages (da00 variables) drop or keep whole") {
    // one da00 message = several rows sharing (offset, ts); the reference
    // filters MESSAGES (`SourceFilter.cpp:90-95`), so a repeated-ts
    // message must lose ALL its rows and a kept message must keep ALL —
    // row-grain lag(ts,1) would see a same-message sibling's equal ts and
    // silently drop every variable after the first
    val df = Seq(
      ("s", 0L, 100L, "v1"), ("s", 0L, 100L, "v2"),   // msg0: kept, both rows
      ("s", 1L, 100L, "v1"), ("s", 1L, 100L, "v2"),   // msg1: repeat of msg0 → dropped whole
      ("s", 2L, 200L, "v1"), ("s", 2L, 200L, "v2"),   // msg2: new ts → kept, both rows
      ("s", 3L, 100L, "v1")                            // msg3: ts != msg2 → kept
    ).toDF("source", "offset", "ts", "name")
    val out = StreamKernel
      .dedupConsecutive(df, Seq("source"), "offset", "ts")
      .orderBy("offset", "name").collect()
    assert(out.map(r => (r.getLong(1), r.getString(3))).toSeq ==
      Seq((0L, "v1"), (0L, "v2"), (2L, "v1"), (2L, "v2"), (3L, "v1")))
  }

  test("dedup corners: leading repeat, run of 3, split sources, null ts, null key") {
    def kept(df: DataFrame) = StreamKernel
      .dedupConsecutive(df, Seq("source"), "offset", "ts")
      .orderBy("source", "offset").collect().toSeq
      .map(r => (Option(r.getString(0)), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]), r.getDouble(3)))
    val df = Seq(
      ("s", 0L, Some(100L), 1.0), ("s", 1L, Some(100L), 2.0), // leading repeat
      ("s", 2L, Some(100L), 3.0),                             // run of 3: adjacent too
      ("s", 3L, Some(200L), 4.0),
      ("s", 4L, None: Option[Long], 5.0), // null after non-null: prev =!= null drops
      ("s", 5L, Some(200L), 6.0),         // prev is the null: kept
      ("t", 0L, None: Option[Long], 7.0), // leading null: no prev, kept
      ("t", 1L, Some(100L), 8.0),         // same ts as s's drops: other stream, kept
      ("t", 2L, Some(100L), 9.0)          // repeat within t: dropped
    ).toDF("source", "offset", "ts", "value")
    assert(kept(df) == Seq(
      (Some("s"), 0L, Some(100L), 1.0), (Some("s"), 3L, Some(200L), 4.0),
      (Some("s"), 5L, Some(200L), 6.0), (Some("t"), 0L, None, 7.0),
      (Some("t"), 1L, Some(100L), 8.0)))

    // a NULL source key is a stream of its own (partitionBy groups nulls):
    // its adjacent repeat drops, and it shares no predecessor with "s"
    val nullSrc = Seq(
      (Option.empty[String], 0L, Some(100L), 1.0),
      (Option.empty[String], 1L, Some(100L), 2.0),
      (Option.empty[String], 2L, Some(300L), 3.0),
      (Some("s"), 0L, Some(100L), 4.0)
    ).toDF("source", "offset", "ts", "value")
    assert(kept(nullSrc) == Seq(
      (None, 0L, Some(100L), 1.0), (None, 2L, Some(300L), 3.0),
      (Some("s"), 0L, Some(100L), 4.0)))
  }

  test("dedup with acceptRepeats=true (ev44) keeps everything") {
    val df = Seq(("s", 0L, 100L, 1.0), ("s", 1L, 100L, 2.0))
      .toDF("source", "offset", "ts", "value")
    assert(
      StreamKernel
        .dedupConsecutive(df, Seq("source"), "offset", "ts", acceptRepeats = true)
        .count() == 2)
  }

  test("dedup is per-stream: equal timestamps on different sources kept") {
    val df = Seq(("a", 0L, 100L, 1.0), ("b", 1L, 100L, 2.0))
      .toDF("source", "offset", "ts", "value")
    assert(StreamKernel.dedupConsecutive(df, Seq("source"), "offset", "ts").count() == 2)
  }

  test("stream health counts out-of-order timestamps and offset gaps") {
    val df = Seq(
      ("s", 10L, 100L, 0.0), ("s", 11L, 90L, 0.0), // ooo
      ("s", 13L, 95L, 0.0),                        // gap 11→13 (ooo? 95 > 90 no)
      ("t", 0L, 50L, 0.0), ("t", 1L, 60L, 0.0)
    ).toDF("source", "offset", "ts", "value")
    val rows = StreamKernel
      .streamHealth(df, Seq("source"), "offset", "ts")
      .collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("unordered_timestamps"), r.getAs[Long]("bad_offsets"),
          r.getAs[Long]("messages"))))
      .toMap
    assert(rows("s") == ((1L, 1L, 3L)))
    assert(rows("t") == ((0L, 0L, 2L)))
  }

  test("cue index emits every Nth row per stream with its timestamp") {
    val df = (1 to 25).map(i => ("s", i.toLong, i * 1000L, 0.0))
      .toDF("source", "offset", "ts", "value")
    val out = StreamKernel
      .cueIndex(df, Seq("source"), "offset", "ts", 10)
      .orderBy("cue_index")
      .collect()
    assert(out.map(_.getAs[Long]("cue_index")).toSeq == Seq(10L, 20L))
    assert(out.map(_.getAs[Long]("cue_timestamp")).toSeq == Seq(10000L, 20000L))
  }

  test("buffered pick is by max timestamp, not arrival order") {
    // An out-of-order older pre-start message arriving later must NOT
    // replace the buffer (SourceFilter.cpp:105-108 discards it).
    val df = Seq(
      ("s", 0L, 9500000000L, 1.0), // newest pre-start ts, earliest arrival
      ("s", 1L, 9000000000L, 2.0)  // older ts, later arrival — discarded
    ).toDF("source", "offset", "ts", "value")
    val out = StreamKernel
      .windowWithBuffer(df, Seq("source"), "offset", "ts", StartNs, StopNs)
      .collect()
    assert(out.length == 1 && out.head.getAs[Double]("value") == 1.0)
  }

  test("strict finish: in-window stragglers after a beyond-stop message are dropped") {
    val df = Seq(
      ("s", 0L, 11000000000L, 1.0), // in window
      ("s", 1L, 16000000000L, 2.0), // beyond stop → stream finished
      ("s", 2L, 12000000000L, 3.0)  // in window but arrives after finish
    ).toDF("source", "offset", "ts", "value")
    val out = StreamKernel
      .windowWithBuffer(df, Seq("source"), "offset", "ts", StartNs, StopNs)
      .collect()
    assert(out.map(_.getAs[Double]("value")).toSeq == Seq(1.0))
  }

  test("buffered pick is MESSAGE-grain: every row of a multi-row message survives") {
    // da00-shaped frame: one message explodes to one row per variable
    // (same offset, same ts). The buffered pick must keep ALL rows of the
    // winning message — a row-grain pick would keep one variable and drop
    // its siblings (F4's round-12 bug class, here for F3).
    val df = Seq(
      ("s", 0L, 9000000000L, "a", 1.0), // older pre-start message …
      ("s", 0L, 9000000000L, "b", 2.0),
      ("s", 1L, 9500000000L, "a", 3.0), // … newest pre-start message wins,
      ("s", 1L, 9500000000L, "b", 4.0), //   BOTH variables buffered
      ("s", 2L, 12000000000L, "a", 5.0), // in-window message
      ("s", 2L, 12000000000L, "b", 6.0)
    ).toDF("source", "offset", "ts", "name", "value")
    val out = StreamKernel
      .windowWithBuffer(df, Seq("source"), "offset", "ts", StartNs, StopNs)
      .orderBy("offset", "name")
      .collect()
    assert(out.map(r => (r.getAs[Long]("offset"), r.getAs[String]("name"),
      r.getAs[Boolean]("is_buffered"))).toSeq ==
      Seq((1L, "a", true), (1L, "b", true), (2L, "a", false), (2L, "b", false)))
  }

  test("route source keeps only the configured stream") {
    val df = Seq(("a", "f144", 1.0), ("b", "f144", 2.0), ("a", "ev44", 3.0))
      .toDF("source", "schema", "value")
    val out = StreamKernel.routeSource(df, "source" -> "a", "schema" -> "f144").collect()
    assert(out.length == 1 && out.head.getAs[Double]("value") == 1.0)
  }
}
