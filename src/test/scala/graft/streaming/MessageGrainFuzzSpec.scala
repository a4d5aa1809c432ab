package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.plans.NexusPlan
import graft.sources.Fixtures._

/** Message-grain property fuzz over ALL EIGHT data modules — F4's round-12
  * lesson systematized: every kernel decision (consecutive dedup, pre-start
  * buffering, window filter, strict finish) operates on MESSAGES, and an
  * adapter that renders one message as several rows (da00) or a module
  * that explodes one message into several output rows (ev44/se00/tdct)
  * must never let a decision split a message.
  *
  * Method: seeded random timelines of logical messages (offset, ts) with
  * consecutive repeats, pre-start stragglers, in-window data, and a
  * beyond-stop tail, split at random batch boundaries, are rendered
  * through each module's input shape and driven through a StreamingJob.
  * The surviving-message sequence read back from the sink is compared
  * against an INDEPENDENT message-grain re-implementation of the
  * SourceFilter semantics (`/root/reference/src/Stream/SourceFilter.cpp:74-120`)
  * written in plain Scala over the logical timeline — the same
  * oracle-vs-engine structure as the batch correctness gate.
  */
class MessageGrainFuzzSpec extends SparkSpec {
  import spark.implicits._

  private val StartMs = 10000L
  private val StopMs  = 15000L

  private final case class M(offset: Long, tsMs: Long) {
    def tsNs: Long = tsMs * 1000000L
  }

  /** Independent message-grain reference of F2/F3/F4/F6 + the buffer:
    * returns the emitted messages in sink order (buffered flush rides
    * ahead of the in-window rows of its trigger; a leftover buffer
    * flushes at finish).
    */
  private def expectedSurvivors(
      batches: Seq[Seq[M]],
      acceptRepeats: Boolean,
      emitBuffered: Boolean
  ): Seq[M] = {
    var finished = false
    var lastTs: Option[Long] = None
    var buf: Option[M] = None
    val out = scala.collection.mutable.ArrayBuffer.empty[M]
    for (batch <- batches if !finished && batch.nonEmpty) {
      // within-batch consecutive dedup: prev tracks EVERY message
      val kept = scala.collection.mutable.ArrayBuffer.empty[M]
      var prev: Option[Long] = None
      for (m <- batch.sortBy(_.offset)) {
        val dup = !acceptRepeats && prev.contains(m.tsMs)
        prev = Some(m.tsMs)
        if (!dup) kept += m
      }
      val cutoff = kept.find(_.tsMs > StopMs).map(_.offset)
      val live = cutoff match {
        case Some(c) => kept.filter(_.offset < c).toSeq
        case None    => kept.toSeq
      }
      // cross-batch boundary dup: the batch head repeats last batch's tail
      val boundary = !acceptRepeats && live.nonEmpty &&
        lastTs.contains(live.head.tsMs) && live.head.offset == kept.head.offset
      if (live.nonEmpty) lastTs = Some(live.last.tsMs)
      val postBoundary = if (boundary) live.tail else live
      // buffered candidate: max-(ts, offset) pre-start live message; the
      // boundary-dropped head is excluded; a newer-or-equal ts replaces
      val preStart = live.filter(_.tsMs < StartMs)
      if (preStart.nonEmpty) {
        val c = preStart.maxBy(m => (m.tsMs, m.offset))
        val isBoundaryRow = boundary && c.offset == live.head.offset
        if (!isBoundaryRow && buf.forall(_.tsMs <= c.tsMs)) buf = Some(c)
      }
      if (cutoff.isDefined) finished = true
      val inWin = postBoundary.filter(m => m.tsMs >= StartMs && m.tsMs <= StopMs)
      // the emit gate mirrors the engine: pre-boundary in-window count
      val nWin = live.count(m => m.tsMs >= StartMs && m.tsMs <= StopMs)
      if (emitBuffered && buf.nonEmpty && (nWin > 0 || finished)) {
        out += buf.get; buf = None
      }
      out ++= inWin
    }
    if (emitBuffered && buf.nonEmpty) out += buf.get // finish() flush
    out.toSeq
  }

  /** Seeded timeline: ts random-walks from below the window past stop,
    * with consecutive repeats mixed in; split into 3 batches.
    */
  private def timeline(seed: Int): Seq[Seq[M]] = {
    val rnd  = new scala.util.Random(seed)
    val msgs = scala.collection.mutable.ArrayBuffer.empty[M]
    var ts   = 8200L + rnd.nextInt(800)
    for (off <- 0L until 14L) {
      msgs += M(off, ts)
      ts += (if (rnd.nextDouble() < 0.3) 0L else 200L + rnd.nextInt(1200))
    }
    val c1 = 2 + rnd.nextInt(5)
    val c2 = c1 + 2 + rnd.nextInt(5)
    Seq(msgs.take(c1).toSeq, msgs.slice(c1, c2).toSeq, msgs.drop(c2).toSeq)
  }

  private def template(module: String, extra: String = ""): String =
    s"""{ "children": [
       |  { "name": "g", "type": "group", "children": [
       |    { "module": "$module",
       |      "config": { "source": "src", "topic": "tp"$extra } } ] }
       |] }""".stripMargin

  /** Per-module rendering of a logical message + the sink read-back of the
    * surviving-message identity sequence.
    */
  private final case class Harness(
      module: String,
      extra: String,
      frame: Seq[M] => DataFrame,
      readBack: String => Seq[Long] // out dir → per-message tsNs in row order
  )

  private def ts(out: String, table: String, timeCol: String): Seq[Long] =
    spark.read.parquet(s"$out/data/g/$table").orderBy("row")
      .select(timeCol).collect().map(_.getLong(0)).toSeq

  private lazy val harnesses: Seq[Harness] = Seq(
    Harness("f144", "",
      ms => ms.map(m => F144Msg("tp", "src", m.offset, m.tsMs, m.tsNs,
        m.offset + 0.5)).toDF(),
      out => ts(out, "data", "time")),
    Harness("ep01", "",
      ms => ms.map(m => Ep01Msg("tp", "src", m.offset, m.tsMs, m.tsNs,
        (m.offset % 5).toShort)).toDF(),
      out => ts(out, "data", "connection_status_time")),
    Harness("al00", "",
      ms => ms.map(m => Al00Msg("tp", "src", m.offset, m.tsMs, m.tsNs,
        (m.offset % 3).toShort, s"m${m.offset}")).toDF(),
      out => ts(out, "data", "alarm_time")),
    Harness("ad00", "",
      ms => ms.map(m => Ad00Msg("tp", "src", m.offset, m.tsMs, m.tsNs,
        Seq(2L), Seq(m.offset + 0.1, m.offset + 0.2))).toDF(),
      out => ts(out, "data", "time")),
    Harness("da00",
      """, "variables": [ {"name": "a", "data_type": "float64"},
        |                 {"name": "b", "data_type": "float64"} ]""".stripMargin,
      ms => ms.flatMap(m => Seq(
        Da00Msg("tp", "src", m.offset, m.tsMs, m.tsNs, "a", "x",
          Seq(m.offset + 0.1, 2.0)),
        Da00Msg("tp", "src", m.offset, m.tsMs, m.tsNs, "b", "x",
          Seq(m.offset + 0.5)))).toDF(),
      out => {
        // message atomicity INSIDE the pivot too: both variables present
        val rows = spark.read.parquet(s"$out/data/g/data").orderBy("row").collect()
        rows.foreach { r =>
          assert(!r.isNullAt(r.fieldIndex("a")) && !r.isNullAt(r.fieldIndex("b")),
            s"da00 message lost a variable: $r")
        }
        rows.map(_.getAs[Long]("time")).toSeq
      }),
    Harness("ev44", "",
      ms => ms.map(m => Ev44Msg("tp", "src", m.offset, m.tsMs, m.tsNs,
        Seq(m.tsNs), Seq(0),
        Seq((m.offset * 100 + 1).toInt, (m.offset * 100 + 2).toInt),
        Seq((m.offset * 10 + 1).toInt, (m.offset * 10 + 2).toInt))).toDF(),
      out => {
        // index: one row per message; events: 2 per message, whole or absent
        val idx = spark.read.parquet(s"$out/data/g/index").orderBy("row").collect()
        val ev = spark.read.parquet(s"$out/data/g/events").orderBy("row")
          .select("event_time_offset").collect().map(_.getInt(0)).toSeq
        val msgs = idx.map(_.getAs[Long]("event_time_zero")).toSeq
        assert(idx.map(_.getAs[Long]("event_index")).toSeq ==
          msgs.indices.map(_ * 2L), "ev44 cumulative index shift broke")
        val expEv = ev.grouped(2).toSeq
        assert(expEv.forall(g => g.size == 2 && g(1) == g(0) + 1),
          s"ev44 message split its events: $ev")
        msgs
      }),
    Harness("se00", "",
      ms => ms.map(m => Se00Msg("tp", "src", m.offset, m.tsMs, m.tsNs, 1.0,
        Some(Seq(m.tsNs, m.tsNs + 1)),
        Seq(m.offset + 0.1, m.offset + 0.2))).toDF(),
      out => {
        val times = ts(out, "data", "time")
        val pairs = times.grouped(2).toSeq
        assert(pairs.forall(g => g.size == 2 && g(1) == g(0) + 1),
          s"se00 message split its elements: $times")
        pairs.map(_.head)
      }),
    Harness("tdct", "",
      ms => ms.map(m => TdctMsg("tp", "src", m.offset, m.tsMs, m.tsNs,
        Seq(m.tsNs + 1, m.tsNs + 2))).toDF(),
      out => {
        val times = ts(out, "data", "time")
        val pairs = times.grouped(2).toSeq
        assert(pairs.forall(g => g.size == 2 && g(1) == g(0) + 1),
          s"tdct message split its elements: $times")
        pairs.map(_.head - 1)
      })
  )

  private val MultiSources = Seq("s0", "s1", "s2")

  /** Multi-source timeline: three f144 sources interleaved on ONE topic
    * (topic-global offsets in arrival order, timestamps on a 100 ms grid
    * so they tie across sources), four triggers. `s0` owns more than half
    * the rows; every source starts pre-start (a buffer per source); each
    * crosses stop in its own trigger, at a random place in it, followed by
    * stragglers; `s2` is absent from trigger 1. Every trigger also carries
    * rows of an unconfigured source and rows with a null `source_name`.
    * Returns the triggers as (source, message) in arrival order.
    */
  private def multiTimeline(seed: Int): Seq[Seq[(String, M)]] = {
    val rnd = new scala.util.Random(seed)
    val perBatch = Map(
      "s0" -> Seq(8, 8, 8, 8), "s1" -> Seq(3, 2, 2, 2), "s2" -> Seq(2, 0, 3, 3))
    // the trigger each source crosses stop in: three distinct triggers
    // (s2 never in trigger 1, where it has no message)
    val crossAt = Seq(Map("s0" -> 3, "s1" -> 1, "s2" -> 2),
      Map("s0" -> 2, "s1" -> 3, "s2" -> 0),
      Map("s0" -> 1, "s1" -> 2, "s2" -> 3))(rnd.nextInt(3))
    val logical = MultiSources.map { s =>
      var ts = 8000L + 100L * rnd.nextInt(10)
      var crossed = false
      s -> perBatch(s).zipWithIndex.map { case (n, b) =>
        // never a source's first message: each one buffers pre-start
        val crossPos =
          if (b != crossAt(s)) -1
          else if (b == 0) 1 + rnd.nextInt(n - 1)
          else rnd.nextInt(n)
        (0 until n).map { i =>
          if (crossed)
            9000L + 100L * rnd.nextInt(81) // straggler: any ts, dropped
          else if (i == crossPos) {
            crossed = true
            StopMs + 100L * (1 + rnd.nextInt(5))
          } else {
            val t = ts
            ts = math.min(StopMs,
              ts + (if (rnd.nextDouble() < 0.25) 0L else 100L * (1 + rnd.nextInt(4))))
            t
          }
        }
      }
    }.toMap
    var offset = 0L
    (0 until 4).map { b =>
      val queues = (MultiSources.map(s => s -> logical(s)(b)) ++ Seq(
        "zz" -> Seq.fill(1 + rnd.nextInt(2))(9000L + 100L * rnd.nextInt(70)),
        (null: String) -> Seq(10000L + 100L * rnd.nextInt(50))))
        .map { case (s, q) => (s, scala.collection.mutable.Queue(q: _*)) }
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, M)]
      while (queues.exists(_._2.nonEmpty)) {
        val live = queues.filter(_._2.nonEmpty)
        val (s, q) = live(rnd.nextInt(live.size))
        out += (s -> M(offset, q.dequeue())); offset += 1
      }
      out.toSeq
    }
  }

  private val EvInterval = 10L

  /** ev44's greedy cue chain (`ev44_Writer.cpp:127-134`) over the event
    * counts of the written messages: the global event index of each cue.
    */
  private def greedyCues(counts: Seq[Int]): Seq[Long] = {
    var last = 0L; var ea = 0L
    counts.flatMap { n =>
      ea += n
      if (n > 0 && ea > last + EvInterval) { last = ea - 1; Some(last) } else None
    }
  }

  /** The ev44 source of the multi-source test, four triggers of
    * (message, event count): a tiny trigger with a pre-start message and
    * an empty one; a tiny trigger whose first message fires a cue and
    * whose later ones make a superset miss (a crossing the candidate grid
    * of the trigger's anchor does not predict) around an empty message; a
    * 600-message burst, past the fused payload's row bound, right after
    * it; a tiny trigger that crosses stop, with stragglers.
    */
  private def evTimeline(seed: Int): Seq[Seq[(M, Int)]] = {
    val rnd = new scala.util.Random(seed)
    var offset = 0L
    def msg(tsMs: Long, n: Int) = { offset += 1; (M(offset - 1, tsMs), n) }
    def inWin() = StartMs + 100L * rnd.nextInt(40)
    val t0 = Seq(msg(StartMs - 500, 3), msg(inWin(), 1 + rnd.nextInt(6)), msg(inWin(), 0),
      msg(inWin(), 1 + rnd.nextInt(6)))
    // the chain's state after trigger 0: its events and cue anchor
    val c0   = t0.filter(_._1.tsMs >= StartMs).map(_._2)
    val ea0  = c0.sum.toLong
    val l0   = greedyCues(c0).lastOption.getOrElse(0L)
    val iv   = EvInterval
    val n1   = (l0 + iv - ea0 + 5).toInt          // fires: ea = l0 + iv + 5
    val t1 = Seq(msg(inWin(), n1), msg(inWin(), 0),
      msg(inWin(), 6),                             // ea = l0 + 2iv + 1: candidate, no cue
      msg(inWin(), 5),                             // ea = l0 + 2iv + 6: cue, no candidate
      msg(inWin(), 3), msg(inWin(), 0))
    val t2 = Seq.fill(600)(msg(inWin(), rnd.nextInt(5)))
    val crossAt = rnd.nextInt(4)
    val t3 = (0 until 6).map { i =>
      if (i < crossAt) msg(inWin(), 1 + rnd.nextInt(4))
      else if (i == crossAt) msg(StopMs + 300, 2)
      else msg(inWin(), 2) // straggler: dropped
    }
    Seq(t0, t1, t2, t3)
  }

  test("multi-source keyed pass: every stream matches its own sub-timeline") {
    // four streams of one schema: s0..s2 under g/<source>, plus s1 again
    // under h — two paths on one (topic, source) key; and an ev44 stream
    // under ev, whose tiny triggers run the exploding module on the driver
    val streams = MultiSources.map(s => s"g/$s" -> s) :+ ("h" -> "s1")
    def node(s: String) =
      s"""{ "module": "f144", "config": { "source": "$s", "topic": "tp" } }"""
    val template =
      s"""{ "children": [
         |  { "name": "g", "type": "group", "children": [
         |${MultiSources.map(s => s"""{ "name": "$s", "type": "group",
         |  "children": [ ${node(s)} ] }""".stripMargin).mkString(",\n")} ] },
         |  { "name": "h", "type": "group", "children": [ ${node("s1")} ] },
         |  { "name": "ev", "type": "group", "children": [
         |    { "module": "ev44", "config": { "source": "ev", "topic": "tp",
         |                                    "cue_interval": $EvInterval } } ] }
         |] }""".stripMargin
    for (seed <- Seq(5, 23, 71, 202)) {
      val batches = multiTimeline(seed)
      val evBatches = evTimeline(seed)
      val evCount = evBatches.flatten.map { case (m, n) => m.offset -> n }.toMap
      val evSurvivors = expectedSurvivors(evBatches.map(_.map(_._1)),
        acceptRepeats = true, emitBuffered = false)
      val evCounts = evSurvivors.map(m => evCount(m.offset))
      def evFrame(b: Seq[(M, Int)]): DataFrame = b.map { case (m, n) =>
        Ev44Msg("tp", "ev", m.offset, m.tsMs, m.tsNs, Seq(m.tsNs), Seq(0),
          Seq.tabulate(n)(i => (m.offset * 10 + i).toInt), Seq.tabulate(n)(i => i))
      }.toDF()
      val evTables = scala.collection.mutable.Map.empty[String, Seq[Seq[String]]]
      val h5s = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
      val sub = MultiSources.map(s =>
        s -> batches.map(_.filter(_._1 == s).map(_._2))).toMap
      // the generator covers what it promises
      assert(sub("s2")(1).isEmpty, "s2 must be absent from trigger 1")
      assert(MultiSources.forall(s => sub(s).flatten.head.tsMs < StartMs),
        "every source must start pre-start")
      val crossing = MultiSources.map(s =>
        sub(s).indexWhere(_.exists(_.tsMs > StopMs)))
      assert(crossing.distinct.size == 3 && !crossing.contains(-1),
        s"seed=$seed: sources must cross stop in distinct triggers: $crossing")
      assert(sub("s0").map(_.size).sum * 2 > batches.map(_.size).sum,
        "s0 must own more than half the rows")
      assert(batches.forall(b => b.exists(_._1 == null) && b.exists(_._1 == "zz")))

      // both write paths: the default bound (Spark appends on the first
      // trigger, the fused payload on every one after it) and the
      // per-key frame path that maxRows=0 leaves
      for (maxRows <- Seq("128", "0")) {
        val out = Files.createTempDirectory("graft-fuzz-multi").toString
        val job = new StreamingJob(spark, NexusPlan.parse(template), out, StartMs, StopMs)
        spark.conf.set("spark.graft.stream.localAppend.maxRows", maxRows)
        try batches.zip(evBatches).zipWithIndex.foreach { case ((b, ev), i) =>
          job.processBatch("f144", b.map { case (s, m) =>
            F144Msg("tp", s, m.offset, m.tsMs, m.tsNs, m.offset + 0.5)
          }.toDF(), i.toLong)
          job.processBatch("ev44", evFrame(ev), i.toLong)
          if (i == 1) assert(graft.operators.WriterModules.Ev44.lastCueFallbacks >= 1,
            s"seed=$seed: trigger 1 must exercise a superset miss")
        } finally spark.conf.unset("spark.graft.stream.localAppend.maxRows")
        val h5 = s"$out.h5"
        job.finish(Some(h5))
        h5s += Files.readAllBytes(java.nio.file.Paths.get(h5))
        // ev44 against the message-grain survivors: events whole and in
        // order, one index row per non-empty message at its cumulative
        // shift, the greedy cue chain
        def evRead(t: String) = spark.read.parquet(s"$out/data/ev/$t").orderBy("row").collect()
        val events = evRead("events")
        assert(events.map(_.getAs[Int]("event_time_offset")).toSeq ==
          evSurvivors.flatMap(m => Seq.tabulate(evCount(m.offset))(i => (m.offset * 10 + i).toInt)),
          s"ev44 seed=$seed maxRows=$maxRows: events")
        assert(evRead("index").map(_.getAs[Long]("event_index")).toSeq ==
          evCounts.scanLeft(0L)(_ + _).zip(evCounts).collect { case (c, n) if n > 0 => c },
          s"ev44 seed=$seed maxRows=$maxRows: index")
        assert(evRead("cue").map(_.getAs[Long]("cue_index")).toSeq == greedyCues(evCounts),
          s"ev44 seed=$seed maxRows=$maxRows: cue")
        assert(job.counter("ev", "events_written") == evCounts.sum.toLong)
        assert(job.counter("ev", "finished") == 1L, "ev must have finished")
        evTables(maxRows) = Seq("events", "index", "cue").map(t =>
          evRead(t).map(_.toString).toSeq)
        streams.foreach { case (path, s) =>
          val exp = expectedSurvivors(sub(s), acceptRepeats = false, emitBuffered = true)
            .map(m => (m.tsNs, m.offset))
          // (time, offset) — the value carries the offset, so a row leaking
          // in from another source with a tied timestamp is caught too
          val got = spark.read.parquet(s"$out/data/$path/data").orderBy("row")
            .select("time", "value").collect()
            .map(r => (r.getLong(0), (r.getDouble(1) - 0.5).toLong)).toSeq
          assert(got == exp,
            s"$path seed=$seed maxRows=$maxRows: surviving messages diverge\n" +
              s"  timeline: ${sub(s).map(_.map(m => s"${m.offset}@${m.tsMs}"))}\n" +
              s"  expected: $exp\n  got:      $got")
          assert(job.counter(path, "data") == exp.size.toLong, s"$path row counter")
          assert(job.counter(path, "finished") == 1L, s"$path must have finished")
        }
      }
      // the fused, driver-evaluated arm and the per-key frame arm write
      // the same mirror and the same file
      assert(evTables("128") == evTables("0"), s"seed=$seed: ev44 tables differ by arm")
      assert(java.util.Arrays.equals(h5s(0), h5s(1)), s"seed=$seed: .h5 bytes differ by arm")
    }
  }

  /** Random exploding-module messages at offsets `from until from + n`:
    * ev44 arrays of random lengths, each sometimes empty or null, with
    * `time_of_flight`/`pixel_id` and `reference_time`/`reference_time_index`
    * lengths that sometimes differ (a message with events but no
    * reference time included, which the wire's envelope decode rejects
    * but a hand-built frame can carry); se00 values with provided or
    * generated timestamps and tdct timestamps, sometimes empty or null.
    */
  private def explodingMsgs(rnd: scala.util.Random, from: Long, n: Int)
      : (Seq[Ev44Msg], Seq[Se00Msg], Seq[TdctMsg]) = {
    def len(max: Int) = rnd.nextInt(8) match {
      case 0 => -1
      case 1 => 0
      case _ => 1 + rnd.nextInt(max)
    }
    def arr[T](n: Int)(f: Int => T): Seq[T] = if (n < 0) null else Seq.tabulate(n)(f)
    val offsets = (from until from + n).toSeq
    def tsNs(o: Long) = (1000L + o) * 1000000L
    val ev = offsets.map { o =>
      val nt = len(5)
      val np = if (rnd.nextInt(3) == 0) len(5) else nt
      val nr = len(3)
      val ni = if (rnd.nextInt(3) == 0) len(3) else nr
      Ev44Msg("tp", "det", o, 1000L + o, tsNs(o), arr(nr)(i => tsNs(o) + i),
        arr(ni)(i => 2 * i), arr(nt)(i => (o * 10 + i).toInt), arr(np)(i => i))
    }
    val se = offsets.map { o =>
      val nv = len(4)
      val stamps = if (nv > 0 && rnd.nextBoolean()) Some(Seq.tabulate(nv)(i => tsNs(o) + 7 * i))
                   else None
      Se00Msg("tp", "env", o, 1000L + o, tsNs(o), (o % 3) * 1000.0, stamps,
        arr(nv)(i => o * 10.0 + i))
    }
    val td = offsets.map(o => TdctMsg("tp", "tdc", o, 1000L + o, tsNs(o),
      arr(len(4))(i => tsNs(o) + i)))
    (ev, se, td)
  }

  /** Plain-Scala message-order oracle of the exploded tables' final rows:
    * ids from each table's cursor, one per row the reference appends, in
    * arrival order (`ev44_Writer.cpp:111-126`, `se00_Writer.cpp:202-219`,
    * `tdct_Writer.cpp:67-83`). ev44 `events` pads the shorter array with
    * nulls and takes nothing from a null one; `index` skips a message
    * without events, and `event_index` adds the events before the message.
    */
  private final case class ExplodedOracle(
      events: Seq[(Long, Option[Int], Option[Int])],
      index: Seq[(Long, Option[Long], Option[Long])],
      se00: Seq[(Long, Long, Double)],
      tdct: Seq[(Long, Long)],
      eventsWritten: Long)

  private def explodedOracle(
      ev: Seq[Ev44Msg], se: Seq[Se00Msg], td: Seq[TdctMsg],
      eventsStart: Long = 0L, indexStart: Long = 0L, eventsWritten: Long = 0L,
      seStart: Long = 0L, tdStart: Long = 0L): ExplodedOracle = {
    def zipped[A, B](a: Seq[A], b: Seq[B]): Seq[(Option[A], Option[B])] =
      if (a == null || b == null) Nil
      else (0 until (a.size max b.size)).map(i => (a.lift(i), b.lift(i)))
    var ew = eventsWritten
    val events = scala.collection.mutable.ArrayBuffer.empty[(Option[Int], Option[Int])]
    val index  = scala.collection.mutable.ArrayBuffer.empty[(Option[Long], Option[Long])]
    ev.sortBy(_.offset).foreach { m =>
      events ++= zipped(m.time_of_flight, m.pixel_id)
      val n = Option(m.time_of_flight).map(_.size).getOrElse(0)
      if (n > 0) index ++= zipped(m.reference_time, m.reference_time_index)
        .map { case (t, i) => (t, i.map(_ + ew)) }
      ew += n
    }
    val seRows = se.sortBy(_.offset).filter(m => m.values != null && m.values.nonEmpty)
      .flatMap(m => m.values.zipWithIndex.map { case (v, i) =>
        (m.timestamps.map(_(i)).getOrElse((m.ts + i * m.time_delta).toLong), v)
      })
    val tdRows = td.sortBy(_.offset).filter(m => m.timestamps != null).flatMap(_.timestamps)
    def ids[T](start: Long, xs: Seq[T]) = xs.indices.map(start + _)
    ExplodedOracle(
      ids(eventsStart, events.toSeq).zip(events).map { case (r, (t, p)) => (r, t, p) },
      ids(indexStart, index.toSeq).zip(index).map { case (r, (t, i)) => (r, t, i) },
      ids(seStart, seRows).zip(seRows).map { case (r, (t, v)) => (r, t, v) },
      ids(tdStart, tdRows).zip(tdRows),
      ew)
  }

  private def opt[T](r: org.apache.spark.sql.Row, i: Int): Option[T] =
    if (r.isNullAt(i)) None else Some(r.get(i).asInstanceOf[T])

  /** The exploded tables as [[explodedOracle]] shapes them. */
  private def explodedRows(read: String => DataFrame): ExplodedOracle = {
    def rows(t: String, cols: String*) = read(t).orderBy("row").select("row", cols: _*).collect()
    ExplodedOracle(
      rows("det/events", "event_time_offset", "event_id").map(r =>
        (r.getLong(0), opt[Int](r, 1), opt[Int](r, 2))).toSeq,
      rows("det/index", "event_time_zero", "event_index").map(r =>
        (r.getLong(0), opt[Long](r, 1), opt[Long](r, 2))).toSeq,
      rows("env/data", "time", "value").map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq,
      rows("tdc/data", "time").map(r => (r.getLong(0), r.getLong(1))).toSeq,
      -1L)
  }

  test("exploded tables' final row ids ≡ a message-order oracle on every numbering path") {
    def node(name: String, module: String, extra: String = "") =
      s"""{ "name": "$name", "type": "group", "children": [
         |  { "module": "$module", "config": { "source": "$name", "topic": "tp",
         |    "enable_epics_con_info": false, "enable_alarm_info": false$extra } } ] }""".stripMargin
    val seDtype = ", \"dtype\": \"double\""
    val plan = NexusPlan.parse(
      s"""{ "children": [ { "name": "entry", "type": "group", "children": [
         |${node("det", "ev44")}, ${node("env", "se00", seDtype)},
         |${node("tdc", "tdct")} ] } ] }""".stripMargin)
    // three triggers, so each arm numbers across two trigger boundaries:
    // "driver" takes the fused payload after the first trigger (Rows'
    // driver path), "one-task" has no payload and a batch under the
    // one-task budget, "range" a one-byte budget (the range exchange)
    val arms = Seq(
      "driver"   -> Seq.empty[(String, String)],
      "one-task" -> Seq("spark.graft.stream.localAppend.maxRows" -> "0"),
      "range"    -> Seq("spark.graft.rows.smallRenumberBytes" -> "1"))
    for (seed <- Seq(3, 17)) {
      val rnd = new scala.util.Random(seed)
      val triggers = Seq((0L, 9), (9L, 12), (21L, 10)).map { case (from, n) =>
        explodingMsgs(rnd, from, n)
      }
      val all = triggers.reduce((a, b) => (a._1 ++ b._1, a._2 ++ b._2, a._3 ++ b._3))
      val expected = explodedOracle(all._1, all._2, all._3)
      // the generator covers what it promises
      assert(all._1.exists(m => m.time_of_flight != null && m.pixel_id != null &&
        m.time_of_flight.size != m.pixel_id.size), s"seed=$seed: mismatched lengths")
      assert(all._1.exists(_.time_of_flight == null) && all._1.exists(m =>
        m.time_of_flight != null && m.time_of_flight.isEmpty), s"seed=$seed: null/empty")
      assert(all._1.exists(m => m.reference_time != null && m.reference_time.size > 1 &&
        m.time_of_flight != null && m.time_of_flight.nonEmpty), s"seed=$seed: multi-pulse")
      assert(all._1.exists(m => m.time_of_flight != null && m.time_of_flight.nonEmpty &&
        (m.reference_time == null || m.reference_time.isEmpty)), s"seed=$seed: events, no pulse")
      for ((arm, confs) <- arms) {
        val out = Files.createTempDirectory("graft-final-ids").toString
        val job = new StreamingJob(spark, plan, out, 0, 1L << 40)
        confs.foreach { case (k, v) => spark.conf.set(k, v) }
        try triggers.zipWithIndex.foreach { case ((ev, se, td), i) =>
          job.processBatch("ev44", ev.toDF(), i.toLong)
          job.processBatch("se00", se.toDF(), i.toLong)
          job.processBatch("tdct", td.toDF(), i.toLong)
        } finally confs.foreach { case (k, _) => spark.conf.unset(k) }
        val fused = Seq("det", "env", "tdc").map(k => job.counter(s"entry/$k", "appends_fused"))
        if (arm == "driver") assert(fused.forall(_ >= 2L), s"seed=$seed: $fused")
        else assert(fused.forall(_ == 0L), s"seed=$seed $arm: $fused")
        job.finish()
        val got = explodedRows(t => spark.read.parquet(s"$out/data/entry/$t"))
        assert(got.copy(eventsWritten = job.counter("entry/det", "events_written")) == expected,
          s"seed=$seed $arm")
      }
    }
  }

  test("exploding modules number from cursors near 2^40 ≡ the oracle, driver and distributed") {
    import graft.operators.WriterModules.{Cursor, Ev44, ModuleConfig, Se00, Tdct}
    val (ev, se, td) = explodingMsgs(new scala.util.Random(5), 0L, 12)
    val big = 1L << 40
    val cur = Cursor(
      rowsWritten = Map("events" -> (big - 3), "index" -> (big + 5), "data" -> (big - 1)),
      eventsWritten = big + 7)
    val want = explodedOracle(ev, se, td, eventsStart = big - 3, indexStart = big + 5,
      eventsWritten = big + 7, seStart = big - 1, tdStart = big - 1)
    val seCfg = ModuleConfig(Map("dtype" -> org.json4s.JString("double")))
    // a LocalRelation numbers on the driver, a shuffled frame distributed
    for (local <- Seq(true, false)) {
      def frame(df: DataFrame) = if (local) df else df.repartition(3)
      val e = Ev44.tables(frame(ev.toDF()), ModuleConfig(Map.empty), cur)
      val tables = Map(
        "det/events" -> e("events"), "det/index" -> e("index"),
        "env/data" -> Se00.tables(frame(se.toDF()), seCfg, cur)("data"),
        "tdc/data" -> Tdct.tables(frame(td.toDF()), ModuleConfig(Map.empty), cur)("data"))
      assert(explodedRows(tables).copy(eventsWritten = want.eventsWritten) == want,
        s"local=$local")
    }
  }

  test("kept module plans ≡ a fresh build on every trigger: eight modules, cursors near 2^40, moving cue anchors, the ev44 clamp") {
    import graft.operators.{LocalPlan, Rows}
    import graft.operators.WriterModules.{Cursor, Ev44, ModuleConfig}
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.functions.{coalesce, lit, sum}
    val cues = Map("f144" -> """, "cue_interval": 3""", "ad00" -> """, "cue_interval": 2""",
      "ev44" -> """, "cue_interval": 3""")
    val big = 1L << 40
    val savedMax = Ev44.MaxCueCandidates
    for (h <- harnesses; start <- Seq(0L, big - 2); clamp <- Seq(false, true)
        if !clamp || h.module == "ev44") {
      val module = graft.operators.WriterModules.registry(h.module)
      val cfg = ModuleConfig(NexusPlan.parse(
        template(h.module, h.extra + cues.getOrElse(h.module, ""))).streams.head.config)
      val name = s"${h.module} start=$start clamp=$clamp"
      // the clamp raises ev44's interval with each trigger's event count
      if (clamp) Ev44.MaxCueCandidates = 2
      try {
        val rnd = new scala.util.Random(h.module.hashCode ^ start.toInt)
        var off = 0L
        val triggers = (0 until 6).map { _ =>
          val n = 1 + rnd.nextInt(5)
          val ms = (off until off + n).map(o => M(o, StartMs + o * 10))
          off += n
          ms
        }
        var cur = Cursor(rowsWritten = Map("data" -> start, "cue" -> (start + 1),
          "events" -> start, "index" -> (start + 3)), eventsWritten = start + 5, lastCue = start)
        val first = cur
        var kept: KeptPlans = null
        var stale = 0
        val fired = scala.collection.mutable.Set.empty[Int]
        val intervals = scala.collection.mutable.Set.empty[Long]
        triggers.zipWithIndex.foreach { case (ms, i) =>
          val df = h.frame(ms)
          val rows = LocalPlan.rows(df).get._2
          val elems = module.elementCountCol.fold(-1L)(c =>
            df.agg(coalesce(sum(c.cast("long")), lit(0L))).head.getLong(0))
          val c = cur.copy(sizeHint = ms.size.toLong, elemHint = elems)
          if (kept == null) kept = new KeptPlans(spark, module, cfg, df.schema)
          def external(ts: Map[String, (org.apache.spark.sql.types.StructType,
              Seq[org.apache.spark.sql.catalyst.InternalRow])]) = ts.map { case (t, (sc, rs)) =>
            val conv = CatalystTypeConverters.createToScalaConverter(sc)
            t -> rs.map(r => conv(r).asInstanceOf[org.apache.spark.sql.Row])
              .sortBy(_.getAs[Long]("row")).map(_.toString)
          }
          val got = external(kept.eval(rows, c, Rows.SmallRenumberRows)
            .getOrElse(fail(s"$name trigger $i: the kept plans must evaluate on the driver"))._1)
          // the walk's hooks: a stale anchor or interval in the candidate
          // plan leaves the cues exact (the walk proves every link) but
          // changes the candidates and the misses
          def walkHooks = (Ev44.lastCueInterval, Ev44.lastCueCandidates, Ev44.lastCueFallbacks)
          val keptWalk = walkHooks
          val fresh = module.tables(df, cfg, c).map { case (t, f) =>
            t -> f.orderBy("row").collect().map(_.toString).toSeq
          }
          assert(got == fresh, s"$name trigger $i")
          if (h.module == "ev44") {
            assert(keptWalk == walkHooks, s"$name trigger $i: (interval, candidates, misses)")
            intervals += keptWalk._1
          }
          // a plan evaluated under the first trigger's slot values (its
          // input rows and hints current) must not pass for the fresh build
          val frozen = external(kept.eval(rows,
            first.copy(sizeHint = c.sizeHint, elemHint = c.elemHint), Rows.SmallRenumberRows).get._1)
          if (i > 0 && frozen != fresh) stale += 1
          // advance the cursor as the streaming job does after its appends
          val written = kept.eval(rows, c, Rows.SmallRenumberRows).get._1
          written.get("cue").filter(_._2.nonEmpty).foreach { case (_, rs) =>
            fired += i
            cur = cur.copy(lastCue = module.nextLastCue(rs.map(_.getLong(1)).max))
          }
          cur = cur.copy(
            rowsWritten = cur.rowsWritten ++ written.map { case (t, (_, rs)) => t -> (cur.next(t) + rs.size) },
            eventsWritten = cur.eventsWritten + (if (h.module == "ev44") elems else 0L))
        }
        assert(stale == triggers.size - 1, s"$name: a stale slot went unnoticed")
        if (cues.contains(h.module)) assert(fired.size >= 2, s"$name: cues fired on $fired")
        if (clamp) assert(intervals.size >= 2, s"$name: the clamp never moved: $intervals")
      } finally Ev44.MaxCueCandidates = savedMax
    }
  }

  /** Hand-made timelines at the kernel's edges, each of three triggers
    * (the first arms the driver kernel for the next two).
    */
  private val adversarial: Seq[(String, Seq[Seq[M]])] = {
    def ms(from: Long, ts: Long*) = ts.zipWithIndex.map { case (t, i) => M(from + i, t) }
    val top = Long.MaxValue - 20
    Seq(
      // each batch's head repeats the previous batch's tail timestamp
      "tied head" -> Seq(ms(0, 8000, 10000, 10500), ms(3, 10500, 11000), ms(5, 11000, 16000, 12000)),
      // a batch wholly before start picks the buffered candidate
      // (for da00, a two-row message) and the next one emits it
      "all pre-start" -> Seq(ms(0, 10100), ms(1, 8000, 8500, 8500, 9000), ms(5, 11000, 15001)),
      // a batch whose first message is past stop finishes the stream
      // and flushes the buffer; the straggler after it drops
      "head past stop" -> Seq(ms(0, 9000, 9500), ms(2, 15500, 12000), ms(4, 12000)),
      // timestamps exactly at start and at stop are in the window
      "at start and stop" -> Seq(ms(0, 9999, 10000, 12000), ms(3, 15000, 15000, 15001), ms(6, 14000)),
      // offsets near Long.MaxValue
      "offsets near Long.MaxValue" -> Seq(ms(top, 9000, 10000), ms(top + 2, 10000, 11000, 11000),
        ms(top + 5, 12000, 15000, 16000, 13000)))
  }

  test("every module's kernel decisions are message-atomic on fuzzed timelines") {
    // both kernel forms on every timeline: maxRows=0 keeps every trigger
    // on the keyed pass, the default runs the driver kernel after the
    // first trigger; both must equal the independent oracle
    val timelines = Seq(11, 37, 101).map(seed => s"seed=$seed" -> timeline(seed)) ++ adversarial
    for ((name, batches) <- timelines; h <- harnesses; maxRows <- Seq("128", "0")) {
      val module  = graft.operators.WriterModules.registry(h.module)
      val exp = expectedSurvivors(batches,
        module.acceptRepeats, module.emitBuffered).map(_.tsNs)
      val out = Files.createTempDirectory(s"graft-fuzz-${h.module}").toString
      val job = new StreamingJob(spark, NexusPlan.parse(template(h.module, h.extra)),
        out, StartMs, StopMs)
      spark.conf.set("spark.graft.stream.localAppend.maxRows", maxRows)
      try batches.zipWithIndex.foreach { case (b, i) =>
        if (b.nonEmpty) job.processBatch(h.module, h.frame(b), i.toLong)
      } finally spark.conf.unset("spark.graft.stream.localAppend.maxRows")
      job.finish()
      val got = h.readBack(out)
      assert(got == exp,
        s"${h.module} $name maxRows=$maxRows: surviving messages diverge\n" +
          s"  timeline: ${batches.map(_.map(m => s"${m.offset}@${m.tsMs}"))}\n" +
          s"  expected: $exp\n  got:      $got")
    }
  }
}
