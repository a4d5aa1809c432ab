package graft.operators

import org.json4s.JsonAST.{JInt, JValue}

import graft.SparkSpec
import graft.operators.WriterModules.{Ev44, ModuleConfig}
import graft.sources.Fixtures.Ev44Msg

/** ev44 module details beyond the domain goldens: multi-element reference
  * times, empty-message handling, and the event-count cue index
  * (`ev44_Writer.cpp:92-138`).
  */
class Ev44ModuleSpec extends SparkSpec {
  import spark.implicits._

  private def msg(offset: Long, refs: Seq[Long], rti: Seq[Int], tof: Seq[Int]) =
    Ev44Msg("t", "det", offset, offset, refs.headOption.getOrElse(0L),
      refs, rti, tof, tof.map(_ + 1))

  private def cfg(interval: Long) =
    ModuleConfig(Map[String, JValue]("cue_interval" -> JInt(interval)))

  test("every reference_time element lands; each index shifted by prior events") {
    val df = Seq(
      msg(0, Seq(100L, 200L), Seq(0, 3), Seq(1, 2, 3, 4, 5)), // 5 events, 2 pulses
      msg(1, Seq(300L), Seq(0), Seq(6, 7))                    // 2 events
    ).toDF()
    val idx = Ev44.tables(df, cfg(1000))("index").orderBy("row").collect()
    assert(idx.map(_.getAs[Long]("event_time_zero")).toSeq == Seq(100L, 200L, 300L))
    assert(idx.map(_.getAs[Long]("event_index")).toSeq == Seq(0L, 3L, 5L))
  }

  test("empty messages append events rows nothing and no pulse entries") {
    val df = Seq(msg(0, Seq(100L), Seq(0), Seq()), msg(1, Seq(200L), Seq(0), Seq(9)))
      .toDF()
    val t = Ev44.tables(df, cfg(1000))
    assert(t("index").count() == 1)
    assert(t("events").count() == 1)
  }

  test("f144 cue: every Nth write emits (row index, timestamp); off by default") {
    import graft.sources.Fixtures.F144Msg
    import graft.operators.WriterModules.F144
    val df = (0 until 7).map(i =>
      F144Msg("t", "s", i.toLong, i.toLong, 1000L + i, i.toDouble)).toDF()
    val cue = F144.tables(df, cfg(3))("cue").orderBy("cue_index").collect()
    assert(cue.map(_.getAs[Long]("cue_index")).toSeq == Seq(2L, 5L))
    assert(cue.map(_.getAs[Long]("cue_timestamp_zero")).toSeq == Seq(1002L, 1005L))
    // default interval (u32::max semantics) ⇒ no cue table at all
    assert(!F144.tables(df, cfg2(Map.empty))("data").isEmpty)
    assert(!F144.tables(df, ModuleConfig(Map.empty)).contains("cue"))
  }
  private def cfg2(m: Map[String, JValue]) = ModuleConfig(m)

  test("cue emitted when the cumulative event count crosses the interval") {
    val df = Seq(
      msg(0, Seq(100L), Seq(0), (1 to 3).toSeq),  // cum 3
      msg(1, Seq(200L), Seq(0), (1 to 3).toSeq),  // cum 6 → crosses 5
      msg(2, Seq(300L), Seq(0), (1 to 2).toSeq),  // cum 8
      msg(3, Seq(400L), Seq(0), (1 to 3).toSeq)   // cum 11 → crosses 10
    ).toDF()
    val cue = Ev44.tables(df, cfg(5))("cue").orderBy("cue_index").collect()
    assert(cue.map(_.getAs[Long]("cue_index")).toSeq == Seq(5L, 10L))
    // stamped with last ref time + last tof of the crossing message
    assert(cue.map(_.getAs[Long]("cue_timestamp_zero")).toSeq == Seq(203L, 403L))
  }

  test("ev44 cue follows the greedy chain, not a grid (ev44_Writer.cpp:127-134)") {
    // 4-event messages, interval 5: cums 4,8,12,16,20. Greedy: 8 > 0+5 →
    // cue at 7, anchor 7; 12 ≤ 12; 16 > 12 → cue at 15, anchor 15; 20 ≤ 20.
    // A grid would also cue at 11 — the overshoot divergence.
    val df = (0 until 5).map(i =>
      msg(i.toLong, Seq(100L * (i + 1)), Seq(0), (1 to 4).toSeq)).toDF()
    val cue = Ev44.tables(df, cfg(5))("cue").orderBy("cue_index").collect()
    assert(cue.map(_.getAs[Long]("cue_index")).toSeq == Seq(7L, 15L))
    assert(cue.map(_.getAs[Long]("cue_timestamp_zero")).toSeq == Seq(204L, 404L))
  }

  test("long cue chains resolve link by link (30 messages, interval 2)") {
    // 1-event messages, interval 2: first fire at E=3 (3 > 0+2), anchor 2;
    // then every second event (E > anchor+2, anchor := E-1) → cue_index
    // 2,4,…,28 — 14 links; exercises the iterative min-agg loop deep
    val df = (0 until 30).map(i =>
      msg(i.toLong, Seq(100L * (i + 1)), Seq(0), Seq(1))).toDF()
    val cue = Ev44.tables(df, cfg(2))("cue").orderBy("cue_index").collect()
    assert(cue.map(_.getAs[Long]("cue_index")).toSeq == (2L to 28L by 2))
  }

  test("one message spanning multiple intervals emits a single cue") {
    val df = Seq(msg(0, Seq(100L), Seq(0), (1 to 17).toSeq)).toDF() // 3×interval 5
    val cue = Ev44.tables(df, cfg(5))("cue").collect()
    assert(cue.map(_.getAs[Long]("cue_index")).toSeq == Seq(16L))
  }

  test("cue chain continues across batches via the cursor") {
    import graft.operators.WriterModules.Cursor
    // batch 1: cums 4, 8 → cue at 7 (anchor 7)
    val b1 = (0 until 2).map(i =>
      msg(i.toLong, Seq(100L * (i + 1)), Seq(0), (1 to 4).toSeq)).toDF()
    val c1 = Ev44.tables(b1, cfg(5))("cue").collect()
    assert(c1.map(_.getAs[Long]("cue_index")).toSeq == Seq(7L))
    // batch 2 with cursor (eventsWritten=8, lastCue=7): cums 12, 16 →
    // 12 ≤ 12, 16 > 12 → cue at 15 — NOT 11, proving the anchor carried
    val b2 = (2 until 4).map(i =>
      msg(i.toLong, Seq(100L * (i + 1)), Seq(0), (1 to 4).toSeq)).toDF()
    val c2 = Ev44.tables(b2, cfg(5), Cursor(rowsWritten = Map("events" -> 8L, "index" -> 2L),
      eventsWritten = 8, lastCue = 7))("cue").collect()
    assert(c2.map(_.getAs[Long]("cue_index")).toSeq == Seq(15L))
  }

  test("cue candidate collect is bounded by events/interval, not messages") {
    // 200 single-event messages, interval 50: chain fires at ea=51,101,151
    // (cue indexes 50,100,150). Only the ~3 grid-crossing candidates reach
    // the driver — not all 200 messages — and every fire is proven from
    // the candidates (no per-link fallback jobs).
    val df = (0 until 200).map(i =>
      msg(i.toLong, Seq(100L + i), Seq(0), Seq(1))).toDF()
    val cue = Ev44.tables(df, cfg(50))("cue").orderBy("cue_index").collect()
    assert(cue.map(_.getAs[Long]("cue_index")).toSeq == Seq(50L, 100L, 150L))
    assert(Ev44.lastCueCandidates <= 5,
      s"driver collected ${Ev44.lastCueCandidates} candidate rows for 200 messages")
    assert(Ev44.lastCueFallbacks == 0)
  }

  test("greedy cue chain matches a sequential simulation under random batch splits") {
    import graft.operators.WriterModules.Cursor
    val rnd = new scala.util.Random(42)
    (0 until 5).foreach { trial =>
      val interval = 3 + rnd.nextInt(8)
      val sizes    = Seq.fill(12 + rnd.nextInt(10))(1 + rnd.nextInt(6))
      // plain sequential reference (ev44_Writer.cpp:118-134)
      var events = 0L; var last = 0L
      val expect = scala.collection.mutable.ArrayBuffer.empty[Long]
      sizes.foreach { n =>
        events += n
        if (events > last + interval) { expect += events - 1; last = events - 1 }
      }
      // module output over random batch boundaries, cursor carried manually
      val msgs = sizes.zipWithIndex.map { case (n, i) =>
        msg(i.toLong, Seq(1000L + i), Seq(0), (1 to n).toSeq)
      }
      val splitAt = 1 + rnd.nextInt(msgs.size - 1)
      val got     = scala.collection.mutable.ArrayBuffer.empty[Long]
      var cur     = Cursor()
      Seq(msgs.take(splitAt), msgs.drop(splitAt)).foreach { batch =>
        val t = Ev44.tables(batch.toDF(), cfg(interval), cur)
        val cues = t("cue").orderBy("cue_index").collect()
          .map(_.getAs[Long]("cue_index"))
        got ++= cues
        val ev = batch.map(_.time_of_flight.size.toLong).sum
        cur = Cursor(
          eventsWritten = cur.eventsWritten + ev,
          lastCue = cues.lastOption.map(Ev44.nextLastCue).getOrElse(cur.lastCue))
      }
      assert(got.toSeq == expect.toSeq,
        s"trial $trial interval=$interval sizes=$sizes split=$splitAt")
    }
  }

  test("f144 cue chain anchors at the cursor across batches") {
    import graft.sources.Fixtures.F144Msg
    import graft.operators.WriterModules.{Cursor, F144}
    // batch 2 of 4 writes after 7 global writes with lastCue=6 (cue fired
    // at global row 5, i.e. write 6): next cues at writes 9 (row 8)…
    val df = (0 until 4).map(i =>
      F144Msg("t", "s", i.toLong, i.toLong, 2000L + i, i.toDouble)).toDF()
    val cue = F144.tables(df, cfg(3), Cursor(rowsWritten = Map("data" -> 7L), lastCue = 6))("cue")
      .orderBy("cue_index").collect()
    assert(cue.map(_.getAs[Long]("cue_index")).toSeq == Seq(8L))
    assert(cue.map(_.getAs[Long]("cue_timestamp_zero")).toSeq == Seq(2001L))
  }

  test("cue_interval=1 on a large batch collects bounded candidates (scale guard)") {
    // 200 messages × 5 events with cue_interval=1 would make EVERY message
    // a candidate (O(rows) driver collect at stream scale). With the guard
    // clamped to 16 candidates, the effective interval rises to
    // ceil(1000/16)=63, the collect stays ≤ 16 rows, and the clamp is
    // visible in lastCueInterval — never silent.
    val saved = Ev44.MaxCueCandidates
    try {
      Ev44.MaxCueCandidates = 16
      val df = (0 until 200).map(i =>
        msg(i.toLong, Seq(100L * (i + 1)), Seq(0), (1 to 5).toSeq)).toDF()
      val cue = Ev44.tables(df, cfg(1))("cue").orderBy("cue_index").collect()
      assert(Ev44.lastCueInterval == 63L, s"effective interval ${Ev44.lastCueInterval}")
      assert(Ev44.lastCueCandidates <= 16, s"collected ${Ev44.lastCueCandidates}")
      // cues remain exact under the effective interval: greedy chain with
      // step 63 over 5-event messages fires at 64, 129, … (next multiple-
      // crossing message end − 1), strictly increasing and ≤ 1000
      val idx = cue.map(_.getAs[Long]("cue_index")).toSeq
      assert(idx.nonEmpty && idx == idx.sorted && idx.forall(_ < 1000))
      // greedy anchors drift off the clamped grid, so per-link fallback
      // jobs may fire — bounded by the number of cues, never by rows
      assert(Ev44.lastCueFallbacks <= idx.size)
    } finally Ev44.MaxCueCandidates = saved
  }

  test("consecutive superset misses resolve in ONE batched walk job, not one per link") {
    // interval 10, sizes tuned so three consecutive crossings never land
    // on the fixed grid from L0: eas 15, 23, 26, 33, 36, 43, 46 → greedy
    // fires at 15 (on-grid candidate, anchor 14), then 26 (25div10 =
    // 22div10 → non-candidate MISS, anchor 25), 36 (35div10 = 32div10 →
    // MISS), 46 (45div10 = 42div10 → MISS). The old path priced one
    // filtered limit(1) job per miss; the batched walk resolves all
    // three in a single job.
    val sc = spark.sparkContext
    def countJobs(sizes: Seq[Int]): (Seq[Long], Int, Int) = {
      val df = sizes.zipWithIndex.map { case (n, i) =>
        msg(i.toLong, Seq(100L * (i + 1)), Seq(0), (1 to n).toSeq)
      }.toDF()
      val group = s"ev44-fallback-${System.nanoTime()}"
      sc.setJobGroup(group, "cue fallback job count", interruptOnCancel = false)
      val cue =
        try Ev44.tables(df, cfg(10))("cue").orderBy("cue_index").collect()
        finally sc.clearJobGroup()
      // listener-bus data is async — poll until the job count stabilizes
      var jobs = -1
      var same = 0
      val deadline = System.nanoTime() + 5_000_000_000L
      while (same < 3 && System.nanoTime() < deadline) {
        val n = sc.statusTracker.getJobIdsForGroup(group).length
        if (n == jobs) same += 1 else { jobs = n; same = 0 }
        Thread.sleep(100)
      }
      (cue.map(_.getAs[Long]("cue_index")).toSeq, Ev44.lastCueFallbacks, jobs)
    }
    val (cues3, miss3, jobs3) = countJobs(Seq(15, 8, 3, 7, 3, 7, 3))
    assert(cues3 == Seq(14L, 25L, 35L, 45L))
    assert(miss3 == 3, s"expected 3 misses, got $miss3")
    // doubling the consecutive misses must NOT add jobs: the fixed
    // pipeline (indexed stats, maxEa agg, candidate collect, ONE batched
    // walk, + range-partition sampling) is miss-count-independent; the
    // old per-link shape priced ≥ 1 extra job per additional miss
    val (cues6, miss6, jobs6) = countJobs(Seq(15, 8, 3, 7, 3, 7, 3, 7, 3, 7, 3, 7, 3))
    assert(cues6 == Seq(14L, 25L, 35L, 45L, 55L, 65L, 75L))
    assert(miss6 == 6, s"expected 6 misses, got $miss6")
    assert(jobs6 == jobs3,
      s"job count grew with miss count ($jobs3 → $jobs6) — fallback not batched")
  }

  test("multi-partition fallback walk: per-partition sorts, exact cues") {
    // force the distributed walk shape on small data: 40 messages with
    // WalkRowsPerPartition=8 → a 5-partition range walk. Sizes follow
    // the miss pattern (every chain link after the first is off-grid),
    // so the whole chain resolves through the partition-visit walk.
    val saved = Ev44.WalkRowsPerPartition
    Ev44.WalkRowsPerPartition = 8
    try {
      val sizes = Seq(15) ++ Seq.fill(19)(Seq(8, 3, 7, 3)).flatten.take(39)
      val df = sizes.zipWithIndex.map { case (n, i) =>
        msg(i.toLong, Seq(100L * (i + 1)), Seq(0), (1 to n).toSeq)
      }.toDF()
      val cues = Ev44.tables(df, cfg(10))("cue").orderBy("cue_index").collect()
        .map(_.getAs[Long]("cue_index")).toSeq
      // sequential reference (same recurrence as the simulation test)
      var events = 0L; var last = 0L
      val expect = scala.collection.mutable.ArrayBuffer.empty[Long]
      sizes.foreach { n =>
        events += n
        if (events > last + 10) { expect += events - 1; last = events - 1 }
      }
      assert(cues == expect.toSeq)
      assert(Ev44.lastWalkPartitions > 1,
        s"expected a multi-partition walk, got ${Ev44.lastWalkPartitions}")
      // the scale property the walk exists for: the sort is within range
      // partitions — no single-task funnel in the executed plan
      assert(!Ev44.lastWalkPlan.contains("Coalesce 1"),
        s"single-task funnel in walk plan:\n${Ev44.lastWalkPlan}")
      assert(!Ev44.lastWalkPlan.contains("SinglePartition"),
        s"single-partition exchange in walk plan:\n${Ev44.lastWalkPlan}")
      assert(Ev44.lastWalkPlan.contains("rangepartitioning"),
        s"walk plan is not range-partitioned:\n${Ev44.lastWalkPlan}")
    } finally Ev44.WalkRowsPerPartition = saved
  }

  test("hinted cursor ≡ Cursor(): the kernel's exact counts replace the maxEa aggregate") {
    // the streaming job passes the batch's message count (sizeHint) and
    // its exact event total (elemHint, null arrays counting 0); the cue
    // chain must come out exactly as the aggregate form computes it
    def ev(o: Long, tof: Seq[Int]) =
      Ev44Msg("t", "det", o, o, 100L * (o + 1), Seq(100L * (o + 1)), Seq(0), tof,
        if (tof == null) null else tof.map(_ + 1))
    def run(msgs: Seq[Ev44Msg], interval: Long, cur: WriterModules.Cursor) = {
      val t = Ev44.tables(msgs.toDF(), cfg(interval), cur)
      (t.toSeq.sortBy(_._1).map { case (n, df) => n -> df.orderBy("row").collect().toSeq },
        Ev44.lastCueInterval, Ev44.lastCueFallbacks)
    }
    def check(name: String, msgs: Seq[Ev44Msg], interval: Long,
        eventsWritten: Long = 0L, lastCue: Long = 0L,
        rows: Map[String, Long] = Map.empty): Map[String, Seq[org.apache.spark.sql.Row]] = {
      val plain = run(msgs, interval, WriterModules.Cursor(
        rowsWritten = rows, eventsWritten = eventsWritten, lastCue = lastCue))
      val events = msgs.map(m => Option(m.time_of_flight).map(_.size).getOrElse(0)).sum
      val hinted = run(msgs, interval, WriterModules.Cursor(
        rowsWritten = rows, eventsWritten = eventsWritten, lastCue = lastCue,
        sizeHint = msgs.size.toLong, elemHint = events.toLong))
      assert(hinted == plain, name)
      plain._1.toMap
    }
    val sizes = Seq(15, 8, 3, 7, 3, 7, 3)
    check("empty and null time_of_flight arrays",
      Seq(ev(0, 1 to 5), ev(1, Nil), ev(2, null), ev(3, 6 to 12), ev(4, Nil),
        ev(5, 1 to 4), ev(6, null)), 3)
    check("only empty and null arrays", Seq(ev(0, Nil), ev(1, null)), 3)
    check("zero messages", Nil, 3)
    check("superset-miss chain",
      sizes.zipWithIndex.map { case (n, i) => ev(i.toLong, 1 to n) }, 10)
    assert(Ev44.lastCueFallbacks == 3, "the chain must exercise the walk")
    val big = check("large eventsWritten and row cursors",
      sizes.zipWithIndex.map { case (n, i) => ev(i.toLong, 1 to n) }, 4,
      eventsWritten = 1L << 40, lastCue = (1L << 40) - 3,
      rows = Map("events" -> ((1L << 40) - 2), "index" -> ((1L << 40) + 1)))
    // each table numbers on from its own cursor
    assert(big("events").map(_.getAs[Long]("row")) ==
      ((1L << 40) - 2 until (1L << 40) - 2 + sizes.sum))
    assert(big("index").map(_.getAs[Long]("row")) ==
      ((1L << 40) + 1 until (1L << 40) + 1 + sizes.size))
    assert(big("index").map(_.getAs[Long]("event_index")) ==
      sizes.scanLeft(1L << 40)(_ + _).init)
  }

  test("sane intervals are untouched by the scale guard") {
    val df = (0 until 5).map(i =>
      msg(i.toLong, Seq(100L * (i + 1)), Seq(0), (1 to 4).toSeq)).toDF()
    val cue = Ev44.tables(df, cfg(5))("cue").orderBy("cue_index").collect()
    assert(Ev44.lastCueInterval == 5L)
    assert(cue.map(_.getAs[Long]("cue_index")).toSeq == Seq(7L, 15L))
  }
}
