package graftperf

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.functions.{Decode, FbEncoders}
import graft.plans.NexusPlan
import graft.sinks.Hdf5Export
import graft.streaming.StreamingJob

/** The streaming-writer workload. It pushes pre-encoded FlatBuffers wire
  * frames through decode → `StreamingJob.processBatch` → `finish` with an
  * HDF5 export, then checks the sink against a plain-Scala reference
  * computed from the generator.
  */
object Ingest {

  /** Workload shape. `pvs` f144 process variables with Zipf-skewed rates
    * plus one ev44 detector bank taking `ev44Share` of each trigger's
    * messages, at seeded places (a fixed count, since a trigger's cost
    * grows with its ev44 messages). The stream opens with one catch-up
    * trigger of `catchUpMsgs` messages, every other one ev44 with
    * `catchUpEvents` events: the backlog a writer drains when its start
    * time lies in the past.
    */
  final case class Shape(
      pvs: Int,
      msgsPerTrigger: Int,
      ev44Share: Double,
      eventsPerMsg: Int,
      dupShare: Double,
      preStart: Int,
      postStop: Int,
      catchUpMsgs: Int = 0,
      catchUpEvents: Int = 0)

  /** One Kafka message as generated; `offset` orders the topic. */
  final case class Msg(
      offset: Long,
      trigger: Int,
      source: String,
      tsNs: Long,
      value: Double,
      tof: Array[Int],
      pixel: Array[Int]) {
    def isEv44: Boolean = tof != null
  }

  val Topic    = "tp"
  val RenumberBytes = 1L << 20
  val Detector = "det"
  val StartMs  = 1700000000000L

  def pvName(i: Int): String = f"pv$i%02d"

  def template(pvs: Int, cueInterval: Long): String = {
    val pvNodes = (0 until pvs).map { i =>
      s"""{ "name": "${pvName(i)}", "type": "group", "children": [
         |  { "module": "f144", "config": { "source": "${pvName(i)}", "topic": "$Topic",
         |    "enable_epics_con_info": false, "enable_alarm_info": false } } ] }""".stripMargin
    }
    val det =
      s"""{ "name": "events", "type": "group", "children": [
         |  { "module": "ev44", "config": { "source": "$Detector", "topic": "$Topic",
         |    "cue_interval": $cueInterval } } ] }""".stripMargin
    s"""{ "children": [ { "name": "entry", "type": "group", "children": [
       |${(pvNodes :+ det).mkString(",\n")} ] } ] }""".stripMargin
  }

  /** Seeded message stream: the catch-up trigger, then `triggers` ×
    * `msgsPerTrigger` messages, the first `preStart` before the start
    * time, the last `postStop` past the stop time, and about `dupShare` of
    * the f144 messages repeating their PV's previous timestamp. Returns
    * the messages and the stop time.
    */
  def generate(seed: Long, sh: Shape, triggers: Int): (Vector[Msg], Long) = {
    val rng = new scala.util.Random(seed)
    // Zipf(1) rates over a seeded permutation of the PVs
    val order   = rng.shuffle((0 until sh.pvs).toVector)
    val weights = order.indices.map(r => 1.0 / (r + 1))
    val cum     = weights.scanLeft(0.0)(_ + _).tail.map(_ / weights.sum)
    def pickPv(): Int = order(cum.indexWhere(_ >= rng.nextDouble()) max 0)
    val total = sh.catchUpMsgs + triggers * sh.msgsPerTrigger
    val stepNs = 1000000L // 1 ms between consecutive messages
    val startNs = StartMs * 1000000L
    val lastTs = mutable.Map.empty[String, Long]
    val inWindow = total - sh.preStart - sh.postStop
    val stopNs = startNs + (inWindow - 1).toLong * stepNs
    val ev44PerTrigger = math.round(sh.ev44Share * sh.msgsPerTrigger).toInt
    val ev44At = (0 until triggers).flatMap { k =>
      rng.shuffle((0 until sh.msgsPerTrigger).toVector).take(ev44PerTrigger)
        .map(i => sh.catchUpMsgs + k * sh.msgsPerTrigger + i)
    }.toSet
    val msgs = (0 until total).map { j =>
      val clock =
        if (j < sh.preStart) startNs - (sh.preStart - j).toLong * stepNs
        else if (j < sh.preStart + inWindow) startNs + (j - sh.preStart).toLong * stepNs
        else stopNs + (j - sh.preStart - inWindow + 1).toLong * stepNs
      val inside = j >= sh.preStart && j < sh.preStart + inWindow
      val catchUp = j < sh.catchUpMsgs
      val trig = if (catchUp) 0 else (if (sh.catchUpMsgs > 0) 1 else 0) +
        (j - sh.catchUpMsgs) / sh.msgsPerTrigger
      if (if (catchUp) j % 2 == 1 else ev44At(j)) {
        val n = if (catchUp) sh.catchUpEvents else sh.eventsPerMsg
        Msg(j, trig, Detector, clock, 0.0,
          Array.fill(n)(rng.nextInt(100000)), Array.fill(n)(rng.nextInt(4096)))
      } else {
        val pv = pvName(pickPv())
        // duplicates only inside the window, so the reference stays exact
        val ts = lastTs.get(pv) match {
          case Some(prev) if inside && prev >= startNs && rng.nextDouble() < sh.dupShare => prev
          case _ => clock
        }
        lastTs(pv) = ts
        Msg(j, trig, pv, ts, math.round(rng.nextGaussian() * 1000 + 50) / 8.0, null, null)
      }
    }.toVector
    (msgs, stopNs / 1000000L)
  }

  /** What the sink must hold after `finish`: rows and values per PV, and
    * the events of each written ev44 message, in commit order.
    */
  final case class Expected(
      pvValues: Map[String, Vector[Double]],
      evCounts: Vector[Int],
      evTs: Vector[Long]) {
    def events: Long = evCounts.map(_.toLong).sum
  }

  /** Plain-Scala reference for the writer's contract: consecutive-timestamp
    * dedup per source, the latest pre-start f144 message buffered and
    * written first, everything from a source's first beyond-stop message
    * on dropped, and ev44 messages outside the window ignored.
    */
  def expected(msgs: Seq[Msg], stopMs: Long): Expected = {
    val startNs = StartMs * 1000000L
    val stopNs  = stopMs * 1000000L
    val pv = msgs.filterNot(_.isEv44).groupBy(_.source).map { case (src, ms) =>
      val out = mutable.ArrayBuffer.empty[Double]
      var last: Option[Long] = None
      var buffered: Option[Msg] = None
      var stopped = false
      ms.sortBy(_.offset).foreach { m =>
        val dup = last.contains(m.tsNs)
        last = Some(m.tsNs)
        if (!stopped && !dup) {
          if (m.tsNs > stopNs) stopped = true
          else if (m.tsNs < startNs) {
            if (buffered.forall(_.tsNs <= m.tsNs)) buffered = Some(m)
          } else {
            buffered.foreach(b => out += b.value); buffered = None
            out += m.value
          }
        }
      }
      buffered.foreach(b => out += b.value)
      src -> out.toVector
    }
    val ev = msgs.filter(_.isEv44).sortBy(_.offset)
      .takeWhile(_.tsNs <= stopNs).filter(_.tsNs >= startNs)
    Expected(pv, ev.map(_.tof.length).toVector, ev.map(_.tsNs).toVector)
  }

  private val wireSchema = StructType(Seq(
    StructField("trigger", IntegerType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("value", BinaryType, nullable = false)))

  /** Encodes every message to wire bytes and caches them across `parts`
    * partitions, message i in partition i mod parts as a Kafka topic would
    * spread them, outside any timed window. One frame per trigger, and the
    * cached frame they read, to unpersist.
    */
  def encode(spark: SparkSession, msgs: Seq[Msg],
      parts: Int): (DataFrame, Vector[DataFrame]) = {
    val rows = msgs.zipWithIndex.sortBy { case (_, i) => (i % parts, i) }.map { case (m, i) =>
      val bytes =
        if (m.isEv44) FbEncoders.ev44(m.source, Seq(m.tsNs), Seq(0),
          m.tof.toSeq, m.pixel.toSeq)
        else FbEncoders.f144(m.source, m.tsNs, m.value)
      Row(m.trigger, m.offset, bytes)
    }
    val all = spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), wireSchema)
      .persist(StorageLevel.MEMORY_ONLY)
    all.count()
    (all, (0 to msgs.map(_.trigger).max).map { k =>
      all.filter(col("trigger") === k).select("offset", "value")
    }.toVector)
  }

  def decodeF144(wire: DataFrame): DataFrame =
    wire.withColumn("env", Decode.decode_envelope(col("value")))
      .filter(col("env.schema_id") === "f144")
      .withColumn("d", Decode.decode_f144(col("value")))
      .select(lit(Topic).as("topic"), col("env.source_name").as("source_name"),
        col("offset"), col("env.timestamp").as("ts"), col("d.value").as("value"))

  def decodeEv44(wire: DataFrame): DataFrame =
    wire.withColumn("env", Decode.decode_envelope(col("value")))
      .filter(col("env.schema_id") === "ev44")
      .withColumn("d", Decode.decode_ev44(col("value")))
      .select(lit(Topic).as("topic"), col("env.source_name").as("source_name"),
        col("offset"), col("env.timestamp").as("ts"),
        col("d.reference_time").as("reference_time"),
        col("d.reference_time_index").as("reference_time_index"),
        col("d.time_of_flight").as("time_of_flight"),
        col("d.pixel_id").as("pixel_id"))

  /** Counts of the decode layer gathered in a traced run. */
  final class DecodeCounts { var msgs = 0L; var invalid = 0L }

  /** One trigger: decode and commit both schemas. Traced, the decoded
    * frames are materialised first so decode gets its own span.
    */
  def trigger(job: StreamingJob, wire: DataFrame, op: String, tracer: Tracer,
      dc: DecodeCounts): Unit = {
    def decoded(schema: String, f: DataFrame => DataFrame): DataFrame =
      if (!tracer.enabled) f(wire)
      else tracer.span(op, s"decode.$schema", "decode") {
        val d = f(wire).persist(StorageLevel.MEMORY_ONLY)
        dc.msgs += d.count()
        d
      }
    val f144 = decoded("f144", decodeF144)
    tracer.span(op, "processBatch.f144", "processBatch")(job.processBatch("f144", f144))
    val ev44 = decoded("ev44", decodeEv44)
    tracer.span(op, "processBatch.ev44", "processBatch")(job.processBatch("ev44", ev44))
    if (tracer.enabled) {
      dc.invalid += tracer.span(op, "decode.invalid", "decode") {
        wire.select(Decode.decode_envelope(col("value")).as("env"))
          .filter(!col("env.valid")).count()
      }
      f144.unpersist(); ev44.unpersist()
    }
  }

  /** Closes the job, then exports the .h5. Returns the seconds of both.
    * Same work as `finish(Some(h5))`, which exports between closing the
    * sink and saving the state.
    */
  def close(spark: SparkSession, job: StreamingJob, h5: Path, tracer: Tracer): Double = {
    def timed(f: => Unit): Double = { val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9 }
    val finishS = timed(tracer.span("finish", "finish", "finish")(job.finish()))
    finishS + timed(
      tracer.span("finish", "export", "export")(Hdf5Export.export(spark, job.outDir, h5.toString)))
  }

  private def dir(work: Path, name: String): Path = {
    val d = work.resolve(name)
    Files.createDirectories(d)
    d
  }

  /** A scratch job fed three `shape`-sized triggers, then closed with an
    * export, so the measured job starts on warm code paths. Returns the
    * seconds each trigger took.
    */
  private def warmUp(spark: SparkSession, a: Main.Args, sh: Shape, cue: Long): Seq[Double] = {
    val (msgs, stopMs) = generate(a.seed + 7919, sh.copy(catchUpMsgs = 0), 3)
    val job = new StreamingJob(spark, NexusPlan.parse(template(sh.pvs, cue)),
      dir(a.work, "warm-out").toString, StartMs, stopMs)
    val off = new Tracer
    val (cached, wires) = encode(spark, msgs, a.cores)
    val times = wires.map { wire =>
      val t0 = System.nanoTime()
      trigger(job, wire, "warm", off, new DecodeCounts)
      (System.nanoTime() - t0) / 1e9
    }
    job.finish(Some(a.work.resolve("warm.h5").toString))
    cached.unpersist()
    times
  }

  /** Checks the parquet mirror and the .h5 against the reference and counts
    * the job's appends as operations. Returns the append counters.
    */
  private def verify(spark: SparkSession, job: StreamingJob, exp: Expected, pvs: Int,
      h5: Path, report: Report, tag: String): Map[String, Long] = {
    def check(name: String, ok: Boolean, detail: => String) = report.check(s"$tag$name", ok, detail)
    val out = job.outDir
    def read(key: String, table: String): DataFrame = {
      val df = spark.read.parquet(s"$out/data/$key/$table")
      if (df.columns.contains("row")) df.dropDuplicates("row") else df
    }
    val ds = H5.datasets(h5)
    def dims(p: String): Long = ds.get(p).flatMap(_.headOption).getOrElse(-1L)
    (0 until pvs).map(pvName).foreach { pv =>
      val want = exp.pvValues.getOrElse(pv, Vector.empty)
      val key  = s"entry/$pv"
      val got  = read(key, "data").count()
      check(s"$pv.rows", got == want.size, s"mirror has $got rows, expected ${want.size}")
      check(s"$pv.h5_rows", dims(s"/$key/value") == want.size && dims(s"/$key/time") == want.size,
        s"h5 value/time lengths ${dims(s"/$key/value")}/${dims(s"/$key/time")}, expected ${want.size}")
      if (want.nonEmpty) {
        val m = read(key, "meta").collect().head
        def close(x: Double, y: Double) = math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))
        check(s"$pv.finals",
          m.getAs[Double]("minimum_value") == want.min && m.getAs[Double]("maximum_value") == want.max &&
            close(m.getAs[Double]("average_value"), want.sum / want.size) &&
            m.getAs[Long]("num_values") == want.size,
          s"meta $m, expected min ${want.min} max ${want.max} mean ${want.sum / want.size} n ${want.size}")
      }
    }
    val evKey = "entry/events"
    val events = read(evKey, "events").count()
    check("ev44.events", events == exp.events, s"mirror has $events events, expected ${exp.events}")
    check("ev44.h5_events", dims(s"/$evKey/events_event_id") == exp.events,
      s"h5 events_event_id length ${dims(s"/$evKey/events_event_id")}, expected ${exp.events}")
    val index = read(evKey, "index").orderBy("row")
      .select("event_time_zero", "event_index").collect()
    val wantIndex = exp.evCounts.scanLeft(0L)(_ + _).dropRight(1)
    check("ev44.event_index",
      index.map(_.getLong(1)).toVector == wantIndex && index.map(_.getLong(0)).toVector == exp.evTs,
      s"index holds ${index.length} rows, expected ${wantIndex.size}; continuous = " +
        (index.map(_.getLong(1)).toVector == wantIndex))
    check("ev44.h5_index", dims(s"/$evKey/index_event_index") == wantIndex.size,
      s"h5 index length ${dims(s"/$evKey/index_event_index")}, expected ${wantIndex.size}")
    val cues = read(evKey, "cue").count()
    check("ev44.cues", cues > 0 && dims(s"/$evKey/cue_cue_index") == cues,
      s"cue rows $cues, h5 ${dims(s"/$evKey/cue_cue_index")}")
    // every append is an operation; its failures are the writer's counter
    val keys = (0 until pvs).map(i => s"entry/${pvName(i)}") :+ evKey
    def sum(c: String) = keys.map(job.counter(_, c)).sum
    val appends = sum("appends_fused") + sum("appends_collect") + sum("appends_spark")
    report.attempted += appends
    report.failed += sum("write_errors")
    Map("fused" -> sum("appends_fused"), "collect" -> sum("appends_collect"),
      "spark" -> sum("appends_spark"), "write_errors" -> sum("write_errors"),
      "h5_bytes" -> Files.size(h5))
  }

  private def cueFor(exp: Expected): Long = math.max(1L, exp.events / 8)

  /** What one pass of the open loop measured. */
  final case class Pass(
      latency: Seq[Double],
      service: Seq[Double],
      lateMs: Double,
      gcMs: Long,
      compiles: Long,
      fileReadyS: Double,
      catchUpS: Double,
      decode: DecodeCounts)

  /** `ingest_live`: one catch-up trigger, then an open loop, from one
    * generator thread. The catch-up trigger's events are more than the
    * one-task renumber takes at `RenumberBytes`, so the ev44 append
    * renumbers them with the distributed `Rows` path. Then
    * triggers of `msgsPerTrigger` messages fall due at a fixed interval
    * whether or not the writer keeps up; a trigger's commit latency runs
    * from the due time of its last message to `processBatch` returning.
    * The interval is twice the warm trigger time (at most 2.5 s), so the
    * writer runs at about half its capacity however fast the host is, and the
    * latency stays free of queueing unless a trigger takes twice its usual
    * time. Two open-loop triggers per 5 s of `--seconds` (at least 6), so
    * the inputs depend on the seed alone.
    */
  def live(spark: SparkSession, a: Main.Args, tracer: Tracer, report: Report,
      sessionS: Double): Unit = {
    val sh = Shape(pvs = 2, msgsPerTrigger = 40, ev44Share = 0.15, eventsPerMsg = 400,
      dupShare = 0.02, preStart = 3 + (a.seed % 3).toInt, postStop = 8,
      catchUpMsgs = 200, catchUpEvents = 1000)
    // The ev44 append renumbers on one task up to 2^20 events and
    // RenumberBytes of estimated rows (32 MiB by default). At 1 MiB the
    // catch-up trigger's 100 k events (about 2.4 MB) take the distributed
    // `Rows` path, while an open-loop trigger's 2-3 k events (under 80 kB)
    // stay on the one-task path they take by default.
    spark.conf.set("spark.graft.rows.smallRenumberBytes", RenumberBytes.toString)
    val triggers = math.max(6, a.seconds * 2 / 5)

    val tGen = System.nanoTime()
    val (msgs, stopMs) = generate(a.seed, sh, triggers)
    val exp = expected(msgs, stopMs)
    val (cached, wires) = encode(spark, msgs, a.cores)
    val catchUpEvents = msgs.filter(m => m.trigger == 0 && m.isEv44).map(_.tof.length.toLong).sum
    report.info("generate_s") = (System.nanoTime() - tGen) / 1e9
    report.phase("inputs encoded")

    val tWarm = System.nanoTime()
    val warm = warmUp(spark, a, sh, cueFor(exp))
    val warmS = (System.nanoTime() - tWarm) / 1e9
    // capacity from the faster of the two warm triggers after the cold
    // first one (they still run 20-40% slower than the steady state), the
    // interval capped at 2.5 s so a run keeps to its share of the time the
    // benchmark's runs have together on a host two to three times slower
    // than an idle one
    val intervalMs = math.min(2500, math.max(200, (2000 * warm.drop(1).min).round.toInt))
    val tJob = System.nanoTime()
    val plan = NexusPlan.parse(template(sh.pvs, cueFor(exp)))
    val job = new StreamingJob(spark, plan, dir(a.work, "out").toString, StartMs, stopMs)
    val jobS = (System.nanoTime() - tJob) / 1e9
    report.layer("setup.warmup_s") = Metric(warmS, "s")
    report.layer("setup.job_create_s") = Metric(jobS, "s")
    report.e2e("setup_s") = Metric(sessionS + warmS + jobS, "s")
    report.info("warmup_triggers") = warm.size
    report.phase(s"warmed up, interval $intervalMs ms")

    val untraced = openLoop(spark, job, wires, intervalMs, a.work.resolve("out.h5"),
      new Tracer, report)
    report.phase("measured")
    verify(spark, job, exp, sh.pvs, a.work.resolve("out.h5"), report, "")
    report.phase("verified")
    val e2e = liveMetrics(untraced, sh)
    report.e2e ++= e2e
    report.info("commit_latency_p50_s") = Stats.median(untraced.latency)
    report.info("capacity_msgs_per_s") = e2e("throughput_per_s").value
    report.info("file_ready_s") = untraced.fileReadyS
    report.info("latency_of") = "commit_latency_p50_s: median from the due time of a trigger's last message to its commit"
    report.info("throughput_of") = "capacity_msgs_per_s: messages per trigger / median service time"
    report.info("complete_of") = "file_ready_s: finish() after the last commit plus the .h5 export"
    report.info("trigger_interval_ms") = intervalMs
    report.info("triggers") = wires.size
    report.info("messages") = msgs.size
    report.info("events") = exp.events
    report.info("catchup_s") = untraced.catchUpS
    report.info("catchup_events_per_s") = catchUpEvents / untraced.catchUpS
    Stats.tailInfo(report, "commit_latency", untraced.latency)
    report.info("commit_latencies_s") = untraced.latency.map(x => f"$x%.3f").mkString(" ")
    report.info("service_s") = untraced.service.map(x => f"$x%.3f").mkString(" ")

    if (a.trace) {
      // the same inputs again, into a fresh job, with every layer traced
      tracer.start(spark.sparkContext)
      val tjob = new StreamingJob(spark, plan, dir(a.work, "out-traced").toString, StartMs, stopMs)
      val traced = openLoop(spark, tjob, wires, intervalMs, a.work.resolve("out-traced.h5"),
        tracer, report)
      report.phase("traced")
      val c = verify(spark, tjob, exp, sh.pvs, a.work.resolve("out-traced.h5"), report, "traced.")
      val n = wires.size.toDouble
      // overhead is the cost of tracing: higher latency, lower throughput
      liveMetrics(traced, sh).foreach { case (k, m) =>
        val d = m.value - e2e(k).value
        report.layer(s"trace.overhead.$k") = Metric(if (k == "throughput_per_s") -d else d, m.unit)
      }
      report.layer("generator.late_ms") = Metric(traced.lateMs / n, "ms")
      report.layer("gc.ms") = Metric(traced.gcMs / n, "ms")
      report.layer("codegen.compiles") = Metric(traced.compiles / n, "count")
      report.layer("decode.msgs") = Metric(traced.decode.msgs / n, "count")
      report.layer("decode.invalid") = Metric(traced.decode.invalid / n, "count")
      Seq("fused", "collect", "spark", "write_errors").foreach(k =>
        report.layer(s"append.$k") = Metric(c(k) / n, "count"))
      report.info("h5_bytes") = c("h5_bytes")
    }
    cached.unpersist()
  }

  private def liveMetrics(p: Pass, sh: Shape): Map[String, Metric] = {
    Map(
      "latency_s"        -> Metric(Stats.median(p.latency), "s"),
      "throughput_per_s" -> Metric(sh.msgsPerTrigger / Stats.median(p.service), "1/s"),
      "complete_s"       -> Metric(p.fileReadyS, "s"))
  }


  /** Commits the catch-up trigger at once, then releases each later
    * trigger at its due time (or at once, when the writer is behind), then
    * closes the job with an export.
    */
  private def openLoop(spark: SparkSession, job: StreamingJob, wires: Seq[DataFrame],
      intervalMs: Int, h5: Path, tracer: Tracer, report: Report): Pass = {
    val dc = new DecodeCounts
    val gc0 = gcMs(); val cc0 = compiles()
    val latency = mutable.ArrayBuffer.empty[Double]
    val service = mutable.ArrayBuffer.empty[Double]
    var lateMs = 0.0
    val c0 = System.nanoTime()
    report.op(tracer.span("c0", "trigger", "trigger")(trigger(job, wires.head, "c0", tracer, dc)))
    val t0 = System.nanoTime()
    val catchUpS = (t0 - c0) / 1e9
    wires.tail.zipWithIndex.foreach { case (wire, k) =>
      val due = t0 + (k + 1) * intervalMs * 1000000L
      var now = System.nanoTime()
      if (now < due) {
        Thread.sleep((due - now) / 1000000L, ((due - now) % 1000000L).toInt)
        now = System.nanoTime()
      }
      lateMs += math.max(0L, now - due) / 1e6
      report.op(tracer.span(s"t$k", "trigger", "trigger")(trigger(job, wire, s"t$k", tracer, dc)))
      val end = System.nanoTime()
      latency += (end - due) / 1e9
      service += (end - now) / 1e9
    }
    val gc1 = gcMs(); val cc1 = compiles()
    var fileReadyS = Double.NaN
    report.op { fileReadyS = close(spark, job, h5, tracer) }
    Pass(latency.toSeq, service.toSeq, lateMs, gc1 - gc0, cc1 - cc0, fileReadyS, catchUpS, dc)
  }

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
  }

  private def compiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
