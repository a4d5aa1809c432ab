package graft

import org.apache.spark.sql.SparkSession

import graft.plans.NexusPlan
import graft.streaming.StreamingJob

/** Sink-path throughput probe: pushes synthetic f144 + ev44 micro-batches
  * through `StreamingJob.processBatch` (the full route → dedup → window →
  * module transform → distributed renumber → parquet append pipeline) and
  * prints one JSON line with msg/s. Use to track the streaming write path
  * across rounds the way `Bench` tracks queries.
  */
object StreamBench {

  private val template =
    """{ "children": [
      |  { "name": "entry", "type": "group", "children": [
      |    { "name": "speed", "type": "group", "children": [
      |      { "module": "f144",
      |        "config": { "source": "speed", "topic": "tp",
      |                    "enable_epics_con_info": false,
      |                    "enable_alarm_info": false } } ] },
      |    { "name": "events", "type": "group", "children": [
      |      { "module": "ev44",
      |        "config": { "source": "det", "topic": "tp",
      |                    "cue_interval": 1000000 } } ] }
      |  ] } ] }""".stripMargin

  /** SPARK_GRAFT_STREAM_PROFILE=1: per-job wall/desc histogram printed at
    * exit — the instrument behind the per-trigger fixed-cost work (never
    * set by the driver).
    */
  private def installProfiler(spark: SparkSession): Option[() => Unit] =
    sys.env.get("SPARK_GRAFT_STREAM_PROFILE").map { _ =>
      val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
      val done = java.util.Collections.synchronizedList(
        new java.util.ArrayList[(String, Long)]())
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(
              js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            val desc = js.stageInfos.lastOption.map(_.name)
              .orElse(Option(js.properties)
                .flatMap(p => Option(p.getProperty("callSite.short"))))
              .getOrElse("?")
            jobs.put(js.jobId, (js.time, s"$desc [stages=${js.stageInfos.size}]"))
          }
          override def onJobEnd(
              je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
            Option(jobs.remove(je.jobId)).foreach { case (t0, desc) =>
              done.add((desc, je.time - t0))
            }
        })
      () => {
        import scala.jdk.CollectionConverters._
        val all = done.asScala.toSeq
        val byDesc = all.groupBy(_._1).map { case (d, xs) =>
          (d, xs.size, xs.map(_._2).sum)
        }.toSeq.sortBy(-_._3)
        System.err.println("== job profile (desc, count, total_ms) ==")
        byDesc.foreach { case (d, n, ms) =>
          System.err.println(f"$ms%8d ms  x$n%-5d $d")
        }
        System.err.println(f"TOTAL ${byDesc.map(_._3).sum}%d ms across ${all.size} jobs")
        val cm = org.apache.spark.metrics.source.CodegenMetrics
        System.err.println(
          s"codegen: ${cm.METRIC_COMPILATION_TIME.getCount} compiles, " +
          f"${cm.METRIC_COMPILATION_TIME.getSnapshot.getMean / 1e0}%.1f ms mean")
        System.err.println("== job sequence (ms, desc) ==")
        all.foreach { case (d, ms) => System.err.println(f"$ms%6d  $d") }
      }
    }

  def main(args: Array[String]): Unit = {
    val batches = sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCHES", "10").toInt
    // derive every count from the GENERATED total (truncating division)
    val msgsPerBatch = sys.env.getOrElse("SPARK_GRAFT_STREAM_MSGS", "100000").toInt / batches
    val msgs = msgsPerBatch * batches
    // A/B legs flip the bounded-collect append bypass through
    // SPARK_GRAFT_EXTRA_CONF=spark.graft.stream.localAppend.maxRows=-1
    val spark = graft.core.Graft.session("graft-stream-bench")
    import spark.implicits._

    // SPARK_GRAFT_STREAM_ONLY=scalar|wire|wide|decode|stateful narrows to
    // one bench for profiling runs (never set by the driver)
    val onlyBench = sys.env.get("SPARK_GRAFT_STREAM_ONLY")
    def enabled(name: String): Boolean = onlyBench.forall(_ == name)
    val dumpProfile = installProfiler(spark)
    if (!enabled("scalar")) {
      if (enabled("wire")) wireBench(spark)
      if (enabled("wide")) wideArrayBench(spark)
      if (enabled("decode")) decodeBench(spark)
      if (enabled("stateful")) statefulBench(spark)
      dumpProfile.foreach(_())
      spark.stop(); return
    }

    val out = java.nio.file.Files.createTempDirectory("graft-sbench").toString
    // window wide enough that every message lands
    val job = new StreamingJob(spark, NexusPlan.parse(template), out,
      startMs = 0, stopMs = 1L << 40)

    val perBatch = msgsPerBatch
    val t0 = System.nanoTime()
    var off = 0L
    (0 until batches).foreach { b =>
      val f144 = (0 until perBatch).map { i =>
        val o = off + i
        graft.sources.Fixtures.F144Msg("tp", "speed", o, 1000 + o,
          (1000 + o) * 1000000L, (o % 97).toDouble)
      }
      job.processBatch("f144", f144.toDF())
      val ev44 = (0 until perBatch / 10).map { i =>
        val o = off + i
        graft.sources.Fixtures.Ev44Msg("tp", "det", o, 1000 + o,
          (1000 + o) * 1000000L, Seq((1000 + o) * 1000000L), Seq(0),
          Seq.tabulate(10)(j => j + i), Seq.tabulate(10)(j => j + i + 1))
      }
      job.processBatch("ev44", ev44.toDF())
      off += perBatch
    }
    job.finish()
    val sec = (System.nanoTime() - t0) / 1e9
    // ev44 messages carry 10 events each; the ev44 count truncates PER
    // BATCH, so derive from what the loop actually generated
    val total = msgs + batches * (perBatch / 10)
    println(f"""{"metric":"stream_msg_per_sec","value":${total / sec}%.1f,"unit":"msg/s","messages":$total,"batches":$batches,"sec":$sec%.2f}""")

    if (enabled("wire")) wireBench(spark)
    if (enabled("wide")) wideArrayBench(spark)
    if (enabled("decode")) decodeBench(spark)
    if (enabled("stateful")) statefulBench(spark)
    dumpProfile.foreach(_())
    spark.stop()
  }

  /** The headline end-to-end number: raw FlatBuffers wire bytes →
    * envelope + payload decode (native codegen'd expressions) → route →
    * kernel (dedup/window/validity) → module transform → NexusSink
    * parquet append, with the ev44 cue chain carrying cross-batch state
    * (cue_interval sized so cues fire in every batch). Wire encoding
    * happens on the executors BEFORE the timed window — only the
    * engine's own path is measured. Reported as events/s: each f144
    * message lands one value, each ev44 message 100 events.
    *
    * Reproduce: `sbt -batch "runMain graft.StreamBench"` → the
    * `stream_events_per_sec` line (artifact copy:
    * `bench_results/stream_bench.jsonl`).
    */
  private def wireBench(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    import graft.functions.{Decode, FbEncoders}
    val batches = sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCHES", "10").toInt
    // derive every count from the GENERATED total (truncating division)
    val perBatch = sys.env.getOrElse("SPARK_GRAFT_WIRE_MSGS", "200000").toInt / batches
    val msgs    = perBatch * batches
    val evPer   = 100

    val wireTemplate =
      """{ "children": [
        |  { "name": "entry", "type": "group", "children": [
        |    { "name": "speed", "type": "group", "children": [
        |      { "module": "f144",
        |        "config": { "source": "speed", "topic": "tp",
        |                    "enable_epics_con_info": false,
        |                    "enable_alarm_info": false } } ] },
        |    { "name": "events", "type": "group", "children": [
        |      { "module": "ev44",
        |        "config": { "source": "det", "topic": "tp",
        |                    "cue_interval": 50000 } } ] }
        |  ] } ] }""".stripMargin

    val out = java.nio.file.Files.createTempDirectory("graft-wbench").toString
    val job = new StreamingJob(spark, NexusPlan.parse(wireTemplate), out,
      startMs = 0, stopMs = 1L << 40)

    // bench-only wire generators (UDFs are fine off the measured path)
    val genF144 = udf((id: Long) =>
      FbEncoders.f144("speed", (1000L + id) * 1000000L, (id % 97).toDouble))
    val genEv44 = udf((id: Long) =>
      FbEncoders.ev44("det", Seq((1000L + id) * 1000000L), Seq(0),
        Seq.tabulate(evPer)(j => (id % 1000).toInt + j),
        Seq.tabulate(evPer)(j => (id % 1000).toInt + j + 1)))
    val wireBatches = (0 until batches).map { b =>
      val base = (b * perBatch).toLong
      val w = spark.range(perBatch)
        .select((col("id") + base).as("offset"),
          when(col("id") % 10 === 0, genEv44(col("id") + base))
            .otherwise(genF144(col("id") + base)).as("value"))
        .persist()
      w.count() // materialize outside the timed window
      w
    }

    def runBatch(j: StreamingJob, wire: org.apache.spark.sql.DataFrame): Unit = {
      val decoded = wire
        .withColumn("env", Decode.decode_envelope(col("value")))
        .withColumn("topic", lit("tp"))
      j.processBatch("f144", decoded
        .filter(col("env.schema_id") === "f144")
        .withColumn("d", Decode.decode_f144(col("value")))
        .select(col("topic"), col("env.source_name").as("source_name"),
          col("offset"), col("env.timestamp").as("ts"),
          col("d.value").as("value")))
      j.processBatch("ev44", decoded
        .filter(col("env.schema_id") === "ev44")
        .withColumn("d", Decode.decode_ev44(col("value")))
        .select(col("topic"), col("env.source_name").as("source_name"),
          col("offset"), col("env.timestamp").as("ts"),
          col("d.reference_time").as("reference_time"),
          col("d.reference_time_index").as("reference_time_index"),
          col("d.time_of_flight").as("time_of_flight"),
          col("d.pixel_id").as("pixel_id")))
    }

    // warmup OUTSIDE the timed window (see wideArrayBench): primes
    // codegen/Janino/JIT for the loop's plan shapes via a scratch job
    locally {
      val wout  = java.nio.file.Files.createTempDirectory("graft-wirewarm").toString
      val wjob  = new StreamingJob(spark, NexusPlan.parse(wireTemplate), wout,
        startMs = 0, stopMs = 1L << 40)
      val wwire = spark.range(40).select(col("id").as("offset"),
        when(col("id") % 10 === 0, genEv44(col("id")))
          .otherwise(genF144(col("id"))).as("value")).persist()
      wwire.count()
      runBatch(wjob, wwire)
      wjob.finish()
      wwire.unpersist(blocking = true)
    }

    val t0 = System.nanoTime()
    wireBatches.foreach(wire => runBatch(job, wire))
    job.finish()
    val sec = (System.nanoTime() - t0) / 1e9
    wireBatches.foreach(_.unpersist(blocking = false))

    // sanity OUTSIDE the timed window: every event landed, cues fired
    val evMsgs  = (0 until batches).map(b => (perBatch + 9) / 10).sum
    val f144Msgs = msgs - evMsgs
    val events   = f144Msgs.toLong + evMsgs.toLong * evPer
    val landed = spark.read.parquet(s"$out/data/entry/events/events").count()
    require(landed == evMsgs.toLong * evPer, s"sink holds $landed events")
    val cues = spark.read.parquet(s"$out/data/entry/events/cue").count()
    require(cues > 0, "cue chain never fired — cross-batch state untested")
    println(f"""{"metric":"stream_events_per_sec","value":${events / sec}%.1f,"unit":"events/s","messages":$msgs,"events":$events,"batches":$batches,"cues":$cues,"cue_interval":50000,"sec":$sec%.2f}""")
  }

  /** Wide-array (tensor payload) wire→sink throughput: real detector
    * loads are dominated not by f144 scalars but by da00/ad00 messages
    * carrying kilobyte element arrays, so the scalar-path
    * `stream_events_per_sec` alone under-describes the sink. This drives
    * the same full path — raw FlatBuffers wire bytes → envelope + payload
    * decode → route → kernel → module transform (da00 per-variable pivot,
    * ad00 shape carry) → parquet append — with a 50/50 da00/ad00 mix:
    * da00 messages carry one 2048-element f64 variable (16 KB payload),
    * ad00 a 32×32 f64 frame (8 KB). Reported as ELEMENTS/s (the payload
    * throughput) alongside msg/s; artifact line in
    * `bench_results/stream_bench.jsonl`.
    */
  private def wideArrayBench(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    import graft.functions.{Decode, FbEncoders}
    val batches  = sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCHES", "10").toInt
    // truncating division: only perBatch*batches messages are generated, so
    // every downstream count (the sink-row requires, the throughput
    // denominator) derives from the GENERATED total, not the requested one
    val perBatch = sys.env.getOrElse("SPARK_GRAFT_WIDE_MSGS", "20000").toInt / batches
    val msgs     = perBatch * batches
    val da00Elems = 2048
    val ad00Side  = 32 // 32x32 frame

    val template =
      """{ "children": [
        |  { "name": "entry", "type": "group", "children": [
        |    { "name": "image", "type": "group", "children": [
        |      { "module": "da00",
        |        "config": { "source": "arr", "topic": "tp",
        |                    "variables": [ {"name": "signal",
        |                                    "data_type": "float64",
        |                                    "axes": ["x"],
        |                                    "shape": [2048]} ] } } ] },
        |    { "name": "frames", "type": "group", "children": [
        |      { "module": "ad00",
        |        "config": { "source": "img", "topic": "tp",
        |                    "cue_interval": 500 } } ] }
        |  ] } ] }""".stripMargin

    val out = java.nio.file.Files.createTempDirectory("graft-widebench").toString
    val job = new StreamingJob(spark, NexusPlan.parse(template), out,
      startMs = 0, stopMs = 1L << 40)

    // bench-only wire generators (UDFs are fine off the measured path);
    // values vary per message so parquet encoding sees real entropy
    val genDa00 = udf((id: Long) =>
      FbEncoders.da00("arr", (1000L + id) * 1000000L, Seq(
        FbEncoders.Da00Var("signal", "counts", "", Seq("x"), Seq(da00Elems.toLong),
          "float64", Seq.tabulate(da00Elems)(j => (id % 97) + j * 0.5)))))
    val genAd00 = udf((id: Long) =>
      FbEncoders.ad00("img", (1000L + id) * 1000000L,
        Seq(ad00Side.toLong, ad00Side.toLong),
        Seq.tabulate(ad00Side * ad00Side)(j => (id % 89) + j * 0.25)))
    val wireBatches = (0 until batches).map { b =>
      val base = (b * perBatch).toLong
      val w = spark.range(perBatch)
        .select((col("id") + base).as("offset"),
          when((col("id") + base) % 2 === 0, genDa00(col("id") + base))
            .otherwise(genAd00(col("id") + base)).as("value"))
        .persist()
      w.count() // materialize outside the timed window
      w
    }

    def runBatch(j: StreamingJob, wire: org.apache.spark.sql.DataFrame): Unit = {
      val decoded = wire
        .withColumn("env", Decode.decode_envelope(col("value")))
        .withColumn("topic", lit("tp"))
      j.processBatch("da00", decoded
        .filter(col("env.schema_id") === "da00")
        .withColumn("d", Decode.decode_da00(col("value")))
        .select(col("topic"), col("d.source_name").as("source_name"),
          col("offset"), col("env.timestamp").as("ts"),
          explode(col("d.data")).as("v"))
        .select(col("topic"), col("source_name"), col("offset"), col("ts"),
          col("v.name").as("name"),
          element_at(col("v.axes"), 1).as("axis_name"),
          col("v.data").as("data")))
      j.processBatch("ad00", decoded
        .filter(col("env.schema_id") === "ad00")
        .withColumn("d", Decode.decode_ad00(col("value")))
        .select(col("topic"), col("d.source_name").as("source_name"),
          col("offset"), col("env.timestamp").as("ts"),
          col("d.dimensions").as("dimensions"),
          col("d.data").as("data")))
    }

    // warmup OUTSIDE the timed window: one tiny batch through a scratch
    // job of the same template primes codegen/Janino/JIT for every plan
    // shape in the loop (the steady-state per-trigger cost is the
    // production-relevant number — a real deployment triggers for hours)
    locally {
      val wout  = java.nio.file.Files.createTempDirectory("graft-widewarm").toString
      val wjob  = new StreamingJob(spark, NexusPlan.parse(template), wout,
        startMs = 0, stopMs = 1L << 40)
      val wwire = spark.range(32).select(col("id").as("offset"),
        when(col("id") % 2 === 0, genDa00(col("id")))
          .otherwise(genAd00(col("id"))).as("value")).persist()
      wwire.count()
      runBatch(wjob, wwire)
      wjob.finish()
      wwire.unpersist(blocking = true)
    }

    val t0 = System.nanoTime()
    wireBatches.foreach(wire => runBatch(job, wire))
    job.finish()
    val sec = (System.nanoTime() - t0) / 1e9
    wireBatches.foreach(_.unpersist(blocking = false))

    // sanity OUTSIDE the timed window: every message landed with its
    // full payload
    val da00Msgs = (msgs + 1) / 2
    val ad00Msgs = msgs - da00Msgs
    val daRows = spark.read.parquet(s"$out/data/entry/image/data").count()
    require(daRows == da00Msgs.toLong, s"da00 sink holds $daRows of $da00Msgs")
    val adRows = spark.read.parquet(s"$out/data/entry/frames/data").count()
    require(adRows == ad00Msgs.toLong, s"ad00 sink holds $adRows of $ad00Msgs")
    val elems = da00Msgs.toLong * da00Elems + ad00Msgs.toLong * ad00Side * ad00Side
    println(f"""{"metric":"stream_wide_elems_per_sec","value":${elems / sec}%.1f,"unit":"elems/s","messages":$msgs,"elements":$elems,"msg_per_sec":${msgs / sec}%.1f,"da00_elems":$da00Elems,"ad00_shape":"${ad00Side}x$ad00Side","batches":$batches,"sec":$sec%.2f}""")
  }

  /** Stateful-operator throughput at production trigger sizes: the
    * flatMapGroupsWithState sessionizer and the watermarked stream-stream
    * interval join, each driven through MemoryStream micro-batches.
    * State stays bounded by construction (one OpenSession per key;
    * both-sides watermark on the join) — this measures the msg/s those
    * bounds sustain.
    */
  private def statefulBench(spark: SparkSession): Unit = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.{StatefulSessions, StreamAggregates}
    import spark.implicits._

    val n       = sys.env.getOrElse("SPARK_GRAFT_SESSION_MSGS", "200000").toInt
    val users   = 5000
    val batches = 10

    // sessionizer: n events over `users` keys, ts advancing so sessions
    // close continuously (gap 10 s, events 3 s apart per user round)
    locally {
      val stream = MemoryStream[StatefulSessions.SessionEvent](spark)
      val q = StatefulSessions.sessions(stream.toDS(), gapMs = 10000)
        .writeStream.format("memory").queryName("bench_sessions")
        .outputMode("append").start()
      val t0  = System.nanoTime()
      var ts  = 0L
      val per = n / batches
      try {
        (0 until batches).foreach { b =>
          stream.addData((0 until per).map { i =>
            StatefulSessions.SessionEvent((i % users).toLong, ts + (i / users) * 3000L)
          })
          ts += 30000L // next batch 30 s later: every open session times out
          q.processAllAvailable()
        }
        val sec    = (System.nanoTime() - t0) / 1e9
        val closed = spark.table("bench_sessions").count()
        println(f"""{"metric":"sessions_msg_per_sec","value":${n / sec}%.1f,"unit":"msg/s","messages":$n,"users":$users,"closed_sessions":$closed,"sec":$sec%.2f}""")
      } finally q.stop()
    }

    // interval join: clicks ± 5 s around views per user, both sides
    // watermarked (bounded buffers), append sink
    locally {
      val left  = MemoryStream[(Long, Long)](spark)
      val right = MemoryStream[(Long, Long)](spark)
      val joined = StreamAggregates.intervalJoin(
        left.toDF().toDF("user_id", "ts"),
        right.toDF().toDF("user_id", "ts"),
        keyCols = Seq("user_id"), tsCol = "ts",
        before = "5 seconds", after = "5 seconds",
        watermarkDelay = "10 seconds")
      val q = joined.writeStream.format("memory").queryName("bench_ijoin")
        .outputMode("append").start()
      val t0  = System.nanoTime()
      val per = n / batches / 2
      try {
        (0 until batches).foreach { b =>
          val base = b.toLong * 60000L
          left.addData((0 until per).map(i =>
            ((i % users).toLong, (base + (i / users) * 7000L) * 1000000L)))
          right.addData((0 until per).map(i =>
            ((i % users).toLong, (base + 2000L + (i / users) * 7000L) * 1000000L)))
          q.processAllAvailable()
        }
        val sec   = (System.nanoTime() - t0) / 1e9
        val pairs = spark.table("bench_ijoin").count()
        println(f"""{"metric":"interval_join_msg_per_sec","value":${n / sec}%.1f,"unit":"msg/s","messages":$n,"pairs":$pairs,"sec":$sec%.2f}""")
      } finally q.stop()
    }
  }

  /** Scan-path decode throughput: raw FlatBuffers bytes (built on the
    * executors) → envelope + payload decode → aggregate. Run twice —
    * generated (the production path, `doGenCode` static calls inside
    * WholeStageCodegen) vs forced-interpreted — to keep the codegen win
    * measured across rounds.
    */
  private def decodeBench(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    val n = sys.env.getOrElse("SPARK_GRAFT_DECODE_MSGS", "2000000").toLong

    // bench-only generators (UDFs are fine off the measured path): raw
    // wire bytes built on the executors, cached so only decode is timed
    val genF144 = udf((id: Long) =>
      graft.functions.FbEncoders.f144(s"s${id % 8}", 1000000L + id, (id % 97).toDouble))
    val genEv44 = udf((id: Long) =>
      graft.functions.FbEncoders.ev44(s"d${id % 4}", Seq(1000000L + id), Seq(0),
        Seq.tabulate(10)(j => (id % 1000).toInt + j),
        Seq.tabulate(10)(j => (id % 1000).toInt + j + 1)))
    val raw = spark.range(n).select(
      when(col("id") % 10 === 0, genEv44(col("id")))
        .otherwise(genF144(col("id"))).as("value"))
      .persist()
    raw.count() // materialize outside the timed window

    def run(): Double = {
      val t0 = System.nanoTime()
      val decoded = raw.select(
        graft.functions.Decode.decode_envelope(col("value")).as("env"),
        graft.functions.Decode.decode_f144(col("value")).as("f"),
        graft.functions.Decode.decode_ev44(col("value")).as("e"))
      val res = decoded.agg(
        count(when(col("env.valid"), 1)),
        sum("f.value"),
        sum(aggregate(col("e.pixel_id"), lit(0L), (a, x) => a + x))).collect()
      require(res.head.getLong(0) == n, "decode dropped rows")
      (System.nanoTime() - t0) / 1e9
    }

    // warm both paths (Janino compile + JIT), then take min-of-3 each
    def interpreted[T](f: => T): T = {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      try f
      finally {
        spark.conf.set("spark.sql.codegen.wholeStage", "true")
        spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
    run(); interpreted(run())
    val genSec    = (0 until 3).map(_ => run()).min
    val interpSec =
      try interpreted((0 until 3).map(_ => run()).min)
      finally raw.unpersist()
    println(f"""{"metric":"decode_msg_per_sec","value":${n / genSec}%.1f,"unit":"msg/s","messages":$n,"sec":$genSec%.2f,"interpreted_msg_per_sec":${n / interpSec}%.1f}""")
  }
}
