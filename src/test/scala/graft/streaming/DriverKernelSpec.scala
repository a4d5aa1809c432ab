package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec
import graft.plans.NexusPlan
import graft.sources.Fixtures.{Al00Msg, F144Msg}

/** The driver kernel: its bounded collect (a burst latches the bound and
  * takes the keyed pass, and never comes to the driver) and its
  * plain-Scala message-grain decisions.
  */
class DriverKernelSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("offset", LongType, nullable = false),
    StructField("w", StringType)))

  private def rows(n: Int, width: Int): Iterator[InternalRow] =
    (0 until n).iterator.map(i =>
      InternalRow(i.toLong, if (i % 3 == 0) null else UTF8String.fromString("x" * width)))

  test("bounded: rows over the cap and bytes over the cap latch; what fits round-trips") {
    val all = StreamingJob.bounded(rows(50, 10), schema, maxRows = 50, maxBytes = 1L << 20)
    assert(all.map(_.map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getUTF8String(1).toString))
      .toSeq) == Some((0 until 50).map(i => (i.toLong, if (i % 3 == 0) null else "x" * 10))))
    // one row past the row cap: nothing, never a truncated list
    assert(StreamingJob.bounded(rows(51, 10), schema, maxRows = 50, maxBytes = 1L << 20).isEmpty)
    // bytes: rows of 1024 or (null string) 24 bytes; a 3000-byte cap
    // holds the first four (2096 bytes), not the first six
    assert(StreamingJob.bounded(rows(4, 1000), schema, 64, 3000).exists(_.length == 4))
    assert(StreamingJob.bounded(rows(6, 1000), schema, 64, 3000).isEmpty)
    // the iterator is not read past the bound
    var read = 0
    val counted = rows(100000, 10).map { r => read += 1; r }
    assert(StreamingJob.bounded(counted, schema, maxRows = 8, maxBytes = 1L << 20).isEmpty)
    assert(read == 9)
  }

  test("the kernel's decisions are message-grain: a message's rows never dedup each other") {
    def in(offset: Long, tsMs: Long, v: String) =
      DriverKernel.In(offset, tsMs * 1000000L, 1L, Row(offset, v))
    // offsets 1 and 3 carry two rows each (one message, one timestamp);
    // offset 2 repeats offset 1's timestamp and drops whole, offset 4
    // repeats offset 3's and drops, offset 5 is past stop
    val out = DriverKernel(Seq(in(3, 20, "c0"), in(1, 5, "a0"), in(1, 5, "a1"), in(2, 5, "b"),
      in(3, 20, "c1"), in(4, 20, "d"), in(5, 40, "e"), in(6, 25, "f")),
      acceptRepeats = false, startNs = 10L * 1000000L, stopNs = 30L * 1000000L)
    assert(out.kept.map(_.row.getString(1)) == Seq("a0", "a1", "c0", "c1", "e", "f"))
    assert(out.inWindow.map(_.row.getString(1)) == Seq("c0", "c1"))
    val k = out.scalars
    assert(k.cutoff.contains(5L) && k.minOff == 1L)
    assert(k.head.contains((1L, 5000000L)) && k.tail.contains((3L, 20000000L)))
    assert(k.nWindow == 2L && k.evWindow == 2L)
    assert(k.cand.map(c => (c._1, c._2)).contains((5000000L, 1L)))
    // equal pre-start timestamps: the latest arrival is the candidate
    val tie = DriverKernel(Seq(in(1, 5, "a"), in(2, 4, "b"), in(3, 5, "c")),
      acceptRepeats = false, startNs = 10L * 1000000L, stopNs = 30L * 1000000L)
    assert(tie.scalars.cand.map(_._3.getString(1)).contains("c"))
    // ev44 accepts repeats: offset 2 and 4 stay
    val ev = DriverKernel(Seq(in(1, 5, "a"), in(2, 5, "b")), acceptRepeats = true, 0L, 1L << 60)
    assert(ev.kept.map(_.row.getString(1)) == Seq("a", "b") && ev.scalars.nWindow == 2L)
  }

  private val template =
    """{ "children": [ { "name": "entry", "type": "group", "children": [
      |  { "name": "s", "type": "group", "children": [
      |    { "module": "MODULE", "config": { "source": "s", "topic": "tp",
      |      "enable_epics_con_info": false, "enable_alarm_info": false } } ] } ] } ] }""".stripMargin

  /** A frame Spark must run: `parts` partitions, no local relation. */
  private def distributed(df: DataFrame, parts: Int = 4): DataFrame =
    spark.createDataFrame(df.rdd.repartition(parts), df.schema)

  /** The largest task result (bytes) of `body`'s jobs. */
  private def largestResult(body: => Unit): Long = {
    val top = new java.util.concurrent.atomic.AtomicLong
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null) top.accumulateAndGet(t.taskMetrics.resultSize, math.max)
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      var prev = -1L; var stable = 0
      while (stable < 3) {
        Thread.sleep(100)
        if (top.get == prev) stable += 1 else { prev = top.get; stable = 0 }
      }
      top.get
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** Runs a tiny arming trigger, then `burst`, on a fresh job under
    * `confs`; returns the burst's largest task result, its Spark appends
    * and the data table.
    */
  private def burstRun(module: String, confs: Map[String, String], tiny: DataFrame,
      burst: DataFrame): (Long, Long, Seq[String]) = {
    val out = Files.createTempDirectory("graft-kernel-burst").toString
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val job = new StreamingJob(spark, NexusPlan.parse(template.replace("MODULE", module)),
        out, 0, 1L << 40)
      job.processBatch(module, tiny)
      val before = job.counter("entry/s", "appends_spark")
      val top = largestResult(job.processBatch(module, burst))
      val spark0 = job.counter("entry/s", "appends_spark") - before
      job.finish()
      (top, spark0, spark.read.parquet(s"$out/data/entry/s/data").orderBy("row")
        .collect().map(_.toString).toSeq)
    } finally confs.keys.foreach(spark.conf.unset)
  }

  test("a burst of rows over the cap after a tiny trigger takes the keyed pass, same rows") {
    def msgs(from: Long, n: Int) =
      distributed((from until from + n).map(o => F144Msg("tp", "s", o, 1000 + o,
        (1000 + o) * 1000000L, o.toDouble)).toDF())
    // maxRows 4: the collect holds 16 rows per task, the burst has 100
    val (_, sparkAppends, got) = burstRun("f144",
      Map("spark.graft.stream.localAppend.maxRows" -> "4"), msgs(0, 2), msgs(2, 100))
    assert(sparkAppends >= 1L, "the burst must append with Spark write jobs")
    val (_, _, want) = burstRun("f144",
      Map("spark.graft.stream.localAppend.maxRows" -> "0"), msgs(0, 2), msgs(2, 100))
    assert(got == want && got.size == 102)
  }

  test("a burst of bytes over the cap takes the keyed pass; the collect's largest task result stays under the cap") {
    val Cap = 64L * 1024
    def alarms(from: Long, n: Int, width: Int) = distributed((from until from + n).map { o =>
      val rnd = new scala.util.Random(o)
      Al00Msg("tp", "s", o, 1000 + o, (1000 + o) * 1000000L, 1,
        Seq.fill(width)(java.lang.Long.toString(rnd.nextLong(), 36)).mkString.take(8 * width))
    }.toDF(), parts = 2)
    // twenty 16 KB messages over two tasks: each task passes the cap
    val confs = Map("spark.graft.rows.smallRenumberBytes" -> Cap.toString)
    val (top, sparkAppends, got) = burstRun("al00", confs, alarms(0, 2, 4), alarms(2, 20, 2000))
    assert(top < Cap, s"a task returned $top bytes")
    assert(sparkAppends >= 1L, "the burst must append with a Spark write job")
    val (_, _, want) = burstRun("al00",
      confs + ("spark.graft.stream.localAppend.maxRows" -> "0"), alarms(0, 2, 4), alarms(2, 20, 2000))
    assert(got == want && got.size == 22)
    // without the cap the same burst does come to the driver, in the collect
    val (uncapped, noSpark, _) = burstRun("al00", Map.empty, alarms(0, 2, 4), alarms(2, 20, 2000))
    assert(uncapped > Cap && noSpark == 0L, s"largest task result $uncapped, Spark appends $noSpark")
  }
}
