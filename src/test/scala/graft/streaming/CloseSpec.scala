package graft.streaming

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.plans.NexusPlan
import graft.sources.Fixtures.{Ev44Msg, F144Msg}

/** Closing a file reads the parquet mirror on the driver: `finish` folds
  * the close-time finals over the stored rows and the HDF5 export reads
  * every table without a Spark job. The fold must equal the Spark
  * aggregate it replaced, and the export must see only the visible table
  * files.
  */
class CloseSpec extends SparkSpec {
  import spark.implicits._

  private def pv(name: String, extra: String = "") =
    s"""{ "name": "$name", "type": "group", "children": [
       |  { "module": "f144", "config": { "source": "$name", "topic": "tp",
       |    "enable_epics_con_info": false, "enable_alarm_info": false$extra } } ] }""".stripMargin

  private def plan(nodes: Seq[String]) = NexusPlan.parse(
    s"""{ "children": [ { "name": "entry", "type": "group", "children": [
       |${nodes.mkString(",\n")} ] } ] }""".stripMargin)

  private val ev44Node =
    """{ "name": "events", "type": "group", "children": [
      |  { "module": "ev44", "config": { "source": "det", "topic": "tp",
      |    "cue_interval": 5 } } ] }""".stripMargin

  private def f144(src: String, o: Long, v: Double) =
    F144Msg("tp", src, o, 1000 + o, (1000 + o) * 1000000L, v)

  private def ev44(o: Long, n: Int) =
    Ev44Msg("tp", "det", o, 1000 + o, (1000 + o) * 1000000L,
      Seq((1000 + o) * 1000000L), Seq(0), Seq.tabulate(n)(k => k * 10), Seq.fill(n)(o.toInt))

  /** one job over two PVs and a detector whose declared tables are all
    * written (the cue grid fires), then closed
    */
  private def written(out: String): StreamingJob = {
    val job = new StreamingJob(spark, plan(Seq(pv("a"), pv("b"), ev44Node)), out, 0, 1L << 40)
    job.processBatch("f144", (0 until 6).map(i =>
      f144(if (i % 2 == 0) "a" else "b", i.toLong, i * 1.5 - 2)).toDF())
    job.processBatch("ev44", (0 until 4).map(i => ev44(100L + i, 3)).toDF())
    job.processBatch("f144", (6 until 9).map(i => f144("a", i.toLong, -i / 4.0)).toDF())
    job
  }

  /** Spark jobs SUBMITTED while `body` runs (start time filters out late
    * listener deliveries of earlier jobs)
    */
  private def jobsDuring(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val t0   = System.currentTimeMillis()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (j.time >= t0) jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      var prev = -1; var stable = 0
      while (stable < 3) {
        Thread.sleep(100)
        if (jobs.get == prev) stable += 1 else { prev = jobs.get; stable = 0 }
      }
      jobs.get
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("finish with an HDF5 export runs no Spark job when every declared table was written") {
    val out = Files.createTempDirectory("graft-close").toString
    val job = written(out)
    Thread.sleep(300) // let the listener bus deliver the batches' jobs
    val h5  = s"$out/closed.h5"
    val n   = jobsDuring(job.finish(Some(h5)))
    assert(n == 0, s"close ran $n Spark job(s)")
    // the close did its work: finals and the file
    val meta = spark.read.parquet(s"$out/data/entry/a/meta").collect().head
    assert(meta.getAs[Long]("num_values") == 6L)
    assert(spark.read.parquet(s"$out/data/entry/events/meta").collect().head
      .getAs[Long]("events") == 12L)
    assert(spark.read.parquet(s"$out/data/entry/events/cue").count() > 0)
    assert(Files.size(Paths.get(h5)) > 0)
  }

  test("f144 finals fold ≡ the Spark aggregate over the deduplicated stored rows, " +
    "per stored dtype") {
    val dtypes = Seq("double", "float", "int8", "int16", "int32", "int64", "string")
    val out = Files.createTempDirectory("graft-finals").toString
    val job = new StreamingJob(spark,
      plan(dtypes.map(d => pv(s"pv_$d", s""", "dtype": "$d""""))), out, 0, 1L << 40)
    val base = Seq(-3.5, 2.25, 0.0, -0.0, 7.75, 100.0, 2.25, -128.0, 127.0)
    def values(d: String) =
      if (d == "double" || d == "float") base ++ Seq(Double.NaN, 1e-3) else base
    var o = 0L
    dtypes.foreach { d =>
      job.processBatch("f144", values(d).map { v => o += 1; f144(s"pv_$d", o, v) }.toDF())
    }
    // a replayed append: the same part file again, at the same row ids
    dtypes.foreach { d =>
      val dir  = Paths.get(out, "data", "entry", s"pv_$d", "data")
      val part = Files.list(dir).toArray.map(_.asInstanceOf[Path])
        .find(p => p.getFileName.toString.endsWith(".parquet")).get
      Files.copy(part, dir.resolve("part-replay-" + part.getFileName))
    }
    job.finish()
    dtypes.foreach { d =>
      val data = spark.read.parquet(s"$out/data/entry/pv_$d/data")
      assert(data.count() > data.dropDuplicates("row").count(), s"$d: no duplicate")
      val want = data.dropDuplicates("row").agg(
        min("value").as("minimum_value"), max("value").as("maximum_value"),
        avg("value").as("average_value"), count(lit(1)).as("num_values"))
      val got = spark.read.parquet(s"$out/data/entry/pv_$d/meta")
      assert(got.schema.map(f => (f.name, f.dataType)) ==
        want.schema.map(f => (f.name, f.dataType)), d)
      assert(got.collect().toSeq == want.collect().toSeq, d)
    }
  }

  test("an empty stream keeps its finals: null min/max/mean, zero counts") {
    val out = Files.createTempDirectory("graft-finals-empty").toString
    val job = new StreamingJob(spark, plan(Seq(pv("a"), ev44Node)), out, 0, 1L << 40)
    job.finish()
    assert(spark.read.parquet(s"$out/data/entry/a/meta").collect().toSeq ==
      Seq(Row(null, null, null, 0L)))
    assert(spark.read.parquet(s"$out/data/entry/events/meta").collect().toSeq ==
      Seq(Row(0L)))
  }

  test("crash residue under hidden names never reaches the .h5") {
    val out = Files.createTempDirectory("graft-residue").toString
    val job = written(out)
    val clean = s"$out/clean.h5"
    job.finish(Some(clean))
    val table = Paths.get(out, "data", "entry", "a", "data")
    val part  = Files.list(table).toArray.map(_.asInstanceOf[Path])
      .find(p => p.getFileName.toString.endsWith(".parquet")).get
    // what a killed Spark append leaves: committer scratch inside a table,
    // and a scratch directory beside the tables of a group
    val inTable = table.resolve("_temporary/0/_temporary/attempt_0")
    val inGroup = Paths.get(out, "data", "entry", "_temporary", "0", "data")
    Seq(inTable, inGroup).foreach { d =>
      Files.createDirectories(d)
      Files.copy(part, d.resolve("part-00000-residue.snappy.parquet"))
    }
    // and a driver write that died before its rename
    Files.copy(part, table.resolve(".part-local-residue.snappy.parquet"))
    val again = s"$out/again.h5"
    graft.sinks.Hdf5Export.export(spark, out, again)
    assert(java.util.Arrays.equals(
      Files.readAllBytes(Paths.get(clean)), Files.readAllBytes(Paths.get(again))),
      "the .h5 changed when hidden residue was planted")
  }
}
