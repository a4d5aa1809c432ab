package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.sources.Fixtures.F144Msg

class StreamAggregatesSpec extends SparkSpec {
  import spark.implicits._

  private def f144(offset: Long, tsMs: Long, v: Double) =
    F144Msg("tp", "speed", offset, tsMs, tsMs * 1000000L, v)

  test("stream-stream interval join pairs right events inside the key's window") {
    val lhs = MemoryStream[F144Msg](spark)
    val rhs = MemoryStream[F144Msg](spark)
    val joined = StreamAggregates.intervalJoin(
      lhs.toDF(), rhs.toDF(), Seq("source_name"), "ts",
      before = "0 seconds", after = "30 seconds", watermarkDelay = "5 seconds")
    val query = joined.select("l_offset", "r_offset").writeStream
      .format("memory").queryName("interval_join").outputMode("append").start()
    try {
      // left anchor at 10s; right events at 15s (inside [10s, 40s]) and
      // 50s (outside)
      lhs.addData(f144(1, 10000, 1.0))
      rhs.addData(f144(100, 15000, 2.0), f144(101, 50000, 3.0))
      query.processAllAvailable()
      // a later right batch still lands inside the buffered window
      rhs.addData(f144(102, 39000, 4.0))
      query.processAllAvailable()
      val pairs = spark.sql("SELECT l_offset, r_offset FROM interval_join")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((1L, 100L), (1L, 102L)))
    } finally query.stop()
  }

  test("interval join batch parity") {
    val l = Seq(f144(1, 10000, 1.0)).toDF()
    val r = Seq(f144(100, 15000, 2.0), f144(101, 50000, 3.0),
      F144Msg("tp", "other", 102, 12000, 12000000000L, 9.0)).toDF()
    val out = StreamAggregates.intervalJoin(
      l, r, Seq("source_name"), "ts", "0 seconds", "30 seconds")
    // 15s matches; 50s is outside the window; 12s is the wrong key
    assert(out.select("r_offset").collect().map(_.getLong(0)).toSeq == Seq(100L))
  }
}
