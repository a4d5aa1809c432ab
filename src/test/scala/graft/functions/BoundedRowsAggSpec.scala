package graft.functions

import org.apache.spark.sql.GraftBridge.expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** The bounded in-aggregate row collector: the safety device under the
  * streaming fused-payload path — bounded memory, overflow → NULL, exact
  * round-trip for what fits.
  */
class BoundedRowsAggSpec extends SparkSpec {
  import spark.implicits._

  private def collectRows(n: Int, bound: Int, parts: Int) = {
    val df = spark.range(n).repartition(parts)
      .select(col("id").as("offset"), (col("id") * 2).as("v"))
    val payload = struct(col("offset"), col("v"))
    df.agg(BoundedRowsAgg.bounded_rows(payload, bound).as("rows"))
      .collect()(0).getAs[scala.collection.Seq[Array[Byte]]]("rows")
  }

  private val schema = StructType(Seq(
    StructField("offset", LongType, nullable = false),
    StructField("v", LongType, nullable = false)))

  test("collects under the bound across partitions, exact decode") {
    val blobs = collectRows(n = 50, bound = 64, parts = 8)
    assert(blobs != null && blobs.size == 50)
    val rows = BoundedRowsAgg.decode(blobs, schema).sortBy(_.getLong(0))
    assert(rows.map(r => (r.getLong(0), r.getLong(1))) ==
      (0L until 50L).map(i => (i, i * 2)))
  }

  test("one row past the bound → NULL (never a truncated list)") {
    assert(collectRows(n = 65, bound = 64, parts = 8) == null)
    assert(collectRows(n = 64, bound = 64, parts = 8).size == 64)
    // a burst far past the bound stays NULL and cannot blow the buffer
    assert(collectRows(n = 100000, bound = 8, parts = 32) == null)
  }

  test("null struct inputs are skipped, like collect_list") {
    val df = spark.range(20).repartition(4)
      .select(col("id").as("offset"), (col("id") * 2).as("v"))
    val payload = when(col("offset") < 5, struct(col("offset"), col("v")))
    val blobs = df.agg(BoundedRowsAgg.bounded_rows(payload, 64).as("rows"))
      .collect()(0).getAs[scala.collection.Seq[Array[Byte]]]("rows")
    val rows = BoundedRowsAgg.decode(blobs, schema).sortBy(_.getLong(0))
    assert(rows.map(_.getLong(0)) == (0L until 5L))
  }

  test("serialize/deserialize round-trips the partial buffer (shuffle path)") {
    // force partial-aggregate buffers to cross a shuffle: group by a key
    val df = spark.range(40).repartition(8)
      .select((col("id") % 2).as("k"), col("id").as("offset"), lit(7L).as("v"))
    val out = df.groupBy("k")
      .agg(BoundedRowsAgg.bounded_rows(struct(col("offset"), col("v")), 64).as("rows"))
      .collect().map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Array[Byte]]]("rows")).toMap
    assert(out(0L).size == 20 && out(1L).size == 20)
    val rows = BoundedRowsAgg.decode(out(0L), schema).map(_.getLong(0)).sorted
    assert(rows == (0L until 40L by 2))
  }

  test("wide rows overflow the byte cap: on update and on merge") {
    // ~1 KB rows: a row bound of 64 alone would hold 64 KB of them
    def wide(n: Int, parts: Int, maxBytes: Long) =
      spark.range(n).repartition(parts)
        .select(col("id").as("offset"), repeat(lit("x"), 1000).as("w"))
        .agg(BoundedRowsAgg.bounded_rows(struct(col("offset"), col("w")), 64, maxBytes)
          .as("rows"))
        .collect()(0).getAs[scala.collection.Seq[Array[Byte]]]("rows")
    // update: one partition, the 6th row crosses 5000 bytes
    assert(wide(n = 4, parts = 1, maxBytes = 5000).size == 4)
    assert(wide(n = 6, parts = 1, maxBytes = 5000) == null)
    // merge: 4 partitions of 2 rows each fit alone, not together
    assert(wide(n = 8, parts = 4, maxBytes = 5000) == null)
    assert(wide(n = 8, parts = 4, maxBytes = 20000).size == 8)

    // the same latches on the buffers directly
    val agg = BoundedRowsAgg(
      expression(struct(col("offset"), col("w"))), bound = 64, maxBytes = 3000)
    val bs = Seq.fill(3)(Array.fill[Byte](1000)(1))
    def buf(n: Int) = {
      val b = agg.createAggregationBuffer()
      bs.take(n).foreach { x => b.rows.add(x); b.bytes += x.length }
      b
    }
    assert(!agg.merge(buf(1), buf(1)).overflow)
    val merged = agg.merge(buf(2), buf(2))
    assert(merged.overflow && merged.rows.isEmpty && agg.eval(merged) == null)
    // the byte count survives the shuffle form
    assert(agg.deserialize(agg.serialize(buf(3))).bytes == 3000L)
  }
}
