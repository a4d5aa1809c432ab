package graft.core

import java.nio.file.Files

import graft.SparkSpec

/** Scan-fanout policy (r14 optimization, gated per call site in r15): a
  * table whose file layout plans far fewer scan tasks than the session has
  * cores is round-robin fanned out to cores/4 partitions — but ONLY at the
  * opt-in call sites ([[Graft.fannedTable]] and friends), because the r14
  * suite A/B showed the exchange taxes scan-light queries 10-150%.
  * [[Graft.table]] is a plain read. Tiny tables are left untouched;
  * results are row-identical either way.
  */
class ScanFanoutSpec extends SparkSpec {

  private lazy val dir: String = {
    val d = Files.createTempDirectory("fanout").toString
    import spark.implicits._
    // ~200 KB compressed: one file, one row group — the under-parallelized
    // shape — comfortably above the 16 KiB/task funding floor
    (1 to 20000).map(i => (i.toLong, s"row $i " + ("x" * 64)))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    // sub-floor tiny table: fanout must not fire
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/tiny.parquet")
    d
  }

  private def scanPartitions(df: org.apache.spark.sql.DataFrame): Int =
    df.rdd.getNumPartitions

  test("plain table read does NOT fan out by default (opt-in policy)") {
    val df = Graft.table(spark, dir, "documents")
    assert(scanPartitions(df) == 1)
    assert(!df.queryExecution.optimizedPlan.toString.contains("Repartition"))
  }

  test("fannedTable fans an under-parallelized scan out to cores/divisor") {
    val df = Graft.fannedTable(spark, dir, "documents")
    // local[4] / divisor 4 → cap max(2, 1) = 2
    assert(scanPartitions(df) == 2)
    assert(df.queryExecution.optimizedPlan.toString.contains("Repartition"))
    // 2-row table is far below the 16 KiB/task funding floor — no fanout
    assert(scanPartitions(Graft.fannedTable(spark, dir, "tiny")) == 1)
  }

  test("byte-suffixed maxPartitionBytes parses instead of throwing") {
    spark.conf.set("spark.sql.files.maxPartitionBytes", "128m")
    try {
      assert(scanPartitions(Graft.fannedTable(spark, dir, "documents")) == 2)
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }

  test("fanned and un-fanned reads hold identical rows") {
    val fanned = Graft.fannedTable(spark, dir, "documents")
    val plain  = Graft.table(spark, dir, "documents")
    assert(fanned.exceptAll(plain).isEmpty && plain.exceptAll(fanned).isEmpty)
  }

  test("filters still push to the parquet scan below the fanout exchange") {
    val df = Graft.fannedTable(spark, dir, "documents").filter("doc_id > 10")
    val scanLine = df.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("FileScan")).getOrElse("")
    assert(scanLine.contains("GreaterThan(doc_id,10)"), s"no pushdown in: $scanLine")
  }
}
