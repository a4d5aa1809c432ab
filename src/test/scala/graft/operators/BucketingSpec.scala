package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Graft

/** Proves the co-location claim at the plan level: a join of two tables
  * bucketed on the join key runs with zero shuffle exchanges and still
  * produces the same result as the shuffle join.
  */
class BucketingSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("bucketed lineitem ⋈ orders is shuffle-free and result-identical") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    try {
      Bucketing.writeBucketed(
        Graft.lineitem(spark, dir).withColumnRenamed("l_orderkey", "okey"),
        "li_b", "okey", 4)
      Bucketing.writeBucketed(
        Graft.orders(spark, dir).withColumnRenamed("o_orderkey", "okey"),
        "ord_b", "okey", 4)
      val joined = spark.table("li_b").join(spark.table("ord_b"), "okey")
      assert(Bucketing.isShuffleFree(joined),
        s"plan had shuffles:\n${joined.queryExecution.executedPlan}")
      val expected = Graft.lineitem(spark, dir)
        .join(Graft.orders(spark, dir),
          col("l_orderkey") === col("o_orderkey"))
        .count()
      assert(joined.count() == expected)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS ord_b")
    }
  }
}
