package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SaltingSpec extends SparkSpec {

  test("approx_count_distinct stays within the configured error of exact") {
    val ev = graft.core.Graft.events(spark, "/root/testdata/sf0.01")
    val approx = ev.select(approx_count_distinct(col("user_id"), rsd = 0.02))
      .collect().head.getLong(0)
    val exact = ev.select(countDistinct(col("user_id"))).collect().head.getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.1,
      s"approx=$approx exact=$exact")
  }
}
