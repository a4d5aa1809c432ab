package graft.operators

import graft.SparkSpec

/** The Reuse pin is a lineage cut: `localCheckpoint` on a local master,
  * a reliable checkpoint once the session has a checkpoint dir — and the
  * two forms must not change a query's results.
  */
class ReuseSpec extends SparkSpec {
  import spark.implicits._

  private def df = (1 to 1000).map(i => (i.toLong, s"doc $i word$i"))
    .toDF("doc_id", "text")

  test("cluster mode: a pin-heavy query under a reliable checkpoint dir " +
    "matches the local-mode output exactly") {
    // the 1000-executor deployment shape: every Reuse pin and lineage cut
    // becomes a replicated reliable checkpoint. Values must be identical.
    def run(): Set[String] =
      graft.queries.DocQueries.queries("dedup_minhash_estimate")(
        spark, "/root/testdata/sf0.001")
        .collect().map(_.mkString("|")).toSet
    val local = run()
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-q").toString
    spark.sparkContext.setCheckpointDir(dir)
    val reliable =
      try run()
      finally org.apache.spark.GraftTestBridge.clearCheckpointDir(spark.sparkContext)
    assert(reliable == local)
    assert(local.nonEmpty)
  }

  test("lineageCut: localCheckpoint without a checkpoint dir, reliable with one") {
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    val local = Reuse.lineageCut(df, eager = true)
    assert(local.queryExecution.analyzed.toString.contains("LogicalRDD"))
    assert(local.count() == 1000)
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val reliable = Reuse.lineageCut(df, eager = true)
      assert(reliable.count() == 1000)
      // reliable checkpoint writes partition files under the dir
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(wrote > 0, "reliable checkpoint must write to the checkpoint dir")
    } finally {
      // the session is shared across suites: a leaked checkpoint dir would
      // flip every later lineageCut to reliable mode — reset it
      org.apache.spark.GraftTestBridge.clearCheckpointDir(spark.sparkContext)
    }
  }
}
