package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Bucketed-layout helpers for shuffle-free co-located joins — the 100 TB
  * answer to repeated fact⋈fact joins on the same key (e.g. lineitem ⋈
  * orders on orderkey every query): pay the shuffle once at layout time,
  * never again at query time.
  *
  * Spark's bucketing requires a catalog table (`saveAsTable`); with both
  * sides bucketed into the same count on the join key, SortMergeJoin reads
  * bucket-aligned files directly — `.explain` shows NO Exchange on either
  * side (asserted in BucketingSpec).
  */
object Bucketing {

  /** Persist a frame bucketed (and sorted) by the join key. Idempotent
    * across JVMs: a managed-table LOCATION left behind by a previous
    * session (whose in-memory catalog died with it) is cleared first —
    * otherwise saveAsTable fails with LOCATION_ALREADY_EXISTS even in
    * Overwrite mode, because the fresh catalog has no table to overwrite.
    */
  def writeBucketed(
      df: DataFrame,
      table: String,
      key: String,
      buckets: Int
  ): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = java.nio.file.Paths.get(
      java.net.URI.create(spark.conf.get("spark.sql.warehouse.dir"))
        .getPath).resolve(table)
    if (java.nio.file.Files.exists(loc)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(loc).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
    df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)
  }

  /** True when the physical plan contains no shuffle exchange. */
  def isShuffleFree(df: DataFrame): Boolean =
    !df.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning")
}
