package graft

/** Scratch probe: round count + per-phase wall of the connected-components
  * queries (builder tool, not part of the driver contract).
  */
object CcProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.Graft.session("graft-cc-probe")
    import org.apache.spark.sql.functions._

    // embed side
    var t0 = System.nanoTime()
    val emb = graft.queries.EmbedQueries.queries  // warm nothing
    val e = {
      import graft.core.Graft
      Graft.embeddingsFanned(spark, sfDir)
    }
    val pairs = graft.queries.EmbedQueries
      .rpLshPairs(e.transform(d => d.withColumn("v",
        transform(col("embedding"), x => x.cast("double")))
        .withColumn("nrm", graft.functions.VectorExpressions.l2_norm(col("v")))))
      .select("vec_a", "vec_b")
    pairs.write.format("noop").mode("overwrite").save()
    println(f"pairs phase: ${(System.nanoTime()-t0)/1e9}%.3f s")
    t0 = System.nanoTime()
    val (labels, rounds) = graft.operators.ConnectedComponents.labels(pairs)
    labels.write.format("noop").mode("overwrite").save()
    println(f"cc phase: ${(System.nanoTime()-t0)/1e9}%.3f s, rounds=$rounds")

    // doc side (dedup_clusters)
    t0 = System.nanoTime()
    val dpairs = graft.queries.DocQueries
      .minhashLshPairs(graft.core.Graft.documentsFanned(spark, sfDir))
      .select("doc_a", "doc_b")
    dpairs.write.format("noop").mode("overwrite").save()
    println(f"doc pairs phase: ${(System.nanoTime()-t0)/1e9}%.3f s")
    t0 = System.nanoTime()
    val (dl, dr) = graft.operators.ConnectedComponents.labels(dpairs)
    dl.write.format("noop").mode("overwrite").save()
    println(f"doc cc phase: ${(System.nanoTime()-t0)/1e9}%.3f s, rounds=$dr")
    spark.stop()
  }
}
