package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic 10× inflation of a testdata scale factor for the scale
  * rehearsal (SCALE.md): each replica `r` is a self-contained copy of the
  * source world with every key shifted by a per-type stride, so joins and
  * groupings stay within their replica and the per-replica workload
  * structure is EXACTLY the original's:
  *
  *  - bigint keys (custkey, orderkey, partkey, suppkey, doc_id, vec_id,
  *    event_id, user_id) shift by r·10⁹; int dimension keys by their
  *    world size (nationkey r·25, regionkey r·5, label r·1000).
  *  - document text gets a per-replica token suffix (`tok` → `tok_rN`,
  *    r=0 untouched): within-replica n-gram/fingerprint/dup structure is
  *    preserved verbatim while replicas share ZERO token n-grams — the
  *    global dedup/LSH workload is 10 disjoint copies of the original,
  *    not an all-pairs blowup the original never had.
  *  - embeddings get a per-replica SIGNED PERMUTATION of the dimensions
  *    (rotate by 7r, flip signs from a hash mask; r=0 untouched): an
  *    orthogonal transform, so within-replica geometry is preserved
  *    exactly — the stored floats are only moved and negated, never
  *    recomputed, so every cosine/distance agrees with the original up
  *    to dot-product summation reordering (measured max deviation
  *    2.2e-16) — while cross-replica similarities decorrelate to match
  *    the source corpus's own random-pair distribution almost exactly
  *    (both measured mean 0, std 0.125 = 1/√64; fraction ≥ 0.3/0.45/0.5
  *    equal within sampling noise: 0.0075/7e-5/1e-5 source vs
  *    0.0076/8e-5/0.9e-5 cross). So candidate counts above ANY
  *    similarity threshold scale like a genuinely 10×-larger i.i.d.
  *    corpus — neither collapsing nor blowing up. (A plain dim0
  *    translation does NOT work here: cosine is not
  *    translation-invariant, and a large common offset makes every
  *    shifted vector near-parallel to every other, collapsing the
  *    near-dup/ANN workload into a degenerate all-similar corpus.)
  *  - low-cardinality value columns (names, types, langs, sources,
  *    segments) are left IDENTICAL so filter selectivities and group-by
  *    cardinalities stay constant while row counts scale — matching how
  *    real corpora grow.
  *
  * Usage: `runMain graft.ScaleGen [srcDir] [outDir]` (defaults
  * /root/testdata/sf0.1 → /root/repo/testdata_sf1; replicas via
  * SPARK_GRAFT_SCALE_REPLICAS, default 10; SPARK_GRAFT_SCALE_TABLES
  * regenerates a comma-separated subset without touching the rest).
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val src      = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out      = if (args.length > 1) args(1) else "/root/repo/testdata_sf1"
    val replicas = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPLICAS", "10").toInt
    val spark    = graft.core.Graft.session("graft-scale-gen")

    val B = 1000000000L // bigint key stride per replica
    val R = broadcast(spark.range(replicas).select(col("id").cast("int").as("r")))
    def rep(t: String): DataFrame =
      spark.read.parquet(s"$src/$t.parquet").crossJoin(R)
    def big(c: String)   = (col(c) + col("r") * B).as(c)
    def nat(c: String)   = (col(c) + col("r") * 25).cast("int").as(c)
    def reg(c: String)   = (col(c) + col("r") * 5).cast("int").as(c)
    val onlyTables = sys.env.get("SPARK_GRAFT_SCALE_TABLES")
      .map(_.split(",").map(_.trim).toSet)
    def write(df: DataFrame, t: String, files: Int): Unit =
      if (onlyTables.forall(_.contains(t)))
        df.repartition(files).write.mode("overwrite").parquet(s"$out/$t.parquet")

    write(rep("region").select(reg("r_regionkey"), col("r_name")), "region", 1)
    write(rep("nation").select(nat("n_nationkey"), col("n_name"),
      reg("n_regionkey")), "nation", 1)
    write(rep("customer").select(big("c_custkey"), col("c_name"),
      nat("c_nationkey"), col("c_acctbal"), col("c_mktsegment")), "customer", 2)
    write(rep("supplier").select(big("s_suppkey"), col("s_name"),
      nat("s_nationkey"), col("s_acctbal")), "supplier", 1)
    write(rep("part").select(big("p_partkey"), col("p_name"), col("p_brand"),
      col("p_type"), col("p_size"), col("p_retailprice")), "part", 2)
    write(rep("orders").select(big("o_orderkey"), big("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority")), "orders", 8)
    write(rep("lineitem").select(big("l_orderkey"), big("l_partkey"),
      big("l_suppkey"), col("l_linenumber"), col("l_quantity"),
      col("l_extendedprice"), col("l_discount"), col("l_tax"),
      col("l_returnflag"), col("l_linestatus"), col("l_shipdate")),
      "lineitem", 16)
    write(rep("events").select(big("event_id"), col("ts"), big("user_id"),
      col("event_type"), col("value"), col("props")), "events", 8)
    val docText = when(col("r") === 0, col("text")).otherwise(
      regexp_replace(col("text"), lit("(\\S+)"),
        concat(lit("$1_r"), col("r").cast("string"))))
    write(rep("documents").select(big("doc_id"), docText.as("text"),
      col("lang"), col("source"), length(docText).cast("long").as("n_chars")),
      "documents", 8)
    // r=0 keeps the source bit-exact; r>0 applies a signed permutation
    // (orthogonal, so within-replica geometry is exact under BOTH cosine
    // and euclidean up to dot-product summation order — the stored values
    // are only moved and negated, never recomputed)
    val d = size(col("embedding"))
    val emb = when(col("r") === 0, col("embedding")).otherwise(
      transform(sequence(lit(0), d - 1), i => {
        val v = element_at(col("embedding"), pmod(i + col("r") * 7, d) + 1)
        when(pmod(xxhash64(col("r"), i), lit(2)) === 0, v).otherwise(-v)
      }))
    write(rep("embeddings").select(big("vec_id"), emb.as("embedding"),
      (col("label") + col("r") * 1000).cast("int").as("label")),
      "embeddings", 2)

    // summary line so the gen is auditable
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      val n = spark.read.parquet(s"$out/$t.parquet").count()
      println(s"[scalegen] $t: $n rows")
    }
    spark.stop()
  }
}
