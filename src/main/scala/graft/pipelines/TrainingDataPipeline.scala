package graft.pipelines

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Reuse
import graft.queries.DocQueries

/** End-to-end training-data assembly — the library surface a pipeline
  * author calls, composing the individually-verified operators in their
  * canonical order:
  *
  *  1. heuristic filters: Gopher repetition/quality gates + the
  *     corpus-trained trigram-LM perplexity gate
  *  2. exact dedup (canonical fingerprint, keep-first)
  *  3. near-dedup: MinHash-LSH verified pairs → lower-quality drop list —
  *     the pair frame is computed ONCE and persisted (the reuse surface
  *     the per-query oracle harness deliberately forgoes)
  *  3b. containment dedup: near-SUBSET docs dropped (the pairs symmetric
  *     Jaccard misses when sizes differ)
  *  4. substring-span boilerplate removal (non-canonical duplicated
  *     ≥50-token spans cut token-aligned)
  *  5. benchmark decontamination (any doc sharing an 8-gram with the
  *     benchmark set is dropped; bench grams broadcast)
  *
  * Every stage is a narrow transformation over the previous frame plus
  * the already-audited keyed shuffles of its operator — composing them
  * adds NO new shuffle shape. `run` returns the surviving corpus and a
  * per-stage attrition report. Each stage frame is pinned with
  * [[graft.operators.Reuse.lineageCut]] — a LINEAGE CUT, not a
  * recomputable persist, and deliberately so: the stages compose, and
  * each one's plan contains several references to its predecessor (the
  * dedup operators' own diamond reuse), so an uncut six-stage plan
  * multiplies subtree occurrences combinatorially — measured: the
  * persist variant spent 37 MINUTES inside
  * `TreeNode.generateTreeString` producing the plan description every
  * action posts to the listener bus, before any task ran. Cutting at
  * stage boundaries keeps every plan one stage deep (the
  * ConnectedComponents round discipline), the stage count reads the cut
  * blocks, and stage N+1 builds on them instead of re-executing stages
  * 1..N. On a cluster with a checkpoint dir the cut is a RELIABLE
  * checkpoint (replicated, block-loss-tolerant — the 1000-executor
  * shape); locally it is a localCheckpoint, where block loss means the
  * process died anyway. Blocks of superseded stages are reclaimed by
  * the ContextCleaner once their frames go out of scope.
  */
object TrainingDataPipeline {

  final case class Result(corpus: DataFrame, attrition: Seq[(String, Long)])

  def run(docs: DataFrame, benchDocs: DataFrame,
          lmKeepAtMost: Double = 5.36): Result = {
    val report = Seq.newBuilder[(String, Long)]
    def stage(name: String, d: DataFrame): DataFrame = {
      val cp = Reuse.lineageCut(d, eager = true)
      report += name -> cp.count()
      cp
    }

    val raw = stage("raw", docs.select("doc_id", "text", "lang", "source"))

    // 1 — per-doc heuristic gates (zero-shuffle scores, one broadcast-y
    // shuffle for the LM counts), combined with one semi-join each
    val repKeep = DocQueries.repetitionFilters(raw)
      .filter(col("keep")).select("doc_id")
    val lmKeep = DocQueries.lmScore(raw, lmKeepAtMost)
      .filter(col("keep")).select("doc_id")
    val filtered = stage("heuristic_filters",
      raw.join(repKeep, "doc_id").join(lmKeep, "doc_id"))

    // 2 — exact dedup: keep the first (min doc_id) copy of each canonical
    // fingerprint
    val canon = filtered
      .withColumn("fp", graft.functions.TextFunctions.fingerprint(col("text")))
      .withColumn("keep_id", min("doc_id").over(
        org.apache.spark.sql.expressions.Window.partitionBy("fp")))
      .filter(col("doc_id") === col("keep_id"))
      .drop("fp", "keep_id")
    val exact = stage("exact_dedup", canon)

    // 3 — near-dedup: verified pair frame ONCE, persisted, then the
    // lower-quality member of every pair dropped
    val pairs = Reuse.lineageCut(DocQueries.minhashLshPairs(exact))
    val q = exact
      .select(col("doc_id"), graft.functions.TextFunctions.tokens(col("text")).as("tk"))
      .select(col("doc_id"),
        round(least(size(col("tk")).cast("double") / 100.0, lit(1.0)) * 0.5 +
          (lit(1.0) - graft.functions.TextFunctions.stopwordRatio(col("tk"))) * 0.5,
          6).as("quality_score"))
    val dropIds = DocQueries.dropList(pairs, q)
    val near = stage("near_dedup", exact.join(dropIds, Seq("doc_id"), "left_anti"))

    // 3b — containment dedup: a doc that is a near-SUBSET of a surviving
    // doc carries (almost) no novel content even when symmetric Jaccard
    // keeps it alive (sizes differ). Drop the contained side; mutual
    // pairs (near-identical sets) keep the smaller id. Greedy, not
    // transitive: a dropped container does not resurrect its containees
    // (the standard one-pass pipeline rule).
    val cp  = DocQueries.containmentPairs(near, 0.8).select("doc_a", "doc_b")
    val rev = cp.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b"))
      .withColumn("mut", lit(1))
    val containedIds = cp.join(rev, Seq("doc_a", "doc_b"), "left")
      .filter(col("mut").isNull || col("doc_a") > col("doc_b"))
      .select(col("doc_a").as("doc_id")).distinct()
    val uncontained = stage("containment_drop",
      near.join(containedIds, Seq("doc_id"), "left_anti"))

    // 4 — substring-span boilerplate removal (rewrites text in place)
    val cut = DocQueries.dropSpans(uncontained, w = 50)
      .select(col("doc_id"), col("clean_text"))
    val rewritten = stage("substring_drop",
      uncontained.join(cut, "doc_id")
        .select(col("doc_id"), col("clean_text").as("text"), col("lang"), col("source"))
        .filter(length(trim(col("text"))) > 0))

    // 5 — decontamination against the benchmark set (8-gram overlap)
    val bench8 = benchDocs
      .withColumn("tk", graft.functions.TextFunctions.tokens(col("text")))
      .filter(size(col("tk")) >= 8)
      .select(explode(array_distinct(
        graft.functions.TextFunctions.shingles(col("tk"), 8))).as("g8"))
      .distinct()
    val corpus8 = rewritten
      .withColumn("tk", graft.functions.TextFunctions.tokens(col("text")))
      .filter(size(col("tk")) >= 8)
      .select(col("doc_id"), explode(array_distinct(
        graft.functions.TextFunctions.shingles(col("tk"), 8))).as("g8"))
    val contaminated = corpus8.join(broadcast(bench8), "g8").select("doc_id").distinct()
    val clean = stage("decontaminated",
      rewritten.join(contaminated, Seq("doc_id"), "left_anti"))

    pairs.unpersist()
    Result(clean, report.result())
  }

  /** The write side: emit the corpus as `nShards` training shards —
    * md5-permuted global order (the deterministic "global shuffle"),
    * hash-assigned shards, dense per-shard positions and token offsets,
    * written as one parquet directory per shard. One keyed shuffle
    * (repartition on shard) + per-partition sort; shard count scales
    * with corpus size so no partition concentrates.
    */
  /** The analytic write side: cluster on a Morton key over the given
    * dimensions before writing, so downstream scans filtered on ANY of
    * them prune parquet row groups via min/max footer stats
    * ([[graft.operators.ZOrder]]). One range shuffle; the z-value column
    * is dropped from the output (it's a layout key, not data).
    */
  def writeAnalytic(df: DataFrame, outDir: String, dims: Seq[String],
                    bits: Int = 16, numFiles: Int = 64): Unit =
    graft.operators.ZOrder.layout(df, dims, bits, numFiles)
      .drop("zval")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(outDir)

  def writeShards(corpus: DataFrame, outDir: String, nShards: Int): Unit = {
    import org.apache.spark.sql.expressions.Window
    val h = md5(col("doc_id").cast("string"))
    val w = Window.partitionBy("shard").orderBy("ord")
    corpus
      .withColumn("ord", h)
      .withColumn("shard",
        conv(substring(col("ord"), 1, 8), 16, 10).cast("long") % nShards)
      .withColumn("pos_in_shard", row_number().over(w).cast("long"))
      .withColumn("tok_offset",
        (sum(size(graft.functions.TextFunctions.tokens(col("text"))).cast("long")).over(w) -
          size(graft.functions.TextFunctions.tokens(col("text"))).cast("long")))
      .repartition(nShards, col("shard"))
      .sortWithinPartitions("shard", "ord")
      .drop("ord")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("shard")
      .parquet(outDir)
  }
}
