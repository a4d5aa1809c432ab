package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Graft
import graft.operators.Reuse

/** Similarity search over the `embeddings` table (`embedding:
  * Array[Float]`, 64-d): brute-force cosine top-k as the exact baseline and
  * an IVF-style coarse-quantizer path as the scale variant.
  *
  * Scale design: the query side of the kNN join is tiny and broadcast; the
  * corpus side streams through one codegen'd pass (fold over the array — no
  * UDF, no explode of the corpus). The IVF variant prunes the corpus scan to
  * one centroid cell, the standard recall/latency trade at 100 TB. All float
  * math is widened to double before folding so results are deterministic and
  * oracle-stable (DuckDB `list_dot_product` on double lists).
  */
object EmbedQueries {

  private def emb(s: SparkSession, dir: String): DataFrame = Graft.embeddings(s, dir)

  /** Fanned read for the distance-computation-heavy operators (brute/PQ/OPQ
    * kNN, semantic dedup): per-row vector math funds the fanout exchange;
    * the light stats/projection queries keep [[emb]] (see
    * [[graft.core.Graft.table]] for the measured policy).
    */
  private def embFanned(s: SparkSession, dir: String): DataFrame = Graft.embeddingsFanned(s, dir)

  import graft.functions.VectorExpressions.{dot_product, l2_norm}

  /** embedding widened to double + precomputed L2 norm (native loop — the
    * higher-order-function fold evaluates interpreted, VectorExpressions).
    */
  private def withNorm(d: DataFrame): DataFrame =
    d.select(
      col("vec_id"),
      col("label"),
      transform(col("embedding"), _.cast("double")).as("v")
    ).withColumn("nrm", l2_norm(col("v")))

  private def dot(a: Column, b: Column): Column = dot_product(a, b)

  /** Within-cell verified pairs `(label, vec_a, vec_b, cosine)` over a
    * `withNorm`-shaped frame: candidates only inside the same coarse
    * cell, generated on SLIM keys (`label, vec_id`) through
    * [[graft.operators.LshJoins.cappedBandPairs]] so no vector crosses
    * the cell shuffle and one overfull cell degrades to linear star
    * pairs instead of B² — then vectors re-attach per candidate for the
    * exact cosine. Callers filter on their own threshold.
    */
  private def cellPairs(
      e: DataFrame, tag: String,
      maxBucket: Int = graft.operators.LshJoins.DefaultMaxBucket): DataFrame =
    // The vectors ride THROUGH the single cell-keyed shuffle (corpus × 1 —
    // linear) and the cosine is computed inside the cell join's output
    // stream: the within-cell pair frame — the one quadratic frame in
    // this family — never exists with vectors attached outside the join
    // pipeline. (The previous slim-pairs + two re-attach joins shape
    // shuffled pairs × 0.5 KB once the corpus outgrew the broadcast
    // threshold: the sf10 probe measured a 689× shuffle-byte jump on
    // exactly this step.)
    graft.operators.LshJoins
      .cappedBandPairsWithPayload(
        e.select(col("label"), col("vec_id"), col("v"), col("nrm")),
        Seq("label"), "vec_id", Seq("v", "nrm"), "vec_a", "vec_b",
        maxBucket, tag,
        // label is a ~10-value cell key: the within-cell pairing is the
        // quadratic CPU stage AQE's byte-based coalescing starves — pin
        // the cell exchange at the static shuffle width (see
        // LshJoins.pinWidth; measured 0.68-0.81x on the three consumers)
        pinned = true)
      .select(col("label"), col("vec_a"), col("vec_b"),
        round(dot(col("v_a"), col("v_b")) / (col("nrm_a") * col("nrm_b")), 6)
          .as("cosine"))

  private val NumQueries = 20
  // thresholds audited by embed_rp_lsh_recall (declared before the
  // strict `queries`/`sql` maps that interpolate it — see RpTargetBucket)
  private val RpRecallThresholds = Seq(0.3, 0.45, 0.5)
  private val K          = 5
  private val GraphK     = 4    // kNN-graph degree
  private val DecontamMod    = 50   // bench set: vec_id ≡ 0 (mod 50)
  private val DecontamThresh = 0.45 // release flag threshold
  private val MrlDim     = 32 // Matryoshka truncation: first half of 64 dims
  private val RerankPool = 20 // two-stage retrieval: shortlist size per query
  private val EmbDim     = 64 // embeddings-table dimensionality
  private val PcaK       = 8  // PCA components reported

  /** The PQ-kNN pipeline over any withNorm-shaped frame (vec_id, label,
    * v, nrm): deterministic sampled codebook, per-row encoding, ADC
    * ranking, bounded top-k — shared verbatim by `embed_pq_knn` (raw
    * frame, oracle-checked) and `embed_opq_knn` (PCA-rotated frame).
    */
  private def pqKnnOver(e: DataFrame): DataFrame = {
    val coded = pqCodes(e)
    val qd = e.filter(col("vec_id") < NumQueries)
      .crossJoin(broadcast(pqCodebook(e)))
      .select(col("vec_id").as("query_id"),
        transform(sequence(lit(0), lit(PqM - 1)), m =>
          transform(element_at(col("cb"), m + 1),
            e0 => pqL2sq(slice(col("v"), m * lit(PqDs) + lit(1), lit(PqDs)),
              e0.getField("c"))))
          .as("qd"))
    val scored = coded
      .join(broadcast(qd), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(aggregate(sequence(lit(0), lit(PqM - 1)), lit(0.0),
          (acc, m) => acc + element_at(element_at(col("qd"), m + 1),
            element_at(col("codes"), m + 1) + 1)), 6).as("pq_dist"))
    topKPerQuery(scored.withColumn("negd", -col("pq_dist")),
      "negd", K, extra = Seq("pq_dist"))
      .select(col("query_id"), col("neighbor_id"), col("pq_dist"),
        col("rank"))
  }

  /** The corpus in the PCA-rotated frame y = V(x−μ), same shape as
    * [[withNorm]] output (orthonormal V ⇒ L2 geometry preserved exactly).
    * The rotation is ONE codegen'd affine kernel per row (no interpreted
    * zip_with on the hot path), and the frame is Reuse-pinned because
    * [[pqKnnOver]] consumes it from three plan branches (codes, codebook,
    * query side) — the cellPairs multi-consumer pattern. Empty corpus →
    * empty frame (no basis to rotate by).
    */
  private def opqRotate(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorExpressions.{l2_norm, mat_vec_affine}
    pcaBasis(s, dir) match {
      case None => withNorm(emb(s, dir)).limit(0)
      case Some((m, _, _, vecs)) =>
        val d    = EmbDim
        val mu   = graft.functions.VectorMomentsAgg.mean(m, d).toSeq
        val vall = vecs.map(_.toSeq).toSeq
        val vmu  = vall.map(row => row.zip(mu).map { case (a, b) => a * b }.sum)
        // fanned: the 64×64 matvec per row funds the exchange (three-arm
        // A/B: embed_opq_knn 1.14 s gated / 0.76 s with this read fanned)
        embFanned(s, dir).select(col("vec_id"), col("label"),
          mat_vec_affine(transform(col("embedding"), _.cast("double")), vall, vmu)
            .as("v"))
          .withColumn("nrm", l2_norm(col("v")))
          .transform(Reuse.lineageCut(_))
    }
  }

  /** One distributed sufficient-statistics pass + driver-side 64×64 eigen
    * — shared by the PCA/OPQ queries: (moments, covariance, eigenvalues
    * desc, eigenvectors as rows); None on an empty corpus so every
    * consumer returns an empty frame instead of crashing (the
    * embed_covariance empty-path convention).
    */
  private def pcaBasis(s: SparkSession, dir: String)
      : Option[(Array[Double], Array[Array[Double]], Array[Double], Array[Array[Double]])] = {
    import graft.functions.VectorMomentsAgg.vector_moments
    val m = emb(s, dir).agg(vector_moments(col("embedding"), EmbDim))
      .head.getSeq[Double](0).toArray
    if (m(0) == 0) None
    else {
      val cov        = graft.operators.Pca.covariance(m, EmbDim)
      val (ev, vecs) = graft.operators.Pca.jacobiEigen(cov)
      Some((m, cov, ev, vecs))
    }
  }

  /** recall@K of a kNN frame's (query_id, neighbor_id) set against exact
    * brute force — one definition for the pq/sq8/opq recall queries.
    */
  private def recallOfFrame(s: SparkSession, dir: String, knn: DataFrame): DataFrame = {
    val brute = queries("embed_knn_brute")(s, dir)
      .select(col("query_id"), col("neighbor_id"))
    val approx = knn
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    brute.join(approx, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(round(sum(coalesce(col("hit"), lit(0L))).cast("double") / K, 6)
        .as("recall_at_k"))
  }

  private def recallVsBrute(knn: String): (SparkSession, String) => DataFrame =
    (s, dir) => recallOfFrame(s, dir, queries(knn)(s, dir))

  /** The rotated-PQ kNN frame `(query_id, neighbor_id, pq_dist, rank)` —
    * spec surface (OpqSpec) and the source the embed_opq_knn/_recall
    * CERTIFICATE queries derive their DuckDB-checkable booleans from.
    */
  private[graft] def opqKnnFrame(s: SparkSession, dir: String): DataFrame =
    pqKnnOver(opqRotate(s, dir))

  /** Per-query recall@K of the rotated-PQ ranking — spec surface. */
  private[graft] def opqRecallFrame(s: SparkSession, dir: String): DataFrame =
    recallOfFrame(s, dir, opqKnnFrame(s, dir))

  /** Bounded per-query top-k on `ordCol` DESC (ties by neighbor_id
    * ascending) via [[graft.functions.TopKStructs]]: at most 2k rows per
    * query survive the map side and cross the shuffle, where the
    * rank-window form sorts (and shuffles) every query's FULL candidate
    * set — for brute-force kNN that is the entire corpus per query.
    * Output: query_id, neighbor_id, extras, ordCol, rank.
    */
  private def topKPerQuery(scored: DataFrame, ordCol: String, k: Int,
                           extra: Seq[String] = Nil): DataFrame = {
    import graft.functions.TopKStructs.top_k_structs
    val fields = (-col(ordCol)).as("__neg") +: col("neighbor_id") +:
      (extra.map(col) :+ col(ordCol).as(ordCol))
    scored.groupBy("query_id")
      .agg(top_k_structs(struct(fields: _*), k).as("__top"))
      .select(col("query_id"), posexplode(col("__top")))
      .select(col("query_id") +: col("col.neighbor_id").as("neighbor_id") +:
        (extra.map(c => col(s"col.$c").as(c)) :+ col(s"col.$ordCol").as(ordCol) :+
          (col("pos") + 1).cast("long").as("rank")): _*)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Embedding-table health audit (the pre-flight check before any ANN
    // build): per label, vector count, zero-norm count (would divide by
    // zero in cosine), and the norm range/mean. One keyed agg, partials
    // collapse map-side — a single pass at any corpus size.
    "embed_norm_stats" -> { (s, dir) =>
      withNorm(emb(s, dir))
        .groupBy("label")
        .agg(
          count(lit(1)).as("n_vecs"),
          sum(when(col("nrm") === 0.0, 1L).otherwise(0L)).as("n_zero"),
          round(min("nrm"), 6).as("min_norm"),
          round(max("nrm"), 6).as("max_norm"),
          // exact-decimal mean (ExactStats): cross-engine ulp-stable
          ExactStats.meanExact6(col("nrm"), count(lit(1))).as("avg_norm"))
    },

    // Brute-force cosine top-k: broadcast the query vectors, one pass over
    // the corpus, bounded per-query top-k (no corpus-sized rank window).
    "embed_knn_brute" -> { (s, dir) =>
      val e = withNorm(embFanned(s, dir))
      val q = e.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
      val scored = e
        .join(broadcast(q), col("vec_id") =!= col("query_id"))
        .select(
          col("query_id"),
          col("vec_id").as("neighbor_id"),
          round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6).as("cosine")
        )
      topKPerQuery(scored, "cosine", K)
    },

    // Embedding near-duplicate pairs: candidate pairs only within the same
    // coarse cell (label), exact cosine verification — the embedding-space
    // analog of LSH-blocked dedup.
    "embed_neardup_cosine" -> { (s, dir) =>
      cellPairs(withNorm(emb(s, dir)), "neardup_cell_cap")
        .filter(col("cosine") >= 0.5)
    },

    // Random-hyperplane LSH near-dup pairs (Charikar's sign-of-projection
    // family): a 16-bit signature per vector from ONE native pass over
    // literal dyadic-rational hyperplanes, banded 4×4 bits so candidate
    // pairs share a (band, bits) key — an equality shuffle join over the
    // corpus with NO label/cell prerequisite, the embedding-space analog
    // of the text SimHash blocking. Exact cosine verification after.
    "embed_rp_lsh_neardup" -> ((s, dir) => rpLshPairs(withNorm(emb(s, dir)))),

    // The SCALED band geometry (8 bands × 8 bits — what rpParams picks
    // once the corpus outgrows the 4×4 legacy shape) forced at gate
    // scale, so the wide-band engine path AND its oracle mirror are
    // exact-checked by the driver even though the gate corpus is small.
    "embed_rp_lsh_wide" -> ((s, dir) =>
      rpLshPairs(withNorm(emb(s, dir)), params = Some((8, 8)))),

    // RECALL AUDIT of the scaled banding: fraction of the brute-force
    // truth pairs (all C(n,2), rounded cosine ≥ threshold) the wide
    // (8, 8) geometry recovers, per threshold. Deliberately quadratic —
    // an audit you run at sample scale to certify the production
    // banding, never on the full corpus (the lm_quality_buckets_exact
    // pattern). Both counts share the rounded-cosine basis so
    // found ⊆ truth holds exactly.
    "embed_rp_lsh_recall" -> { (s, dir) =>
      val e = withNorm(embFanned(s, dir))
      val found = rpLshPairs(e, params = Some((8, 8))).select("cosine")
      val truth = e.select(col("vec_id").as("ia"), col("v").as("va"), col("nrm").as("na"))
        .join(e.select(col("vec_id").as("ib"), col("v").as("vb"), col("nrm").as("nb")),
          col("ia") < col("ib"))
        .select(round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6).as("cosine"))
      def byTh(df: DataFrame, cnt: String): DataFrame = df
        .select(explode(array(RpRecallThresholds.map(lit): _*)).as("threshold"), col("cosine"))
        .filter(col("cosine") >= col("threshold"))
        .groupBy("threshold").agg(count(lit(1)).as(cnt))
      byTh(truth, "n_true").join(byTh(found, "n_found"), Seq("threshold"), "left")
        .select(col("threshold"), col("n_true"),
          coalesce(col("n_found"), lit(0L)).as("n_found"),
          (coalesce(col("n_found"), lit(0L)).cast("double") /
            col("n_true").cast("double")).as("recall"))
    },

    // Duplicate GROUPS in embedding space: connected components (the
    // same large-star/small-star engine as dedup_clusters) over the
    // RP-LSH verified pairs — the embedding-side canonical-group step.
    "embed_dup_clusters" -> { (s, dir) =>
      val pairs = rpLshPairs(withNorm(embFanned(s, dir))).select("vec_a", "vec_b")
      graft.operators.ConnectedComponents.labels(pairs)._1
        .select(col("id").as("vec_id"), col("label").as("cluster_id"))
    },

    // IVF coarse step: per-label centroid (element-wise mean).
    "embed_centroids" -> ((s, dir) =>
      embFanned(s, dir)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "e")))
        .groupBy("label", "pos")
        // exact-decimal mean (ExactStats): cross-engine ulp-stable
        .agg(ExactStats.meanExact6(col("e").cast("double"),
          count(lit(1))).as("centroid"))
        .select(col("label"), col("pos").cast("long").as("pos"), col("centroid"))),

    // k-means IVF at FULL probe (nProbe = k) — the trained-quantizer scale
    // path driven end-to-end (Lloyd's training, cell assignment,
    // multi-probe cell selection, per-cell scoring) under an EXACT oracle:
    // probing every cell must reproduce brute-force top-k bit-for-bit, so
    // the whole k-means pipeline is hash-checked against the brute SQL
    // without DuckDB reproducing float iteration. The rank window runs on
    // the ROUNDED cosine so ties break exactly as in the oracle. The
    // nProbe<k pruning trade is measured by embed_ivf_recall and
    // VectorIndexSpec's partial-probe recall floor.
    "embed_ivf_kmeans_knn" -> { (s, dir) =>
      import graft.operators.VectorIndex
      val vecs   = VectorIndex.vectors(Graft.embeddings(s, dir))
      val cents  = VectorIndex.trainCentroids(vecs, k = 8, iters = 3)
      val corpus = VectorIndex.assign(vecs, cents)
      topKPerQuery(
        VectorIndex.search(corpus, cents,
          vecs.filter(col("vec_id") < NumQueries),
          topK = Int.MaxValue, nProbe = 8)
          .select(col("query_id"), col("neighbor_id"),
            round(col("cosine"), 6).as("cosine")),
        "cosine", K)
    },

    // ANN quality measurement: recall@k of the IVF probe against the exact
    // brute-force top-k — "measure, don't guess" for the pruning trade.
    // Both sides are existing verified queries; one semi-join + one small
    // aggregate on top.
    // The ANN TUNING CURVE: mean recall@k at nProbe ∈ {1, 2, 4} from ONE
    // pass — each query's probed-cell row fans out map-side to every
    // probe level it belongs to (crank ≤ p), so the corpus is scored once
    // per (query, cell), not once per probe level. The recall/latency
    // trade this curve quantifies is THE serving decision at 100 TB.
    "embed_ivf_recall_curve" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val probeLevels = Seq(1, 2, 4)
      val e = withNorm(emb(s, dir))
      val cents = e
        .select(col("label"), posexplode(col("v")).as(Seq("pos", "e")))
        .groupBy("label", "pos")
        .agg(avg("e").as("c"))
        .groupBy("label")
        .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
        .select(col("label").as("c_label"), transform(col("pc"), _.getField("c")).as("cv"))
        .withColumn("cn", l2_norm(col("cv")))
      val q = e.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
      val assignW = Window.partitionBy("query_id")
        .orderBy(col("ccos").desc, col("c_label"))
      val probed = q
        .crossJoin(broadcast(cents))
        .withColumn("ccos", round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6))
        .withColumn("crank", row_number().over(assignW))
        .filter(col("crank") <= probeLevels.max)
        .select(col("query_id"), col("qv"), col("qn"), col("c_label").as("cell"),
          col("crank"))
      // score each (query, cell) ONCE, then fan the cheap scored rows out
      // to the probe levels the cell's rank belongs to
      val scored = probed
        .join(e.select(col("label"), col("vec_id").as("neighbor_id"),
          col("v").as("nv"), col("nrm").as("nn")),
          col("label") === col("cell") && col("neighbor_id") =!= col("query_id"))
        .select(col("crank"), col("query_id"), col("neighbor_id"),
          round(dot(col("qv"), col("nv")) / (col("qn") * col("nn")), 6).as("cosine"))
        .select(col("query_id"), col("neighbor_id"), col("cosine"),
          explode(filter(
            array(probeLevels.map(p => lit(p)): _*), pp => pp >= col("crank"))).as("p"))
      val topW = Window.partitionBy("p", "query_id")
        .orderBy(col("cosine").desc, col("neighbor_id"))
      val topk = scored.withColumn("rnk", row_number().over(topW))
        .filter(col("rnk") <= K)
        .select(col("p"), col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
      queries("embed_knn_brute")(s, dir)
        .select(col("query_id"), col("neighbor_id"),
          explode(array(probeLevels.map(p => lit(p)): _*)).as("p"))
        .join(topk, Seq("p", "query_id", "neighbor_id"), "left")
        .groupBy("p")
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
        .select(col("p").cast("long").as("n_probe"), col("n_hits"),
          round(col("n_hits").cast("double") / (K * NumQueries), 6).as("mean_recall"))
    },

    "embed_ivf_recall" -> { (s, dir) =>
      val brute = queries("embed_knn_brute")(s, dir)
        .select(col("query_id"), col("neighbor_id"))
      val ivf = queries("embed_ivf_knn")(s, dir)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
      brute.join(ivf, Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(round(sum(coalesce(col("hit"), lit(0L))).cast("double") / K, 6)
          .as("recall_at_k"))
    },

    // Persisted bucketed IVF index: the corpus is materialized ONCE
    // bucketed by cell; the probe reads only the probed cells' buckets
    // and joins broadcast queries with zero corpus-side Exchange — the
    // serving shape where index build cost amortizes over query runs
    // (see [[graft.operators.IvfIndex]]; plan-level no-Exchange +
    // bucket-pruning assertions in IvfIndexSpec). Same cell rule as
    // embed_ivf_knn, so it shares that oracle.
    "embed_ivf_knn_bucketed" -> { (s, dir) =>
      import graft.operators.IvfIndex
      val e = withNorm(emb(s, dir))
      IvfIndex.build(s, e, "graft_ivf_index", buckets = 8)
      val q = e.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
      IvfIndex.probe(s, "graft_ivf_index", IvfIndex.labelCentroids(e),
        q, topK = K, nProbe = 1)
    },

    // SemDeDup (Abbas et al. 2023): semantic dedup in embedding space —
    // within each coarse cell, near-dup pairs by exact cosine; connected
    // components over the pairs; every non-canonical member (id ≠ its
    // component's min id) is dropped. Candidates never leave their cell,
    // so the pair join is cell-keyed, and the CC engine is the same
    // large-star/small-star used for text clusters.
    "semdedup_drop" -> { (s, dir) =>
      val pairs = cellPairs(withNorm(embFanned(s, dir)), "semdedup_cell_cap")
        .filter(col("cosine") >= 0.5)
        .select("vec_a", "vec_b")
      graft.operators.ConnectedComponents.labels(pairs)._1
        .filter(col("id") =!= col("label"))
        .select(col("id").as("vec_id"), col("label").as("cluster_id"))
    },

    // Scalar-quantized (SQ8) kNN — the 4×-memory scale shape for a 100 TB
    // corpus: per-dimension min/max (one keyed agg, 64 rows → broadcast),
    // each component quantized to an integer code in [0,255], ranking on
    // the cosine of the CODE vectors. All dot products are sums of
    // products of ints ≤ 255² — exactly representable in doubles in any
    // summation order, so the quantized scores are bit-deterministic.
    // Quantization quality vs exact is measured by embed_sq8_recall.
    "embed_sq8_knn" -> { (s, dir) =>
      val coded = sq8Codes(embFanned(s, dir))
      val q = coded.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("cq").as("qc"), col("nrm").as("qn"))
      topKPerQuery(
        coded.join(broadcast(q), col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id").as("neighbor_id"),
            round(dot(col("qc"), col("cq")) / (col("qn") * col("nrm")), 6).as("qcos")),
        "qcos", K)
    },

    // recall@k of the SQ8 ranking against exact brute force — measures
    // what the 4× compression costs, per query.
    "embed_sq8_recall" -> recallVsBrute("embed_sq8_knn"),

    // Product quantization (PQ) kNN — the canonical high-compression ANN
    // shape at 100 TB (Jégou et al., IVF-ADC): 64-d vectors split into
    // M=8 subspaces, each encoded as the argmin over a 16-entry
    // per-subspace codebook → 8 bytes/vector (32× vs float32). The
    // codebook is a DETERMINISTIC sample (subvectors of vec_ids 0..15 —
    // the standard k-means seeding step, stopped before iteration so the
    // oracle can mirror it exactly, the embed_sq8 determinism pattern).
    // Scale shape: the one-row codebook broadcasts; corpus encoding is a
    // pure per-row expression (no shuffle); queries broadcast with their
    // per-subspace lookup tables; ranking uses asymmetric distance (ADC)
    // summed in fixed m-order so both engines fold identically; bounded
    // top-k. The compression cost is measured by embed_pq_recall.
    "embed_pq_knn" -> ((s, dir) => pqKnnOver(withNorm(embFanned(s, dir)))),

    // OPQ-style rotated PQ: the SAME product quantizer run in the
    // PCA-rotated frame y = V(x−μ). V is orthonormal, so L2 geometry is
    // EXACTLY preserved — only the subspace split changes, now cutting
    // along decorrelated axes (the optimized-PQ idea, with the PCA
    // rotation as the closed-form solver; Ge et al.'s OPQ initializer).
    // Rotation is one literal-matrix MatVec per row (codegen'd, no
    // shuffle); everything downstream is the embed_pq_knn plan verbatim.
    // The rotation matrix isn't SQL-expressible, so the QUERY emits
    // per-query INVARIANT CERTIFICATES the oracle recomputes as
    // constants (the approx_distinct_error pattern): exactly
    // min(K, N−1) neighbors returned, all distinct, never the query
    // itself, ADC distances nondecreasing in rank. A structural slip
    // anywhere in the rotate→encode→rank chain (dropped neighbor,
    // duplicate, unsorted ranking) flips a boolean and fails the hash
    // gate; ranking QUALITY is certified by embed_opq_recall below and
    // the raw frame stays spec-checked (OpqSpec, [[opqKnnFrame]]).
    "embed_opq_knn" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("query_id").orderBy("rank")
      val per = opqKnnFrame(s, dir)
        .withColumn("prev", lag(col("pq_dist"), 1).over(w))
        .groupBy("query_id")
        .agg(
          count(lit(1)).as("n_neighbors"),
          (countDistinct(col("neighbor_id")) === count(lit(1)))
            .as("neighbors_distinct"),
          min(coalesce(col("pq_dist") >= col("prev") - lit(1e-9), lit(true)))
            .as("dists_sorted"),
          min(col("neighbor_id") =!= col("query_id")).as("self_excluded"))
      // derive the row set from the QUERY side so a query with zero
      // neighbors (single-vector corpus) still certifies vacuously true
      embFanned(s, dir).filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"))
        .join(per, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_neighbors"), lit(0L)).as("n_neighbors"),
          coalesce(col("neighbors_distinct"), lit(true)).as("neighbors_distinct"),
          coalesce(col("dists_sorted"), lit(true)).as("dists_sorted"),
          coalesce(col("self_excluded"), lit(true)).as("self_excluded"))
    },

    // Rotated-PQ ranking QUALITY certificate: per-query recall@k vs exact
    // brute force is in [0,1]. STRUCTURAL invariants only — the oracle
    // recomputes the boolean as a constant (the recall VALUES depend on
    // the rotation and aren't SQL-expressible). The mean-recall-vs-raw-PQ
    // comparison is a data-dependent statistical claim, NOT a theorem
    // (a corpus where the PCA rotation legitimately underperforms would
    // hash-fail with both engines correct), so it lives in OpqSpec as a
    // fixture regression guard; raw per-query recalls stay spec-checked
    // via [[opqRecallFrame]]. Single evaluation — no means crossJoin, so
    // the brute-force kNN join under the frame runs once.
    "embed_opq_recall" -> { (s, dir) =>
      opqRecallFrame(s, dir)
        .select(col("query_id"),
          (col("recall_at_k") >= 0.0 && col("recall_at_k") <= 1.0)
            .as("recall_in_range"))
    },

    // IVF-PQ — the full production ANN serving composition (coarse cell
    // probe × compressed in-cell ranking): each query probes its nearest
    // label-centroid cell (the embed_ivf_knn rule) and ranks ONLY that
    // cell's members by PQ asymmetric distance. At 100 TB this is the
    // shape that bounds both scan (cell pruning) and memory (8-byte
    // codes); here both constituents and their composition are
    // oracle-checked end to end.
    "embed_ivfpq_knn" -> { (s, dir) =>
      val e     = withNorm(embFanned(s, dir))
      val cents = graft.operators.IvfIndex.labelCentroids(e)
      val qd = e.filter(col("vec_id") < NumQueries)
        .crossJoin(broadcast(pqCodebook(e)))
        .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"),
          transform(sequence(lit(0), lit(PqM - 1)), m =>
            transform(element_at(col("cb"), m + 1),
              e0 => pqL2sq(slice(col("v"), m * lit(PqDs) + lit(1), lit(PqDs)),
                e0.getField("c"))))
            .as("qd"))
      import org.apache.spark.sql.expressions.Window
      val assignW = Window.partitionBy("query_id")
        .orderBy(col("ccos").desc, col("c_label"))
      val assigned = qd.crossJoin(broadcast(cents))
        .withColumn("ccos", round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6))
        .withColumn("crank", row_number().over(assignW))
        .filter(col("crank") === 1)
        .select(col("query_id"), col("qd"), col("c_label").as("cell"))
      val scored = pqCodes(e)
        .join(broadcast(assigned),
          col("label") === col("cell") && col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("cell").cast("int").as("cell"),
          col("vec_id").as("neighbor_id"),
          round(aggregate(sequence(lit(0), lit(PqM - 1)), lit(0.0),
            (acc, m) => acc + element_at(element_at(col("qd"), m + 1),
              element_at(col("codes"), m + 1) + 1)), 6).as("pq_dist"))
      topKPerQuery(scored.withColumn("negd", -col("pq_dist")),
        "negd", K, extra = Seq("cell", "pq_dist"))
        .select(col("query_id"), col("cell"), col("neighbor_id"),
          col("pq_dist"), col("rank"))
    },

    // recall@k of the PQ ranking against exact brute force — what the
    // 32× compression costs, per query (the sq8_recall pattern).
    "embed_pq_recall" -> recallVsBrute("embed_pq_knn"),

    // IVF probe: assign each query to its nearest centroid cell, then exact
    // top-k only within that cell (corpus scan pruned by cell).
    "embed_ivf_knn" -> { (s, dir) =>
      val e = withNorm(emb(s, dir))
      val cents = e
        .select(col("label"), posexplode(col("v")).as(Seq("pos", "e")))
        .groupBy("label", "pos")
        .agg(avg("e").as("c"))
        .groupBy("label")
        .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
        .select(col("label").as("c_label"), transform(col("pc"), _.getField("c")).as("cv"))
        .withColumn("cn", l2_norm(col("cv")))
      val q = e.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
      import org.apache.spark.sql.expressions.Window
      val assignW = Window.partitionBy("query_id")
        .orderBy(col("ccos").desc, col("c_label"))
      val assigned = q
        .crossJoin(broadcast(cents))
        .withColumn("ccos", round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6))
        .withColumn("crank", row_number().over(assignW))
        .filter(col("crank") === 1)
        .select(col("query_id"), col("qv"), col("qn"), col("c_label").as("cell"))
      topKPerQuery(
        e.join(broadcast(assigned),
          col("label") === col("cell") && col("vec_id") =!= col("query_id"))
          .select(
            col("query_id"),
            col("cell").cast("int").as("cell"),
            col("vec_id").as("neighbor_id"),
            round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6).as("cosine")
          ),
        "cosine", K, extra = Seq("cell"))
        // original column order — IvfIndexSpec compares positionally
        .select("query_id", "cell", "neighbor_id", "cosine", "rank")
    },

    // Cluster-balanced corpus sampling — the data-mixing draw over
    // SEMANTIC cells instead of metadata strata (sample_stratified's
    // source column): every vector is assigned to its nearest label
    // centroid (same rounded-cosine cell rule as embed_ivf_knn, so the
    // oracle reuses that CTE), then each cell contributes a fixed budget
    // in deterministic md5 order — the curriculum/mixing step that keeps
    // a dominant cluster from swamping the sample. Assignment is ONE
    // partially-aggregated slim shuffle (TopKStructs k=1 — no per-vector
    // rank window over the crossJoin), the draw one keyed window.
    "embed_cluster_sample" -> { (s, dir) =>
      // two consumers (centroid build + the scored cross join) — run the
      // scan + widening + l2_norm pipeline once
      val e = Reuse.lineageCut(withNorm(emb(s, dir)))
      val cents = e
        .select(col("label"), posexplode(col("v")).as(Seq("pos", "e")))
        .groupBy("label", "pos")
        .agg(avg("e").as("c"))
        .groupBy("label")
        .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
        .select(col("label").as("c_label"), transform(col("pc"), _.getField("c")).as("cv"))
        .withColumn("cn", l2_norm(col("cv")))
      val scored = e
        .crossJoin(broadcast(cents))
        .select(col("vec_id").as("query_id"), col("c_label").as("neighbor_id"),
          round(dot(col("v"), col("cv")) / (col("nrm") * col("cn")), 6).as("ccos"))
      val assigned = topKPerQuery(scored, "ccos", 1)
        .select(col("query_id").as("vec_id"), col("neighbor_id").cast("int").as("cell"))
      // bounded draw: O(budget) per cell through partial/shuffle/merge
      // (the TopKStructs shape) — a rank window here would sort every
      // cell's ENTIRE membership to keep 10 rows
      import graft.functions.TopKStructs.top_k_structs
      assigned
        .groupBy("cell")
        .agg(top_k_structs(
          struct(md5(col("vec_id").cast("string")).as("ord"), col("vec_id")), 10)
          .as("__top"))
        .select(col("cell"), posexplode(col("__top")))
        .select(col("col.vec_id").as("vec_id"), col("cell"),
          (col("pos") + 1).cast("long").as("pick"))
    },

    // Matryoshka truncation search (Kusupati et al. 2022, MRL): rank with
    // only the FIRST MrlDim of 64 dims — the nested-representation serving
    // trade (2× less scan bandwidth per vector, re-rankable later with the
    // tail dims). Same broadcast-queries + one-corpus-pass shape as
    // embed_knn_brute; the slice happens before the norm so only the
    // short vector rides the scan.
    "embed_matryoshka_knn" -> { (s, dir) =>
      val t = emb(s, dir).select(col("vec_id"),
          transform(slice(col("embedding"), 1, MrlDim), _.cast("double")).as("tv"))
        .withColumn("tn", l2_norm(col("tv")))
      val q = t.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("tv").as("qv"), col("tn").as("qn"))
      val scored = t.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          round(dot(col("qv"), col("tv")) / (col("qn") * col("tn")), 6).as("mcos"))
      topKPerQuery(scored, "mcos", K)
    },

    // recall@k of the truncated-dimension ranking vs full-dim exact — what
    // dropping the tail 32 dims costs, per query (the sq8_recall pattern).
    "embed_matryoshka_recall" -> { (s, dir) =>
      val brute = queries("embed_knn_brute")(s, dir)
        .select(col("query_id"), col("neighbor_id"))
      val m = queries("embed_matryoshka_knn")(s, dir)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
      brute.join(m, Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(round(sum(coalesce(col("hit"), lit(0L))).cast("double") / K, 6)
          .as("recall_at_k"))
    },

    // Two-stage retrieval: shortlist RerankPool candidates per query with
    // the cheap truncated-dim scan, then re-rank ONLY the shortlist with
    // full-dimension cosine — the production serving composition (the
    // corpus pass touches 32 dims; all 64 are fetched for 4k rows/query
    // at most, never for the corpus). Both stages are bounded TopKStructs
    // aggregates; the full vectors re-attach to the shortlist through one
    // keyed join on slim (query_id, neighbor_id) candidates.
    "embed_mrl_rerank_knn" -> { (s, dir) =>
      val e = Reuse.lineageCut(withNorm(emb(s, dir)))
      val t = e.select(col("vec_id"), slice(col("v"), 1, MrlDim).as("tv"))
        .withColumn("tn", l2_norm(col("tv")))
      val q = t.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("tv").as("qv"), col("tn").as("qn"))
      val shortlist = topKPerQuery(
        t.join(broadcast(q), col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id").as("neighbor_id"),
            round(dot(col("qv"), col("tv")) / (col("qn") * col("tn")), 6).as("mcos")),
        "mcos", RerankPool)
        .select(col("query_id"), col("neighbor_id"))
      val qf = e.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("v").as("fqv"), col("nrm").as("fqn"))
      val rescored = shortlist
        .join(e.select(col("vec_id").as("neighbor_id"),
          col("v").as("nv"), col("nrm").as("nn")), "neighbor_id")
        .join(broadcast(qf), "query_id")
        .select(col("query_id"), col("neighbor_id"),
          round(dot(col("fqv"), col("nv")) / (col("fqn") * col("nn")), 6).as("cosine"))
      topKPerQuery(rescored, "cosine", K)
    },

    // Semantic outlier DROP-LIST (the row-level actionable companion of
    // the aggregate cluster-quality audit): vectors whose cosine to their
    // own label centroid falls below 0.5 — corrupt or mislabeled
    // embeddings a pipeline filters before ANN builds. Broadcast
    // centroids, one corpus pass.
    "embed_ood_outliers" -> { (s, dir) =>
      val e = withNorm(emb(s, dir))
      val cents = e
        .select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("label", "pos")
        .agg(avg("x").as("c"))
        .groupBy("label")
        .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
        .select(col("label").as("cl"), transform(col("pc"), _.getField("c")).as("cv"))
        .withColumn("cn", l2_norm(col("cv")))
      e.join(broadcast(cents), col("label") === col("cl"))
        .select(col("vec_id"), col("label"),
          round(dot(col("v"), col("cv")) / (col("nrm") * col("cn")), 6).as("cos_centroid"))
        .filter(col("cos_centroid") < 0.5)
    },

    // Index-health audit for the IVF cell layout: per-cell population and
    // cohesion (mean/min rounded cosine to the cell centroid). Centroids
    // broadcast (k×d doubles); the corpus is scored in one pass; the
    // per-cell mean folds round-6 decimals so it is order-independent.
    // The operational readout that says when cells need re-clustering.
    "embed_cluster_quality" -> { (s, dir) =>
      val e = withNorm(emb(s, dir))
      val cents = e
        .select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("label", "pos")
        .agg(avg("x").as("c"))
        .groupBy("label")
        .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
        .select(col("label").as("cl"), transform(col("pc"), _.getField("c")).as("cv"))
        .withColumn("cn", l2_norm(col("cv")))
      e.join(broadcast(cents), col("label") === col("cl"))
        .select(col("label"),
          round(dot(col("v"), col("cv")) / (col("nrm") * col("cn")), 6).as("cos"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          round(sum(col("cos").cast("decimal(22,6)")).cast("double") / count(lit(1)), 6)
            .as("mean_cos"),
          min("cos").as("min_cos"))
    },

    // recall@k of the two-stage ranking vs single-stage full-dim exact:
    // what the shortlist bound costs after re-ranking (it can only miss a
    // true neighbor the truncated stage dropped from the pool).
    "embed_mrl_rerank_recall" -> { (s, dir) =>
      val brute = queries("embed_knn_brute")(s, dir)
        .select(col("query_id"), col("neighbor_id"))
      val rr = queries("embed_mrl_rerank_knn")(s, dir)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
      brute.join(rr, Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(round(sum(coalesce(col("hit"), lit(0L))).cast("double") / K, 6)
          .as("recall_at_k"))
    },

    // k-NN GRAPH construction (the backbone of graph-based semantic
    // dedup / diversity sampling): every vector's top-GraphK neighbors
    // WITHIN ITS COARSE CELL by exact cosine, plus the mutuality flag
    // (is the edge reciprocated — mutual-kNN edges are the standard
    // graph-clustering input). At 100 TB a kNN graph is always built
    // cell-blocked (the all-pairs graph is quadratic); candidates come
    // from the same slim-key capped pair machinery as every LSH family
    // (each pair's cosine computed ONCE, then mined in both directions),
    // and the per-vector top-k is the bounded TopKStructs shape — no
    // cell-sized rank window. The mutuality self-join runs on the tiny
    // (n·k)-row edge frame.
    "embed_knn_graph" -> { (s, dir) =>
      // each unordered pair's cosine is computed once and exploded into
      // both directed rows INLINE — the within-cell pair stream is the
      // one quadratic frame in this family, so it must never
      // materialize (a pin here is 2B rows at 100×); exploded
      // rows flow straight into topKPerQuery's map-side partial
      // aggregation, which bounds the shuffle at O(k) per query
      val pairs = cellPairs(withNorm(embFanned(s, dir)), "knn_graph_cap")
      val directed = pairs
        .select(explode(array(
          struct(col("vec_a").as("query_id"), col("vec_b").as("neighbor_id"),
            col("cosine")),
          struct(col("vec_b").as("query_id"), col("vec_a").as("neighbor_id"),
            col("cosine")))).as("e"))
        .select("e.*")
      val edges = topKPerQuery(directed, "cosine", GraphK)
        .select(col("query_id").as("vec_id"), col("neighbor_id").as("nbr_id"),
          col("cosine"), col("rank"))
        .transform(Reuse.lineageCut(_)) // feeds both sides of the mutuality join
      edges
        .join(edges.select(col("vec_id").as("nbr_id"), col("nbr_id").as("vec_id"),
          lit(1L).as("__m")), Seq("vec_id", "nbr_id"), "left")
        .select(col("vec_id"), col("nbr_id"), col("cosine"), col("rank"),
          col("__m").isNotNull.as("mutual"))
    },

    // Embedding-space DECONTAMINATION (the semantic complement of the
    // n-gram `decontaminate` family): a deterministic held-out benchmark
    // set (vec_id ≡ 0 mod DecontamMod), and for every remaining corpus
    // vector its nearest bench neighbor by exact cosine — flagged when
    // the similarity crosses the release threshold. The bench set is
    // tiny by construction and broadcasts; the corpus streams through
    // ONE scored pass with a bounded top-1 (TopKStructs) — the exact
    // shape this runs at 100 TB, where bench = the eval suites.
    "embed_decontaminate" -> { (s, dir) =>
      // bench + corpus split from one scan/widen/norm pass
      val e = Reuse.lineageCut(withNorm(emb(s, dir)))
      val bench = e.filter(col("vec_id") % DecontamMod === 0)
        .select(col("vec_id").as("neighbor_id"), col("v").as("bv"),
          col("nrm").as("bn"))
      val scored = e.filter(col("vec_id") % DecontamMod =!= 0)
        .crossJoin(broadcast(bench))
        .select(col("vec_id").as("query_id"), col("neighbor_id"),
          round(dot(col("v"), col("bv")) / (col("nrm") * col("bn")), 6)
            .as("cosine"))
      topKPerQuery(scored, "cosine", 1)
        .select(col("query_id").as("vec_id"), col("neighbor_id").as("bench_id"),
          col("cosine"), (col("cosine") >= DecontamThresh).as("contaminated"),
          col("rank"))
    },

    // Per-dimension variance audit (the PCA/OPQ pre-flight): mean,
    // population variance, and share of total variance per embedding
    // dimension — the readout that says whether Matryoshka truncation or
    // a PQ subspace split is leaving variance on the floor. One
    // posexplode + one 64-row keyed agg; the totals frame is one row and
    // broadcasts back.
    "embed_dim_variance" -> { (s, dir) =>
      val dims = emb(s, dir)
        .select(posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy("pos")
        .agg(avg(col("x").cast("double")).as("mean"),
          var_pop(col("x").cast("double")).as("vr"))
      dims.crossJoin(broadcast(dims.agg(sum("vr").as("tv"))))
        .select(col("pos").cast("long").as("pos"), round(col("mean"), 6).as("mean"),
          round(col("vr"), 6).as("variance"),
          round(col("vr") / col("tv"), 6).as("var_share"))
    },

    // Label-vs-nearest-centroid confusion matrix — the label-noise audit:
    // if the labels mean anything geometrically, most vectors sit nearest
    // their OWN label's centroid; off-diagonal mass localizes mislabeled
    // or entangled classes. Broadcast k centroids, one corpus pass, a
    // per-vector k-row window (partitioned — never global), then a k×k
    // agg with row-normalized shares. Zero-norm vectors are excluded
    // (cosine undefined — they're embed_norm_stats' problem).
    "embed_label_confusion" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      // centroids come from the UNFILTERED corpus (the oracle's cb CTE
      // averages over ALL embeddings); the nrm > 0 filter applies only
      // to the assignment side, where cosine needs a nonzero norm
      val all = withNorm(emb(s, dir))
      val e = all.filter(col("nrm") > 0.0)
      val w = Window.partitionBy("vec_id").orderBy(col("ccos").desc, col("c_label"))
      val shareW = Window.partitionBy("label")
      e.crossJoin(broadcast(graft.operators.IvfIndex.labelCentroids(all)))
        .withColumn("ccos",
          round(dot(col("v"), col("cv")) / (col("nrm") * col("cn")), 6))
        .withColumn("crank", row_number().over(w))
        .filter(col("crank") === 1)
        .groupBy(col("label"), col("c_label").as("predicted_label"))
        .agg(count(lit(1)).as("n_vecs"))
        .withColumn("share",
          round(col("n_vecs").cast("double") / sum("n_vecs").over(shareW), 6))
    },

    // Full covariance matrix of the embedding space from ONE distributed
    // sufficient-statistics pass ([[graft.functions.VectorMomentsAgg]]:
    // fixed 17 KB mergeable state — no d²-row explode of the corpus, no
    // pair shuffle); only the moments buffer reaches the driver, where
    // the d(d+1)/2 upper-triangle entries expand to rows. The PCA input.
    "embed_covariance" -> { (s, dir) =>
      import s.implicits._
      val d = EmbDim
      // empty corpus → empty result (matching the oracle's empty join),
      // not 2080 NaN rows from a 0/0
      val rows = pcaBasis(s, dir) match {
        case None => Seq.empty[(Long, Long, Double)]
        case Some((_, cov, _, _)) => // ONE formula, shared with PCA
          for { i <- 0 until d; j <- i until d } yield (i.toLong, j.toLong,
            BigDecimal(cov(i)(j)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
              .toDouble) // HALF_UP = the engines' round(x, 6)
      }
      rows.toDF("i", "j", "cov")
    },

    // PCA of the embedding space: the same single moments pass, then a
    // 64×64 cyclic-Jacobi eigendecomposition on the driver (O(d³) on a
    // fixed-size matrix — microseconds, corpus-size-independent; see
    // [[graft.operators.Pca]]). Eigenvalues aren't SQL-expressible, so
    // the QUERY emits the eigendecomposition's INVARIANT CERTIFICATES —
    // booleans the oracle recomputes as constants (the
    // approx_distinct_error pattern): per component λ ≥ 0 (PSD input),
    // λ nonincreasing, residual ‖C·v − λv‖∞ small, cumulative mass
    // ≤ trace; plus the whole-basis facts Σλ = trace and VᵀV = I. A
    // wrong eigensolver fails the hash gate; the raw report frame
    // (eigenvalue, explained ratio, top loading) stays spec-checked
    // via [[pcaTopkFrame]] (PcaSpec planted spectra).
    "embed_pca_topk" -> { (s, dir) =>
      import s.implicits._
      val d = EmbDim
      val rows = pcaBasis(s, dir) match {
        case None => Seq.empty[(Long, Boolean, Boolean, Boolean, Boolean, Boolean, Boolean)]
        case Some((_, cov, ev, vecs)) =>
          val trace  = (0 until d).map(i => cov(i)(i)).sum
          val covMag = math.max(1.0, cov.map(_.map(math.abs).max).max)
          val sumOk  = math.abs(ev.sum - trace) <= 1e-8 * math.max(1.0, math.abs(trace))
          val orthoOk = (0 until d).forall { a =>
            (a until d).forall { b =>
              val dot = (0 until d).map(i => vecs(a)(i) * vecs(b)(i)).sum
              math.abs(dot - (if (a == b) 1.0 else 0.0)) <= 1e-8
            }
          }
          var cum = 0.0
          (0 until PcaK).map { c =>
            cum += ev(c)
            val v = vecs(c)
            val residOk = (0 until d).forall { i =>
              val av = (0 until d).map(j => cov(i)(j) * v(j)).sum
              math.abs(av - ev(c) * v(i)) <= 1e-8 * covMag
            }
            (c + 1L,
              ev(c) >= -1e-9 * covMag,
              c == 0 || ev(c) <= ev(c - 1) + 1e-12 * covMag,
              residOk,
              cum <= trace + 1e-8 * math.max(1.0, math.abs(trace)),
              sumOk, orthoOk)
          }
      }
      rows.toDF("component", "ev_nonneg", "ev_desc", "resid_ok",
        "cum_le_trace", "sum_ev_eq_trace", "basis_orthonormal")
    },

    // Whitening audit: transform the corpus by W = Λ^(-1/2)·V (PCA
    // whitening — one affine codegen kernel per row), re-run the SAME
    // moments pass on the whitened vectors, and certify the whitened
    // covariance is the identity within 1e-6 — the one-row readout that
    // gates a whitening transform before it feeds cosine/ANN pipelines.
    // W isn't SQL-expressible, so the QUERY emits the certificate
    // boolean (oracle: constant TRUE) next to the DuckDB-recomputable
    // corpus count; an all-identical corpus (zero spectrum) has nothing
    // to whiten and certifies vacuously true. Raw off-diagonal/diagonal
    // error magnitudes stay spec-checked via [[whitenDiagnostics]].
    "embed_whiten_check" -> { (s, dir) =>
      import s.implicits._
      val rows = whitenDiagnostics(s, dir).map { case (n, kept, off, diag) =>
        (n, kept == 0L || (off < 1e-6 && diag < 1e-6))
      }.toSeq
      rows.toDF("n_vecs", "whitened_ok")
    },

    // Distributed application of the PCA basis — the projections depend
    // on the eigenbasis (not SQL-expressible), so the QUERY certifies
    // the projection PER ROW with booleans the oracle recomputes as
    // constants: the FULL d-component rotation preserves centered energy
    // (Σ_{c≤d} y_c² = ‖x−μ‖², the per-row orthonormality witness — one
    // extra literal-matrix MatVec kernel, still no corpus explode), and
    // the top-k projection energy never exceeds the total. The raw
    // projection frame (pc1..pc4, reconstruction errors) stays
    // spec-checked via [[pcaProjectFrame]] (PcaSpec planted vectors).
    "embed_pca_project" -> { (s, dir) =>
      import graft.functions.VectorExpressions.mat_vec
      import s.implicits._
      val d = EmbDim
      pcaBasis(s, dir) match {
        case None =>
          Seq.empty[(Long, Int, Boolean, Boolean)]
            .toDF("vec_id", "label", "energy_full_ok", "energy_topk_ok")
        case Some((m, _, _, vecs)) =>
          val mu   = graft.functions.VectorMomentsAgg.mean(m, d).toSeq
          val vall = vecs.map(_.toSeq).toSeq
          // Center FIRST (z = x − μ elementwise — exact-ish per Sterbenz,
          // no O(‖x‖²) cancellation), then rotate the centered vector:
          // y = V·z and ‖z‖² are both O(eps·d) relative error regardless
          // of |μ|, so the 1e-6 tolerance holds even on a |μ|≫σ corpus
          // (the uncentered x·x − 2x·μ + μ·μ form lost the certificate
          // to eps·‖x‖² cancellation exactly there).
          val muArr = array(mu.map(lit): _*)
          val withZ = withNorm(emb(s, dir)).select(col("vec_id"), col("label"),
            zip_with(col("v"), muArr, (a, b) => a - b).as("z"))
          val withY = withZ.select(col("vec_id"), col("label"),
            aggregate(col("z"), lit(0.0), (acc, e) => acc + e * e).as("cn2"),
            mat_vec(col("z"), vall).as("y"))
          val cn2 = col("cn2")
          def esum(k: Int) = (0 until k)
            .map(c => {
              val y = element_at(col("y"), c + 1)
              y * y
            })
            .reduce(_ + _)
          val tol = lit(1e-6) * greatest(lit(1.0), cn2)
          withY.select(col("vec_id"), col("label"),
            (abs(esum(d) - cn2) <= tol).as("energy_full_ok"),
            (esum(PcaK) <= cn2 + tol).as("energy_topk_ok"))
      }
    }
  )

  /** Full PCA report frame (component, eigenvalue, explained/cumulative
    * variance ratio, dominant loading) — the analyst-facing readout,
    * spec-verified (PcaSpec planted spectra); the embed_pca_topk QUERY
    * ships this frame's invariants as oracle-checkable certificates.
    */
  private[graft] def pcaTopkFrame(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = EmbDim
    val rows = pcaBasis(s, dir) match {
      case None => Seq.empty[(Long, Double, Double, Double, Long, Double)]
      case Some((_, cov, ev, vecs)) =>
        val trace = (0 until d).map(i => cov(i)(i)).sum
        def r6(x: Double) = math.rint(x * 1e6) / 1e6
        var cum = 0.0
        (0 until PcaK).map { c =>
          cum += ev(c)
          val vec = vecs(c)
          var top = 0
          (1 until d).foreach(i => if (math.abs(vec(i)) > math.abs(vec(top))) top = i)
          (c + 1L, r6(ev(c)), r6(ev(c) / trace), r6(cum / trace),
            top.toLong, r6(vec(top)))
        }
    }
    rows.toDF("component", "eigenvalue", "explained_ratio", "cum_ratio",
      "top_dim", "top_loading")
  }

  /** Whitening diagnostics: Some((n_vecs, kept_components,
    * max_offdiag_abs, max_diag_err)) — None on an empty corpus; a zero
    * spectrum reports kept_components = 0 with zero errors. Spec surface
    * for the embed_whiten_check certificate query.
    */
  private[graft] def whitenDiagnostics(
      s: SparkSession, dir: String): Option[(Long, Long, Double, Double)] = {
    import graft.functions.VectorExpressions.mat_vec_affine
    import graft.functions.VectorMomentsAgg.vector_moments
    val d = EmbDim
    pcaBasis(s, dir).map { case (m0, _, ev, vecs) =>
      val n    = m0(0).toLong
      val mu   = graft.functions.VectorMomentsAgg.mean(m0, d).toSeq
      val keep = ev.indices.filter(c => ev(c) > 1e-9)
      if (keep.isEmpty) (n, 0L, 0.0, 0.0)
      else {
        val w   = keep.map(c => vecs(c).toSeq.map(_ / math.sqrt(ev(c))))
        val wmu = w.map(row => row.zip(mu).map { case (a, b) => a * b }.sum)
        val whitened = emb(s, dir).select(
          mat_vec_affine(transform(col("embedding"), _.cast("double")), w, wmu)
            .as("y"))
        val wm = whitened.agg(vector_moments(col("y"), keep.length))
          .head.getSeq[Double](0).toArray
        val cov = graft.operators.Pca.covariance(wm, keep.length)
        // foldLeft(0.0): a 1-component spectrum has no off-diagonal
        // pairs, and empty.max would throw
        val offdiag = (for { i <- keep.indices; j <- keep.indices if i != j }
          yield math.abs(cov(i)(j))).foldLeft(0.0)(math.max)
        val diagerr = keep.indices.map(i => math.abs(cov(i)(i) - 1.0))
          .foldLeft(0.0)(math.max)
        (n, keep.length.toLong, offdiag, diagerr)
      }
    }
  }

  /** Full PCA projection frame (vec_id, label, pc1..pc4, reconstruction
    * errors at k=4/8) — the analyst-facing output, spec-verified
    * (PcaSpec); the embed_pca_project QUERY ships its per-row energy
    * invariants as oracle-checkable certificates.
    */
  private[graft] def pcaProjectFrame(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorExpressions.mat_vec
    import s.implicits._
    val d = EmbDim
    pcaBasis(s, dir) match {
      case None =>
        Seq.empty[(Long, Int, Double, Double, Double, Double, Double, Double)]
          .toDF("vec_id", "label", "pc1", "pc2", "pc3", "pc4",
            "recon_err_k4", "recon_err_k8")
      case Some((m, _, _, vecs)) =>
        val mu   = graft.functions.VectorMomentsAgg.mean(m, d).toSeq
        val vk   = vecs.take(PcaK).map(_.toSeq).toSeq
        val vmu  = vk.map(row => row.zip(mu).map { case (a, b) => a * b }.sum)
        val mumu = mu.map(x => x * x).sum
        val withY = withNorm(emb(s, dir)).select(col("vec_id"), col("label"),
          (col("nrm") * col("nrm")).as("xx"),
          mat_vec(col("v"), vk :+ mu).as("vx"))
        // y_c = (Vx)_c − (Vμ)_c ; ‖x−μ‖² = x·x − 2·x·μ + μ·μ
        val y = (0 until PcaK).map(c =>
          (element_at(col("vx"), c + 1) - lit(vmu(c))).as(s"y$c"))
        val cn2 = (col("xx") - lit(2.0) * element_at(col("vx"), PcaK + 1) +
          lit(mumu)).as("cn2")
        val proj = withY.select(col("vec_id") +: col("label") +: cn2 +: y: _*)
        def esum(k: Int) =
          (0 until k).map(c => col(s"y$c") * col(s"y$c")).reduce(_ + _)
        proj.select(col("vec_id"), col("label"),
          round(col("y0"), 6).as("pc1"), round(col("y1"), 6).as("pc2"),
          round(col("y2"), 6).as("pc3"), round(col("y3"), 6).as("pc4"),
          round(sqrt(greatest(col("cn2") - esum(4), lit(0.0))), 6)
            .as("recon_err_k4"),
          round(sqrt(greatest(col("cn2") - esum(PcaK), lit(0.0))), 6)
            .as("recon_err_k8"))
    }
  }

  private val PqM  = 8  // subspaces
  private val PqDs = 8  // dims per subspace (64-d embeddings)
  private val PqCb = 16 // codebook entries per subspace

  /** Asymmetric squared L2 via three dot products — each term is the same
    * native fold `list_dot_product` mirrors, so the composed double is
    * bit-identical across engines.
    */
  private def pqL2sq(a: Column, b: Column): Column =
    dot(a, a) + dot(b, b) - lit(2.0) * dot(a, b)

  /** One-row codebook frame `cb[m][j]` = subspace-m slice of vector j
    * (j < [[PqCb]]) — deterministic sampled codebook, broadcastable.
    */
  private def pqCodebook(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < PqCb)
      .select(col("vec_id").cast("int").as("j"), col("v"))
      .groupBy()
      .agg(array_sort(collect_list(struct(col("j"), col("v")))).as("js"))
      .select(transform(sequence(lit(0), lit(PqM - 1)), m =>
        transform(sequence(lit(0), lit(PqCb - 1)), j => {
          val c = slice(element_at(col("js"), j + 1).getField("v"),
            m * lit(PqDs) + lit(1), lit(PqDs))
          // cc precomputed once per entry: encoding then costs ONE dot
          // per (row, entry) — the argmin needs only cc − 2·⟨sub,c⟩
          // (the row's own self-dot shifts every entry equally)
          struct(c.as("c"), dot(c, c).as("cc"))
        })).as("cb"))

  /** Input frame + `codes: array<int>` of length M — a pure per-row
    * expression over the broadcast codebook: code m = argmin_j
    * L2²(sub_m(v), cb[m][j]), ties to the smallest j (first position of
    * the min). No shuffle touches the corpus; all input columns ride
    * along (label for IVF-PQ cell pruning).
    */
  def pqCodes(e: DataFrame): DataFrame =
    e.crossJoin(broadcast(pqCodebook(e)))
      .withColumn("codes",
        transform(sequence(lit(0), lit(PqM - 1)), m => {
          val sub = slice(col("v"), m * lit(PqDs) + lit(1), lit(PqDs))
          // argmin over cc − 2·⟨sub,c⟩ ≡ argmin over full L2² (the
          // row-constant ⟨sub,sub⟩ shifts every entry equally); the
          // oracle computes the SAME expression so float ties break
          // identically
          val dists = transform(element_at(col("cb"), m + 1),
            e0 => e0.getField("cc") - lit(2.0) * dot(sub, e0.getField("c")))
          (array_position(dists, array_min(dists)) - 1).cast("int")
        }))
      .drop("cb")

  /** SQ8 codes `(vec_id, cq: array<double> of ints in [0,255], nrm)` for a
    * raw embeddings frame: per-dimension min/max via one keyed agg,
    * collapsed to two 64-element literal-sized arrays and broadcast back;
    * code = round((x − mn) / scale), scale = (mx − mn)/255 (1.0 when the
    * dimension is constant, where the code is 0 anyway). At serving scale
    * the codes pack to 64 int8 bytes/vector — 4× less than float32.
    */
  def sq8Codes(raw: DataFrame): DataFrame = {
    val e = raw.select(col("vec_id"),
      transform(col("embedding"), _.cast("double")).as("v"))
    val st = e.select(posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("pos").agg(min("x").as("mn"), max("x").as("mx"))
      .groupBy()
      .agg(array_sort(collect_list(struct(col("pos"), col("mn"), col("mx")))).as("pmm"))
      .select(
        transform(col("pmm"), p => p.getField("mn")).as("mns"),
        transform(col("pmm"), p =>
          when(p.getField("mx") === p.getField("mn"), lit(1.0))
            .otherwise((p.getField("mx") - p.getField("mn")) / 255.0)).as("scs"))
    e.crossJoin(broadcast(st))
      .select(col("vec_id"),
        zip_with(zip_with(col("v"), col("mns"), (x, m) => x - m), col("scs"),
          (d, sc) => round(d / sc)).as("cq"))
      .withColumn("nrm", graft.functions.VectorExpressions.l2_norm(col("cq")))
  }

  private val SqlNorm =
    """e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |       FROM embeddings),
      |n AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)""".stripMargin

  val sql: Map[String, String] = Map(
    // full-probe IVF ≡ brute force: the kmeans path must land on the
    // brute-force answer exactly, so it shares the brute oracle
    "embed_ivf_kmeans_knn" ->
      s"""WITH $SqlNorm,
         |p AS (
         |  SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
         |         round(list_dot_product(q.v, b.v) / (q.nrm * b.nrm), 6) + 0.0 AS cosine
         |  FROM n q JOIN n b ON q.vec_id < $NumQueries AND b.vec_id <> q.vec_id)
         |SELECT query_id, neighbor_id, cosine, CAST(rnk AS BIGINT) AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |                               ORDER BY cosine DESC, neighbor_id) AS rnk
         |  FROM p)
         |WHERE rnk <= $K""".stripMargin,
    "embed_norm_stats" ->
      s"""WITH $SqlNorm
         |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
         |  CAST(sum(CASE WHEN nrm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
         |  round(min(nrm), 6) AS min_norm, round(max(nrm), 6) AS max_norm,
         |  ${ExactStats.sqlMeanExact6("nrm")} AS avg_norm
         |FROM n GROUP BY label""".stripMargin,
    "embed_knn_brute" ->
      s"""WITH $SqlNorm,
         |p AS (
         |  SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
         |         round(list_dot_product(q.v, b.v) / (q.nrm * b.nrm), 6) + 0.0 AS cosine
         |  FROM n q JOIN n b ON q.vec_id < $NumQueries AND b.vec_id <> q.vec_id)
         |SELECT query_id, neighbor_id, cosine, CAST(rnk AS BIGINT) AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |                               ORDER BY cosine DESC, neighbor_id) AS rnk
         |  FROM p)
         |WHERE rnk <= $K""".stripMargin,
    "embed_neardup_cosine" ->
      s"""WITH $SqlNorm
         |SELECT a.label, a.vec_id AS vec_a, b.vec_id AS vec_b,
         |       round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) + 0.0 AS cosine
         |FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
         |WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.5""".stripMargin,
    "embed_knn_graph" ->
      s"""WITH $SqlNorm,
         |p AS (
         |  SELECT a.vec_id, b.vec_id AS nbr_id,
         |         round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) + 0.0 AS cosine
         |  FROM n a JOIN n b ON a.label = b.label AND b.vec_id <> a.vec_id),
         |g AS (
         |  SELECT vec_id, nbr_id, cosine, CAST(rnk AS BIGINT) AS rank FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |                                 ORDER BY cosine DESC, nbr_id) AS rnk
         |    FROM p)
         |  WHERE rnk <= $GraphK)
         |SELECT g.vec_id, g.nbr_id, g.cosine, g.rank,
         |       (m.vec_id IS NOT NULL) AS mutual
         |FROM g LEFT JOIN g m ON m.vec_id = g.nbr_id AND m.nbr_id = g.vec_id""".stripMargin,
    "embed_decontaminate" ->
      s"""WITH $SqlNorm,
         |b AS (SELECT vec_id, v, nrm FROM n WHERE vec_id % $DecontamMod = 0),
         |p AS (
         |  SELECT c.vec_id, b.vec_id AS bench_id,
         |         round(list_dot_product(c.v, b.v) / (c.nrm * b.nrm), 6) + 0.0 AS cosine
         |  FROM n c JOIN b ON c.vec_id % $DecontamMod <> 0)
         |SELECT vec_id, bench_id, cosine,
         |       (cosine >= $DecontamThresh) AS contaminated, CAST(rnk AS BIGINT) AS rank
         |FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id
         |                               ORDER BY cosine DESC, bench_id) AS rnk
         |  FROM p)
         |WHERE rnk <= 1""".stripMargin,
    "embed_dim_variance" ->
      """WITH d AS (SELECT unnest(embedding) AS x,
        |                  unnest(generate_series(0, len(embedding) - 1)) AS pos
        |           FROM embeddings),
        |v AS (SELECT pos, avg(CAST(x AS DOUBLE)) AS mean,
        |             var_pop(CAST(x AS DOUBLE)) AS vr
        |      FROM d GROUP BY pos),
        |t AS (SELECT sum(vr) AS tv FROM v)
        |SELECT CAST(pos AS BIGINT) AS pos, round(mean, 6) + 0.0 AS mean,
        |       round(vr, 6) AS variance, round(vr / tv, 6) AS var_share
        |FROM v, t""".stripMargin,
    "embed_label_confusion" ->
      s"""WITH $SqlNorm,
         |cb AS (SELECT label, pos, avg(CAST(e AS DOUBLE)) AS c
         |       FROM (SELECT label, unnest(embedding) AS e,
         |                    unnest(generate_series(0, len(embedding) - 1)) AS pos
         |             FROM embeddings)
         |       GROUP BY label, pos),
         |cents AS (
         |  SELECT label AS c_label, list(c ORDER BY pos) AS cv FROM cb GROUP BY label),
         |cn2 AS (SELECT c_label, cv, sqrt(list_dot_product(cv, cv)) AS cn FROM cents),
         |assign AS (
         |  SELECT label, predicted_label FROM (
         |    SELECT n.vec_id, n.label, cn2.c_label AS predicted_label,
         |           row_number() OVER (
         |             PARTITION BY n.vec_id
         |             ORDER BY round(list_dot_product(n.v, cn2.cv) / (n.nrm * cn2.cn), 6) DESC,
         |                      cn2.c_label) AS crank
         |    FROM n, cn2 WHERE n.nrm > 0)
         |  WHERE crank = 1),
         |g AS (SELECT label, predicted_label, CAST(count(*) AS BIGINT) AS n_vecs
         |      FROM assign GROUP BY 1, 2)
         |SELECT label, predicted_label, n_vecs,
         |  round(CAST(n_vecs AS DOUBLE)
         |        / sum(n_vecs) OVER (PARTITION BY label), 6) AS share
         |FROM g""".stripMargin,
    // covar_pop over the per-(vec, dim) expansion reproduces the engine's
    // sufficient-statistics covariance (Σxy/n − mean product) in double
    // math on identically float→double-widened inputs
    // `+ 0.0` normalizes IEEE signed zero: DuckDB's round() preserves the
    // zero's sign (round(-1e-9, 6) → -0.0) while the engine's BigDecimal
    // HALF_UP path cannot represent -0.0 and emits +0.0; without the
    // normalization a true covariance of ≈ -1e-9 hash-mismatches on sign
    // alone (r7 forensics: the only red row in the suite)
    "embed_covariance" ->
      """WITH x AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
        |                  unnest(generate_series(0, len(embedding) - 1)) AS i
        |           FROM embeddings)
        |SELECT CAST(a.i AS BIGINT) AS i, CAST(b.i AS BIGINT) AS j,
        |  round(covar_pop(a.v, b.v), 6) + 0.0 AS cov
        |FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
        |GROUP BY 1, 2""".stripMargin,
    // hyperplane components are exact dyadic rationals from integer
    // arithmetic — both engines reproduce the doubles bit-for-bit
    "embed_rp_lsh_neardup" ->
      s"""WITH $SqlRpCtes
         |SELECT vec_a, vec_b, cosine FROM rpp""".stripMargin,
    "embed_rp_lsh_wide" ->
      s"""WITH ${sqlRpCtes("SELECT 8 AS r, 8 AS b")}
         |SELECT vec_a, vec_b, cosine FROM rpp""".stripMargin,
    // recall is an EXACT double quotient of two integer counts (no
    // round()), so both engines produce the identical IEEE value
    "embed_rp_lsh_recall" ->
      s"""WITH ${sqlRpCtes("SELECT 8 AS r, 8 AS b")},
         |tp AS (SELECT round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) + 0.0 AS cosine
         |       FROM n a JOIN n b ON a.vec_id < b.vec_id),
         |th AS (SELECT unnest([${RpRecallThresholds.map(t => s"CAST($t AS DOUBLE)").mkString(", ")}]) AS threshold),
         |tt AS (SELECT threshold, CAST(count(*) AS BIGINT) AS n_true
         |       FROM tp, th WHERE cosine >= threshold GROUP BY threshold),
         |ff AS (SELECT threshold, CAST(count(*) AS BIGINT) AS n_found
         |       FROM rpp, th WHERE rpp.cosine >= threshold GROUP BY threshold)
         |SELECT tt.threshold, n_true, COALESCE(n_found, 0) AS n_found,
         |       CAST(COALESCE(n_found, 0) AS DOUBLE) / CAST(n_true AS DOUBLE) AS recall
         |FROM tt LEFT JOIN ff USING (threshold)""".stripMargin,
    // connected components over the RP-LSH pairs — duplicate groups in
    // embedding space (recursive-CTE oracle, as dedup_clusters)
    "embed_dup_clusters" ->
      s"""WITH RECURSIVE $SqlRpCtes,
         |edges AS (SELECT vec_a, vec_b FROM rpp
         |          UNION ALL SELECT vec_b, vec_a FROM rpp),
         |reach(src, node) AS (
         |  SELECT DISTINCT vec_a, vec_a FROM edges
         |  UNION
         |  SELECT r.src, e.vec_b FROM reach r JOIN edges e ON r.node = e.vec_a)
         |SELECT node AS vec_id, min(src) AS cluster_id FROM reach GROUP BY node""".stripMargin,
    "embed_centroids" ->
      s"""SELECT label, CAST(pos AS BIGINT) AS pos,
        |  ${ExactStats.sqlMeanExact6("CAST(e AS DOUBLE)")} + 0.0 AS centroid
        |FROM (SELECT label, unnest(embedding) AS e,
        |             unnest(generate_series(0, len(embedding) - 1)) AS pos
        |      FROM embeddings)
        |GROUP BY label, pos""".stripMargin,
    "embed_ivf_recall_curve" ->
      s"""WITH $SqlNorm,
         |cb AS (SELECT label, pos, avg(CAST(e AS DOUBLE)) AS c
         |       FROM (SELECT label, unnest(embedding) AS e,
         |                    unnest(generate_series(0, len(embedding) - 1)) AS pos
         |             FROM embeddings)
         |       GROUP BY label, pos),
         |cents AS (
         |  SELECT label AS c_label, list(c ORDER BY pos) AS cv FROM cb GROUP BY label),
         |cn2 AS (SELECT c_label, cv, sqrt(list_dot_product(cv, cv)) AS cn FROM cents),
         |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n
         |      WHERE vec_id < $NumQueries),
         |ranked AS (
         |  SELECT q.query_id, q.qv, q.qn, cn2.c_label,
         |         row_number() OVER (
         |           PARTITION BY q.query_id
         |           ORDER BY round(list_dot_product(q.qv, cn2.cv) / (q.qn * cn2.cn), 6) DESC,
         |                    cn2.c_label) AS crank
         |  FROM q, cn2),
         |lv AS (SELECT unnest([1, 2, 4]) AS p),
         |probed AS (SELECT lv.p, r.query_id, r.qv, r.qn, r.c_label AS cell
         |           FROM ranked r JOIN lv ON r.crank <= lv.p),
         |scored AS (
         |  SELECT a.p, a.query_id, b.vec_id AS neighbor_id,
         |         round(list_dot_product(a.qv, b.v) / (a.qn * b.nrm), 6) + 0.0 AS cosine
         |  FROM probed a JOIN n b ON b.label = a.cell AND b.vec_id <> a.query_id),
         |topk AS (
         |  SELECT p, query_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY p, query_id
         |                                 ORDER BY cosine DESC, neighbor_id) AS rnk
         |    FROM scored)
         |  WHERE rnk <= $K),
         |brute AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT p2.query_id, p2.neighbor_id,
         |           row_number() OVER (PARTITION BY p2.query_id
         |                              ORDER BY p2.cosine DESC, p2.neighbor_id) AS rnk
         |    FROM (SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
         |                 round(list_dot_product(q.v, b.v) / (q.nrm * b.nrm), 6) + 0.0 AS cosine
         |          FROM n q JOIN n b ON q.vec_id < $NumQueries AND b.vec_id <> q.vec_id) p2)
         |  WHERE rnk <= $K)
         |SELECT CAST(lv.p AS BIGINT) AS n_probe,
         |  CAST(sum(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_hits,
         |  round(CAST(sum(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |        / ($K * $NumQueries), 6) AS mean_recall
         |FROM brute b CROSS JOIN lv
         |LEFT JOIN topk t ON t.p = lv.p AND t.query_id = b.query_id
         |                AND t.neighbor_id = b.neighbor_id
         |GROUP BY lv.p""".stripMargin,
    "embed_ivf_recall" ->
      s"""WITH $SqlNorm,
         |bp AS (
         |  SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
         |         round(list_dot_product(q.v, b.v) / (q.nrm * b.nrm), 6) + 0.0 AS cosine
         |  FROM n q JOIN n b ON q.vec_id < $NumQueries AND b.vec_id <> q.vec_id),
         |brute AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |                                 ORDER BY cosine DESC, neighbor_id) AS rnk
         |    FROM bp) WHERE rnk <= $K),
         |cb AS (SELECT label, pos, avg(CAST(e AS DOUBLE)) AS c
         |       FROM (SELECT label, unnest(embedding) AS e,
         |                    unnest(generate_series(0, len(embedding) - 1)) AS pos
         |             FROM embeddings)
         |       GROUP BY label, pos),
         |cents AS (
         |  SELECT label AS c_label, list(c ORDER BY pos) AS cv FROM cb GROUP BY label),
         |cn AS (SELECT c_label, cv, sqrt(list_dot_product(cv, cv)) AS cn FROM cents),
         |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n
         |      WHERE vec_id < $NumQueries),
         |assign AS (
         |  SELECT query_id, qv, qn, c_label AS cell FROM (
         |    SELECT q.query_id, q.qv, q.qn, cn.c_label,
         |           row_number() OVER (
         |             PARTITION BY q.query_id
         |             ORDER BY round(list_dot_product(q.qv, cn.cv) / (q.qn * cn.cn), 6) DESC,
         |                      cn.c_label) AS crank
         |    FROM q, cn)
         |  WHERE crank = 1),
         |scored AS (
         |  SELECT a.query_id, b.vec_id AS neighbor_id,
         |         round(list_dot_product(a.qv, b.v) / (a.qn * b.nrm), 6) + 0.0 AS cosine
         |  FROM assign a JOIN n b ON b.label = a.cell AND b.vec_id <> a.query_id),
         |ivf AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |                                 ORDER BY cosine DESC, neighbor_id) AS rnk
         |    FROM scored) WHERE rnk <= $K)
         |SELECT b.query_id,
         |  round(CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / $K, 6) AS recall_at_k
         |FROM brute b LEFT JOIN ivf i
         |  ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
         |GROUP BY b.query_id""".stripMargin,
    // the bucketed index changes the physical layout, not the answer —
    // identical oracle to embed_ivf_knn
    "embed_ivf_knn_bucketed" -> SqlIvfKnn,
    "embed_ivf_knn" -> SqlIvfKnn,
    "embed_cluster_sample" ->
      s"""WITH $SqlNorm,
         |cb AS (SELECT label, pos, avg(CAST(e AS DOUBLE)) AS c
         |       FROM (SELECT label, unnest(embedding) AS e,
         |                    unnest(generate_series(0, len(embedding) - 1)) AS pos
         |             FROM embeddings)
         |       GROUP BY label, pos),
         |cents AS (
         |  SELECT label AS c_label, list(c ORDER BY pos) AS cv FROM cb GROUP BY label),
         |cn AS (SELECT c_label, cv, sqrt(list_dot_product(cv, cv)) AS cn FROM cents),
         |assign AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT n.vec_id, cn.c_label AS cell,
         |           row_number() OVER (
         |             PARTITION BY n.vec_id
         |             ORDER BY round(list_dot_product(n.v, cn.cv) / (n.nrm * cn.cn), 6) DESC,
         |                      cn.c_label) AS crank
         |    FROM n, cn)
         |  WHERE crank = 1),
         |s AS (SELECT vec_id, CAST(cell AS INT) AS cell,
         |        row_number() OVER (PARTITION BY cell
         |          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS pick
         |      FROM assign)
         |SELECT vec_id, cell, CAST(pick AS BIGINT) AS pick FROM s
         |WHERE pick <= 10""".stripMargin,
    "semdedup_drop" ->
      s"""WITH RECURSIVE $SqlNorm,
         |pp AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
         |       FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
         |       WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.5),
         |edges AS (SELECT vec_a, vec_b FROM pp
         |          UNION ALL SELECT vec_b, vec_a FROM pp),
         |reach(src, node) AS (
         |  SELECT DISTINCT vec_a, vec_a FROM edges
         |  UNION
         |  SELECT r.src, ed.vec_b FROM reach r JOIN edges ed ON r.node = ed.vec_a)
         |SELECT node AS vec_id, min(src) AS cluster_id FROM reach GROUP BY node
         |HAVING node <> min(src)""".stripMargin,
    "embed_pq_knn" ->
      s"""WITH $SqlPqCtes,
         |score AS (
         |  SELECT q.query_id, c.vec_id AS neighbor_id,
         |         round(list_sum(list(q.ds ORDER BY q.m)), 6) AS pq_dist
         |  FROM codes c JOIN qd q ON q.m = c.m AND q.j = c.code
         |  WHERE c.vec_id <> q.query_id
         |  GROUP BY 1, 2)
         |SELECT query_id, neighbor_id, pq_dist, CAST(rnk AS BIGINT) AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |                               ORDER BY pq_dist ASC, neighbor_id) AS rnk
         |  FROM score)
         |WHERE rnk <= $K""".stripMargin,
    "embed_ivfpq_knn" ->
      s"""WITH $SqlPqCtes,
         |nb AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
         |cl AS (SELECT label, pos, avg(x) AS c
         |       FROM (SELECT label, unnest(v) AS x,
         |                    unnest(generate_series(0, len(v) - 1)) AS pos
         |             FROM e)
         |       GROUP BY label, pos),
         |cents AS (SELECT label AS c_label, list(c ORDER BY pos) AS cv
         |          FROM cl GROUP BY label),
         |cn2 AS (SELECT c_label, cv, sqrt(list_dot_product(cv, cv)) AS cn FROM cents),
         |qq AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM nb
         |       WHERE vec_id < $NumQueries),
         |assign AS (
         |  SELECT query_id, c_label AS cell FROM (
         |    SELECT q.query_id, cn2.c_label,
         |           row_number() OVER (
         |             PARTITION BY q.query_id
         |             ORDER BY round(list_dot_product(q.qv, cn2.cv) / (q.qn * cn2.cn), 6) DESC,
         |                      cn2.c_label) AS crank
         |    FROM qq q, cn2)
         |  WHERE crank = 1),
         |score AS (
         |  SELECT a.query_id, CAST(a.cell AS INT) AS cell, b.vec_id AS neighbor_id,
         |         round(list_sum(list(q2.ds ORDER BY q2.m)), 6) AS pq_dist
         |  FROM assign a
         |  JOIN nb b ON b.label = a.cell AND b.vec_id <> a.query_id
         |  JOIN codes c ON c.vec_id = b.vec_id
         |  JOIN qd q2 ON q2.query_id = a.query_id AND q2.m = c.m AND q2.j = c.code
         |  GROUP BY 1, 2, 3)
         |SELECT query_id, cell, neighbor_id, pq_dist, CAST(rnk AS BIGINT) AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |                               ORDER BY pq_dist ASC, neighbor_id) AS rnk
         |  FROM score)
         |WHERE rnk <= $K""".stripMargin,
    "embed_pq_recall" ->
      s"""WITH $SqlPqCtes,
         |nb AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
         |bp AS (SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
         |         round(list_dot_product(q.v, b.v) / (q.nrm * b.nrm), 6) + 0.0 AS cosine
         |       FROM nb q JOIN nb b ON q.vec_id < $NumQueries AND b.vec_id <> q.vec_id),
         |brute AS (SELECT query_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |                                 ORDER BY cosine DESC, neighbor_id) AS rnk
         |    FROM bp) WHERE rnk <= $K),
         |score AS (
         |  SELECT q.query_id, c.vec_id AS neighbor_id,
         |         round(list_sum(list(q.ds ORDER BY q.m)), 6) AS pq_dist
         |  FROM codes c JOIN qd q ON q.m = c.m AND q.j = c.code
         |  WHERE c.vec_id <> q.query_id
         |  GROUP BY 1, 2),
         |pq AS (SELECT query_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |                                 ORDER BY pq_dist ASC, neighbor_id) AS rnk
         |    FROM score) WHERE rnk <= $K)
         |SELECT b.query_id,
         |  round(CAST(sum(CASE WHEN p.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
         |             AS DOUBLE) / $K, 6) AS recall_at_k
         |FROM brute b LEFT JOIN pq p
         |  ON b.query_id = p.query_id AND b.neighbor_id = p.neighbor_id
         |GROUP BY b.query_id""".stripMargin,
    "embed_sq8_knn" ->
      s"""WITH $SqlSq8,
         |p AS (SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
         |        round(list_dot_product(q.cq, b.cq) / (q.nrm * b.nrm), 6) + 0.0 AS qcos
         |      FROM cn q JOIN cn b ON q.vec_id < $NumQueries AND b.vec_id <> q.vec_id)
         |SELECT query_id, neighbor_id, qcos, CAST(rnk AS BIGINT) AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |                               ORDER BY qcos DESC, neighbor_id) AS rnk
         |  FROM p)
         |WHERE rnk <= $K""".stripMargin,
    "embed_sq8_recall" ->
      s"""WITH $SqlSq8,
         |nn AS (SELECT vec_id, label,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |       FROM embeddings),
         |nb AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm FROM nn),
         |bp AS (SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
         |         round(list_dot_product(q.v, b.v) / (q.nrm * b.nrm), 6) + 0.0 AS cosine
         |       FROM nb q JOIN nb b ON q.vec_id < $NumQueries AND b.vec_id <> q.vec_id),
         |brute AS (SELECT query_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |                                 ORDER BY cosine DESC, neighbor_id) AS rnk
         |    FROM bp) WHERE rnk <= $K),
         |qp AS (SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
         |         round(list_dot_product(q.cq, b.cq) / (q.nrm * b.nrm), 6) + 0.0 AS qcos
         |       FROM cn q JOIN cn b ON q.vec_id < $NumQueries AND b.vec_id <> q.vec_id),
         |sq AS (SELECT query_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |                                 ORDER BY qcos DESC, neighbor_id) AS rnk
         |    FROM qp) WHERE rnk <= $K)
         |SELECT b.query_id,
         |  round(CAST(sum(CASE WHEN s.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
         |             AS DOUBLE) / $K, 6) AS recall_at_k
         |FROM brute b LEFT JOIN sq s
         |  ON b.query_id = s.query_id AND b.neighbor_id = s.neighbor_id
         |GROUP BY b.query_id""".stripMargin,
    "embed_matryoshka_knn" ->
      s"""WITH $SqlNorm,
         |tn AS (SELECT vec_id, list_slice(v, 1, $MrlDim) AS tv FROM e),
         |tt AS (SELECT vec_id, tv, sqrt(list_dot_product(tv, tv)) AS tn FROM tn),
         |p AS (SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
         |        round(list_dot_product(q.tv, b.tv) / (q.tn * b.tn), 6) + 0.0 AS mcos
         |      FROM tt q JOIN tt b ON q.vec_id < $NumQueries AND b.vec_id <> q.vec_id)
         |SELECT query_id, neighbor_id, mcos, CAST(rnk AS BIGINT) AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |                               ORDER BY mcos DESC, neighbor_id) AS rnk
         |  FROM p)
         |WHERE rnk <= $K""".stripMargin,
    "embed_matryoshka_recall" ->
      s"""WITH $SqlNorm,
         |bp AS (SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
         |         round(list_dot_product(q.v, b.v) / (q.nrm * b.nrm), 6) + 0.0 AS cosine
         |       FROM n q JOIN n b ON q.vec_id < $NumQueries AND b.vec_id <> q.vec_id),
         |brute AS (SELECT query_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |                                 ORDER BY cosine DESC, neighbor_id) AS rnk
         |    FROM bp) WHERE rnk <= $K),
         |tn AS (SELECT vec_id, list_slice(v, 1, $MrlDim) AS tv FROM e),
         |tt AS (SELECT vec_id, tv, sqrt(list_dot_product(tv, tv)) AS tn FROM tn),
         |mp AS (SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
         |         round(list_dot_product(q.tv, b.tv) / (q.tn * b.tn), 6) + 0.0 AS mcos
         |       FROM tt q JOIN tt b ON q.vec_id < $NumQueries AND b.vec_id <> q.vec_id),
         |mr AS (SELECT query_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |                                 ORDER BY mcos DESC, neighbor_id) AS rnk
         |    FROM mp) WHERE rnk <= $K)
         |SELECT b.query_id,
         |  round(CAST(sum(CASE WHEN m.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
         |             AS DOUBLE) / $K, 6) AS recall_at_k
         |FROM brute b LEFT JOIN mr m
         |  ON b.query_id = m.query_id AND b.neighbor_id = m.neighbor_id
         |GROUP BY b.query_id""".stripMargin,
    "embed_ood_outliers" ->
      s"""WITH $SqlNorm,
         |cl AS (SELECT label, pos, avg(x) AS c
         |       FROM (SELECT label, unnest(v) AS x,
         |                    unnest(generate_series(0, len(v) - 1)) AS pos
         |             FROM e)
         |       GROUP BY label, pos),
         |cents AS (SELECT label, list(c ORDER BY pos) AS cv FROM cl GROUP BY label),
         |cn2 AS (SELECT label, cv, sqrt(list_dot_product(cv, cv)) AS cn FROM cents)
         |SELECT n.vec_id, n.label,
         |  round(list_dot_product(n.v, c.cv) / (n.nrm * c.cn), 6) + 0.0 AS cos_centroid
         |FROM n JOIN cn2 c ON c.label = n.label
         |WHERE round(list_dot_product(n.v, c.cv) / (n.nrm * c.cn), 6) < 0.5""".stripMargin,
    "embed_cluster_quality" ->
      s"""WITH $SqlNorm,
         |cl AS (SELECT label, pos, avg(x) AS c
         |       FROM (SELECT label, unnest(v) AS x,
         |                    unnest(generate_series(0, len(v) - 1)) AS pos
         |             FROM e)
         |       GROUP BY label, pos),
         |cents AS (SELECT label, list(c ORDER BY pos) AS cv FROM cl GROUP BY label),
         |cn2 AS (SELECT label, cv, sqrt(list_dot_product(cv, cv)) AS cn FROM cents),
         |sc AS (SELECT n.label AS label,
         |         round(list_dot_product(n.v, c.cv) / (n.nrm * c.cn), 6) + 0.0 AS cos
         |       FROM n JOIN cn2 c ON c.label = n.label)
         |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
         |  round(CAST(sum(CAST(cos AS DECIMAL(22,6))) AS DOUBLE) / count(*), 6)
         |    + 0.0 AS mean_cos,
         |  min(cos) AS min_cos
         |FROM sc GROUP BY label""".stripMargin,
    "embed_mrl_rerank_knn" ->
      s"""WITH $SqlNorm,
         |tn AS (SELECT vec_id, list_slice(v, 1, $MrlDim) AS tv FROM e),
         |tt AS (SELECT vec_id, tv, sqrt(list_dot_product(tv, tv)) AS tn FROM tn),
         |mp AS (SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
         |         round(list_dot_product(q.tv, b.tv) / (q.tn * b.tn), 6) + 0.0 AS mcos
         |       FROM tt q JOIN tt b ON q.vec_id < $NumQueries AND b.vec_id <> q.vec_id),
         |sl AS (SELECT query_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |                                 ORDER BY mcos DESC, neighbor_id) AS rnk
         |    FROM mp) WHERE rnk <= $RerankPool),
         |rs AS (SELECT s.query_id, s.neighbor_id,
         |         round(list_dot_product(q.v, b.v) / (q.nrm * b.nrm), 6) + 0.0 AS cosine
         |       FROM sl s JOIN n q ON q.vec_id = s.query_id
         |                 JOIN n b ON b.vec_id = s.neighbor_id)
         |SELECT query_id, neighbor_id, cosine, CAST(rnk AS BIGINT) AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |                               ORDER BY cosine DESC, neighbor_id) AS rnk
         |  FROM rs)
         |WHERE rnk <= $K""".stripMargin,
    "embed_mrl_rerank_recall" ->
      s"""WITH $SqlNorm,
         |bp AS (SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
         |         round(list_dot_product(q.v, b.v) / (q.nrm * b.nrm), 6) + 0.0 AS cosine
         |       FROM n q JOIN n b ON q.vec_id < $NumQueries AND b.vec_id <> q.vec_id),
         |brute AS (SELECT query_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |                                 ORDER BY cosine DESC, neighbor_id) AS rnk
         |    FROM bp) WHERE rnk <= $K),
         |tn AS (SELECT vec_id, list_slice(v, 1, $MrlDim) AS tv FROM e),
         |tt AS (SELECT vec_id, tv, sqrt(list_dot_product(tv, tv)) AS tn FROM tn),
         |mp AS (SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
         |         round(list_dot_product(q.tv, b.tv) / (q.tn * b.tn), 6) + 0.0 AS mcos
         |       FROM tt q JOIN tt b ON q.vec_id < $NumQueries AND b.vec_id <> q.vec_id),
         |sl AS (SELECT query_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |                                 ORDER BY mcos DESC, neighbor_id) AS rnk
         |    FROM mp) WHERE rnk <= $RerankPool),
         |rs AS (SELECT s.query_id, s.neighbor_id,
         |         round(list_dot_product(q.v, b.v) / (q.nrm * b.nrm), 6) + 0.0 AS fcos
         |       FROM sl s JOIN n q ON q.vec_id = s.query_id
         |                 JOIN n b ON b.vec_id = s.neighbor_id),
         |rr AS (SELECT query_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |                                 ORDER BY fcos DESC, neighbor_id) AS rnk
         |    FROM rs) WHERE rnk <= $K)
         |SELECT b.query_id,
         |  round(CAST(sum(CASE WHEN r.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
         |             AS DOUBLE) / $K, 6) AS recall_at_k
         |FROM brute b LEFT JOIN rr r
         |  ON b.query_id = r.query_id AND b.neighbor_id = r.neighbor_id
         |GROUP BY b.query_id""".stripMargin,
    // --- invariant-certificate oracles (the approx_distinct_error
    // pattern): the engine emits booleans whose TRUTH DuckDB can assert
    // without reproducing the non-SQL-expressible eigen/rotation math —
    // the oracle recomputes the row grid and the constants; any engine
    // row where an invariant fails hash-mismatches the gate.
    "embed_pca_topk" ->
      s"""SELECT CAST(c AS BIGINT) AS component,
         |  TRUE AS ev_nonneg, TRUE AS ev_desc, TRUE AS resid_ok,
         |  TRUE AS cum_le_trace, TRUE AS sum_ev_eq_trace,
         |  TRUE AS basis_orthonormal
         |FROM generate_series(1, $PcaK) t(c)
         |WHERE (SELECT count(*) FROM embeddings) > 0""".stripMargin,
    "embed_pca_project" ->
      """SELECT vec_id, label,
        |  TRUE AS energy_full_ok, TRUE AS energy_topk_ok
        |FROM embeddings""".stripMargin,
    "embed_whiten_check" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_vecs, TRUE AS whitened_ok
        |FROM embeddings HAVING count(*) > 0""".stripMargin,
    "embed_opq_knn" ->
      s"""SELECT vec_id AS query_id,
         |  CAST(least($K, (SELECT count(*) FROM embeddings) - 1) AS BIGINT)
         |    AS n_neighbors,
         |  TRUE AS neighbors_distinct, TRUE AS dists_sorted,
         |  TRUE AS self_excluded
         |FROM embeddings WHERE vec_id < $NumQueries""".stripMargin,
    // row set = queries with ≥1 brute-force neighbor (the recall frame
    // groups brute rows, so a single-vector corpus emits no recall rows)
    "embed_opq_recall" ->
      s"""SELECT vec_id AS query_id,
         |  TRUE AS recall_in_range
         |FROM embeddings
         |WHERE vec_id < $NumQueries
         |  AND (SELECT count(*) FROM embeddings) > 1""".stripMargin
  )

  /** SQ8 quantization as reusable CTEs ending in `cn(vec_id, cq, nrm)` —
    * mirrors [[sq8Codes]] exactly (same IEEE ops in the same order).
    */
  private lazy val SqlSq8: String =
    """e8 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |       FROM embeddings),
      |px AS (SELECT pos, min(x) AS mn, max(x) AS mx
      |       FROM (SELECT unnest(v) AS x,
      |                    unnest(generate_series(0, len(v) - 1)) AS pos
      |             FROM e8)
      |       GROUP BY pos),
      |st8 AS (SELECT list(mn ORDER BY pos) AS mns,
      |               list(CASE WHEN mx = mn THEN 1.0
      |                    ELSE (mx - mn) / 255.0 END ORDER BY pos) AS scs
      |        FROM px),
      |cd AS (SELECT vec_id,
      |         list_transform(generate_series(1, len(v)),
      |                        i -> round((v[i] - mns[i]) / scs[i])) AS cq
      |       FROM e8, st8),
      |cn AS (SELECT vec_id, cq, sqrt(list_dot_product(cq, cq)) AS nrm FROM cd)""".stripMargin

  /** Expected vectors per LSH bucket the banding aims for: bits-per-band
    * grows with log(corpus) to hold this constant, which is what keeps
    * the candidate count LINEAR in corpus size (≈ bands · n ·
    * TargetBucket / 2) instead of quadratic. Mirrored literally in
    * [[sqlRpParams]].
    */
  // `final val` (compile-time constant): the strict `sql` map above
  // initializes before this declaration point during object init — a
  // plain val would interpolate 0 into the oracle SQL
  final val RpTargetBucket = 128

  /** Bits-per-band `r` and band count `b` for a corpus of `n` vectors:
    * the smallest r ≥ 4 with n ≤ TargetBucket·2^r (so the expected
    * bucket size stays ≤ [[RpTargetBucket]]), with the band count
    * widened 4 → 8 as soon as r grows so high-similarity recall is
    * partially recovered (recall at cosine c is 1−(1−p^r)^b,
    * p = 1−θ/π). At the gate/bench corpora (n ≤ 2048) this is exactly
    * the legacy 4×4-bit scheme, bucket-for-bucket.
    */
  def rpParams(n: Long): (Int, Int) = {
    var r = 4
    while (n > (RpTargetBucket.toLong << r)) r += 1
    (r, if (r > 4) 8 else 4)
  }

  /** Random-hyperplane LSH verified near-dup pairs `(vec_a, vec_b,
    * cosine)` over a `withNorm`-shaped frame — Charikar's
    * sign-of-projection family: per-band sign-of-projection signatures
    * from ONE native pass per band
    * ([[graft.functions.VectorExpressions.RpSignature]]) over dyadic
    * hyperplanes, banded into equality-join blocks, exact cosine
    * verification after. The reusable pair frame for clusters/drop-lists
    * in embedding space.
    *
    * Band geometry is BUCKET-SIZE-TARGETED ([[rpParams]]): with fixed
    * band bits every bucket grows linearly with the corpus and the
    * candidate pair count goes quadratic (measured: 4-bit bands at 10×
    * the bench corpus produced 52× the runtime); holding expected bucket
    * size constant makes candidates linear in n. The corpus count that
    * drives the choice is one metadata-cheap job (parquet footer
    * row-counts; here a count over the already-pinned frame).
    * `params` forces an explicit (bitsPerBand, bands) — the oracle-pinned
    * wide-band query uses it to exercise the scaled geometry at gate
    * scale.
    */
  def rpLshPairs(
      e: DataFrame,
      maxBucket: Int = graft.operators.LshJoins.DefaultMaxBucket,
      params: Option[(Int, Int)] = None): DataFrame = {
    import graft.functions.VectorExpressions.{dyadicPlanes, rp_signature}
    // the pin serves exactly two consumers — the adaptive-geometry count
    // and the banded pass; with explicit params there is ONE consumer and
    // no pin is needed (the simhashPairs discipline)
    val ec = if (params.isDefined) e else Reuse.lineageCut(e)
    val (r, b) = params.getOrElse(rpParams(ec.count()))
    val planes = dyadicPlanes(b * r, 64)
    // The vector payload rides THROUGH the band shuffle (corpus × bands —
    // linear) and the cosine is verified INSIDE the bucket join's output
    // stream, so the quadratic-in-bucket candidate frame never carries
    // vectors to disk. The previous shape — slim candidates, then
    // re-attach both vectors by join — sort-merge-sorted a ~candidates ×
    // 0.5 KB frame once the corpus outgrew the broadcast threshold: the
    // sf10 probe measured tens of GB of sort spill and a disk-full abort
    // on exactly this step. Survivors-only reach the final distinct (a
    // pair colliding in several bands yields identical cosines, so
    // filter-then-distinct ≡ the old distinct-then-verify-once). A
    // degenerate band still degrades to linear star pairs (observed
    // metric `rp_lsh_cap`) instead of B². Band k's bits come from plane
    // rows [k·r, (k+1)·r) — identical buckets to the legacy packed-16-bit
    // scheme when (r, b) = (4, 4).
    val banded = ec
      .select(col("vec_id"), col("v"), col("nrm"),
        explode(array((0 until b).map(k =>
          struct(lit(k).as("band"),
            rp_signature(col("v"), planes.slice(k * r, (k + 1) * r)).as("bits"))): _*)).as("rb"))
      .select(col("vec_id"), col("rb.band").as("band"), col("rb.bits").as("bits"),
        col("v"), col("nrm"))
    graft.operators.LshJoins
      .cappedBandPairsWithPayload(banded, Seq("band", "bits"), "vec_id",
        Seq("v", "nrm"), "vec_a", "vec_b", maxBucket, "rp_lsh_cap")
      .select(col("vec_a"), col("vec_b"),
        round(dot(col("v_a"), col("v_b")) / (col("nrm_a") * col("nrm_b")), 6)
          .as("cosine"))
      .filter(col("cosine") >= 0.3)
      .distinct()
  }

  /** PQ structures as reusable CTEs ending in `codes(vec_id, m, code)`
    * and `qd(query_id, m, j, ds)` — mirrors [[pqCodes]] exactly: sampled
    * codebook from vec_ids 0..15, L2² via three dot products, argmin
    * ties to the smallest j.
    */
  private lazy val SqlPqCtes: String =
    s"""e AS (SELECT vec_id, label,
       |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |      FROM embeddings),
       |cbj AS (SELECT vec_id AS j, v FROM e WHERE vec_id < $PqCb),
       |cb AS (SELECT m, j, v[m*$PqDs+1 : m*$PqDs+$PqDs] AS c
       |       FROM cbj, generate_series(0, ${PqM - 1}) t(m)),
       |sub AS (SELECT vec_id, m, v[m*$PqDs+1 : m*$PqDs+$PqDs] AS sv
       |        FROM e, generate_series(0, ${PqM - 1}) t(m)),
       |d AS (SELECT vec_id, m, j,
       |        list_dot_product(sv, sv) + list_dot_product(c, c)
       |          - 2 * list_dot_product(sv, c) AS ds,
       |        list_dot_product(c, c) - 2 * list_dot_product(sv, c) AS dm
       |      FROM sub JOIN cb USING (m)),
       |codes AS (SELECT vec_id, m, j AS code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, m
       |                                 ORDER BY dm, j) AS rn FROM d)
       |  WHERE rn = 1),
       |qd AS (SELECT vec_id AS query_id, m, j, ds FROM d
       |       WHERE vec_id < $NumQueries)""".stripMargin

  /** The adaptive band-geometry choice of [[rpParams]] as a one-row
    * subquery `(r, b)` — integer-exact (no float log2): the smallest
    * r ≥ 4 with count ≤ TargetBucket·2^r.
    */
  private lazy val SqlRpParamsAdaptive: String =
    s"""SELECT r, CASE WHEN r > 4 THEN 8 ELSE 4 END AS b FROM (
       |  SELECT min(r) AS r FROM generate_series(4, 40) t(r)
       |  WHERE (SELECT count(*) FROM embeddings)
       |        <= $RpTargetBucket * (CAST(1 AS BIGINT) << r))""".stripMargin

  /** RP-LSH verified pairs as reusable CTEs ending in
    * `rpp(vec_a, vec_b, cosine)` — mirrors [[rpLshPairs]] exactly for
    * the band geometry delivered by `prmSql` (a one-row `(r, b)`
    * query): plane i belongs to band i//r at bit position i%r, so the
    * per-band signature join reproduces the engine's buckets for ANY
    * (r, b).
    */
  private def sqlRpCtes(prmSql: String): String =
    s"""$SqlNorm,
       |prm AS ($prmSql),
       |pl AS (
       |  SELECT i, list_transform(generate_series(0, 63),
       |    j -> CAST((((i * 64 + j) * 2654435761 + 12345) % 1024) - 512 AS DOUBLE)
       |         / 512.0) AS pv
       |  FROM generate_series(0, 63) t(i), prm WHERE i < prm.r * prm.b),
       |sig AS (
       |  SELECT vec_id, i // r AS band,
       |    CAST(sum(CASE WHEN list_dot_product(v, pv) >= 0
       |             THEN (CAST(1 AS BIGINT) << (i % r)) ELSE 0 END) AS BIGINT) AS bits
       |  FROM n, pl, prm GROUP BY vec_id, i // r),
       |sb AS (
       |  SELECT n.vec_id, n.v, n.nrm, s.band, s.bits
       |  FROM sig s JOIN n USING (vec_id)),
       |rpp AS (
       |  SELECT DISTINCT vec_a, vec_b, cosine FROM (
       |    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |           round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) + 0.0 AS cosine
       |    FROM sb a JOIN sb b
       |      ON a.band = b.band AND a.bits = b.bits AND a.vec_id < b.vec_id)
       |  WHERE cosine >= 0.3)""".stripMargin

  private lazy val SqlRpCtes: String = sqlRpCtes(SqlRpParamsAdaptive)

  private lazy val SqlIvfKnn: String =
      s"""WITH $SqlNorm,
         |cb AS (SELECT label, pos, avg(CAST(e AS DOUBLE)) AS c
         |       FROM (SELECT label, unnest(embedding) AS e,
         |                    unnest(generate_series(0, len(embedding) - 1)) AS pos
         |             FROM embeddings)
         |       GROUP BY label, pos),
         |cents AS (
         |  SELECT label AS c_label, list(c ORDER BY pos) AS cv FROM cb GROUP BY label),
         |cn AS (SELECT c_label, cv, sqrt(list_dot_product(cv, cv)) AS cn FROM cents),
         |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n
         |      WHERE vec_id < $NumQueries),
         |assign AS (
         |  SELECT query_id, qv, qn, c_label AS cell FROM (
         |    SELECT q.query_id, q.qv, q.qn, cn.c_label,
         |           row_number() OVER (
         |             PARTITION BY q.query_id
         |             ORDER BY round(list_dot_product(q.qv, cn.cv) / (q.qn * cn.cn), 6) DESC,
         |                      cn.c_label) AS crank
         |    FROM q, cn)
         |  WHERE crank = 1),
         |scored AS (
         |  SELECT a.query_id, CAST(a.cell AS INT) AS cell, b.vec_id AS neighbor_id,
         |         round(list_dot_product(a.qv, b.v) / (a.qn * b.nrm), 6) + 0.0 AS cosine
         |  FROM assign a JOIN n b ON b.label = a.cell AND b.vec_id <> a.query_id)
         |SELECT query_id, cell, neighbor_id, cosine, CAST(rnk AS BIGINT) AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |                               ORDER BY cosine DESC, neighbor_id) AS rnk
         |  FROM scored)
         |WHERE rnk <= $K""".stripMargin
}
