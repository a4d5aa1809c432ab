package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Graft
import graft.operators.Reuse
import graft.functions.TextFunctions._

/** Training-data-pipeline operators over the `documents` table: text
  * analysis (token stats, quality, language-ID, fingerprinting) and
  * deduplication (exact, n-gram Jaccard, MinHash+LSH, SimHash).
  *
  * Scale design: every dedup variant avoids the quadratic all-pairs join —
  * candidates come from equality joins on a blocking key (fingerprint, LSH
  * band, SimHash prefix), which Spark executes as hash shuffles keyed on the
  * block. Only within-bucket pairs are verified. All expressions are
  * builtin/codegen'd; md5 is the oracle-shared hash.
  */
object DocQueries {

  private def docs(s: SparkSession, dir: String): DataFrame = Graft.documents(s, dir)

  /** Fanned read for the map-heavy operators (tokenize / n-gram explode /
    * LM scoring / minhash): the r14 suite-wide fanout A/B measured
    * 1.1-4.6× wins exactly on these query families and a 10-150% exchange
    * tax on the scan-light ones, so the fanout is opt-in per call site
    * (see [[graft.core.Graft.table]]). Light queries keep [[docs]].
    */
  private def docsFanned(s: SparkSession, dir: String): DataFrame = Graft.documentsFanned(s, dir)

  private val toks: Column = tokens(col("text"))

  /** Salted md5 split bucket in [0, 100) and its 80/10/10 tier — ONE
    * definition shared by `split_assign` and `split_ngram_leakage`, so
    * the leakage audit provably audits the split the assignment emits.
    */
  private def splitBucket: Column = conv(substring(
    md5(concat(lit("split:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
    .cast("long") % 100
  private def splitTier(bucket: Column): Column =
    when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")

  /** doc_id + distinct 3-gram shingles, non-empty docs only. Tokens are
    * bound to a column first so the shingle lambda doesn't re-tokenize per
    * element (see [[graft.functions.TextFunctions.shingles]]).
    */
  private def shingled(d: DataFrame): DataFrame =
    d.withColumn("toks", toks)
      // size(toks) >= 3 ⟺ non-empty shingle set, and it's checkable BEFORE
      // computing shingles — a filter on size(shd) gets pushed below the
      // projection and re-runs the whole shingle pipeline per row
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), array_distinct(shingles(col("toks"), 3)).as("shd"))

  /** Per-doc synthesized 8-sample mono 8 kHz PCM16 clip (the mm_ppm asset
    * rule, audio seam): sample_i = (byte_i − 96)·512 over the first 8
    * text bytes — always within int16 for the ASCII corpus, negative for
    * spaces/digits so sign handling is exercised.
    */
  private def wavAssets(s: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[graft.operators.MultimodalOps.Asset] = {
    import graft.operators.MultimodalOps
    import s.implicits._
    docs(s, dir)
      .filter(length(col("text")) >= 8)
      // printable-ASCII prefix only (both engines filter identically):
      // bytes in [32,126] keep (b−96)·512 inside int16 — a control char
      // would WRAP in toShort while the oracle's ord() math doesn't, and
      // a non-ASCII char would break the 1-byte-per-char sample count
      .filter(substring(col("text"), 1, 8).rlike("^[ -~]*$"))
      .select(col("doc_id"), encode(substring(col("text"), 1, 8), "UTF-8").as("px"))
      .as[(Long, Array[Byte])]
      .map { case (id, px) =>
        val samples = px.map(b => (((b & 0xff) - 96) * 512).toShort)
        MultimodalOps.Asset(id, "audio/wav",
          MultimodalOps.encodeWav(MultimodalOps.WavAudio(8000, 1, samples)))
      }
  }

  private val NumHashes = 16
  private val Bands     = 4
  private val BandRows  = NumHashes / Bands

  /** Characteristic character-trigram profiles per language (top function
    * words' cores — the classic n-gram-profile language-ID shape).
    */
  private val LangProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", " th", "he ", "ing", "and", " of", "ion", " to"),
    "de" -> Seq("der", "ein", "ich", "sch", "und", " de", "en ", "cht"),
    "es" -> Seq(" el", " la", "ión", "que", " de", "los", "ent", "ado")
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- text analysis -------------------------------------------------
    // Token-window chunking — the training-data shaping step that turns
    // documents into model-sized sequences: stride-S windows of up to W
    // tokens, the last window anchored so the document tail is always
    // covered without a fully-subsumed trailing chunk. Pure per-row
    // explode (no shuffle); chunk_id is the window ordinal. (W=32/S=24
    // here so the synthetic 10-99-token docs exercise 1-4 windows; a
    // production call uses model-context sizes — the arithmetic is
    // identical.)
    "chunk_documents" -> { (s, dir) =>
      val W = 32; val S = 24
      docs(s, dir)
        .withColumn("tk", tokens(col("text")))
        .withColumn("n", size(col("tk")))
        .filter(col("n") > 0)
        .withColumn("start",
          explode(sequence(lit(0),
            expr(s"greatest(0, ((n - $W + ${S - 1}) div $S) * $S)"), lit(S))))
        .select(col("doc_id"),
          expr(s"CAST(start div $S AS BIGINT)").as("chunk_id"),
          slice(col("tk"), col("start") + 1, lit(W)).as("ck"))
        .select(col("doc_id"), col("chunk_id"),
          size(col("ck")).cast("long").as("n_tokens"),
          concat_ws(" ", col("ck")).as("chunk_text"))
    },

    // Cross-doc duplicate n-gram fraction (the per-doc dedup *statistic*
    // reported by large corpus pipelines: share of a doc's 5-gram
    // OCCURRENCES whose gram appears in at least one OTHER document).
    // Two gram-keyed shuffles (distinct doc-gram → doc frequency, then an
    // occurrence join) + one doc-keyed agg — linear in corpus grams,
    // never a pair space.
    "dedup_dup_ngram_fraction" -> { (s, dir) =>
      val n = 5
      // gram arrays built once (Reuse pin) — the doc-frequency branch and
      // the occurrence join would otherwise each re-run tokenize+gram-build
      // over the corpus (different join keys, no exchange reuse)
      val garr = docsFanned(s, dir).select(col("doc_id"), toks.as("tk"))
        .filter(size(col("tk")) >= n)
        .select(col("doc_id"),
          transform(sequence(lit(1), size(col("tk")) - (n - 1)),
            i => concat_ws(" ", slice(col("tk"), i, lit(n)))).as("gs"))
        .transform(Reuse.lineageCut(_))
      val grams = garr.select(col("doc_id"), explode(col("gs")).as("g"))
      val gdf = grams.distinct().groupBy("g").agg(count(lit(1)).as("gdf"))
      grams.join(gdf, "g")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("gdf") > 1, 1L).otherwise(0L)).as("dup_grams"))
        .select(col("doc_id"), col("n_grams"), col("dup_grams"),
          round(col("dup_grams").cast("double") / col("n_grams"), 6).as("dup_fraction"))
    },

    // Deterministic train/val/test assignment (80/10/10): salted md5 over
    // the doc key so the split is independent of the sampling hashes,
    // reproducible across engines/runs, and embarrassingly parallel (pure
    // per-row projection — no shuffle at any scale).
    "split_assign" -> { (s, dir) =>
      docs(s, dir).select(col("doc_id"), col("source"), splitBucket.as("bucket"),
        splitTier(splitBucket).as("split"))
    },

    // Split leakage audit — composes [[split_assign]] with the n-gram
    // machinery: for each held-out split, how many of its distinct
    // 5-grams also appear in train (the self-contamination check run
    // before training; same shape as benchmark decontamination but
    // between your own splits). One gram-keyed semi join; gram sets
    // never leave their keyed shuffles.
    "split_ngram_leakage" -> { (s, dir) =>
      val n = 5
      val g = docsFanned(s, dir)
        .select(col("doc_id"), splitTier(splitBucket).as("split"), toks.as("tk"))
        .filter(size(col("tk")) >= n)
        .select(col("split"),
          explode(transform(sequence(lit(1), size(col("tk")) - (n - 1)),
            i => concat_ws(" ", slice(col("tk"), i, lit(n))))).as("g"))
        .distinct()
      val train  = g.filter(col("split") === "train").select("g")
      val held   = g.filter(col("split") =!= "train")
      val totals = held.groupBy("split").agg(count(lit(1)).as("n_grams"))
      val seen = held.join(train, Seq("g"), "left_semi")
        .groupBy("split").agg(count(lit(1)).as("seen"))
      // LEFT join + coalesce: a split with ZERO leaked grams must still
      // report its row (the semi-join yields nothing for it)
      totals.join(seen, Seq("split"), "left")
        .select(col("split"), col("n_grams"),
          coalesce(col("seen"), lit(0L)).as("n_seen_in_train"),
          round(coalesce(col("seen"), lit(0L)).cast("double") / col("n_grams"), 6)
            .as("leak_fraction"))
    },

    // Token-length distribution per source in power-of-two buckets — the
    // corpus-audit histogram behind truncation/packing decisions. One
    // keyed agg over (source, bucket); partial aggregation collapses the
    // per-row stream map-side.
    "length_histogram" -> { (s, dir) =>
      docs(s, dir).select(col("source"), size(toks).cast("long").as("n"))
        .filter(col("n") >= 1)
        .withColumn("bucket_lo", pow(lit(2.0), floor(log2(col("n")))).cast("long"))
        .groupBy("source", "bucket_lo")
        .agg(count(lit(1)).as("n_docs"), sum("n").as("total_tokens"))
    },

    // Per-source unigram KL divergence against the corpus distribution —
    // the data-mixing drift diagnostic (which sources' token distributions
    // deviate most from the blend). Word-keyed shuffles only; the
    // source-total and corpus-total frames are tiny and broadcast.
    "source_unigram_kl" -> { (s, dir) =>
      // NOT fanned: the r14 A/B suggested a win but the r15 same-host
      // three-arm run measured the opposite (0.33 s plain / 0.51-0.52 s
      // fanned) — the single tokenize+explode here feeds a map-side
      // partial agg that is already cheap, and the exchange tax dominates
      val sc = docs(s, dir).select(col("source"), explode(toks).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("c"))
      val st = sc.groupBy("source").agg(sum("c").as("n_src"))
      val cc = sc.groupBy("w").agg(sum("c").as("cw"))
      val ct = cc.agg(sum("cw").as("n_all"))
      sc.join(broadcast(st), "source")
        .join(cc, "w")
        .crossJoin(broadcast(ct))
        .withColumn("p", col("c").cast("double") / col("n_src"))
        .withColumn("q", col("cw").cast("double") / col("n_all"))
        .groupBy("source")
        // exact-decimal weighted sum (ExactStats): the vocabulary-sized
        // fold is the likeliest summation-order ulp site in the repo
        .agg(ExactStats.sumExact6(col("p") * log(col("p") / col("q")))
          .as("kl_unigram"),
          max("n_src").as("n_tokens"))
    },

    "text_token_count" -> ((s, dir) =>
      docsFanned(s, dir).select(
        col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars_text"),
        ceil(length(col("text")) / 4.0).cast("long").as("n_tokens_bpe_est"),
        // BPE-ish pre-tokenizer: word / number / single-symbol pieces
        size(regexp_extract_all(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))
          .cast("long").as("n_tokens_re")
      )),

    "text_quality" -> { (s, dir) =>
      val d = docsFanned(s, dir).select(col("doc_id"), col("text"), toks.as("tk"))
      d.select(
        col("doc_id"),
        size(col("tk")).cast("long").as("n_tokens"),
        round((length(col("text")) - size(col("tk")) + 1).cast("double") / size(col("tk")), 6)
          .as("avg_token_len"),
        stopwordRatio(col("tk")).as("stopword_ratio"),
        round(
          least(size(col("tk")).cast("double") / 100.0, lit(1.0)) * 0.5 +
            (lit(1.0) - stopwordRatio(col("tk"))) * 0.5,
          6
        ).as("quality_score")
      )
    },

    "text_langid" -> { (s, dir) =>
      def hits(ws: Seq[String]) = size(filter(col("tk"), t => t.isin(ws: _*)))
      docsFanned(s, dir)
        .select(col("doc_id"), col("lang"), toks.as("tk"))
        .select(
          col("doc_id"),
          col("lang"),
          when(hits(Seq("der", "die", "und", "das")) > hits(Stopwords), lit("de"))
            .when(hits(Seq("el", "la", "los", "las")) > hits(Stopwords), lit("es"))
            .otherwise(lit("en"))
            .as("predicted_lang")
        )
    },

    "text_fingerprint" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), fingerprint(col("text")).as("fp"))),

    // Language-ID via character n-gram profiles: score = how many of the
    // language's characteristic trigrams occur in the text; argmax with
    // deterministic tie order.
    "text_langid_ngram" -> { (s, dir) =>
      def score(ngrams: Seq[String]) =
        size(filter(lit(ngrams.toArray), g => col("text").contains(g)))
      val en = score(LangProfiles("en"))
      val de = score(LangProfiles("de"))
      val es = score(LangProfiles("es"))
      docsFanned(s, dir).select(
        col("doc_id"), col("lang"),
        when(de > en && de >= es, lit("de"))
          .when(es > en, lit("es"))
          .otherwise(lit("en"))
          .as("predicted_lang"),
        en.cast("long").as("score_en"), de.cast("long").as("score_de"),
        es.cast("long").as("score_es"))
    },

    // Rabin–Karp rolling-hash fingerprint (native one-pass expression;
    // oracle folds the same arithmetic over HUGEINTs).
    "text_rolling_fingerprint" -> { (s, dir) =>
      import graft.functions.RollingHash.rolling_hash
      docs(s, dir).select(col("doc_id"), rolling_hash(col("text")).as("rfp"))
    },

    // Unigram entropy + type-token ratio: the information-density quality
    // signal (low entropy ⇒ repetitive/templated text; low TTR ⇒ tiny
    // vocabulary). One keyed shuffle on (doc_id, token) with map-side
    // partial counts; totals and the entropy sum both derive from that
    // exchange. Per-term contributions round to 6 dp and fold as exact
    // DECIMALs so the per-doc sum is order-independent across engines
    // (the lm_score trick — FP addition is not associative, decimal
    // addition is).
    "text_gram_entropy" -> { (s, dir) =>
      val tf = docs(s, dir)
        .select(col("doc_id"), explode(toks).as("tok"))
        .groupBy("doc_id", "tok")
        .agg(count(lit(1)).as("c"))
      // per-doc totals via a whole-partition window over tf — NOT a
      // second aggregate joined back, which would re-scan and re-explode
      // the corpus (the tf subplan is not exchange-reusable across the
      // join's two sides); this way: one scan, tf exchange + one doc_id
      // exchange, and the final agg reuses the doc_id partitioning
      val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
      val p = col("c").cast("double") / col("n_tokens")
      tf.withColumn("n_tokens", sum("c").over(w))
        .withColumn("n_distinct", count(lit(1)).over(w))
        .withColumn("term", round(-p * log(p), 6).cast("decimal(22,6)"))
        .groupBy("doc_id", "n_tokens", "n_distinct")
        .agg(sum("term").as("esum"))
        .select(
          col("doc_id"), col("n_tokens"), col("n_distinct"),
          round(col("n_distinct").cast("double") / col("n_tokens"), 6).as("ttr"),
          col("esum").cast("double").as("entropy"))
    },

    // Per-source intake dashboard: volume, exact-dup rate (distinct
    // canonical fingerprints vs docs), and size means per source — the
    // report a corpus owner reads to find which feeds are polluting the
    // mix. One shuffle on the low-cardinality source key; the distinct
    // count is Spark's standard two-phase expansion.
    "source_quality_report" -> { (s, dir) =>
      docsFanned(s, dir)
        .select(col("source"), fingerprint(col("text")).as("fp"),
          size(toks).as("ntk"), length(col("text")).as("nch"))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("fp")).as("n_unique"),
          sum(col("ntk").cast("long")).as("sum_tokens"),
          sum(col("nch").cast("long")).as("sum_chars"))
        .select(
          col("source"), col("n_docs"), col("n_unique"),
          round(lit(1.0) - col("n_unique").cast("double") / col("n_docs"), 6).as("dup_rate"),
          round(col("sum_tokens").cast("double") / col("n_docs"), 6).as("avg_tokens"),
          round(col("sum_chars").cast("double") / col("n_docs"), 6).as("avg_chars"))
    },

    // --- deduplication -------------------------------------------------
    // Exact: one shuffle keyed on the content fingerprint.
    "dedup_exact" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), fingerprint(col("text")).as("fp"))
        .groupBy("fp")
        .agg(min("doc_id").as("canonical_doc_id"), count(lit(1)).as("n_copies"))),

    // n-gram Jaccard with prefix blocking: pairs only within docs sharing
    // their first three tokens (planted near-dups share long prefixes).
    "dedup_ngram_jaccard" -> { (s, dir) =>
      val base = docsFanned(s, dir)
        .select(col("doc_id"), concat_ws(" ", slice(toks, 1, 3)).as("blk"))
      val sh = shingled(docsFanned(s, dir))
      val withBlk = base.join(sh, "doc_id")
      val a = withBlk.select(col("blk"), col("doc_id").as("doc_a"), col("shd").as("sh_a"))
      val b = withBlk.select(col("blk"), col("doc_id").as("doc_b"), col("shd").as("sh_b"))
      a.join(b, Seq("blk"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"), jaccard(col("sh_a"), col("sh_b")).as("jac"))
        .filter(col("jac") >= 0.2)
    },

    // Asymmetric containment near-dup: C(A→B) = |A∩B| / |A| ≥ 0.8 catches
    // docs that are near-SUBSETS of others (boilerplate embedded in a
    // larger page) — symmetric Jaccard misses those whenever sizes differ.
    // PPJoin-style LOSSLESS prefix filtering: order the gram universe by
    // ascending document frequency; a doc probes only its
    // |A| − ⌈0.8·|A|⌉ + 1 rarest grams. If C ≥ 0.8 the non-probed suffix
    // (⌈0.8|A|⌉ − 1 grams) cannot hold the whole ≥⌈0.8|A|⌉-gram
    // intersection, so at least one probe gram hits — no qualifying pair
    // is lost, and the oracle needs no blocking replica beyond this one.
    // All shuffles are keyed equality joins (gram df, probe join, two
    // set-verify joins) — linear in corpus grams, never all-pairs; the
    // df-order makes probes the RAREST grams (69 candidates for 56 true
    // pairs at sf0.001; a random gram order at t=0.5 yields 3432).
    "dedup_containment" -> ((s, dir) => containmentPairs(docsFanned(s, dir), 0.8)),

    // MinHash + LSH: 16 signatures, 4 bands × 4 rows; candidates share a
    // band key (slim-key equality join, hot buckets capped — see
    // [[minhashLshPairs]]), then exact Jaccard verification on shingle
    // sets re-attached per distinct candidate.
    "dedup_minhash_lsh" -> ((s, dir) => minhashLshPairs(docsFanned(s, dir))),

    // Similarity histogram over ALL verified LSH candidates (no
    // threshold): the calibration curve behind choosing a dedup cutoff —
    // how many pairs sit in each 0.05 Jaccard bin. Integer bin indices
    // (floor(jac·20)) keep the group key exact across engines; same plan
    // shape as the pair query it parameterizes.
    "dedup_similarity_histogram" -> { (s, dir) =>
      minhashLshPairs(docsFanned(s, dir), minJac = 0.0)
        .withColumn("bin", floor(col("jac") * 20).cast("long"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_pairs"),
          // exact-decimal mean (ExactStats): cross-engine ulp-stable
          ExactStats.meanExact6(col("jac"), count(lit(1))).as("avg_jac"))
    },

    // Dedup-threshold sweep — the downstream half of the calibration
    // story: at each candidate Jaccard cutoff, how many verified pairs
    // survive and how many DOCUMENTS are implicated (the corpus-loss
    // figure a dedup rollout is judged by). One verified-pair pass
    // (Reuse-pinned), thresholds fan out map-side; the literal threshold
    // spine left-joins so a cutoff with zero pairs still reports 0
    // (the split_ngram_leakage dropped-row lesson).
    "dedup_threshold_sweep" -> { (s, dir) =>
      val ths = Seq(0.1, 0.3, 0.5, 0.7, 0.9)
      val thArr = array(ths.map(lit): _*)
      val pairs = minhashLshPairs(docsFanned(s, dir), minJac = 0.0)
        .transform(Reuse.lineageCut(_)) // feeds the pair count AND the flagged-doc count
      val byT = pairs
        .select(col("doc_a"), col("doc_b"), explode(thArr).as("threshold"),
          col("jac"))
        .filter(col("jac") >= col("threshold"))
      val np = byT.groupBy("threshold").agg(count(lit(1)).as("np"))
      val nd = byT
        .select(col("threshold"),
          explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
        .distinct()
        .groupBy("threshold").agg(count(lit(1)).as("nd"))
      s.range(1).select(explode(thArr).as("threshold"))
        .join(np, Seq("threshold"), "left")
        .join(nd, Seq("threshold"), "left")
        .select(col("threshold"), coalesce(col("np"), lit(0L)).as("n_pairs"),
          coalesce(col("nd"), lit(0L)).as("n_docs_flagged"))
    },

    // SimHash distance histogram — where does the hamming cutoff sit?
    // Distribution of EXACT 32-bit hamming distances over all
    // block-collision candidate pairs (no ≤6 verify filter): the
    // calibration curve for dedup_simhash_pairs' threshold, same plan
    // shape as the pair query it parameterizes.
    "simhash_distance_histogram" -> { (s, dir) =>
      import graft.functions.SimHash32.simhash32
      // width from the documents-table count — the exact quantity the
      // oracle's adaptive-bits subquery counts (single-source, ADVICE r10)
      simhashPairs(
        docs(s, dir).select(col("doc_id"), simhash32(col("text")).as("simhash")),
        maxHamming = 32,
        blockBits = Some(simhashBlockBits(docs(s, dir).count())))
        .groupBy("hamming")
        .agg(count(lit(1)).as("n_pairs"))
    },

    // LM score by length bin — the confound audit behind perplexity
    // filtering (short docs score worse under any n-gram LM; filtering
    // on raw nll silently becomes a length filter). Mean nll per
    // power-of-two token-length bucket; the per-bin mean folds round-6
    // decimals so it is order-independent (the mean_cos discipline).
    "nll_by_length" -> { (s, dir) =>
      val d = docsFanned(s, dir)
      lmScore(d, keepAtMost = 5.36).select(col("doc_id"), col("nll"))
        .join(d.select(col("doc_id"), size(toks).cast("long").as("n")), "doc_id")
        .filter(col("n") >= 1)
        .withColumn("bucket_lo", pow(lit(2.0), floor(log2(col("n")))).cast("long"))
        .groupBy("bucket_lo")
        .agg(count(lit(1)).as("n_docs"),
          round(sum(col("nll").cast("decimal(22,6)")).cast("double") /
            count(lit(1)), 6).as("mean_nll"))
    },

    // Heuristic-vs-LM filter agreement: per source, the Pearson
    // correlation between the composite quality score and the trigram-LM
    // nll — strongly negative means the cheap heuristic and the LM
    // agree on ordering (and one of them is redundant); near zero means
    // they filter different documents. Two per-doc scorer passes joined
    // on doc_id, one keyed agg of covariance moments.
    "quality_lm_correlation" -> { (s, dir) =>
      val d = docsFanned(s, dir)
      lmScore(d, keepAtMost = 5.36).select(col("doc_id"), col("nll"))
        .join(queries("text_quality")(s, dir)
          .select(col("doc_id"), col("quality_score")), "doc_id")
        .join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          round(corr(col("quality_score"), col("nll")), 6)
            .as("quality_nll_corr"))
    },

    // Quality-threshold retention sweep — the other calibration curve: at
    // each candidate cutoff, how many documents and tokens survive. The
    // 10-point grid explodes map-side from each row (no extra shuffle
    // beyond the final 10-group agg).
    "quality_threshold_sweep" -> { (s, dir) =>
      val q = docsFanned(s, dir).select(col("doc_id"), toks.as("tk"))
        .select(col("doc_id"), size(col("tk")).cast("long").as("n_tokens"),
          round(
            least(size(col("tk")).cast("double") / 100.0, lit(1.0)) * 0.5 +
              (lit(1.0) - stopwordRatio(col("tk"))) * 0.5, 6).as("qs"))
      q.select(col("n_tokens"), col("qs"),
          explode(sequence(lit(0), lit(9))).as("t10"))
        .withColumn("threshold", round(col("t10") / 10.0, 1))
        .groupBy("threshold")
        .agg(
          sum(when(col("qs") >= col("threshold"), 1L).otherwise(0L)).as("n_docs_kept"),
          sum(when(col("qs") >= col("threshold"), col("n_tokens")).otherwise(0L))
            .as("tokens_kept"))
        .select(col("threshold"), col("n_docs_kept"), col("tokens_kept"))
    },

    // The signature-only variant: candidate pairs ranked by the MinHash
    // Jaccard ESTIMATE (fraction of agreeing signatures) — no shingle
    // sets ride the join, so per-doc state is 16 longs regardless of
    // document size. The memory-light path when approximate similarity
    // suffices at corpus scale; the exact-verify variant above is the
    // precision path.
    "dedup_minhash_estimate" -> { (s, dir) =>
      // the signature frame feeds band build + both estimate joins;
      // materialize the (tokenize → shingle → minhash) pipeline once
      val sig = Reuse.lineageCut(minhashSigs(shingled(docsFanned(s, dir))))
      val cand = minhashBandCands(sig, graft.operators.LshJoins.DefaultMaxBucket,
        "minhash_est_cap")
      minhashEstimateFromSigs(sig, cand)
    },

    // Per-source corpus MinHash profiles + pairwise similarity: the
    // element-wise MIN of document signatures IS the signature of the
    // source's shingle-set UNION (the MinHash merge property), so 16
    // longs per source summarize its whole gram universe and pairwise
    // agreement estimates the Jaccard between SOURCES — the cross-corpus
    // overlap diagnostic a mixing owner reads before setting weights.
    // One native signature pass + one tiny keyed agg; the pair join is
    // post-aggregation (sources × sources), never document-scale.
    "source_minhash_sim" -> { (s, dir) =>
      import graft.functions.MinHashSigs.minhash_sigs
      import graft.functions.ArrayMinAgg.array_min_agg
      val sigs = docsFanned(s, dir)
        .withColumn("toks", toks)
        .filter(size(col("toks")) >= 3)
        .select(col("source"),
          minhash_sigs(array_distinct(shingles(col("toks"), 3)), NumHashes).as("mhs"))
        .groupBy("source")
        .agg(array_min_agg(col("mhs")).as("sig"))
      val a = sigs.select(col("source").as("src_a"), col("sig").as("sa"))
      val b = sigs.select(col("source").as("src_b"), col("sig").as("sb"))
      a.join(b, col("src_a") < col("src_b"))
        .select(col("src_a"), col("src_b"),
          (aggregate(
            zip_with(col("sa"), col("sb"), (x, y) => when(x === y, 1.0).otherwise(0.0)),
            lit(0.0), _ + _) / NumHashes).as("sim_est"))
    },

    // Measure the signature estimator against exact verification: pairs
    // the estimate path (agreement ≥ 0.5) accepts that exact Jaccard
    // (≥ 0.4) rejects, and vice versa — the false-positive/miss report
    // that justifies (or forbids) running the memory-light path alone
    // at scale. Set difference via EXCEPT over two already-verified
    // pipelines, the same composition shape as embed_ivf_recall. On the
    // synthetic corpus the two paths agree EXACTLY (the report is
    // empty, and the oracle proves both engines compute that same empty
    // set) — the operator exists for real corpora, where they won't.
    // Estimator calibration: where the signature estimate and the exact
    // verify disagree. The standalone paths band IDENTICAL signatures, so
    // ONE shingle pass, ONE signature pass, and ONE capped band join feed
    // both scorers here — half the corpus scans of composing the two
    // standalone queries.
    "dedup_estimate_vs_exact" -> { (s, dir) =>
      val sh   = Reuse.lineageCut(shingled(docsFanned(s, dir)))
      val sig  = Reuse.lineageCut(minhashSigs(sh))
      val cand = Reuse.lineageCut(minhashBandCands(sig, graft.operators.LshJoins.DefaultMaxBucket,
        "est_vs_exact_cap"))
      val exact = minhashLshPairsFromShingles(sh, cand, 0.4).select("doc_a", "doc_b")
      val est   = minhashEstimateFromSigs(sig, cand).select("doc_a", "doc_b")
      est.except(exact).withColumn("side", lit("estimate_only"))
        .unionByName(exact.except(est).withColumn("side", lit("exact_only")))
    },

    // Where do near-dups come from? Verified LSH pairs attributed to
    // their (unordered) source pair — separates intra-feed duplication
    // (a crawler re-fetching) from cross-feed duplication (mirrored
    // content), which call for different fixes. Two broadcast-size dim
    // joins over the pair frame + one narrow agg.
    "dedup_cross_source" -> { (s, dir) =>
      val src   = docsFanned(s, dir).select(col("doc_id"), col("source"))
      val pairs = minhashLshPairs(docsFanned(s, dir)).select("doc_a", "doc_b")
      pairs
        .join(src.select(col("doc_id").as("doc_a"), col("source").as("src_a")), "doc_a")
        .join(src.select(col("doc_id").as("doc_b"), col("source").as("src_b")), "doc_b")
        .groupBy(
          least(col("src_a"), col("src_b")).as("source_lo"),
          greatest(col("src_a"), col("src_b")).as("source_hi"))
        .agg(count(lit(1)).as("n_pairs"))
    },

    // SimHash signature per doc: 32 bits, majority vote over token hashes.
    // Native one-pass expression (zero shuffles, no tokens×32 row blowup);
    // the oracle SQL keeps the equivalent explode formulation.
    "dedup_simhash" -> { (s, dir) =>
      import graft.functions.SimHash32.simhash32
      docsFanned(s, dir).select(col("doc_id"), simhash32(col("text")).as("simhash"))
    },

    // Duplicate clusters: connected components over the MinHash-LSH
    // candidate pairs via alternating large-star/small-star rounds —
    // the canonical-group assignment step of a dedup pipeline. O(log n)
    // rounds of two keyed shuffles each; at the fixpoint the edge set IS
    // the star forest, so labels need no separate propagation (see
    // [[graft.operators.ConnectedComponents]]).
    "dedup_clusters" -> { (s, dir) =>
      val pairs = minhashLshPairs(docsFanned(s, dir)).select("doc_a", "doc_b")
      graft.operators.ConnectedComponents.labels(pairs)._1
        .select(col("id").as("doc_id"), col("label").as("cluster_id"))
    },

    // Multimodal: binary payload + typed metadata through the per-partition
    // decode-stub pipeline (real plumbing, stubbed codec — see
    // MultimodalOps). head_sum is ASCII-byte math the oracle reproduces.
    "mm_binary_features" -> { (s, dir) =>
      import graft.operators.MultimodalOps
      MultimodalOps
        .extractFeatures(MultimodalOps.documentAssets(s, docsFanned(s, dir)))
        .toDF()
    },

    // Multimodal through the REAL codec: a 2×2 P6 PPM is synthesized per
    // doc from its first 12 text bytes, encoded to wire bytes, then
    // decoded and feature-extracted by the actual parser
    // ([[graft.operators.MultimodalOps.decodePpm]]); the oracle computes
    // the channel means independently from ord() arithmetic, so the
    // whole encode→decode→features path is hash-checked.
    "mm_ppm_features" -> { (s, dir) =>
      import graft.operators.MultimodalOps
      import s.implicits._
      val assets = docs(s, dir)
        .filter(length(col("text")) >= 12)
        .select(col("doc_id"), encode(substring(col("text"), 1, 12), "UTF-8").as("px"))
        .as[(Long, Array[Byte])]
        .map { case (id, px) =>
          MultimodalOps.Asset(id, "image/x-portable-pixmap",
            MultimodalOps.encodePpm(MultimodalOps.PpmImage(2, 2, 255, px)))
        }
      MultimodalOps.ppmFeatures(assets)
        .select(col("id"), col("width"), col("height"),
          round(col("mean_r"), 6).as("mean_r"),
          round(col("mean_g"), 6).as("mean_g"),
          round(col("mean_b"), 6).as("mean_b"))
    },

    // The REAL resize kernel under the oracle: the same synthesized 2×2
    // PPM is nearest-neighbor-resampled to 3×3 by
    // [[graft.operators.MultimodalOps.ppmResize]] (decode → integer-grid
    // sample → re-encode), then feature-extracted; the oracle recomputes
    // the 3×3 channel means from the floor-division sampling weights
    // (src (0,0) sampled 4×, (0,1)/(1,0) 2×, (1,1) 1×) — so the full
    // decode→resize→encode→decode→features chain is hash-checked.
    "mm_ppm_resize" -> { (s, dir) =>
      import graft.operators.MultimodalOps
      import s.implicits._
      val assets = docs(s, dir)
        .filter(length(col("text")) >= 12)
        .select(col("doc_id"), encode(substring(col("text"), 1, 12), "UTF-8").as("px"))
        .as[(Long, Array[Byte])]
        .map { case (id, px) =>
          MultimodalOps.Asset(id, "image/x-portable-pixmap",
            MultimodalOps.encodePpm(MultimodalOps.PpmImage(2, 2, 255, px)))
        }
      MultimodalOps.ppmFeatures(MultimodalOps.ppmResize(assets, 3, 3))
        .select(col("id"), col("width"), col("height"),
          round(col("mean_r"), 6).as("mean_r"),
          round(col("mean_g"), 6).as("mean_g"),
          round(col("mean_b"), 6).as("mean_b"))
    },

    // Multimodal VIDEO through a REAL container parser: a 2-frame 2×2 P6
    // sequence is synthesized per doc from its first 24 text bytes, each
    // frame encoded to wire bytes and concatenated, then the whole
    // container is re-parsed frame by frame by the cursor-based
    // [[graft.operators.MultimodalOps.decodePpmSequence]] and
    // feature-extracted; the oracle recomputes each frame's channel
    // means from ord() arithmetic at the frame offsets — so multi-frame
    // wire parsing is hash-checked end to end.
    "mm_video_frames" -> { (s, dir) =>
      import graft.operators.MultimodalOps
      import s.implicits._
      val assets = docsFanned(s, dir)
        .filter(length(col("text")) >= 24)
        .select(col("doc_id"), encode(substring(col("text"), 1, 24), "UTF-8").as("px"))
        .as[(Long, Array[Byte])]
        .map { case (id, px) =>
          val container = px.grouped(12).map(p =>
            MultimodalOps.encodePpm(MultimodalOps.PpmImage(2, 2, 255, p)))
            .reduce(_ ++ _)
          MultimodalOps.Asset(id, "video/x-ppm-seq", container)
        }
      MultimodalOps.videoFrameFeatures(assets)
        .select(col("id"), col("frame_idx"), col("width"), col("height"),
          round(col("mean_r"), 6).as("mean_r"),
          round(col("mean_g"), 6).as("mean_g"),
          round(col("mean_b"), 6).as("mean_b"))
    },

    // Multimodal AUDIO through a REAL codec: an 8-sample mono PCM16 WAV
    // is synthesized per doc from its first 8 text bytes
    // (sample = (byte − 96)·512), encoded to RIFF wire bytes, then
    // decoded and feature-extracted by the actual parser
    // ([[graft.operators.MultimodalOps.decodeWav]]); the oracle
    // recomputes RMS/peak/mean from ord() arithmetic, so the whole
    // encode→decode→features path is hash-checked — the mm_ppm_features
    // proof, audio seam.
    "mm_wav_features" -> { (s, dir) =>
      import graft.operators.MultimodalOps
      MultimodalOps.wavFeatures(wavAssets(s, dir))
        .select(col("id"), col("sample_rate"), col("channels"),
          col("n_samples"), round(col("rms"), 6).as("rms"), col("peak"),
          round(col("mean"), 6).as("mean"))
    },

    // The REAL sample-rate converter under the oracle: the same 8000 Hz
    // clip nearest-neighbor-decimated to 4000 Hz by
    // [[graft.operators.MultimodalOps.wavResample]] (decode →
    // integer-grid frame pick → re-encode), then feature-extracted — the
    // surviving frames are exactly the odd text positions 1,3,5,7, which
    // the oracle recomputes directly. Full
    // decode→resample→encode→decode→features chain hash-checked.
    "mm_wav_resample" -> { (s, dir) =>
      import graft.operators.MultimodalOps
      MultimodalOps.wavFeatures(MultimodalOps.wavResample(wavAssets(s, dir), 4000))
        .select(col("id"), col("sample_rate"), col("channels"),
          col("n_samples"), round(col("rms"), 6).as("rms"), col("peak"),
          round(col("mean"), 6).as("mean"))
    },

    // Multimodal: deterministic frame sampling (4 windows of 16 bytes).
    "mm_frame_sample" -> { (s, dir) =>
      import graft.operators.MultimodalOps
      MultimodalOps
        .sampleFrames(MultimodalOps.documentAssets(s, docsFanned(s, dir)), 4, 16)
        .toDF()
    },

    // SimHash near-dup pairs: multi-rotation prefix blocking with
    // corpus-adaptive block width ([[simhashBlockBits]]), verify
    // hamming ≤ 6 (see [[simhashPairs]]).
    "dedup_simhash_pairs" -> { (s, dir) =>
      import graft.functions.SimHash32.simhash32
      // width from the documents-table count — the exact quantity the
      // oracle's adaptive-bits subquery counts (single-source, ADVICE r10)
      simhashPairs(
        docs(s, dir).select(col("doc_id"), simhash32(col("text")).as("simhash")),
        blockBits = Some(simhashBlockBits(docs(s, dir).count())))
    },

    // The SCALED block geometry (20-bit prefixes — what simhashBlockBits
    // picks past 8.4M docs) forced at gate scale, so the wide-block
    // engine path AND its oracle mirror are exact-checked by the driver
    // even though the gate corpus is small (the embed_rp_lsh_wide
    // pattern).
    "dedup_simhash_wide" -> { (s, dir) =>
      import graft.functions.SimHash32.simhash32
      simhashPairs(
        docs(s, dir).select(col("doc_id"), simhash32(col("text")).as("simhash")),
        blockBits = Some(20))
    },

    // Dedup DROP LIST — the step real pipelines ship: for every verified
    // near-dup pair, the lower-quality member is dropped (tie → keep the
    // lower doc_id). Linear in the pair count; composes [[minhashLshPairs]]
    // with the quality score through two keyed joins (see [[dropList]] for
    // the reuse-friendly form).
    "dedup_drop_list" -> { (s, dir) =>
      dropList(
        minhashLshPairs(docsFanned(s, dir)),
        queries("text_quality")(s, dir).select(col("doc_id"), col("quality_score")))
    },

    // PII masking: email addresses then long digit runs replaced by
    // sentinels, plus per-doc detection counts — one codegen'd regex pass.
    // Patterns restricted to the RE2 ∩ java.util.regex dialect so the
    // DuckDB oracle is bit-identical. The corpus is synthetic lorem, so a
    // deterministic contact string is appended to give the masker real
    // work on every row (the d1-roundtrip pattern).
    "text_pii_mask" -> { (s, dir) =>
      val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val numPat   = "[0-9]{4,}"
      val synth = concat(substring(col("text"), 1, 20),
        lit(" contact doc"), col("doc_id"), lit("@example.com tel 5550199"))
      docsFanned(s, dir)
        .select(col("doc_id"), synth.as("raw"))
        .select(
          col("doc_id"),
          size(regexp_extract_all(col("raw"), lit(emailPat), lit(0)))
            .cast("long").as("n_emails"),
          regexp_replace(
            regexp_replace(col("raw"), emailPat, "<EMAIL>"),
            numPat, "<NUM>").as("masked"))
    },

    // --- training-set assembly -----------------------------------------
    // Deterministic stratified sampling: hash-bucket on doc_id (md5, the
    // oracle-shared hash) with a per-language rate — reproducible across
    // runs/engines, no RNG state, embarrassingly parallel (pure filter).
    "sample_stratified" -> { (s, dir) =>
      val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100
      docs(s, dir)
        .select(col("doc_id"), col("lang"), bucket.as("bucket"))
        .filter(col("bucket") < when(col("lang") === "en", 10).otherwise(30))
    },

    // Token-budget sampling — the data-MIXING step of a training
    // pipeline: per language, documents are taken in deterministic
    // md5 order until the language's token budget is exhausted
    // (exclusive prefix sum < budget ⇒ the doc that crosses the budget
    // is the last one in). One keyed window per language, no RNG state,
    // reproducible across engines and runs.
    "sample_token_budget" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val budget = when(col("lang") === "en", 2000L).otherwise(1000L)
      val w = Window.partitionBy("lang").orderBy("ord")
      docs(s, dir)
        .select(col("doc_id"), col("lang"),
          size(toks).cast("long").as("n_tokens"),
          md5(col("doc_id").cast("string")).as("ord"))
        .withColumn("cum_before", sum("n_tokens").over(w) - col("n_tokens"))
        .filter(col("cum_before") < budget)
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("cum_before"))
    },

    // Hot-key-safe token-budget sampling: identical output via the chunked
    // two-level prefix sum (operators/PrefixSum) — `lang` is exactly the
    // low-cardinality key whose window partition holds a macroscopic share
    // of a 100 TB corpus; see the operator Scaladoc and SCALE.md's skew
    // inventory.
    "sample_token_budget_skewsafe" -> { (s, dir) =>
      val budget = when(col("lang") === "en", 2000L).otherwise(1000L)
      val d = docs(s, dir)
        .select(col("doc_id"), col("lang"),
          size(toks).cast("long").as("n_tokens"),
          md5(col("doc_id").cast("string")).as("ord"))
      graft.operators.PrefixSum.runningSumExclusive(d, Seq("lang"), Seq("ord"),
          "n_tokens", "cum_before", s.sparkContext.defaultParallelism * 4)
        .filter(col("cum_before") < budget)
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("cum_before"))
    },

    // BM25 retrieval (Robertson/Lucene formulation, k1=1.2 b=0.75) for a
    // literal query-term set: tf and df from two keyed aggregations, the
    // per-doc score one grouped sum, global top-20 via orderBy+limit
    // (TakeOrderedAndProject — per-partition top-k then a 20-row merge,
    // NOT a single-partition window). N and avgdl ride as a broadcast
    // 1-row aggregate (no eager driver action at build time — the whole
    // query is one lazy job); all BM25 constants appear as the same
    // decimal literals in both engines so the doubles agree exactly.
    "bm25_search" -> { (s, dir) =>
      val terms = Seq("table", "query", "spark")
      val d = docs(s, dir).select(col("doc_id"), toks.as("tk"))
        .withColumn("dl", size(col("tk")).cast("double"))
      val consts = d.agg(
        count(lit(1)).cast("double").as("n_docs"), avg("dl").as("avgdl"))
      val tf = d.select(col("doc_id"), col("dl"), explode(col("tk")).as("term"))
        .filter(col("term").isin(terms: _*))
        .groupBy("doc_id", "dl", "term")
        .agg(count(lit(1)).cast("double").as("tf"))
      val df = tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
      val idf = log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1)
      tf.join(df, "term")
        .crossJoin(broadcast(consts))
        .withColumn("contrib",
          idf * col("tf") * lit(2.2) /
            (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
        .groupBy("doc_id")
        // exact-decimal weighted sum (ExactStats): cross-engine
        // ulp-stable fold of the per-term BM25 contributions
        .agg(ExactStats.sumExact6(col("contrib")).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(20)
    },

    // TF-IDF top terms per document: one explode + two keyed aggregations
    // (term frequency, document frequency), then per-doc top-3 via the
    // BOUNDED TopKStructs aggregate — the window formulation
    // (row_number over orderBy) sorts every document's full term set;
    // the aggregate carries at most 2k rows per doc through partial,
    // shuffle, and merge. Descending order by putting −tfidf first in
    // the struct (term second = the deterministic tiebreak); corpus size
    // rides as a broadcast 1-row aggregate (no eager driver action).
    "tfidf_top_terms" -> { (s, dir) =>
      import graft.functions.TopKStructs.top_k_structs
      val d     = docs(s, dir)
      val nd    = d.agg(count(lit(1)).cast("double").as("n_docs"))
      val terms = d.select(col("doc_id"), explode(toks).as("term"))
      val tf    = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfq   = tf.groupBy("term").agg(count(lit(1)).as("df"))
      tf.join(dfq, "term")
        .crossJoin(broadcast(nd))
        .withColumn("tfidf", round(col("tf") * log(col("n_docs") / col("df")), 6))
        .groupBy("doc_id")
        .agg(top_k_structs(
          struct((-col("tfidf")).as("neg"), col("term"), col("tf"),
            col("df"), col("tfidf")), 3).as("top"))
        .select(col("doc_id"), posexplode(col("top")))
        .select(col("doc_id"), col("col.term").as("term"), col("col.tf").as("tf"),
          col("col.df").as("df"), col("col.tfidf").as("tfidf"),
          (col("pos") + 1).cast("long").as("rnk"))
    },

    // Sequence packing (concat-and-chop): documents stream in doc_id order
    // within each source shard; token offsets come from a PARTITIONED
    // running sum, then context-window ids are plain arithmetic. The
    // standard LLM pretraining packer, shuffle = one hash on source.
    "pack_sequences" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val cap = 2048
      val d = docs(s, dir).select(col("doc_id"), col("source"),
        size(toks).cast("long").as("n_tokens"))
      val w = Window.partitionBy("source").orderBy("doc_id")
      d.withColumn("start_tok", sum("n_tokens").over(w) - col("n_tokens"))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          expr(s"start_tok div $cap").as("bin_id"),
          (col("start_tok") % cap).as("bin_offset"))
    },

    // Hot-key-safe sequence packing: identical layout via the chunked
    // two-level prefix sum (operators/PrefixSum) — a source shard holding
    // a macroscopic corpus share is the regime the bare `source`-keyed
    // window cannot survive; see SCALE.md's skew inventory.
    "pack_sequences_skewsafe" -> { (s, dir) =>
      val cap = 2048
      val d = docs(s, dir).select(col("doc_id"), col("source"),
        size(toks).cast("long").as("n_tokens"))
      graft.operators.PrefixSum.runningSumExclusive(d, Seq("source"),
          Seq("doc_id"), "n_tokens", "start_tok",
          s.sparkContext.defaultParallelism * 4)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          expr(s"start_tok div $cap").as("bin_id"),
          (col("start_tok") % cap).as("bin_offset"))
    },

    // Packing-efficiency readout over [[pack_sequences]]'s concat-and-chop
    // layout: per source, bin count and the fraction of documents that
    // straddle a bin boundary (the attention-contamination / truncation
    // proxy that drives cap choice). One keyed agg over the packed frame.
    "pack_boundary_stats" -> { (s, dir) =>
      val cap = 2048
      queries("pack_sequences")(s, dir)
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("n_tokens").as("total_tokens"),
          sum(when(col("bin_offset") + col("n_tokens") > cap, 1L).otherwise(0L))
            .as("spanning_docs"))
        .select(col("source"), col("n_docs"), col("total_tokens"),
          ceil(col("total_tokens") / lit(cap.toDouble)).cast("long").as("n_bins"),
          col("spanning_docs"),
          round(col("spanning_docs").cast("double") / col("n_docs"), 6)
            .as("spanning_fraction"))
    },

    // Duplicate-cluster size distribution — the dedup audit headline
    // (how much of the corpus sits in 2-clusters vs mega-clusters). Two
    // tiny keyed aggs over the CC labels.
    "dedup_cluster_sizes" -> { (s, dir) =>
      queries("dedup_clusters")(s, dir)
        .groupBy("cluster_id").agg(count(lit(1)).as("sz"))
        .groupBy("sz").agg(count(lit(1)).as("n_clusters"))
        .select(col("sz").as("cluster_size"), col("n_clusters"))
    },

    // Gopher/C4-style repetition & quality filters — the standard public
    // pre-training heuristics (Rae et al. 2021 §A1.1, C4): duplicate-line
    // fractions, top-n-gram character concentration, symbol-to-word
    // ratio, mean word length, alphabetic-word fraction, and the
    // composite keep flag. Entirely per-row expressions: ZERO shuffles.
    "text_repetition_filters" -> ((s, dir) => repetitionFilters(docs(s, dir))),

    // Substring-level exact dedup: maximal verbatim token spans (≥ 50
    // tokens) appearing in ≥ 2 distinct documents — catches boilerplate /
    // license / memorization-risk spans embedded in otherwise-distinct
    // docs, which doc-level MinHash misses (see [[substringSpans]]).
    "dedup_substring_spans" -> ((s, dir) => substringSpans(docs(s, dir), 50)),

    // The consuming rewrite: every non-canonical duplicated span
    // (canonical = min doc_id per span fingerprint) is CUT from the
    // text, token-aligned, overlapping ranges merged (see [[dropSpans]]).
    "dedup_substring_drop" -> ((s, dir) => dropSpans(docsFanned(s, dir), 50)),

    // Benchmark decontamination: any document sharing an 8-gram with the
    // benchmark set (here: doc_id < 10) is dropped. Bench grams are tiny →
    // broadcast; corpus grams never self-join.
    "decontaminate" -> { (s, dir) =>
      val grams = docsFanned(s, dir)
        .withColumn("tk", toks)
        .filter(size(col("tk")) >= 8) // pre-shingle filter (see shingled)
        .select(col("doc_id"), explode(array_distinct(shingles(col("tk"), 8))).as("g8"))
      val bench = grams.filter(col("doc_id") < 10).select("g8").distinct()
      val contaminated = grams.filter(col("doc_id") >= 10)
        .join(broadcast(bench), "g8")
        .select("doc_id").distinct()
      docsFanned(s, dir)
        .filter(col("doc_id") >= 10)
        .join(contaminated, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("source"))
    },

    // Bloom-filter decontamination — the 100 TB shape when the benchmark
    // gram set outgrows an exact broadcast: the bench 8-grams fold into
    // ONE Spark-native Bloom sketch (bloom_filter_agg — fixed bits
    // regardless of set size), and corpus grams probe it with
    // might_contain. By construction the sketch has NO false negatives
    // (every truly contaminated doc is flagged) and only bounded false
    // positives; both facts are checked with the estimator-bound pattern
    // (approx_distinct_error): the exact per-source contamination counts
    // come from the same SQL as `decontaminate`, and the two booleans are
    // deterministic because the sketch is hash-based, not randomized.
    "decontaminate_bloom_check" -> { (s, dir) =>
      val grams = docsFanned(s, dir)
        .withColumn("tk", toks)
        .filter(size(col("tk")) >= 8)
        .select(col("doc_id"), explode(array_distinct(shingles(col("tk"), 8))).as("g8"))
      val bench  = grams.filter(col("doc_id") < 10).select("g8").distinct()
      val corpus = grams.filter(col("doc_id") >= 10)
      // bloom_filter_agg/might_contain are registry-internal — built as
      // Catalyst expressions directly (the TopKStructs column pattern)
      import org.apache.spark.sql.GraftBridge.{column => gcol, expression => gexpr}
      import org.apache.spark.sql.catalyst.expressions.Literal
      import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
      import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
      // might_contain requires a CONSTANT sketch (the same restriction the
      // planner's injected runtime bloom joins satisfy via scalar
      // subquery): materialize the fixed-size binary (numBits/8 bytes —
      // ~100 KB here, independent of bench-set cardinality) and embed it
      val bf = bench.agg(
        gcol(new BloomFilterAggregate(gexpr(xxhash64(col("g8"))),
          Literal(100000L), Literal(800000L)).toAggregateExpression()).as("bf"))
        .collect().head.getAs[Array[Byte]]("bf")
      val flagged = corpus
        .filter(gcol(BloomFilterMightContain(
          Literal(bf, org.apache.spark.sql.types.BinaryType),
          gexpr(xxhash64(col("g8"))))))
        .select("doc_id").distinct().withColumn("bl", lit(1L))
      val exact = corpus.join(broadcast(bench), "g8")
        .select("doc_id").distinct().withColumn("ex", lit(1L))
      docsFanned(s, dir).filter(col("doc_id") >= 10).select("doc_id", "source")
        .join(exact, Seq("doc_id"), "left")
        .join(flagged, Seq("doc_id"), "left")
        .groupBy("source")
        .agg(
          sum(coalesce(col("ex"), lit(0L))).as("n_contaminated"),
          (min(when(col("ex") === 1L, coalesce(col("bl"), lit(0L)))
            .otherwise(lit(1L))) === 1L).as("no_false_negatives"),
          ((sum(when(col("ex").isNull && col("bl") === 1L, 1L).otherwise(0L))
            .cast("double") /
            greatest(sum(when(col("ex").isNull, 1L).otherwise(0L)).cast("double"),
              lit(1.0))) <= 0.01).as("fp_bounded"))
    },

    // Per-document contamination SEVERITY — the graded companion to the
    // boolean drop in `decontaminate`: the fraction of a doc's distinct
    // 8-grams that appear in the benchmark set. A release pipeline drops
    // on a threshold and audits the gray zone by hand, so the report
    // carries the raw counts, the fraction, and the would-drop flag at
    // 5%. Same shape as `decontaminate` at scale: bench grams broadcast,
    // then ONE keyed agg on doc_id — no self-join, nothing quadratic.
    "decontaminate_overlap" -> { (s, dir) =>
      val grams = docsFanned(s, dir)
        .withColumn("tk", toks)
        .filter(size(col("tk")) >= 8)
        .select(col("doc_id"), explode(array_distinct(shingles(col("tk"), 8))).as("g8"))
      val bench = grams.filter(col("doc_id") < 10).select("g8").distinct()
      val frac = col("n_contaminated").cast("double") / col("n_grams").cast("double")
      grams.filter(col("doc_id") >= 10)
        .join(broadcast(bench.withColumn("hit", lit(1L))), Seq("g8"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(coalesce(col("hit"), lit(0L))).as("n_contaminated"))
        .select(col("doc_id"), col("n_grams"), col("n_contaminated"),
          frac.as("overlap_frac"), (frac >= 0.05).as("flag_drop"))
    },

    // Data-mixing weights — the planning step BEFORE `sample_upsample`:
    // from each source's observed token share, the sampling weight that
    // moves the mixture toward a uniform per-source target, capped (5x)
    // so a tiny source cannot explode into unbounded epochs. The only
    // corpus-sized work is the first keyed agg (map-side combined); the
    // per-source frame and the 1-row total are both broadcast-sized at
    // any corpus scale — source cardinality doesn't grow with tokens.
    "source_mixture_weights" -> { (s, dir) =>
      val per = docs(s, dir)
        .select(col("source"), size(toks).cast("long").as("n_tokens"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("source_tokens"))
      val tot = per.agg(sum("source_tokens").cast("double").as("total_tokens"),
        count(lit(1)).cast("double").as("n_sources"))
      val share = col("source_tokens").cast("double") / col("total_tokens")
      per.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("source_tokens"),
          share.as("token_share"),
          least(lit(5.0), (lit(1.0) / col("n_sources")) / share).as("weight"))
    },

    // Domain-mix upsampling — the fractional-epoch step of a data-mixing
    // recipe (e.g. wiki×2.3, web×0.5): every doc gets floor(w) copies plus
    // one more for a deterministic md5-bucket fraction of docs. Weights in
    // integer tenths so the fractional draw is exact integer arithmetic —
    // no RNG state, reproducible across engines, a pure per-row explode
    // (epochs materialize as rows only where the plan consumes them).
    "sample_upsample" -> { (s, dir) =>
      val srcNum = regexp_extract(col("source"), "src(\\d+)", 1).cast("int")
      val w10 = element_at(
        array(lit(5L), lit(11L), lit(17L), lit(23L)), (srcNum % 4) + 1)
      val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 10
      docs(s, dir)
        .select(col("doc_id"), col("source"),
          (floor(w10 / 10) + when(bucket < w10 % 10, 1L).otherwise(0L))
            .cast("long").as("n_copies"))
        .filter(col("n_copies") >= 1)
        .select(col("doc_id"), col("source"), col("n_copies"),
          explode(sequence(lit(1L), col("n_copies"))).as("epoch"))
    },

    // Deterministic global shuffle + shard assignment — the write-side
    // plan of a training run: md5 order is the pseudo-random permutation,
    // shard = hash bucket, and within each shard a rank + running token
    // offset (one keyed window per shard; shard count scales with data so
    // no partition concentrates at 100 TB).
    "shard_plan" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val h = md5(col("doc_id").cast("string"))
      val w = Window.partitionBy("shard").orderBy("ord")
      docs(s, dir)
        .select(col("doc_id"), size(toks).cast("long").as("n_tokens"),
          (conv(substring(h, 1, 8), 16, 10).cast("long") % 8).as("shard"),
          h.as("ord"))
        .withColumn("pos_in_shard", row_number().over(w).cast("long"))
        .withColumn("tok_offset",
          (sum("n_tokens").over(w) - col("n_tokens")).cast("long"))
        .select("doc_id", "shard", "pos_in_shard", "tok_offset", "n_tokens")
    },

    // Winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    // algorithm): token 3-gram hashes from the same one-pass
    // RollingHash→WindowPolyHash pipeline as substring dedup; each
    // 4-gram-wide window selects its min hash (rightmost on ties), and
    // the distinct selected (pos, hash) pairs are the document's robust
    // fingerprint set — guaranteed to share a print with any ≥6-token
    // verbatim overlap. Entirely per-row; the output is the joinable
    // fingerprint table.
    "text_winnow_fingerprint" -> ((s, dir) => winnowFingerprints(docsFanned(s, dir))),

    // Cross-doc winnowing matches (the MOSS use of the fingerprints): doc
    // pairs sharing ≥ 5 distinct winnow prints — verbatim-overlap
    // detection at fingerprint (not shingle) density. The self-join runs
    // on the slim (fp, doc_id) frame through the same hot-bucket-capped
    // join as every LSH family, so a boilerplate print shared by
    // thousands of docs degrades to star pairs instead of B². The cap
    // generates CANDIDATES only; shared_fps is counted EXACTLY from the
    // two docs' full print sets per candidate, so a hot print degrades
    // pair coverage (documented star semantics) but can never miscount a
    // surviving pair.
    "winnow_matches" -> { (s, dir) =>
      // the winnow pipeline (tokenize → rolling hashes → window minima)
      // feeds BOTH the band join and the per-doc set aggregation —
      // pin the slim (doc_id, fp) frame (Reuse) so it runs once
      val fps = winnowFingerprints(docsFanned(s, dir)).select("doc_id", "fp")
        .distinct().transform(Reuse.lineageCut(_))
      val sets = fps.groupBy("doc_id")
        .agg(sort_array(collect_list(col("fp"))).as("fset"))
        .transform(Reuse.lineageCut(_)) // feeds both re-attach joins
      val cand = graft.operators.LshJoins
        .cappedBandPairs(fps, Seq("fp"), "doc_id", "doc_a", "doc_b", tag = "winnow_cap")
        .select("doc_a", "doc_b")
        .distinct()
      cand
        .join(sets.select(col("doc_id").as("doc_a"), col("fset").as("fa")), "doc_a")
        .join(sets.select(col("doc_id").as("doc_b"), col("fset").as("fb")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          size(array_intersect(col("fa"), col("fb"))).cast("long").as("shared_fps"))
        .filter(col("shared_fps") >= 5)
    },

    // Corpus-trained character-trigram LM score (the CCNet/KenLM-style
    // perplexity filter, self-trained): gram counts from one keyed agg
    // (vocabulary-bounded → broadcast back), per-doc mean negative log
    // prob with add-one smoothing. Per-gram log-probs round to 6 dp and
    // sum as exact DECIMALs so the fold is order-independent — the same
    // determinism trick as the span hashes.
    "text_lm_score" -> ((s, dir) => lmScore(docsFanned(s, dir), keepAtMost = 5.36)),

    // Vocab-size coverage sweep — the tokenizer-design calibration curve:
    // what fraction of corpus token OCCURRENCES the top-k most frequent
    // words cover, at several k. One keyed word-count shuffle; the top-k
    // extraction is a TakeOrdered bounded by the largest k (never a
    // global sort shuffle), and the rank window runs over that k-bounded
    // frame only.
    "vocab_coverage_sweep" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val ks = Seq(100, 300, 1000, 3000, 10000)
      val wc = docs(s, dir).select(explode(toks).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cnt"))
      val total = wc.agg(sum("cnt").as("total"))
      val ranked = wc.orderBy(col("cnt").desc, col("w")).limit(ks.max)
        .withColumn("rnk", row_number().over(Window.orderBy(col("cnt").desc, col("w"))))
      ranked.crossJoin(broadcast(total))
        .select(explode(array(ks.map(k => lit(k.toLong)): _*)).as("k"),
          col("rnk"), col("cnt"), col("total"))
        .filter(col("rnk") <= col("k"))
        .groupBy("k")
        .agg(count(lit(1)).as("vocab_size"),
          round(sum("cnt").cast("double") / max("total"), 6).as("coverage"))
    },

    // CCNet-style LM-quality BUCKETS (Wenzek et al. 2020): per language,
    // documents split into head/middle/tail terciles by the trigram-LM
    // score — the standard quality-stratified sampling input (train
    // mostly on head, sample middle, audit tail). PRODUCTION form — the
    // 100 TB shape: per-language tercile CUTOFFS from a deterministic
    // 20% md5 sample of the scored frame, exact interpolated
    // percentiles of the SAMPLE, broadcast back, assigned map-side by
    // comparison — NO per-language partition sort, so one dominant
    // language can never serialize the corpus; at larger corpora only
    // the sample rate shrinks. A language the sample misses lands in
    // 'tail' via null-comparison semantics — identical in both engines.
    // Exact row-count terciles stay as lm_quality_buckets_exact.
    "lm_quality_buckets" -> { (s, dir) =>
      val d = docsFanned(s, dir)
      val scored = lmScore(d, keepAtMost = 5.36).select("doc_id", "nll")
        .join(d.select("doc_id", "lang"), "doc_id")
      val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100
      val cuts = scored.filter(bucket < 20)
        .groupBy("lang")
        .agg(percentile(col("nll"), array(lit(1.0 / 3), lit(2.0 / 3))).as("cs"))
        .select(col("lang"),
          round(element_at(col("cs"), 1), 6).as("c33"),
          round(element_at(col("cs"), 2), 6).as("c67"))
      scored.join(broadcast(cuts), Seq("lang"), "left")
        .select(col("doc_id"), col("lang"), col("nll"),
          when(col("nll") <= col("c33"), "head")
            .when(col("nll") <= col("c67"), "middle")
            .otherwise("tail").as("bucket"))
    },

    // Exact per-language terciles via ntile over a TOTAL order (nll +
    // doc_id tiebreak — the orders_value_quartiles determinism rule).
    // The per-lang sort is the price of row-count-EXACT terciles; the
    // sampled-cutoff form above is the primary at scale.
    "lm_quality_buckets_exact" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val d = docsFanned(s, dir)
      val w = Window.partitionBy("lang").orderBy(col("nll"), col("doc_id"))
      lmScore(d, keepAtMost = 5.36).select("doc_id", "nll")
        .join(d.select("doc_id", "lang"), "doc_id")
        .withColumn("b3", ntile(3).over(w))
        .select(col("doc_id"), col("lang"), col("nll"),
          element_at(array(lit("head"), lit("middle"), lit("tail")),
            col("b3")).as("bucket"))
    },

    // Temperature-scaled source sampling weights (the multilingual /
    // multi-source mixing rule, mT5 §3.1: w_i ∝ n_i^τ): the up-weighting
    // of small sources that keeps a dominant crawl from swamping the
    // mix, at the two standard temperatures. One keyed count agg (a few
    // rows) + a one-row totals broadcast — nothing here grows with
    // corpus size except the first count pass.
    "sample_temperature" -> { (s, dir) =>
      val counts = docs(s, dir).groupBy("source")
        .agg(count(lit(1)).as("n_docs"))
      val sums = counts.agg(
        sum(pow(col("n_docs"), 0.7)).as("s07"),
        sum(pow(col("n_docs"), 0.3)).as("s03"))
      counts.crossJoin(broadcast(sums))
        .select(col("source"), col("n_docs"),
          round(pow(col("n_docs"), 0.7) / col("s07"), 6).as("w_tau07"),
          round(pow(col("n_docs"), 0.3) / col("s03"), 6).as("w_tau03"))
    },

    // Zipf-fit corpus audit: per source, the least-squares slope of
    // log(freq) over log(rank) across the top-100 words — natural text
    // sits near −1; synthetic/templated corpora drift off it (the
    // corpus-forensics smoke test). Word counts are one keyed agg; the
    // per-source top-100 is the bounded TopKStructs extraction (never a
    // vocab-sized rank window); the regression is a 100-row-per-source
    // aggregate of covariance moments.
    "source_zipf_fit" -> { (s, dir) =>
      import graft.functions.TopKStructs.top_k_structs
      val top = docs(s, dir).select(col("source"), explode(toks).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("cnt"))
        .groupBy("source")
        .agg(top_k_structs(
          struct((-col("cnt")).as("__neg"), col("w"), col("cnt")), 100).as("__top"))
        .select(col("source"), posexplode(col("__top")))
        .select(col("source"), log((col("pos") + 1).cast("double")).as("lx"),
          log(col("col.cnt").cast("double")).as("ly"))
      val slope = covar_pop(col("ly"), col("lx")) / var_pop(col("lx"))
      top.groupBy("source")
        .agg(count(lit(1)).as("n_top"),
          round(slope, 6).as("zipf_slope"),
          round(avg(col("ly")) - slope * avg(col("lx")), 6).as("zipf_intercept"))
    },

    // Lexical-diversity audit: per source, average type-token ratio and
    // token volume — the quick templated-text detector (TTR collapses
    // when documents repeat a small vocabulary). Pure per-row kernels +
    // one keyed agg.
    "lexical_diversity" -> { (s, dir) =>
      docs(s, dir)
        .select(col("source"), size(toks).cast("long").as("n_tokens"),
          size(array_distinct(toks)).cast("long").as("n_types"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").as("total_tokens"),
          // exact-decimal mean (ExactStats): cross-engine ulp-stable
          ExactStats.meanExact6(col("n_types").cast("double") / col("n_tokens"),
            count(lit(1))).as("avg_ttr"))
    },

    // Corpus n-gram count table (the LM-data statistic behind vocab
    // induction / corpus browsing): token 1/2/3-grams with a frequency
    // cutoff. One explode + one partially-aggregated keyed shuffle; the
    // cutoff keeps the result bounded no matter the corpus size.
    "ngram_counts" -> { (s, dir) =>
      val d = docsFanned(s, dir).withColumn("tk", toks)
      val grams = (1 to 3).map { n =>
        d.filter(size(col("tk")) >= n)
          .select(lit(n).as("n"),
            explode(
              if (n == 1) col("tk")
              else transform(sequence(lit(1), size(col("tk")) - lit(n - 1)),
                i => concat_ws(" ", slice(col("tk"), i, lit(n))))).as("gram"))
      }.reduce(_ unionAll _)
      grams.groupBy("n", "gram").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 50)
    },

    // Count-min-sketch heavy hitters — completes the sketch family (HLL
    // cardinality → approx_distinct_error, Bloom membership →
    // decontaminate_bloom_check, CMS frequency → here): at 100 TB the
    // exact gram-count table shuffles every distinct gram, while the CMS
    // folds the whole corpus into ONE fixed-size mergeable sketch
    // (count_min_sketch agg — size set by eps/confidence, not
    // cardinality). Verified with the estimator-bound pattern: CMS never
    // undercounts, and for a fixed seed its overcount bound ⌈eps·N⌉ is a
    // deterministic, oracle-checkable boolean per top-k gram (exact
    // counts = the measurement side; top-k totally ordered by
    // (n DESC, g2 ASC) so the LIMIT is stable cross-engine).
    "ngram_heavy_hitters_sketch" -> { (s, dir) =>
      val grams = docsFanned(s, dir).withColumn("tk", toks)
        .filter(size(col("tk")) >= 2)
        .select(explode(transform(sequence(lit(1), size(col("tk")) - lit(1)),
          i => concat_ws(" ", slice(col("tk"), i, lit(2))))).as("g2"))
        .transform(Reuse.lineageCut(_)) // three consumers: N, sketch, exact counts
      val eps   = 0.0002
      val total = grams.count()
      // 1-row fixed-size binary — the bloom-sketch collect pattern
      val cmsBytes = grams
        .agg(count_min_sketch(col("g2"), lit(eps), lit(0.99), lit(42)).as("cms"))
        .head.getAs[Array[Byte]]("cms")
      val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(cmsBytes))
      val bound = math.ceil(eps * total).toLong
      val top = grams.groupBy("g2").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("g2").asc)
        .limit(20) // TakeOrdered — bounded at any corpus size
        .collect() // 20 rows; probed against the driver-side sketch
      import s.implicits._
      top.toSeq.map { r =>
        val g   = r.getString(0)
        val n   = r.getLong(1)
        val est = cms.estimateCount(g)
        (g, n, est >= n && est <= n + bound)
      }.toDF("g2", "n", "within_bound")
    },

    // Model-based quality filter (the fastText/DCLM-shaped step): a
    // logistic scorer over interpretable per-doc features with LITERAL
    // weights (stands in for offline-trained coefficients; at scale the
    // weight vector ships with the job as a broadcast constant). One
    // codegen'd pass, zero shuffles; same feature arithmetic as
    // text_quality so the doubles agree with the oracle bit-for-bit.
    "text_quality_classifier" -> { (s, dir) =>
      val d = docs(s, dir).select(col("doc_id"), col("text"), toks.as("tk"))
      val nTok  = size(col("tk")).cast("double")
      val stop  = stopwordRatio(col("tk"))
      val mwl   = round(aggregate(col("tk"), lit(0L), (a, w) => a + length(w))
        .cast("double") / nTok, 6)
      val alpha = round(size(filter(col("tk"), w => w.rlike("[A-Za-z]")))
        .cast("double") / nTok, 6)
      val sym = round(size(regexp_extract_all(col("text"),
        lit("[^A-Za-z0-9\\s]"), lit(0))).cast("double") / nTok, 6)
      val z = lit(-1.5) + lit(3.0) * stop + lit(1.5) * alpha +
        lit(0.4) * least(nTok / 100.0, lit(1.0)) - lit(2.5) * sym -
        lit(0.1) * mwl
      d.select(col("doc_id"),
        round(lit(1.0) / (lit(1.0) + exp(-z)), 6).as("clf_score"))
        .withColumn("keep", col("clf_score") >= 0.5)
    },

    // BPE vocabulary induction, iteration-0 statistics: the weighted
    // adjacent-symbol-pair counts over the word-frequency table that the
    // first merge of Sennrich et al.'s algorithm argmaxes over. The corpus
    // is touched once (word counts); the pair aggregation runs on the
    // vocabulary-sized table. Top-20 by count with a lexicographic
    // tie-break — the same determinism rule BpeVocab.learn uses. The full
    // iterative learner (graft.operators.BpeVocab.learn) is model-checked
    // in BpeVocabSpec; this query pins its heaviest building block to the
    // oracle.
    "bpe_pair_counts" -> { (s, dir) =>
      import graft.operators.BpeVocab
      BpeVocab.initialPairCounts(BpeVocab.wordFrequencies(docs(s, dir)))
        .orderBy(col("cnt").desc, col("lhs"), col("rhs"))
        .limit(20)
    },

    // DSIR importance weights (Xie et al., NeurIPS 2023, "Data Selection
    // for Language Models via Importance Resampling"): score every raw
    // document by how much its hashed-n-gram profile looks like a target
    // corpus (here: the `src0` docs — the "wiki-like" seed of a mixing
    // recipe). See [[dsirWeights]] for the shuffle/broadcast shape.
    "dsir_importance_weights" -> ((s, dir) => dsirWeights(docsFanned(s, dir))),

    // Gumbel top-k resampling over the DSIR weights — the selection step
    // of the paper: adding iid Gumbel noise to log-weights and taking the
    // top k draws exactly from the softmax of the weights WITHOUT ever
    // normalizing them. Noise comes from an md5 uniform per doc, so the
    // "random" sample is reproducible across engines and retries.
    "dsir_resample" -> ((s, dir) => dsirResample(docsFanned(s, dir), 50)),

    // Pairwise source-corpus overlap via HLL sketches (DataSketches set
    // operations): |A ∩ B| over distinct 5-gram shingles estimated by
    // inclusion-exclusion on mergeable per-source sketches, audited
    // against the exact keyed-join overlap. The scale story is the
    // estimate path: per-source state is one ≤16 KiB sketch at ANY corpus
    // size and the 190 pair combinations never touch the corpus again,
    // where the exact join reshuffles every distinct gram. See
    // [[sourceOverlapSketch]].
    "source_overlap_sketch" -> ((s, dir) => sourceOverlapSketch(docsFanned(s, dir))),

    // Quality-curriculum training order: fixed-threshold quality stages
    // (no global quantile sort — thresholds are constants, so staging is
    // a zero-shuffle per-row expression), deterministic md5 shuffle
    // WITHIN each stage (a keyed window, never a bare global orderBy),
    // and a global step number from 5-row stage-count prefix sums.
    // Higher stages (cleaner docs) come first — the curriculum.
    "curriculum_order" -> ((s, dir) => curriculumOrder(docs(s, dir))),

    // Full iterative BPE induction (extends bpe_pair_counts, which checks
    // only iteration 0): BpeMerges sequential rounds over the VOCAB-sized
    // word-frequency table — pair-count agg, 1-row argmax, per-row fuse —
    // the corpus itself is touched exactly once. The DuckDB oracle
    // replays every round via a delimited-string replace chain (greedy
    // leftmost fuse ≡ SQL replace over per-symbol delimiters).
    "bpe_learn_merges" -> { (s, dir) =>
      import s.implicits._
      import graft.operators.BpeVocab
      BpeVocab.learn(BpeVocab.wordFrequencies(docsFanned(s, dir)), BpeMerges)
        .map(m => (m.rank, m.left, m.right, m.freq))
        .toDF("rank", "lhs", "rhs", "cnt")
    },

    // Document-level BPE fertility under the learned merges. 100 TB
    // shape: each distinct WORD is encoded once (the rank-priority
    // encoder runs over the vocab table, never the corpus), then symbol
    // counts re-attach to documents through one keyed join. Oracle
    // equivalence: applying merges in rank order with full greedy fusing
    // equals the priority encoder, because a merge can only create pairs
    // whose rank is higher than its own.
    "bpe_encode_stats" -> { (s, dir) =>
      import graft.operators.BpeVocab
      val d  = docs(s, dir)
      val wf = Reuse.lineageCut(BpeVocab.wordFrequencies(d))
      val ranks = BpeVocab.learn(wf, BpeMerges)
        .map(m => (m.left, m.right) -> m.rank).toMap
      val nSyms = udf((w: String) => BpeVocab.encodeWord(ranks, w).size.toLong)
      val wsyms = wf.select(col("word"), nSyms(col("word")).as("n_syms"))
      d.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) > 0)
        .join(wsyms, "word")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"), sum("n_syms").as("n_bpe_tokens"),
          round(sum("n_syms").cast("double") / count(lit(1)), 6).as("fertility"))
    },

    // What near-dup dedup is worth, per source: doc and char counts with
    // the minhash drop list applied — the ops-facing savings report a
    // 100 TB dedup run ends with. One left join of the (small) drop list
    // onto the corpus, one keyed agg.
    "dedup_savings_report" -> { (s, dir) =>
      val d = docsFanned(s, dir)
      val drop = dropList(
        minhashLshPairs(d),
        queries("text_quality")(s, dir).select(col("doc_id"), col("quality_score")))
        .select(col("doc_id"), lit(1L).as("dropped"))
      d.select(col("doc_id"), col("source"), col("n_chars"))
        .join(drop, Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("dropped"), lit(0L))).as("n_dropped"),
          sum("n_chars").as("chars_total"),
          sum(when(col("dropped").isNotNull, col("n_chars")).otherwise(0L))
            .as("chars_dropped"))
        .select(col("source"), col("n_docs"), col("n_dropped"),
          col("chars_total"), col("chars_dropped"),
          round(col("chars_dropped").cast("double") / col("chars_total"), 6)
            .as("savings_ratio"))
    },

    // Stupid Backoff word-bigram LM (Brants et al. 2007 — the web-scale
    // LM scoring scheme: no normalization, fixed 0.4 backoff penalty).
    // Counts train on even-numbered sources; odd-numbered sources score
    // against them HELD-OUT, so unseen bigrams genuinely take the
    // backoff path (scoring a corpus with its own counts never would).
    // See [[backoffLm]] for the all-keyed-join scale shape.
    "text_backoff_lm" -> ((s, dir) => backoffLm(docsFanned(s, dir))),

    // Language-ID confusion matrix: the n-gram predictor against the
    // labeled lang — the audit a corpus owner reads before trusting any
    // filter keyed on predicted language. One agg over the per-doc
    // predictions onto a (langs × langs)-sized frame; `share` is
    // row-normalized within the labeled language via a window over that
    // tiny aggregated frame.
    "langid_confusion" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window.partitionBy("lang")
      queries("text_langid_ngram")(s, dir)
        .groupBy("lang", "predicted_lang")
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("share",
          round(col("n_docs").cast("double") / sum("n_docs").over(w), 6))
    },

    // Zipf-law fit over the top-K word frequencies: OLS slope/intercept/R²
    // of ln(freq) ~ ln(rank) — the one-row corpus health signal (natural
    // text sits near slope −1; templated or synthetic text drifts). One
    // word-keyed agg; the ranked frame is bounded at K rows via
    // TakeOrderedAndProject (never a global sort over the vocabulary),
    // and the fit folds in the regr_* aggregates — nothing reaches the
    // driver but the final row.
    "token_zipf_fit" -> { (s, dir) =>
      val K = 1000
      val wc = docs(s, dir).select(explode(toks).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("w")).limit(K)
      // window over the post-limit K-row frame — bounded, not a global sort
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("cnt").desc, col("w"))
      wc.withColumn("rnk", row_number().over(w))
        .select(log(col("rnk").cast("double")).as("x"),
          log(col("cnt").cast("double")).as("y"))
        .agg(count(lit(1)).as("n_words"),
          round(expr("regr_slope(y, x)"), 6).as("zipf_slope"),
          round(expr("regr_intercept(y, x)"), 6).as("zipf_intercept"),
          round(expr("regr_r2(y, x)"), 6).as("r2"))
    },

    // Boilerplate detection: the most frequent 8-gram per source with its
    // occurrence and containing-doc counts — the header/footer template a
    // crawl pipeline strips before dedup. Scale shape: the corpus-sized
    // count shuffles 8-BYTE GRAM HASHES, never gram strings (xxhash64
    // collision odds stay ~1e-4 even at 10⁸ distinct grams per source);
    // gram text and doc counts are recovered in a second pass restricted
    // to the per-source winning hashes, whose join AQE turns into a
    // broadcast whenever the winner set is small (always, outside the
    // no-boilerplate degenerate corpus — and that case still completes as
    // a shuffle join instead of dying on a broadcast limit). Count ties
    // break to the lexicographically smallest gram TEXT, exactly as the
    // string-keyed oracle formulation does.
    "boilerplate_per_source" -> { (s, dir) =>
      val n = 8
      val d = docsFanned(s, dir)
      // cheap projection off the parquet scan — rebuilt per pass rather
      // than pinning an exploded corpus-sized string frame
      def gramStream = d.select(col("doc_id"), col("source"), toks.as("tk"))
        .filter(size(col("tk")) >= n)
        .select(col("doc_id"), col("source"),
          explode(transform(sequence(lit(1), size(col("tk")) - (n - 1)),
            i => concat_ws(" ", slice(col("tk"), i, lit(n))))).as("g"))
      val counts = gramStream
        .select(col("source"), xxhash64(col("g")).as("gh"))
        .groupBy("source", "gh").agg(count(lit(1)).as("n_occurrences"))
      val top = counts.groupBy("source").agg(max("n_occurrences").as("max_occ"))
      val winners = counts.join(top, "source")
        .filter(col("n_occurrences") === col("max_occ"))
        .select(col("source"), col("gh"), col("n_occurrences"))
      val winDetail = gramStream
        .select(col("doc_id"), col("source"), col("g"), xxhash64(col("g")).as("gh"))
        .join(winners, Seq("source", "gh"))
        .groupBy("source", "g", "n_occurrences")
        .agg(countDistinct("doc_id").as("n_docs"))
      val nd = d.groupBy("source").agg(count(lit(1)).as("source_docs"))
      winDetail
        // min over struct(g, n_docs) = lexicographically smallest tied gram,
        // carrying ITS doc count (struct comparison is field-ordered)
        .groupBy("source")
        .agg(min(struct(col("g"), col("n_docs"))).as("b"),
          max("n_occurrences").as("n_occurrences"))
        .join(nd, "source")
        .select(col("source"), col("b.g").as("gram"), col("n_occurrences"),
          col("b.n_docs").as("n_docs"),
          round(col("b.n_docs").cast("double") / col("source_docs"), 6).as("doc_share"))
    },

    // Per-source quality percentile — the normalization that makes ONE
    // global cutoff fair across sources with different quality
    // distributions (a raw threshold keeps the best of a weak feed and
    // drops the median of a strong one). PRODUCTION form — the 100 TB
    // shape: a deterministic 20% md5 sample per source builds a sorted
    // score list (the broadcast ECDF), and every doc's percentile is the
    // map-side fraction of sample scores strictly below its own — NO
    // per-source partition sort, so one dominant source can never
    // serialize the corpus; at larger corpora only the sample rate
    // shrinks (a served ECDF binary-searches the sorted list). A source
    // the sample misses reports the uninformative 0.5 in both engines.
    // Exact percent_rank stays as quality_percentile_by_source_exact.
    "quality_percentile_by_source" -> { (s, dir) =>
      val q = queries("text_quality")(s, dir).select("doc_id", "quality_score")
        .join(docs(s, dir).select("doc_id", "source"), "doc_id")
      val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100
      val samples = q.filter(bucket < 20)
        .groupBy("source")
        .agg(array_sort(collect_list(col("quality_score"))).as("qs"))
      q.join(broadcast(samples), Seq("source"), "left")
        .select(col("doc_id"), col("source"), col("quality_score"),
          coalesce(
            round(size(filter(col("qs"), e => e < col("quality_score")))
              .cast("double") / size(col("qs")), 6),
            lit(0.5)).as("approx_pct_rank"))
    },

    // Exact percent_rank over a per-source total order (quality, doc_id
    // tie-break — deterministic both engines) — the price of exact
    // ranks; the sampled-ECDF form above is the primary at scale.
    "quality_percentile_by_source_exact" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("source")
        .orderBy(col("quality_score"), col("doc_id"))
      queries("text_quality")(s, dir).select("doc_id", "quality_score")
        .join(docs(s, dir).select("doc_id", "source"), "doc_id")
        .withColumn("pct_rank", round(percent_rank().over(w), 6))
        .select("doc_id", "source", "quality_score", "pct_rank")
    },

    // LSH band-occupancy histogram — the health audit behind the
    // hot-bucket cap: per band, how many buckets exist at each size
    // (a fat tail here is the B² blow-up cappedBandPairs defends
    // against, and the input to tuning bands/rows). One slim-key agg
    // over the (doc, band, bkey) stream, then a tiny histogram agg.
    "lsh_band_stats" -> { (s, dir) =>
      minhashBands(minhashSigs(shingled(docsFanned(s, dir))))
        .groupBy("band", "bkey")
        .agg(count(lit(1)).as("bucket_size"))
        .groupBy(col("band").cast("long").as("band"), col("bucket_size"))
        .agg(count(lit(1)).as("n_buckets"))
    },

    // Top bigram collocations by pointwise mutual information
    // (PMI = ln(P(w1w2) / (P(w1)P(w2))) with a count floor — the classic
    // collocation-mining pass over a corpus). Unigram and bigram counts
    // from keyed aggs, two keyed joins to attach marginals, one-row
    // totals broadcast, and a TakeOrdered top-20 on the ROUNDED score
    // with a lexical tie-break (float ordering never crosses engines
    // unrounded).
    "ngram_pmi" -> { (s, dir) =>
      val tk = docs(s, dir).select(toks.as("tk"))
      val uni = tk.select(explode(col("tk")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cw"))
      val big = tk.filter(size(col("tk")) >= 2)
        .select(explode(transform(sequence(lit(1), size(col("tk")) - 1),
          i => struct(element_at(col("tk"), i).as("w1"),
            element_at(col("tk"), i + 1).as("w2")))).as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("n_pair"))
      val nu = uni.agg(sum("cw").cast("double").as("nu"))
      val nb = big.agg(sum("n_pair").cast("double").as("nb"))
      big.filter(col("n_pair") >= 5)
        .join(uni.select(col("w").as("w1"), col("cw").as("c1")), "w1")
        .join(uni.select(col("w").as("w2"), col("cw").as("c2")), "w2")
        .crossJoin(broadcast(nu)).crossJoin(broadcast(nb))
        .select(col("w1"), col("w2"), col("n_pair"),
          round(log(col("n_pair").cast("double") / col("nb") *
            (col("nu") / col("c1")) * (col("nu") / col("c2"))), 6).as("pmi"))
        .orderBy(col("pmi").desc, col("w1"), col("w2")).limit(20)
    },

    // Weighted reservoir sampling per source (Efraimidis–Spirakis 2006,
    // A-ES): draw k docs per source with probability ∝ quality weight by
    // ranking on key = ln(u)/w (monotone-equivalent to u^(1/w), largest
    // kept). Uniforms are the deterministic md5 construction shared with
    // dsir_resample — reproducible across engines, retries, and
    // partitionings — and the key rounds to 6 dp with a doc_id tie-break
    // so the cross-engine ordering can never hinge on a libm ulp. The
    // per-source top-k is a bounded TopKStructs (O(k) per source through
    // partial/shuffle/merge — no per-source sort of the corpus).
    "sample_weighted" -> { (s, dir) =>
      import graft.functions.TopKStructs.top_k_structs
      val K = 20
      val u = (conv(substring(md5(concat(col("doc_id").cast("string"),
        lit("#wrs"))), 1, 8), 16, 10).cast("double") + 0.5) / 4294967296.0
      docs(s, dir).select(col("doc_id"), col("source"), toks.as("tk"))
        .select(col("doc_id"), col("source"),
          round(least(size(col("tk")).cast("double") / 100.0, lit(1.0)) * 0.5 +
            (lit(1.0) - stopwordRatio(col("tk"))) * 0.5, 6).as("weight"))
        .withColumn("wkey", round(log(u) / col("weight"), 6))
        .groupBy("source")
        .agg(top_k_structs(struct((-col("wkey")).as("__neg"), col("doc_id"),
          col("weight"), col("wkey")), K).as("__top"))
        .select(col("source"), posexplode(col("__top")))
        .select(col("source"), col("col.doc_id").as("doc_id"),
          col("col.weight").as("weight"), col("col.wkey").as("wkey"),
          (col("pos") + 1).cast("long").as("rank"))
    },

    // The data card: the one-row corpus summary a release ships with —
    // volume, source/lang breadth, exact-dup rate, mean quality, English
    // share. One pass, one aggregate (the three distinct-counts collapse
    // map-side: source/lang are low-cardinality, fp dedup is the same
    // two-phase shape as source_quality_report). Quality folds as exact
    // decimals so the mean is partition-order-independent.
    "corpus_datacard" -> { (s, dir) =>
      val d = docs(s, dir).select(col("doc_id"), col("lang"), col("source"),
        fingerprint(col("text")).as("fp"), toks.as("tk"),
        length(col("text")).as("nch"))
      val q = round(
        least(size(col("tk")).cast("double") / 100.0, lit(1.0)) * 0.5 +
          (lit(1.0) - stopwordRatio(col("tk"))) * 0.5, 6).cast("decimal(22,6)")
      d.agg(
        count(lit(1)).as("n_docs"),
        countDistinct("fp").as("n_unique_docs"),
        countDistinct("source").as("n_sources"),
        countDistinct("lang").as("n_langs"),
        sum(size(col("tk")).cast("long")).as("total_tokens"),
        sum(col("nch").cast("long")).as("total_chars"),
        sum(q).as("qsum"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"))
        .select(col("n_docs"), col("n_unique_docs"), col("n_sources"),
          col("n_langs"), col("total_tokens"), col("total_chars"),
          round(lit(1.0) - col("n_unique_docs").cast("double") / col("n_docs"), 6)
            .as("dup_rate"),
          round(col("qsum").cast("double") / col("n_docs"), 6).as("mean_quality"),
          round(col("n_en").cast("double") / col("n_docs"), 6).as("en_share"))
    },

    // N-gram novelty by ingestion order (the corpus-growth/memorization
    // audit: how much of each doc's distinct 5-grams are NEW to the
    // corpus, first-occurrence attributed by min doc_id). One gram-keyed
    // min-agg; the novelty join reuses the same gram key, and the gram
    // arrays are built once (Reuse pin) for both branches — the
    // dup_ngram_fraction shuffle shape with first-owner semantics.
    "ngram_novelty" -> { (s, dir) =>
      val n = 5
      val garr = docsFanned(s, dir).select(col("doc_id"), toks.as("tk"))
        .filter(size(col("tk")) >= n)
        .select(col("doc_id"),
          array_distinct(transform(sequence(lit(1), size(col("tk")) - (n - 1)),
            i => concat_ws(" ", slice(col("tk"), i, lit(n))))).as("gs"))
        .transform(Reuse.lineageCut(_))
      val grams  = garr.select(col("doc_id"), explode(col("gs")).as("g"))
      val firsts = grams.groupBy("g").agg(min("doc_id").as("first_doc"))
      grams.join(firsts, "g")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_distinct_grams"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
        .select(col("doc_id"), col("n_distinct_grams"), col("n_novel"),
          round(col("n_novel").cast("double") / col("n_distinct_grams"), 6).as("novelty"))
    },

    // Chunk-level exact dedup: duplicate W-token training sequences ACROSS
    // documents after chunking — what actually reaches the trainer when
    // near-identical docs survive doc-level dedup. One fingerprint-keyed
    // agg over the chunk stream; only duplicated fingerprints survive.
    "dedup_chunk_exact" -> { (s, dir) =>
      queries("chunk_documents")(s, dir)
        .select(col("doc_id"), md5(col("chunk_text")).as("fp"))
        .groupBy("fp")
        .agg(count(lit(1)).as("n_copies"),
          countDistinct("doc_id").as("n_docs"),
          min("doc_id").as("canonical_doc_id"))
        .filter(col("n_copies") > 1)
    }
  )

  /** Number of BPE merges the oracle-checked induction learns (each merge
    * is one unrolled round in the generated DuckDB chain).
    */
  private val BpeMerges = 6

  /** Hashed-feature width and target source for the DSIR family. 4096
    * buckets keeps the bucket statistics table broadcast-sized (two longs
    * per bucket) at ANY corpus scale — the paper uses 10k for full
    * CommonCrawl; the arithmetic is bucket-count-agnostic.
    */
  private val DsirBuckets = 4096L
  private val DsirTarget  = "src0"

  /** Hashed bag-of-n-grams features (unigrams + bigrams → md5 buckets),
    * the DSIR feature map. Per-row explode only; the one heavy shuffle is
    * the (doc_id, bucket) count agg, map-side combined.
    */
  private def dsirBucketCounts(d: DataFrame): DataFrame = {
    val base = d.select(col("doc_id"), col("source"), toks.as("tk"))
      .filter(size(col("tk")) >= 1)
    base
      .select(col("doc_id"), col("source"),
        explode(concat(col("tk"), shingles(col("tk"), 2))).as("g"))
      .select(col("doc_id"), col("source"),
        (conv(substring(md5(col("g")), 1, 8), 16, 10).cast("long")
          % DsirBuckets).as("b"))
      .groupBy("doc_id", "source", "b")
      .agg(count(lit(1)).as("c"))
  }

  /** DSIR importance weights (Xie et al. 2023): fit bag-of-hashed-n-gram
    * models on the target corpus (`source = src0`) and on the raw rest,
    * then score each raw doc with log w(x) = Σ_features c_f ·
    * (log p_target(f) − log q_raw(f)) under add-one smoothing.
    *
    * Scale shape: ONE corpus-sized shuffle (the per-doc bucket counts);
    * both bag models collapse to a ≤4096-row bucket table that
    * BROADCASTS back — the per-doc scoring join never shuffles the
    * corpus again. Per-bucket log-ratios are rounded to 6 dp and summed
    * as exact DECIMALs so the per-doc fold is order-independent
    * (bit-stable across partitionings and engines — same discipline as
    * [[lmScore]]).
    */
  def dsirWeights(d: DataFrame): DataFrame = {
    // the count frame feeds the bucket-model agg AND the scoring join;
    // materialize once (same pattern as containmentPairs)
    val perDoc = Reuse.lineageCut(dsirBucketCounts(d))
    val isTgt  = col("source") === DsirTarget
    val bucket = perDoc.groupBy("b").agg(
      sum(when(isTgt, col("c")).otherwise(0L)).as("tc"),
      sum(when(!isTgt, col("c")).otherwise(0L)).as("rc"))
    val tots = bucket.agg(
      sum("tc").cast("double").as("tt"), sum("rc").cast("double").as("rt"))
    val lr = bucket.crossJoin(broadcast(tots))
      .select(col("b"),
        round(
          log((col("tc") + 1).cast("double") / (col("tt") + DsirBuckets))
            - log((col("rc") + 1).cast("double") / (col("rt") + DsirBuckets)),
          6).cast("decimal(22,6)").as("lr"))
    perDoc.filter(!isTgt)
      .join(broadcast(lr), "b")
      .groupBy("doc_id")
      .agg(sum("c").as("n_feats"), sum(col("lr") * col("c")).as("slr"))
      .select(col("doc_id"), col("n_feats"),
        round(col("slr").cast("double"), 6).as("logw"))
  }

  /** Gumbel top-k selection over [[dsirWeights]]: g = log w + Gumbel(0,1)
    * noise; the k largest g are an EXACT sample-without-replacement from
    * softmax(log w) (the Gumbel-max trick), so selection pressure follows
    * the importance weights without a normalization pass over the corpus.
    * Noise is a deterministic md5 uniform per doc_id — reproducible
    * across engines, retries, and partitionings; `orderBy(...).limit(k)`
    * is Spark's distributed TakeOrdered, never a single-partition sort.
    */
  def dsirResample(d: DataFrame, k: Int): DataFrame = {
    val u = (conv(substring(md5(concat(col("doc_id").cast("string"),
      lit("#dsir"))), 1, 8), 16, 10).cast("double") + 0.5) / 4294967296.0
    dsirWeights(d)
      .withColumn("g", round(col("logw") - log(-log(u)), 6))
      .orderBy(col("g").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("logw"), col("g"))
  }

  /** Stupid Backoff bigram score per held-out doc: S(w2|w1) =
    * C(w1w2)/C(w1) when the bigram was seen in training, else
    * 0.4·(C(w2)+1)/(N+V) (add-one on the unigram backoff so a fully
    * unseen word scores finite). Per-bigram logs round to 6 dp and fold
    * as DECIMALs — order-independent across partitionings and engines.
    *
    * Scale shape: count tables are vocab-sized, so every attach is a
    * KEYED join on gram keys (never a broadcast assumption); the
    * one-row (N, V) total broadcasts. Three keyed shuffles over the
    * held-out bigrams, map-side-combined count aggs on the train side.
    */
  def backoffLm(d: DataFrame): DataFrame = {
    val base = d
      .withColumn("tk", toks)
      .withColumn("sn", substring(col("source"), 4, 10).cast("int"))
    val train = base.filter(col("sn") % 2 === 0)
    def bigrams(f: DataFrame, keep: Column*): DataFrame =
      f.filter(size(col("tk")) >= 2)
        .select(keep :+ explode(transform(
          sequence(lit(1), size(col("tk")) - 1),
          i => struct(element_at(col("tk"), i).as("w1"),
            element_at(col("tk"), i + 1).as("w2")))).as("bg"): _*)
        .select(keep :+ col("bg.w1").as("w1") :+ col("bg.w2").as("w2"): _*)
    val uni = train.select(explode(col("tk")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cu"))
    val tot = uni.agg(sum("cu").cast("double").as("n_total"),
      count(lit(1)).cast("double").as("v"))
    val bi = bigrams(train).groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    bigrams(base.filter(col("sn") % 2 === 1), col("doc_id"))
      .join(bi, Seq("w1", "w2"), "left")
      .join(uni.select(col("w").as("w1"), col("cu").as("cu1")), Seq("w1"), "left")
      .join(uni.select(col("w").as("w2"), col("cu").as("cu2")), Seq("w2"), "left")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"),
        when(col("cb").isNotNull,
          round(log(col("cb").cast("double") / col("cu1")), 6))
          .otherwise(round(log(lit(0.4) * (coalesce(col("cu2"), lit(0L)) + 1)
            .cast("double") / (col("n_total") + col("v"))), 6)).as("ls"),
        col("cb").isNull.cast("long").as("bo"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("bo").as("n_backoff"),
        round(sum(col("ls").cast("decimal(22,6)")).cast("double") / count(lit(1)), 6)
          .as("avg_logscore"))
  }

  /** Curriculum staging: stage = clamp(⌊quality·5⌋, 0..4) from the
    * text_quality score (fixed thresholds — the quantile-free choice
    * that keeps staging embarrassingly parallel at 100 TB), position
    * within a stage by deterministic md5 order (row_number over a KEYED
    * window), and `global_step = offset(stage) + pos` where offsets are
    * prefix sums over the 5-row stage-count table via a triangular
    * self-join (no single-partition window anywhere). Stages descend:
    * the cleanest bucket trains first.
    */
  def curriculumOrder(d: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = d.select(col("doc_id"), toks.as("tk"))
      .select(col("doc_id"),
        round(
          least(size(col("tk")).cast("double") / 100.0, lit(1.0)) * 0.5 +
            (lit(1.0) - stopwordRatio(col("tk"))) * 0.5, 6).as("qs"))
    val staged = q.select(col("doc_id"),
      least(floor(col("qs") * 5), lit(4L)).cast("int").as("stage"),
      md5(concat(col("doc_id").cast("string"), lit("#curr"))).as("ord"))
    val w = Window.partitionBy("stage").orderBy(col("ord"), col("doc_id"))
    val pos = staged
      .withColumn("pos_in_stage", row_number().over(w).cast("long"))
    val cnt = pos.groupBy("stage").agg(count(lit(1)).as("n"))
    val off = cnt.as("a")
      .join(cnt.as("b"), col("b.stage") > col("a.stage"), "left")
      .groupBy(col("a.stage").as("stage"))
      .agg(coalesce(sum(col("b.n")), lit(0L)).as("off"))
    pos.join(broadcast(off), "stage")
      .select(col("doc_id"), col("stage"), col("pos_in_stage"),
        (col("off") + col("pos_in_stage")).as("global_step"))
  }

  /** Exact + sketched pairwise source overlap over distinct 5-gram
    * shingles. One corpus shuffle builds the distinct (source, gram)
    * frame (Reuse-pinned — it feeds the sketch agg and both sides of the
    * exact join); the HLL-4 sketches (lgK=14, ~0.8% rel. std. err.)
    * reduce per source and combine by inclusion-exclusion, so the
    * estimate is reproducible (DataSketches HLL is deterministic) and
    * `within_bound` asserts it lands within an additive ~6σ envelope
    * (5% of n_a+n_b) of the exact count — the approx_distinct_error
    * estimator-measurement pattern.
    */
  def sourceOverlapSketch(d: DataFrame): DataFrame = {
    val grams = d.withColumn("tk", toks)
      .filter(size(col("tk")) >= 5)
      .select(col("source"), explode(shingles(col("tk"), 5)).as("g"))
      .distinct()
      .transform(Reuse.lineageCut(_))
    val sk = grams.groupBy("source")
      .agg(hll_sketch_agg(col("g"), 14).as("sk"), count(lit(1)).as("n"))
    val est = sk.select(col("source").as("src_a"), col("sk").as("ska"), col("n").as("n_a"))
      .crossJoin(broadcast(
        sk.select(col("source").as("src_b"), col("sk").as("skb"), col("n").as("n_b"))))
      .filter(col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        (hll_sketch_estimate(col("ska")) + hll_sketch_estimate(col("skb"))
          - hll_sketch_estimate(hll_union(col("ska"), col("skb")))).as("est"))
    val exact = grams.select(col("source").as("src_a"), col("g"))
      .join(grams.select(col("source").as("src_b"), col("g")), "g")
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("exact_overlap"))
    est.join(exact, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        coalesce(col("exact_overlap"), lit(0L)).as("exact_overlap"),
        (abs(col("est").cast("double") - coalesce(col("exact_overlap"), lit(0L)).cast("double"))
          <= lit(0.05) * (col("n_a") + col("n_b")).cast("double")).as("within_bound"))
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003, the MOSS
    * local algorithm): token `k`-gram hashes from the one-pass
    * RollingHash→WindowPolyHash pipeline; every `win`-wide window of
    * consecutive gram hashes selects its minimum (RIGHTMOST position on
    * ties, per the paper's robust-winnowing rule), and the distinct
    * selected (pos, hash) pairs are the document's fingerprint set —
    * guaranteed to share a print with any verbatim overlap of
    * ≥ win + k − 1 tokens. Entirely per-row expressions; output is the
    * joinable (doc_id, pos, fp) fingerprint table.
    */
  def winnowFingerprints(d: DataFrame, k: Int = 3, win: Int = 4): DataFrame = {
    import graft.functions.TokenHashes.token_hashes
    import graft.functions.WindowPolyHash.window_poly_hash
    val base = d
      .withColumn("tk", toks)
      .filter(size(col("tk")) >= k + win - 1)
      .select(col("doc_id"),
        window_poly_hash(token_hashes(col("tk")), k).as("gh"))
    base
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), size(col("gh")) - win), j => {
          val sl = slice(col("gh"), j + 1, lit(win))
          val mn = array_min(sl)
          struct(
            (j + lit(win) + 1 - array_position(reverse(sl), mn))
              .cast("long").as("pos"),
            mn.as("fp"))
        })).as("sel"))
      .select(col("doc_id"), col("sel.pos").as("pos"), col("sel.fp").as("fp"))
      .distinct()
  }

  /** Corpus-trained character-trigram LM score (the CCNet/KenLM-style
    * perplexity filter, self-trained): gram counts from one keyed agg —
    * the vocabulary is alphabet-bounded, so the count table broadcasts
    * back to the gram stream; per-doc score is the mean negative log
    * probability with add-one smoothing. Per-gram log-probs are rounded
    * to 6 dp and summed as exact DECIMALs so the per-doc fold is
    * order-independent (bit-stable across partitionings and engines).
    */
  def lmScore(d: DataFrame, keepAtMost: Double): DataFrame = {
    // isNotNull(doc_id) is stated EXPLICITLY (it is vacuous — doc_id is
    // the table key): consumers that join the score on doc_id push the
    // same predicate into ONLY the tf-side subtree, leaving the corpus
    // count branch one filter apart — canonically unequal, so the tf
    // exchange stopped reusing and the whole gram pipeline executed
    // TWICE (measured: the two 712k-record gram stages in the r14
    // lm_quality_buckets profile). With the filter stated on the shared
    // base, both branches are identical and AQE's ReusedExchange
    // collapses the second pass (plans/r15/lm_quality_buckets_executed_
    // after.txt shows the 4 ReusedExchange nodes).
    // KEY INVARIANT (ADVICE r14): "vacuous" holds only while the driver's
    // documents table never carries a null doc_id — if that drifts, this
    // filter would silently drop the null-keyed score group and diverge
    // from the oracle. Graft.schemaCanary prints each table's physical
    // schema per run, so a nullability/type drift of documents.doc_id
    // surfaces as one readable line there before 30 opaque hash failures.
    val base = d.select(col("doc_id"), col("text"))
      .filter(length(col("text")) >= 3 && col("doc_id").isNotNull)
    // grams as packed byte codes from ONE native pass
    // ([[graft.functions.CharGramCodes]]) — injective for width 3, so
    // grouping by code ≡ grouping by the gram string, with 8-byte
    // shuffle keys instead of 2.5M interpreted substr allocations
    val grams = base.select(col("doc_id"),
      explode(graft.functions.CharGramCodes.char_gram_codes(col("text"), 3)).as("g"))
    // ONE heavy shuffle: the raw gram stream collapses to per-doc term
    // frequencies; corpus counts, the 1-row smoothing denominator, and
    // the per-doc score all derive from it (Spark reuses the tf exchange
    // for both branches — no second pass over the exploded grams, no
    // driver-side scalar action)
    val tf     = grams.groupBy("doc_id", "g").agg(count(lit(1)).as("tf"))
    val counts = tf.groupBy("g").agg(sum("tf").as("c"))
    val stats  = counts.agg((sum("c") + count(lit(1))).cast("double").as("denom"))
    tf.join(broadcast(counts), "g")
      .crossJoin(broadcast(stats))
      .withColumn("logp",
        round(log((col("c") + 1).cast("double") / col("denom")), 6)
          .cast("decimal(22,6)"))
      .groupBy("doc_id")
      .agg(sum("tf").as("n_grams"), sum(col("logp") * col("tf")).as("slog"))
      .select(col("doc_id"), col("n_grams"),
        round(-col("slog").cast("double") / col("n_grams"), 6).as("nll"))
      .withColumn("keep", col("nll") <= keepAtMost)
  }

  /** Asymmetric containment near-dup pairs `(doc_a, doc_b, containment)`
    * with C(A→B) = |A∩B| / |A| ≥ t over distinct 3-gram shingle sets —
    * catches docs that are near-SUBSETS of others, which symmetric Jaccard
    * misses whenever sizes differ. PPJoin-style LOSSLESS prefix filtering:
    * the gram universe is ordered by ascending document frequency and a
    * doc probes only its |A| − ⌈t·|A|⌉ + 1 rarest grams; if C ≥ t the
    * non-probed suffix (⌈t·|A|⌉ − 1 grams) cannot hold the whole
    * ≥⌈t·|A|⌉-gram intersection, so at least one probe gram hits and no
    * qualifying pair is lost. Every shuffle is a keyed equality join
    * (gram df, probe join, two set-verify joins) — linear in corpus grams,
    * never all-pairs.
    */
  def containmentPairs(d: DataFrame, t: Double): DataFrame = {
    require(t > 0.0 && t <= 1.0, s"containment threshold must be in (0, 1], got $t")
    // the shingle frame feeds FIVE plan branches (df agg, probe join both
    // sides, two verify joins); materialize it once (Reuse pin) — unpinned, each
    // branch re-runs tokenize+shingle+distinct over the corpus (measured
    // 9.4 s → 3.4 s at sf0.1). Same pattern as ConnectedComponents.
    val sh = Reuse.lineageCut(shingled(d))
    // Candidate generation runs entirely on 64-bit gram HASHES: the string
    // shingle never rides a shuffle or the pinned order arrays. The
    // per-row array_distinct collapses any intra-doc collision BEFORE the
    // explode (two shingles of one doc sharing a hash would otherwise
    // inflate |A| and over-tighten ⌈t·|A|⌉ — a candidate-LOSS path); after
    // it, a collision can only merge df counts across docs or match a
    // probe spuriously — extra CANDIDATES, which the exact set-verify
    // below discards — so the filter chain stays lossless.
    val grams = sh.select(col("doc_id"), size(col("shd")).as("ns"),
      explode(array_distinct(transform(col("shd"), g => xxhash64(g)))).as("gh"))
    val dfreq = grams.groupBy("gh").agg(count(lit(1)).as("df"))
    // Per-doc gram list under ONE global total order (ascending df, hash as
    // deterministic tie-break) with positions — feeds both the probe-prefix
    // side and the candidate side, so the PPJoin position filter below
    // compares positions from the SAME ordering. `ns` (distinct STRING
    // shingle count) rides along for the staged verify: ns == n certifies
    // the hash map is injective on this doc's shingles. Checkpointed:
    // three branches (probes, candSide, hash verify).
    val ordered = grams
      .join(dfreq, "gh")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("gh")))).as("o"),
        first(col("ns")).as("ns"))
      .select(
        col("doc_id"),
        transform(col("o"), x => x.getField("gh")).as("gs"),
        size(col("o")).as("n"),
        col("ns"))
      .transform(Reuse.lineageCut(_))
    val probes = ordered.select(
      col("doc_id").as("doc_a"), col("n").as("na"),
      posexplode(slice(
        col("gs"), lit(1),
        (col("n") - ceil(lit(t) * col("n")) + 1).cast("int"))).as(Seq("ia", "gh")))
    val candSide = ordered.select(
      col("doc_id").as("doc_b"), col("n").as("nb"),
      posexplode(col("gs")).as(Seq("ib", "gh")))
    // Required intersection size for C(A→B) ≥ t: |A∩B| ≥ ⌈t·|A|⌉.
    val need = ceil(lit(t) * col("na"))
    val cand = probes
      .join(candSide, "gh")
      .filter(col("doc_a") =!= col("doc_b"))
      // LOSSLESS length bound: |A∩B| ≤ |B|, so |B| < ⌈t·|A|⌉ can't qualify.
      .filter(col("nb") >= need)
      // LOSSLESS PPJoin position filter: if the true overlap O ≥ ⌈t·|A|⌉,
      // the globally-first common gram matches at 0-based positions (ia, ib)
      // with every other common gram after BOTH, so
      // O ≤ 1 + min(na−ia−1, nb−ib−1); a pair with O ≥ need therefore
      // survives on at least that first-match row, and rows that can't
      // reach `need` are dropped BEFORE the distinct shuffle.
      .filter(lit(1) + least(col("na") - col("ia") - 1, col("nb") - col("ib") - 1) >= need)
      .select("doc_a", "doc_b")
      // width-pinned dedup: the staged verify downstream (array_intersect
      // over every candidate) is the query's hottest CPU and must not run
      // over a byte-coalesced 1-task exchange — see LshJoins.pinnedPairDedup
      .transform(d => graft.operators.LshJoins.pinnedPairDedup(d, Seq("doc_a", "doc_b")))
    // Staged verify. Stage 1 intersects the 64-bit HASH arrays (slim:
    // ~8 B/gram vs the ~20 B/char string shingles the exact verify
    // carries): whenever hashing is injective on doc_a's shingles
    // (ns_a == nh_a — per-doc checkable), every common string maps to a
    // distinct common hash, so |strings∩| ≤ |hashes∩| and
    // |hashes∩| < ⌈t·ns_a⌉ LOSSLESSLY disqualifies the pair; a doc with
    // an intra-doc collision (never observed, but provable-lossless means
    // handling it) skips the stage. Measured at sf0.1: 173 599 candidate
    // pairs → 512 reach the string stage (−99.7%), so the wide string
    // arrays ride a join for survivors only — at corpus scale the string
    // verify's shuffle volume drops by the same factor.
    val stage1 = cand
      .join(ordered.select(col("doc_id").as("doc_a"), col("gs").as("gs_a"),
        col("n").as("nh_a"), col("ns").as("ns_a")), "doc_a")
      .join(ordered.select(col("doc_id").as("doc_b"), col("gs").as("gs_b")), "doc_b")
      .filter(col("ns_a") =!= col("nh_a") ||
        size(array_intersect(col("gs_a"), col("gs_b"))) >= ceil(lit(t) * col("ns_a")))
      .select("doc_a", "doc_b")
    stage1
      .join(sh.select(col("doc_id").as("doc_a"), col("shd").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("shd").as("sh_b")), "doc_b")
      .select(
        col("doc_a"), col("doc_b"),
        round(
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") / size(col("sh_a")),
          6
        ).as("containment"))
      .filter(col("containment") >= t)
  }

  /** MinHash + LSH verified near-dup pairs `(doc_a, doc_b, jac)` — the
    * REUSABLE pair frame: 16 signatures in 4 bands × 4 rows; candidates
    * share a band key, then exact Jaccard verification. The band
    * self-join runs on SLIM keys only (`band, bkey, doc_id`) through
    * [[graft.operators.LshJoins.cappedBandPairs]], so no shingle array
    * crosses the band shuffle and a degenerate hot bucket degrades to
    * linear star pairs instead of going quadratic (observed metric
    * `minhash_lsh_cap`). Shingle sets are re-attached per DISTINCT
    * candidate for the verify step — candidates ≪ corpus×bands, so two
    * keyed joins against the pinned shingle frame beat replicating
    * KB-sized arrays through every band row. A real pipeline computes
    * this once and feeds clusters / drop-list / survivor selection from
    * the same frame (`.persist()` at the call site); the oracle harness
    * runs each dependent query self-contained.
    */
  /** All 16 MinHash signatures from a shingle frame in ONE native pass
    * ([[graft.functions.MinHashSigs]] — same md5+affine arithmetic as the
    * interpreted TextFunctions.minhash formulation it replaces).
    */
  private def minhashSigs(sh: DataFrame): DataFrame =
    sh.withColumn("mhs",
        graft.functions.MinHashSigs.minhash_sigs(col("shd"), NumHashes))
      .select(
        col("doc_id") +:
          (0 until NumHashes).map(i => element_at(col("mhs"), i + 1).as(s"mh$i")): _*
      )

  /** Distinct banded candidate pairs from a signature frame (a pair can
    * collide in several bands; downstream scores ONCE). Hot buckets
    * degrade through [[graft.operators.LshJoins.cappedBandPairs]].
    */
  /** Slim (doc_id, band, bkey) frame from a signature frame — the LSH
    * blocking key stream, shared by candidate generation and the
    * band-occupancy audit.
    */
  private def minhashBands(sig: DataFrame): DataFrame = {
    val bandStructs = (0 until Bands).map { bnd =>
      val ks = (0 until BandRows).map(r => col(s"mh${bnd * BandRows + r}"))
      struct(lit(bnd).as("band"), bandKey(ks).as("bkey"))
    }
    sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.bkey").as("bkey"))
  }

  private def minhashBandCands(sig: DataFrame, maxBucket: Int, tag: String): DataFrame =
    graft.operators.LshJoins
      .cappedBandPairs(minhashBands(sig), Seq("band", "bkey"), "doc_id",
        "doc_a", "doc_b", maxBucket, tag)
      .select("doc_a", "doc_b")
      // plain distinct — NOT width-pinned: the minhash candidate set is
      // small (hundreds of pairs) and its Jaccard verify cheap, so the
      // pin's extra exchange + fixed-width tasks measured 1.1-1.5x SLOWER
      // across the minhash family (r15 A/B), unlike containmentPairs
      .distinct()

  /** Exact Jaccard over banded candidates from a PRE-CHECKPOINTED shingle
    * frame — the composition surface ([[minhashLshPairs]] wraps it; the
    * estimate-vs-exact audit shares one shingle/signature/candidate pass
    * across both scorers through it).
    */
  private def minhashLshPairsFromShingles(
      sh: DataFrame,
      cand: DataFrame,
      minJac: Double): DataFrame =
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("shd").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("shd").as("sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        jaccard(col("sh_a"), col("sh_b")).as("jac"))
      .filter(col("jac") >= minJac)

  /** Signature-agreement estimate over banded candidates. */
  private def minhashEstimateFromSigs(sig: DataFrame, cand: DataFrame): DataFrame =
    cand
      .join(sig.select(col("doc_id").as("doc_a") +:
        (0 until NumHashes).map(i => col(s"mh$i").as(s"a$i")): _*), "doc_a")
      .join(sig.select(col("doc_id").as("doc_b") +:
        (0 until NumHashes).map(i => col(s"mh$i").as(s"b$i")): _*), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        jaccardEstimate((0 until NumHashes).map(i => (col(s"a$i"), col(s"b$i"))))
          .as("jac_est"))
      .filter(col("jac_est") >= 0.5)

  def minhashLshPairs(
      d: DataFrame,
      maxBucket: Int = graft.operators.LshJoins.DefaultMaxBucket,
      minJac: Double = 0.4): DataFrame = {
    // the shingle frame feeds THREE branches (signature pass + both
    // verify joins); materialize once, same pattern as containmentPairs
    val sh   = Reuse.lineageCut(shingled(d))
    val cand = minhashBandCands(minhashSigs(sh), maxBucket, "minhash_lsh_cap")
    minhashLshPairsFromShingles(sh, cand, minJac)
  }

  /** Drop-list from a verified pair frame + per-doc quality: for every
    * near-dup pair the lower-quality member is dropped (tie → keep the
    * lower doc_id). The library-surface form of `dedup_drop_list`:
    * callers pass an already-persisted `pairs` so nothing recomputes.
    */
  def dropList(pairs: DataFrame, quality: DataFrame): DataFrame =
    pairs.select("doc_a", "doc_b")
      .join(quality.select(col("doc_id").as("doc_a"), col("quality_score").as("qa")), "doc_a")
      .join(quality.select(col("doc_id").as("doc_b"), col("quality_score").as("qb")), "doc_b")
      .select(
        when(col("qa") > col("qb"), col("doc_b"))
          .when(col("qb") > col("qa"), col("doc_a"))
          .otherwise(col("doc_b")) // tie → survivor is the lower id
          .as("doc_id"))
      .distinct()

  /** Substring-span REMOVAL — the consuming step of [[substringSpans]]:
    * the canonical copy (min doc_id per span fingerprint) keeps its
    * text; every other occurrence is cut out token-aligned. Overlapping
    * drop ranges per doc merge first (running-max interval islands), so
    * surgery is one filtered token pass; docs with nothing to drop pass
    * through a left join untouched. All shuffles keyed (span_fp, then
    * doc_id); the rewrite itself is per-row.
    */
  def dropSpans(d: DataFrame, w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spans = substringSpans(d, w)
    val droppable = spans
      .join(spans.groupBy("span_fp").agg(min("doc_id").as("cd")), "span_fp")
      .filter(col("doc_id") =!= col("cd"))
      .select(col("doc_id"), col("tok_start"), col("tok_end"))
    val wOrd = Window.partitionBy("doc_id").orderBy("tok_start")
    val merged = droppable
      .withColumn("pm", max("tok_end").over(
        wOrd.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("isl", sum(
        when(col("pm").isNull || col("tok_start") > col("pm"), 1).otherwise(0))
        .over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "isl")
      .agg(min("tok_start").as("s"), max("tok_end").as("e"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("rng"),
        sum(col("e") - col("s") + 1).as("nd"))
    d.select(col("doc_id"), col("text"), toks.as("tk"))
      .join(merged, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        when(col("rng").isNull, col("text")).otherwise(
          concat_ws(" ", filter(col("tk"), (t, i) =>
            size(filter(col("rng"), r =>
              (i + 1) >= r.getField("s") && (i + 1) <= r.getField("e"))) === 0)))
          .as("clean_text"),
        coalesce(col("nd"), lit(0L)).as("n_dropped_tokens"))
  }

  /** Gopher-style repetition/quality signals for one document column —
    * every metric a per-row array expression (no explode, no shuffle; the
    * inner membership scans are O(n²) in DOC length with a small
    * constant, the right trade against a per-gram shuffle at corpus
    * scale). Duplicate-line fractions follow Rae et al.'s definition
    * (occurrences beyond the first are "duplicate"; char fraction over
    * the raw text length), top-n-gram concentration is the char share of
    * the most frequent n-gram (ties → lexicographically smallest), and
    * `keep` applies the published Gopher thresholds.
    */
  def repetitionFilters(d: DataFrame): DataFrame = {
    // The repetition statistics (duplicate lines, top-gram argmax) come
    // from ONE native O(text) pass ([[graft.functions.RepetitionStats]]
    // — hash-map counting; the HOF formulation needs O(n²) membership
    // scans per metric and evaluates interpreted). The cheap O(n)
    // metrics stay as builtin expressions.
    d.select(col("doc_id"), col("text"), toks.as("tk"))
      .withColumn("rs", graft.functions.RepetitionStats.repetition_stats(col("text")))
      .select(col("doc_id") +: repetitionMetrics.map { case (n, c) => c.as(n) }: _*)
      .withColumn("keep",
        col("dup_line_frac") <= 0.30 && col("dup_line_char_frac") <= 0.20 &&
          col("top2gram_char_frac") <= 0.20 && col("top3gram_char_frac") <= 0.18 &&
          col("symbol_word_ratio") <= 0.10 &&
          col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0 &&
          col("alpha_word_frac") >= 0.80)
  }

  /** The repetition/quality metric expressions over bound `text`, `tk`
    * (token array) and `rs` ([[graft.functions.RepetitionStats]] struct)
    * columns — pure per-row expressions (no aggregation).
    */
  def repetitionMetrics: Seq[(String, Column)] = {
    def rs(f: String): Column = col("rs").getField(f)
    def topFrac(cnt: String, chars: String): Column =
      // an unrepeated gram is no concentration — otherwise short clean
      // docs score high just because any single gram is a big char share
      when(rs(cnt) <= 1, lit(0.0)).otherwise(
        round(rs(cnt).cast("double") * rs(chars) / length(col("text")), 6))
    Seq(
      "dup_line_frac" ->
        round((rs("n_lines") - rs("n_dlines")).cast("double") / rs("n_lines"), 6),
      // chars in line occurrences beyond each line's first, over total
      "dup_line_char_frac" ->
        round(rs("dup_chars").cast("double") / length(col("text")), 6),
      "top2gram_char_frac" -> topFrac("top2_cnt", "top2_chars"),
      "top3gram_char_frac" -> topFrac("top3_cnt", "top3_chars"),
      "symbol_word_ratio" ->
        round(size(regexp_extract_all(col("text"), lit("[^A-Za-z0-9\\s]"), lit(0)))
          .cast("double") / size(col("tk")), 6),
      "mean_word_len" ->
        round(aggregate(col("tk"), lit(0L), (a, w) => a + length(w))
          .cast("double") / size(col("tk")), 6),
      "alpha_word_frac" ->
        round(size(filter(col("tk"), w => w.rlike("[A-Za-z]")))
          .cast("double") / size(col("tk")), 6))
  }

  /** Substring-level exact dedup (the public shingle-span approach):
    * hash every `w`-token window of every document with ONE O(n) rolling
    * pass ([[graft.functions.WindowPolyHash]] over per-token
    * [[graft.functions.RollingHash]]es — no w× concat blow-up), keep the
    * gram positions whose hash occurs in ≥ 2 distinct docs, and merge
    * consecutive duplicated positions per doc into MAXIMAL spans
    * (gaps-and-islands). Emits 1-based token and char offsets (char
    * offsets w.r.t. the single-space token join — identical to the raw
    * text for single-spaced corpora) plus an md5 span fingerprint, so
    * equal spans across docs are joinable by `span_fp`.
    *
    * Scale shape: the gram table is ~1 row/token but only (hash, doc_id,
    * pos) wide; duplicate detection is one partial-aggregated shuffle on
    * the 8-byte hash; everything after operates on the (rare) duplicated
    * positions only. No all-pairs join anywhere, span merge is a per-doc
    * window.
    */
  def substringSpans(d: DataFrame, w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.TokenHashes.token_hashes
    import graft.functions.WindowPolyHash.window_poly_hash
    val base = d
      .withColumn("tk", toks)
      .filter(size(col("tk")) >= w)
      .select(col("doc_id"), col("tk"),
        window_poly_hash(token_hashes(col("tk")), w).as("gh"))
    val pos = base.select(col("doc_id"),
      posexplode(col("gh")).as(Seq("p0", "gram")))
    val dup = pos.groupBy("gram")
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select("gram")
    val dupPos = pos.join(dup, "gram").select("doc_id", "p0")
    val islands = Window.partitionBy("doc_id").orderBy("p0")
    val spans = dupPos
      .withColumn("isl", col("p0") - row_number().over(islands))
      .groupBy("doc_id", "isl")
      .agg((min("p0") + 1).cast("long").as("tok_start"),
        (max("p0") + w).cast("long").as("tok_end"),
        count(lit(1)).as("n_grams"))
    spans.join(base.select("doc_id", "tk"), "doc_id")
      .select(
        col("doc_id"), col("tok_start"), col("tok_end"),
        when(col("tok_start") === 1, 1L)
          .otherwise(length(concat_ws(" ",
            slice(col("tk"), lit(1), col("tok_start") - 1))) + 2)
          .cast("long").as("char_start"),
        length(concat_ws(" ", slice(col("tk"), lit(1), col("tok_end"))))
          .cast("long").as("char_end"),
        md5(concat_ws(" ",
          slice(col("tk"), col("tok_start"), col("tok_end") - col("tok_start") + 1)))
          .as("span_fp"),
        col("n_grams"))
  }

  /** SimHash near-dup candidate pairs over a (doc_id, simhash) frame:
    * LSH blocking on the high 16 bits of FOUR 8-bit rotations of the
    * 32-bit hash, so any pair whose differing bits fit one cyclic 16-bit
    * window shares ≥1 block — in particular pure prefix(high-bit) flips,
    * which a single high-16 table provably misses. Residual gap
    * (documented, inherent to 4 tables): diff bits straddling opposite
    * windows (e.g. bits {0,8,16,24}) can still evade all four blocks; the
    * full ≤6-bit guarantee would need all C(4,2) clean-block-pair tables.
    * Candidates dedup before the exact hamming verify. The block
    * self-join runs on slim keys (`rot, blk, doc_id`) through
    * [[graft.operators.LshJoins.cappedBandPairs]] — a degenerate block
    * (a corpus of near-identical pages collapsing to one SimHash)
    * degrades to linear star pairs instead of B² (observed metric
    * `simhash_cap`); hashes re-attach per distinct candidate.
    */
  /** Expected-occupancy target for the simhash block buckets — the same
    * constant the RP-LSH banding targets ([[EmbedQueries.RpTargetBucket]]).
    */
  final val SimhashTargetBucket = 128

  /** Block width for a corpus of `n` docs: the smallest b ≥ 16 with
    * n ≤ TargetBucket·2^b, capped at 26 (≥ 6 bits must stay outside the
    * window so the rotations still move differing bits out of the block).
    * With the legacy FIXED 16-bit prefix, random block collisions put
    * ~n²/2¹⁶ spurious candidate pairs into the verify join — measured at
    * sf10 (500k docs) as a ~1.4×-per-decade super-linear byte factor on
    * top of the (legitimately growing) true-pair mass, and extrapolating,
    * the random floor OVERTAKES true pairs near ~5M docs and is fatal at
    * 50M. Holding expected occupancy ≤ 128 keeps random candidates linear
    * in n; true near-dup pairs (the output itself) are unaffected because
    * widening only sharpens the block equality. Same discipline, same
    * constant, and the same integer-exact oracle mirror as the round-9
    * RP-LSH fix ([[EmbedQueries.rpParams]]); at every gate/bench corpus
    * (n ≤ 8.4M) this is bit-identical to the legacy 16-bit scheme, and
    * the wide path is pinned at gate scale by `dedup_simhash_wide`.
    */
  def simhashBlockBits(n: Long): Int = {
    var b = 16
    while (b < 26 && n > (SimhashTargetBucket.toLong << b)) b += 1
    b
  }

  def simhashPairs(
      sh: DataFrame,
      maxHamming: Int = 6,
      maxBucket: Int = graft.operators.LshJoins.DefaultMaxBucket,
      blockBits: Option[Int] = None): DataFrame = {
    // Width decision and block build must read the SAME frame exactly
    // once. When the caller supplies blockBits (the oracle-mirrored
    // queries derive it from the documents-table count — see
    // `dedup_simhash_pairs` — so engine and oracle provably use one
    // number; ADVICE r10), `sh` has a single consumer and needs no pin.
    val shc = if (blockBits.isDefined) sh else Reuse.lineageCut(sh)
    val bb = blockBits.getOrElse(simhashBlockBits(shc.count()))
    val rotBlocks = (0 until 4).map { r =>
      val rot = 8 * r
      struct(lit(r).as("rot"),
        expr(s"((shiftleft(simhash, $rot) % 4294967296) + " +
          s"shiftright(simhash, ${32 - rot})) >> ${32 - bb}").as("blk"))
    }
    val blocks = shc
      .select(col("doc_id"), col("simhash"), explode(array(rotBlocks: _*)).as("rb"))
      .select(col("doc_id"), col("simhash"),
        col("rb.rot").as("rot"), col("rb.blk").as("blk"))
    // the 8-byte signature rides the block shuffle (corpus × 4 rotations —
    // linear, and a SCALAR, so the text family's no-arrays-on-band-shuffle
    // contract holds) and hamming is verified INSIDE the bucket join's
    // output stream: the candidate frame — the only thing here that grows
    // super-linearly on a clustered corpus — is never joined again, and
    // the cross-rotation distinct dedups verified SURVIVORS only. The
    // previous shape distinct-ed all candidates and re-attached the hash
    // by two joins, which flipped broadcast→sort-merge past ~500k docs
    // and shuffled the candidate frame three times.
    graft.operators.LshJoins
      .cappedBandPairsWithPayload(blocks, Seq("rot", "blk"), "doc_id",
        Seq("simhash"), "doc_a", "doc_b", maxBucket, "simhash_cap")
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("simhash_a").bitwiseXOR(col("simhash_b")))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct() // a pair may collide in several rotations; emit ONCE
  }

  /** The adaptive block-width choice of [[simhashBlockBits]] as a one-row
    * subquery `(bb)` — integer-exact (no float log2): the smallest
    * bb ≥ 16 with count ≤ TargetBucket·2^bb, capped at 26 (the engine's
    * while-loop cap mirrors as the COALESCE fallback).
    */
  private lazy val SqlSimhashBitsAdaptive: String =
    s"""SELECT COALESCE(min(bb), 26) AS bb FROM generate_series(16, 26) t(bb)
       |WHERE (SELECT count(*) FROM documents)
       |      <= $SimhashTargetBucket * (CAST(1 AS BIGINT) << bb)""".stripMargin

  /** SimHash candidate pairs as reusable CTEs ending in
    * `cand(doc_a, doc_b, hamming)` — mirrors [[simhashPairs]] exactly for
    * the block width delivered by `prmSql` (a one-row `(bb)` query): the
    * top `bb` bits of each of the four byte-rotations key the equality
    * join, so the bucket structure reproduces the engine's for ANY bb.
    */
  private def sqlSimhashCtes(prmSql: String): String =
    s"""tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |n AS (SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 8)) AS UBIGINT)::BIGINT AS num FROM tok),
       |bits AS (
       |  SELECT doc_id, b, sum(2 * ((num >> b) & 1) - 1) AS sgn
       |  FROM n, generate_series(0, 31) AS t(b) GROUP BY 1, 2),
       |sh AS (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN sgn > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
       |  FROM bits GROUP BY doc_id),
       |prm AS ($prmSql),
       |blk AS (
       |  SELECT doc_id, simhash, r.rot AS rot,
       |    (((simhash << (8 * r.rot)) % 4294967296) + (simhash >> (32 - 8 * r.rot))) >> (32 - prm.bb) AS blk
       |  FROM sh, generate_series(0, 3) AS r(rot), prm),
       |cand AS (
       |  SELECT DISTINCT doc_a, doc_b, hamming FROM (
       |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |    FROM blk a JOIN blk b ON a.rot = b.rot AND a.blk = b.blk AND a.doc_id < b.doc_id))""".stripMargin

  /** dedup_substring_spans as reusable CTEs ending in
    * `spd(doc_id, tok_start, tok_end, char_start, char_end, span_fp,
    * n_grams)` — the drop-rewrite oracle extends the chain.
    */
  private lazy val SqlSpanCtes: String =
    """t AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |  WHERE len(string_split(text, ' ')) >= 50),
      |hx AS (
      |  SELECT doc_id, tk, list_transform(tk, s -> CASE WHEN length(s) = 0
      |    THEN CAST(0 AS HUGEINT)
      |    ELSE list_reduce(
      |      list_transform(generate_series(1, length(s)),
      |                     i -> CAST(ord(substr(s, i, 1)) AS HUGEINT)),
      |      (h, b) -> (h * 257 + b) % 2305843009213693951) END) AS hs
      |  FROM t),
      |g AS (
      |  SELECT doc_id, unnest(list_transform(generate_series(1, len(hs) - 49),
      |    i -> struct_pack(p := i, gram := CAST(list_reduce(
      |           list_slice(hs, i, i + 49),
      |           (h, x) -> (h * 1000003 + x) % 2305843009213693951) AS BIGINT)))) AS u
      |  FROM hx),
      |gg AS (SELECT doc_id, u.p AS p, u.gram AS gram FROM g),
      |dgr AS (SELECT gram FROM gg GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
      |dp AS (SELECT doc_id, p FROM gg JOIN dgr USING (gram)),
      |gisl AS (SELECT doc_id, p,
      |          p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp
      |        FROM dp),
      |sp AS (SELECT doc_id, CAST(min(p) AS BIGINT) AS tok_start,
      |              CAST(max(p) + 49 AS BIGINT) AS tok_end,
      |              CAST(count(*) AS BIGINT) AS n_grams
      |       FROM gisl GROUP BY doc_id, grp),
      |spd AS (
      |  SELECT sp.doc_id, tok_start, tok_end,
      |    CAST(CASE WHEN tok_start = 1 THEN 1
      |         ELSE length(array_to_string(list_slice(tk, 1, tok_start - 1), ' ')) + 2
      |         END AS BIGINT) AS char_start,
      |    CAST(length(array_to_string(list_slice(tk, 1, tok_end), ' ')) AS BIGINT) AS char_end,
      |    md5(array_to_string(list_slice(tk, tok_start, tok_end), ' ')) AS span_fp,
      |    n_grams
      |  FROM sp JOIN t ON t.doc_id = sp.doc_id)""".stripMargin

  private val SqlToks = "string_split(text, ' ')"

  /** Chunking as a full SELECT — shared by `chunk_documents` and
    * `dedup_chunk_exact` so the window arithmetic can never drift
    * between the two oracles.
    */
  private lazy val SqlChunkSelect =
    s"""WITH t AS (SELECT doc_id, $SqlToks AS tk, len($SqlToks) AS n
       |           FROM documents),
       |s AS (SELECT doc_id, tk, n,
       |        unnest(generate_series(0,
       |          greatest(0, ((n - 32 + 23) // 24) * 24), 24)) AS start
       |      FROM t WHERE n > 0)
       |SELECT doc_id, CAST(start // 24 AS BIGINT) AS chunk_id,
       |  CAST(len(tk[start+1 : least(start+32, n)]) AS BIGINT) AS n_tokens,
       |  array_to_string(tk[start+1 : least(start+32, n)], ' ') AS chunk_text
       |FROM s""".stripMargin

  /** The n-gram-profile language-ID SELECT — shared by `text_langid_ngram`
    * and `langid_confusion`.
    */
  private lazy val SqlLangidNgram: String = {
    def score(ngrams: Seq[String]) =
      s"len(list_filter([${ngrams.map(g => s"'$g'").mkString(", ")}], g -> contains(text, g)))"
    val en = score(LangProfiles("en"))
    val de = score(LangProfiles("de"))
    val es = score(LangProfiles("es"))
    s"""SELECT doc_id, lang,
       |  CASE WHEN $de > $en AND $de >= $es THEN 'de'
       |       WHEN $es > $en THEN 'es'
       |       ELSE 'en' END AS predicted_lang,
       |  CAST($en AS BIGINT) AS score_en, CAST($de AS BIGINT) AS score_de,
       |  CAST($es AS BIGINT) AS score_es
       |FROM documents""".stripMargin
  }

  private def sqlHits(ws: Seq[String]) =
    s"len(list_filter(tk, t -> t IN (${ws.map(w => s"'$w'").mkString(", ")})))"

  private val SqlStop = sqlHits(Stopwords)

  /** Oracle-side EXACT decimal rounding. Spark's `round` goes through
    * `BigDecimal.valueOf` — the double's SHORTEST decimal representation
    * — then HALF_UP; DuckDB's double `round()` multiplies by 10^d first
    * and misrounds knife-edge ties (the sf0.1 rehearsal surfaced seven:
    * e.g. 0.92763149999999994 → DuckDB 0.927632, Spark 0.927631).
    * Casting DOUBLE→VARCHAR yields the same shortest representation,
    * VARCHAR→DECIMAL parses it exactly, DECIMAL round is exact HALF_UP,
    * and DECIMAL has no -0.0 — so this equals Spark's rounding
    * bit-for-bit, ties and signed zeros included.
    */
  private def sqlRx(x: String): String =
    s"CAST(round(CAST(CAST(($x) AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE)"

  private lazy val SqlStopRatio = sqlRx(s"CAST($SqlStop AS DOUBLE) / len(tk)")
  private lazy val SqlQuality = sqlRx(
    s"least(CAST(len(tk) AS DOUBLE) / 100.0, 1.0) * 0.5 + (1.0 - $SqlStopRatio) * 0.5")

  /** Shared winnowing CTE chain (t → hx → g → sel): token rolling hashes,
    * k=3 gram poly-hashes, win=4 window minima with rightmost-tie
    * positions — `sel` yields one (doc_id, u{pos, fp}) row per window.
    */
  private val SqlWinnowCte =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |           WHERE len(string_split(text, ' ')) >= 6),
      |hx AS (SELECT doc_id, list_transform(tk, s -> CASE WHEN length(s) = 0
      |         THEN CAST(0 AS HUGEINT)
      |         ELSE list_reduce(
      |           list_transform(generate_series(1, length(s)),
      |                          i -> CAST(ord(substr(s, i, 1)) AS HUGEINT)),
      |           (h, b) -> (h * 257 + b) % 2305843009213693951) END) AS hs
      |       FROM t),
      |g AS (SELECT doc_id, list_transform(generate_series(1, len(hs) - 2),
      |        i -> CAST(list_reduce(list_slice(hs, i, i + 2),
      |               (h, x) -> (h * 1000003 + x) % 2305843009213693951) AS BIGINT)) AS gh
      |      FROM hx),
      |sel AS (SELECT doc_id, unnest(list_transform(generate_series(0, len(gh) - 4), j ->
      |    struct_pack(
      |      pos := CAST(j + 5 - list_position(
      |               list_reverse(list_slice(gh, j + 1, j + 4)),
      |               list_aggregate(list_slice(gh, j + 1, j + 4), 'min')) AS BIGINT),
      |      fp := list_aggregate(list_slice(gh, j + 1, j + 4), 'min')))) AS u
      |  FROM g)""".stripMargin

  private val SqlShingled =
    s"""t AS (SELECT doc_id, $SqlToks AS toks FROM documents),
       |sh2 AS (
       |  SELECT doc_id, list_distinct(
       |    list_transform(generate_series(1, len(toks) - 2),
       |                   i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS shd
       |  FROM t WHERE len(toks) >= 3)""".stripMargin

  private def sqlJaccard(a: String, b: String) =
    s"round(CAST(len(list_intersect($a, $b)) AS DOUBLE) / (len($a) + len($b) - len(list_intersect($a, $b))), 6)"

  /** MinHash-LSH candidate generation + exact verification as reusable
    * CTEs, ending in `verified(doc_a, doc_b, jac)`.
    */
  private lazy val SqlLshCtes: String = {
    val mhCols = (0 until NumHashes)
      .map(i =>
        s"list_aggregate(list_transform(hx, h -> (h * ${minhashA(i)} + ${minhashB(i)}) % $MinhashP), 'min') AS mh$i")
      .mkString(",\n  ")
    val bandRows = (0 until Bands)
      .map { bnd =>
        val ks = (0 until BandRows).map(r => s"mh${bnd * BandRows + r}").mkString(", ")
        s"SELECT doc_id, $bnd AS band, md5(concat_ws('-', $ks)) AS bkey FROM mh"
      }
      .mkString("\n  UNION ALL ")
    s"""$SqlShingled,
       |shx AS (SELECT doc_id,
       |  list_transform(shd, x -> CAST(('0x' || substr(md5(x), 1, 8)) AS UBIGINT)::BIGINT) AS hx
       |FROM sh2),
       |mh AS (SELECT doc_id,
       |  $mhCols
       |FROM shx),
       |bands AS (
       |  $bandRows),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey
       |    AND x.doc_id < y.doc_id),
       |verified AS (
       |  SELECT doc_a, doc_b, ${sqlJaccard("p.shd", "q.shd")} AS jac
       |  FROM cand JOIN sh2 p ON p.doc_id = doc_a JOIN sh2 q ON q.doc_id = doc_b)""".stripMargin
  }

  /** Char-trigram LM scoring CTEs (ends at `sc(doc_id, n_grams, slog)`) —
    * shared by text_lm_score and lm_quality_buckets so the score
    * definition can never drift between the two oracles.
    */
  private val SqlLmCtes =
    """d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 3),
      |g AS (SELECT doc_id,
      |        unnest(list_transform(generate_series(1, length(text) - 2),
      |          i -> ord(substr(text, i, 1)) * 65536
      |               + ord(substr(text, i + 1, 1)) * 256
      |               + ord(substr(text, i + 2, 1)))) AS g
      |      FROM d),
      |tf AS (SELECT doc_id, g, count(*) AS tf FROM g GROUP BY doc_id, g),
      |c AS (SELECT g, CAST(sum(tf) AS BIGINT) AS c FROM tf GROUP BY g),
      |st AS (SELECT CAST(sum(c) + count(*) AS DOUBLE) AS denom FROM c),
      |sc AS (SELECT doc_id,
      |         CAST(sum(tf) AS BIGINT) AS n_grams,
      |         CAST(sum(CAST(round(ln(CAST(c + 1 AS DOUBLE) / denom), 6)
      |                       AS DECIMAL(22,6)) * tf) AS DOUBLE) AS slog
      |       FROM tf JOIN c USING (g), st GROUP BY doc_id)""".stripMargin

  val sql: Map[String, String] = Map(
    "chunk_documents" -> SqlChunkSelect,
    "dedup_chunk_exact" ->
      s"""WITH c AS ($SqlChunkSelect)
         |SELECT md5(chunk_text) AS fp, CAST(count(*) AS BIGINT) AS n_copies,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  CAST(min(doc_id) AS BIGINT) AS canonical_doc_id
         |FROM c GROUP BY 1 HAVING count(*) > 1""".stripMargin,
    // sampled-ECDF form: md5 draw, strict-< count over the same sample
    // list, same 0.5 fallback — deterministic and engine-shared
    "quality_percentile_by_source" ->
      s"""WITH q AS (SELECT doc_id, source,
         |        $SqlQuality
         |          AS quality_score
         |      FROM (SELECT doc_id, source, $SqlToks AS tk FROM documents)),
         |smp AS (SELECT source, list(quality_score ORDER BY quality_score) AS qs
         |        FROM q
         |        WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
         |                   AS UBIGINT)::BIGINT % 100 < 20
         |        GROUP BY 1)
         |SELECT q.doc_id, q.source, q.quality_score,
         |  coalesce(round(CAST(len(list_filter(s.qs, x -> x < q.quality_score))
         |                      AS DOUBLE) / len(s.qs), 6), 0.5) AS approx_pct_rank
         |FROM q LEFT JOIN smp s USING (source)""".stripMargin,
    "quality_percentile_by_source_exact" ->
      s"""WITH q AS (SELECT doc_id, source,
         |        $SqlQuality
         |          AS quality_score
         |      FROM (SELECT doc_id, source, $SqlToks AS tk FROM documents))
         |SELECT doc_id, source, quality_score,
         |  round(percent_rank() OVER (PARTITION BY source
         |                             ORDER BY quality_score, doc_id), 6) AS pct_rank
         |FROM q""".stripMargin,
    "lsh_band_stats" ->
      s"""WITH $SqlLshCtes,
         |bs AS (SELECT band, bkey, CAST(count(*) AS BIGINT) AS bucket_size
         |       FROM bands GROUP BY 1, 2)
         |SELECT CAST(band AS BIGINT) AS band, bucket_size,
         |  CAST(count(*) AS BIGINT) AS n_buckets
         |FROM bs GROUP BY 1, 2""".stripMargin,
    "ngram_pmi" ->
      s"""WITH t AS (SELECT $SqlToks AS tk FROM documents),
         |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS cw
         |        FROM (SELECT unnest(tk) AS w FROM t) GROUP BY 1),
         |nu AS (SELECT CAST(sum(cw) AS DOUBLE) AS nu FROM uni),
         |bg AS (SELECT unnest(list_transform(generate_series(1, len(tk) - 1),
         |         i -> struct_pack(w1 := tk[i], w2 := tk[i + 1]))) AS u
         |       FROM t WHERE len(tk) >= 2),
         |big AS (SELECT u.w1 AS w1, u.w2 AS w2, CAST(count(*) AS BIGINT) AS n_pair
         |        FROM bg GROUP BY 1, 2),
         |nb AS (SELECT CAST(sum(n_pair) AS DOUBLE) AS nb FROM big)
         |SELECT w1, w2, n_pair,
         |  round(ln(CAST(n_pair AS DOUBLE) / nb * (nu / c1) * (nu / c2)), 6) + 0.0 AS pmi
         |FROM big
         |JOIN (SELECT w AS w1, cw AS c1 FROM uni) u1 USING (w1)
         |JOIN (SELECT w AS w2, cw AS c2 FROM uni) u2 USING (w2)
         |CROSS JOIN nu CROSS JOIN nb
         |WHERE n_pair >= 5
         |ORDER BY pmi DESC, w1, w2 LIMIT 20""".stripMargin,
    "sample_weighted" ->
      s"""WITH q AS (SELECT doc_id, source,
         |    $SqlQuality AS w
         |  FROM (SELECT doc_id, source, $SqlToks AS tk FROM documents)),
         |k AS (SELECT doc_id, source, w,
         |    round(ln((CAST(CAST(('0x' || substr(md5(concat(CAST(doc_id AS VARCHAR), '#wrs')), 1, 8)) AS UBIGINT) AS DOUBLE) + 0.5)
         |             / 4294967296.0) / w, 6) + 0.0 AS wkey
         |  FROM q),
         |r AS (SELECT *, row_number() OVER (PARTITION BY source
         |                                   ORDER BY wkey DESC, doc_id) AS rnk
         |      FROM k)
         |SELECT source, doc_id, w AS weight, wkey, CAST(rnk AS BIGINT) AS rank
         |FROM r WHERE rnk <= 20""".stripMargin,
    "corpus_datacard" ->
      s"""WITH d AS (SELECT doc_id, lang, source,
         |  md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
         |  $SqlToks AS tk, length(text) AS nch FROM documents),
         |q AS (SELECT *, CAST($SqlQuality
         |        AS DECIMAL(22,6)) AS qs
         |      FROM d)
         |SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(DISTINCT fp) AS BIGINT) AS n_unique_docs,
         |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |  CAST(sum(len(tk)) AS BIGINT) AS total_tokens,
         |  CAST(sum(nch) AS BIGINT) AS total_chars,
         |  round(1.0 - CAST(count(DISTINCT fp) AS DOUBLE) / count(*), 6) AS dup_rate,
         |  round(CAST(sum(qs) AS DOUBLE) / count(*), 6) AS mean_quality,
         |  round(CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE)
         |        / count(*), 6) AS en_share
         |FROM q""".stripMargin,
    "ngram_novelty" ->
      s"""WITH t AS (SELECT doc_id, $SqlToks AS tk FROM documents),
         |g AS (SELECT DISTINCT doc_id, g FROM (
         |        SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - 4),
         |          i -> array_to_string(list_slice(tk, i, i + 4), ' '))) AS g
         |        FROM t WHERE len(tk) >= 5)),
         |f AS (SELECT g, min(doc_id) AS first_doc FROM g GROUP BY g)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_distinct_grams,
         |  CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_novel,
         |  round(CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS DOUBLE)
         |        / count(*), 6) AS novelty
         |FROM g JOIN f USING (g) GROUP BY doc_id""".stripMargin,
    "langid_confusion" ->
      s"""WITH p AS ($SqlLangidNgram),
         |g AS (SELECT lang, predicted_lang, CAST(count(*) AS BIGINT) AS n_docs
         |      FROM p GROUP BY 1, 2)
         |SELECT lang, predicted_lang, n_docs,
         |  round(CAST(n_docs AS DOUBLE)
         |        / sum(n_docs) OVER (PARTITION BY lang), 6) AS share
         |FROM g""".stripMargin,
    "token_zipf_fit" ->
      s"""WITH wc AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt
         |            FROM (SELECT unnest($SqlToks) AS w FROM documents)
         |            GROUP BY w),
         |top AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, w) AS rnk
         |        FROM wc ORDER BY cnt DESC, w LIMIT 1000)
         |SELECT CAST(count(*) AS BIGINT) AS n_words,
         |  round(regr_slope(ln(CAST(cnt AS DOUBLE)), ln(CAST(rnk AS DOUBLE))), 6)
         |    + 0.0 AS zipf_slope,
         |  round(regr_intercept(ln(CAST(cnt AS DOUBLE)), ln(CAST(rnk AS DOUBLE))), 6)
         |    + 0.0 AS zipf_intercept,
         |  round(regr_r2(ln(CAST(cnt AS DOUBLE)), ln(CAST(rnk AS DOUBLE))), 6) AS r2
         |FROM top""".stripMargin,
    "boilerplate_per_source" ->
      s"""WITH t AS (SELECT doc_id, source, $SqlToks AS tk FROM documents),
         |g AS (SELECT doc_id, source,
         |        unnest(list_transform(generate_series(1, len(tk) - 7),
         |          i -> array_to_string(list_slice(tk, i, i + 7), ' '))) AS g
         |      FROM t WHERE len(tk) >= 8),
         |c AS (SELECT source, g, CAST(count(*) AS BIGINT) AS n_occurrences,
         |        CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
         |      FROM g GROUP BY 1, 2),
         |m AS (SELECT source, max(n_occurrences) AS max_occ FROM c GROUP BY 1),
         |b AS (SELECT c.source, min(c.g) AS gram,
         |        CAST(max(c.n_occurrences) AS BIGINT) AS n_occurrences
         |      FROM c JOIN m ON c.source = m.source AND c.n_occurrences = m.max_occ
         |      GROUP BY c.source),
         |sd AS (SELECT source, CAST(count(*) AS BIGINT) AS source_docs
         |       FROM documents GROUP BY 1)
         |SELECT b.source, b.gram, b.n_occurrences, c.n_docs,
         |  round(CAST(c.n_docs AS DOUBLE) / sd.source_docs, 6) AS doc_share
         |FROM b JOIN c ON c.source = b.source AND c.g = b.gram
         |       JOIN sd ON sd.source = b.source""".stripMargin,
    "text_token_count" ->
      s"""SELECT doc_id, CAST(len($SqlToks) AS BIGINT) AS n_tokens,
         |  CAST(length(text) AS BIGINT) AS n_chars_text,
         |  CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_tokens_bpe_est,
         |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_tokens_re
         |FROM documents""".stripMargin,
    "vocab_coverage_sweep" ->
      s"""WITH wc AS (SELECT w, count(*) AS cnt
         |           FROM (SELECT unnest($SqlToks) AS w FROM documents) GROUP BY w),
         |tot AS (SELECT sum(cnt) AS total FROM wc),
         |r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, w) AS rnk FROM wc),
         |ks AS (SELECT unnest([100, 300, 1000, 3000, 10000]) AS k)
         |SELECT CAST(ks.k AS BIGINT) AS k, CAST(count(*) AS BIGINT) AS vocab_size,
         |  round(CAST(sum(cnt) AS DOUBLE) / max(total), 6) AS coverage
         |FROM r, ks, tot WHERE rnk <= ks.k GROUP BY 1""".stripMargin,
    "dedup_similarity_histogram" ->
      s"""WITH $SqlLshCtes
         |SELECT CAST(floor(jac * 20) AS BIGINT) AS bin,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  ${ExactStats.sqlMeanExact6("jac")} AS avg_jac
         |FROM verified GROUP BY 1""".stripMargin,
    "dedup_threshold_sweep" ->
      s"""WITH $SqlLshCtes,
         |th AS (SELECT unnest([0.1, 0.3, 0.5, 0.7, 0.9]) AS threshold),
         |p AS (SELECT threshold, doc_a, doc_b
         |      FROM verified, th WHERE jac >= threshold),
         |np AS (SELECT threshold, CAST(count(*) AS BIGINT) AS n_pairs
         |       FROM p GROUP BY 1),
         |nd AS (SELECT threshold, CAST(count(DISTINCT doc_id) AS BIGINT)
         |         AS n_docs_flagged
         |       FROM (SELECT threshold, unnest([doc_a, doc_b]) AS doc_id FROM p)
         |       GROUP BY 1)
         |SELECT th.threshold,
         |  CAST(coalesce(np.n_pairs, 0) AS BIGINT) AS n_pairs,
         |  CAST(coalesce(nd.n_docs_flagged, 0) AS BIGINT) AS n_docs_flagged
         |FROM th LEFT JOIN np USING (threshold)
         |        LEFT JOIN nd USING (threshold)""".stripMargin,
    "nll_by_length" ->
      s"""WITH $SqlLmCtes,
         |sc2 AS (SELECT doc_id, ${sqlRx("-slog / n_grams")} + 0.0 AS nll FROM sc),
         |lens AS (SELECT doc_id, len($SqlToks) AS n FROM documents),
         |j AS (SELECT CAST(power(2, floor(log2(n))) AS BIGINT) AS bucket_lo, nll
         |      FROM sc2 JOIN lens USING (doc_id) WHERE n >= 1)
         |SELECT bucket_lo, CAST(count(*) AS BIGINT) AS n_docs,
         |  ${sqlRx("CAST(sum(CAST(nll AS DECIMAL(22,6))) AS DOUBLE) / count(*)")}
         |    + 0.0 AS mean_nll
         |FROM j GROUP BY bucket_lo""".stripMargin,
    "quality_lm_correlation" ->
      s"""WITH $SqlLmCtes,
         |sc2 AS (SELECT doc_id, ${sqlRx("-slog / n_grams")} + 0.0 AS nll FROM sc),
         |q AS (SELECT doc_id,
         |        $SqlQuality AS qs
         |      FROM (SELECT doc_id, $SqlToks AS tk FROM documents))
         |SELECT d2.source, CAST(count(*) AS BIGINT) AS n_docs,
         |  round(corr(q.qs, sc2.nll), 6) + 0.0 AS quality_nll_corr
         |FROM sc2 JOIN q USING (doc_id) JOIN documents d2 USING (doc_id)
         |GROUP BY d2.source""".stripMargin,
    "quality_threshold_sweep" ->
      s"""WITH q AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
         |        $SqlQuality AS qs
         |      FROM (SELECT doc_id, $SqlToks AS tk FROM documents)),
         |g AS (SELECT q.*, round(t.t10 / 10.0, 1) AS threshold
         |      FROM q, generate_series(0, 9) AS t(t10))
         |SELECT threshold,
         |  CAST(sum(CASE WHEN qs >= threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_kept,
         |  CAST(sum(CASE WHEN qs >= threshold THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_kept
         |FROM g GROUP BY threshold""".stripMargin,
    "dedup_dup_ngram_fraction" ->
      s"""WITH t AS (SELECT doc_id, $SqlToks AS tk FROM documents),
         |g AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - 4),
         |        i -> array_to_string(list_slice(tk, i, i + 4), ' '))) AS g
         |      FROM t WHERE len(tk) >= 5),
         |d AS (SELECT g, count(DISTINCT doc_id) AS gdf FROM g GROUP BY g)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |  CAST(sum(CASE WHEN gdf > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_grams,
         |  round(CAST(sum(CASE WHEN gdf > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
         |    AS dup_fraction
         |FROM g JOIN d USING (g) GROUP BY doc_id""".stripMargin,
    "split_assign" ->
      """SELECT doc_id, source, bucket,
        |  CASE WHEN bucket < 80 THEN 'train'
        |       WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id, source,
        |  CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))
        |    AS UBIGINT)::BIGINT % 100 AS bucket
        |FROM documents)""".stripMargin,
    "split_ngram_leakage" ->
      s"""WITH d AS (SELECT doc_id,
         |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
         |    tk
         |  FROM (SELECT doc_id, $SqlToks AS tk,
         |    CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))
         |      AS UBIGINT)::BIGINT % 100 AS b
         |  FROM documents) WHERE len(tk) >= 5),
         |g AS (SELECT DISTINCT split, unnest(list_transform(generate_series(1, len(tk) - 4),
         |        i -> array_to_string(list_slice(tk, i, i + 4), ' '))) AS g
         |      FROM d),
         |tr AS (SELECT g FROM g WHERE split = 'train')
         |SELECT split, CAST(count(*) AS BIGINT) AS n_grams,
         |  CAST(sum(CASE WHEN g IN (SELECT g FROM tr) THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_seen_in_train,
         |  round(CAST(sum(CASE WHEN g IN (SELECT g FROM tr) THEN 1 ELSE 0 END) AS DOUBLE)
         |        / count(*), 6) AS leak_fraction
         |FROM g WHERE split <> 'train' GROUP BY split""".stripMargin,
    "length_histogram" ->
      s"""SELECT source, CAST(power(2, floor(log2(n))) AS BIGINT) AS bucket_lo,
         |  CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n) AS BIGINT) AS total_tokens
         |FROM (SELECT source, len($SqlToks) AS n FROM documents)
         |WHERE n >= 1 GROUP BY 1, 2""".stripMargin,
    "source_unigram_kl" ->
      s"""WITH w AS (SELECT source, unnest($SqlToks) AS w FROM documents),
         |sc AS (SELECT source, w, count(*) AS c FROM w GROUP BY source, w),
         |st AS (SELECT source, sum(c) AS n_src FROM sc GROUP BY source),
         |cc AS (SELECT w, sum(c) AS cw FROM sc GROUP BY w),
         |ct AS (SELECT sum(cw) AS n_all FROM cc)
         |SELECT source,
         |  ${ExactStats.sqlSumExact6(
              "(CAST(c AS DOUBLE) / n_src) * " +
              "ln((CAST(c AS DOUBLE) / n_src) / (CAST(cw AS DOUBLE) / n_all))")}
         |    + 0.0 AS kl_unigram,
         |  CAST(max(n_src) AS BIGINT) AS n_tokens
         |FROM sc JOIN st USING (source) JOIN cc USING (w) CROSS JOIN ct
         |GROUP BY source""".stripMargin,
    "text_quality" ->
      s"""SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
         |  round(CAST(length(text) - len(tk) + 1 AS DOUBLE) / len(tk), 6) AS avg_token_len,
         |  $SqlStopRatio AS stopword_ratio,
         |  $SqlQuality AS quality_score
         |FROM (SELECT doc_id, text, $SqlToks AS tk FROM documents)""".stripMargin,
    "text_langid" ->
      s"""SELECT doc_id, lang,
         |  CASE WHEN ${sqlHits(Seq("der", "die", "und", "das"))} > $SqlStop THEN 'de'
         |       WHEN ${sqlHits(Seq("el", "la", "los", "las"))} > $SqlStop THEN 'es'
         |       ELSE 'en' END AS predicted_lang
         |FROM (SELECT doc_id, lang, $SqlToks AS tk FROM documents)""".stripMargin,
    "text_fingerprint" ->
      """SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |FROM documents""".stripMargin,
    "text_langid_ngram" -> SqlLangidNgram,
    "text_rolling_fingerprint" ->
      """SELECT doc_id,
        |  CAST(list_reduce(
        |    list_transform(generate_series(1, length(text)),
        |                   i -> CAST(ord(substr(text, i, 1)) AS HUGEINT)),
        |    (h, b) -> (h * 257 + b) % 2305843009213693951) AS BIGINT) AS rfp
        |FROM documents""".stripMargin,
    "text_gram_entropy" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2),
        |n AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |        CAST(count(*) AS BIGINT) AS n_distinct
        |      FROM tf GROUP BY 1)
        |SELECT t.doc_id, n_tokens, n_distinct,
        |  round(CAST(n_distinct AS DOUBLE) / n_tokens, 6) AS ttr,
        |  CAST(sum(CAST(round(-(CAST(c AS DOUBLE) / n_tokens)
        |                      * ln(CAST(c AS DOUBLE) / n_tokens), 6)
        |                AS DECIMAL(22,6))) AS DOUBLE) AS entropy
        |FROM tf t JOIN n USING (doc_id)
        |GROUP BY t.doc_id, n_tokens, n_distinct""".stripMargin,
    "source_quality_report" ->
      s"""WITH d AS (SELECT source,
         |  md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
         |  len($SqlToks) AS ntk, length(text) AS nch FROM documents),
         |g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |        CAST(count(DISTINCT fp) AS BIGINT) AS n_unique,
         |        CAST(sum(ntk) AS BIGINT) AS sum_tokens,
         |        CAST(sum(nch) AS BIGINT) AS sum_chars
         |      FROM d GROUP BY 1)
         |SELECT source, n_docs, n_unique,
         |  round(1.0 - CAST(n_unique AS DOUBLE) / n_docs, 6) AS dup_rate,
         |  round(CAST(sum_tokens AS DOUBLE) / n_docs, 6) AS avg_tokens,
         |  round(CAST(sum_chars AS DOUBLE) / n_docs, 6) AS avg_chars
         |FROM g""".stripMargin,
    "dedup_exact" ->
      """SELECT fp, min(doc_id) AS canonical_doc_id, CAST(count(*) AS BIGINT) AS n_copies
        |FROM (SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |      FROM documents)
        |GROUP BY fp""".stripMargin,
    "dedup_ngram_jaccard" ->
      s"""WITH $SqlShingled,
         |blk AS (
         |  SELECT doc_id, array_to_string(list_slice($SqlToks, 1, 3), ' ') AS blk
         |  FROM documents),
         |j AS (SELECT b.blk, b.doc_id, s.shd FROM blk b JOIN sh2 s USING (doc_id))
         |SELECT doc_a, doc_b, jac FROM (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         ${sqlJaccard("a.shd", "b.shd")} AS jac
         |  FROM j a JOIN j b ON a.blk = b.blk AND a.doc_id < b.doc_id)
         |WHERE jac >= 0.2""".stripMargin,
    "dedup_containment" ->
      s"""WITH $SqlShingled,
         |grams AS (SELECT doc_id, unnest(shd) AS g FROM sh2),
         |dfreq AS (SELECT g, count(*) AS df FROM grams GROUP BY 1),
         |pre AS (
         |  SELECT gr.doc_id,
         |         list_slice(array_agg(gr.g ORDER BY d.df, gr.g), 1,
         |                    CAST(count(*) - ceil(0.8 * count(*)) + 1 AS INT)) AS pre
         |  FROM grams gr JOIN dfreq d USING (g) GROUP BY gr.doc_id),
         |cand AS (
         |  SELECT DISTINCT p.doc_id AS doc_a, q.doc_id AS doc_b
         |  FROM (SELECT doc_id, unnest(pre) AS g FROM pre) p
         |  JOIN grams q ON p.g = q.g AND p.doc_id <> q.doc_id)
         |SELECT doc_a, doc_b, containment FROM (
         |  SELECT doc_a, doc_b,
         |         round(CAST(len(list_intersect(a.shd, b.shd)) AS DOUBLE) / len(a.shd), 6)
         |           AS containment
         |  FROM cand JOIN sh2 a ON a.doc_id = doc_a JOIN sh2 b ON b.doc_id = doc_b)
         |WHERE containment >= 0.8""".stripMargin,
    "dedup_minhash_lsh" ->
      s"""WITH $SqlLshCtes
         |SELECT doc_a, doc_b, jac FROM verified WHERE jac >= 0.4""".stripMargin,
    "dedup_minhash_estimate" -> {
      val est = (0 until NumHashes)
        .map(i => s"CASE WHEN p.mh$i = q.mh$i THEN 1.0 ELSE 0.0 END")
        .mkString(" + ")
      s"""WITH $SqlLshCtes
         |SELECT doc_a, doc_b, jac_est FROM (
         |  SELECT doc_a, doc_b, ($est) / $NumHashes AS jac_est
         |  FROM cand JOIN mh p ON p.doc_id = doc_a JOIN mh q ON q.doc_id = doc_b)
         |WHERE jac_est >= 0.5""".stripMargin
    },
    "dedup_clusters" ->
      s"""WITH RECURSIVE $SqlLshCtes,
         |pairs AS (SELECT doc_a, doc_b FROM verified WHERE jac >= 0.4),
         |edges AS (SELECT doc_a, doc_b FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(src, node) AS (
         |  SELECT DISTINCT doc_a, doc_a FROM edges
         |  UNION
         |  SELECT r.src, e.doc_b FROM reach r JOIN edges e ON r.node = e.doc_a)
         |SELECT node AS doc_id, min(src) AS cluster_id FROM reach GROUP BY node""".stripMargin,
    "dedup_estimate_vs_exact" -> {
      val est = (0 until NumHashes)
        .map(i => s"CASE WHEN p.mh$i = q.mh$i THEN 1.0 ELSE 0.0 END")
        .mkString(" + ")
      s"""WITH $SqlLshCtes,
         |p_exact AS (SELECT doc_a, doc_b FROM verified WHERE jac >= 0.4),
         |p_est AS (
         |  SELECT doc_a, doc_b FROM (
         |    SELECT doc_a, doc_b, ($est) / $NumHashes AS je
         |    FROM cand JOIN mh p ON p.doc_id = doc_a JOIN mh q ON q.doc_id = doc_b)
         |  WHERE je >= 0.5)
         |SELECT doc_a, doc_b, 'estimate_only' AS side
         |FROM (SELECT * FROM p_est EXCEPT SELECT * FROM p_exact)
         |UNION ALL
         |SELECT doc_a, doc_b, 'exact_only' AS side
         |FROM (SELECT * FROM p_exact EXCEPT SELECT * FROM p_est)""".stripMargin
    },
    "dedup_cross_source" ->
      s"""WITH $SqlLshCtes,
         |p AS (SELECT doc_a, doc_b FROM verified WHERE jac >= 0.4),
         |s AS (SELECT doc_id, source FROM documents)
         |SELECT least(x.source, y.source) AS source_lo,
         |  greatest(x.source, y.source) AS source_hi,
         |  CAST(count(*) AS BIGINT) AS n_pairs
         |FROM p JOIN s x ON x.doc_id = doc_a JOIN s y ON y.doc_id = doc_b
         |GROUP BY 1, 2""".stripMargin,
    "source_minhash_sim" -> {
      val mhCols = (0 until NumHashes)
        .map(i =>
          s"list_aggregate(list_transform(hx, h -> (h * ${minhashA(i)} + ${minhashB(i)}) % $MinhashP), 'min') AS mh$i")
        .mkString(",\n  ")
      val mins  = (0 until NumHashes).map(i => s"min(mh$i) AS mh$i").mkString(", ")
      val agree = (0 until NumHashes)
        .map(i => s"CASE WHEN a.mh$i = b.mh$i THEN 1.0 ELSE 0.0 END")
        .mkString(" + ")
      s"""WITH t AS (SELECT source, string_split(text, ' ') AS toks FROM documents),
         |sh2s AS (
         |  SELECT source, list_distinct(
         |    list_transform(generate_series(1, len(toks) - 2),
         |                   i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS shd
         |  FROM t WHERE len(toks) >= 3),
         |shx AS (SELECT source,
         |  list_transform(shd, x -> CAST(('0x' || substr(md5(x), 1, 8)) AS UBIGINT)::BIGINT) AS hx
         |FROM sh2s),
         |mh AS (SELECT source,
         |  $mhCols
         |FROM shx),
         |msrc AS (SELECT source, $mins FROM mh GROUP BY source)
         |SELECT a.source AS src_a, b.source AS src_b,
         |  ($agree) / $NumHashes AS sim_est
         |FROM msrc a JOIN msrc b ON a.source < b.source""".stripMargin
    },
    "dedup_simhash" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |n AS (SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 8)) AS UBIGINT)::BIGINT AS num FROM tok),
        |bits AS (
        |  SELECT doc_id, b, sum(2 * ((num >> b) & 1) - 1) AS sgn
        |  FROM n, generate_series(0, 31) AS t(b) GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(sum(CASE WHEN sgn > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
        |FROM bits GROUP BY doc_id""".stripMargin,
    "mm_binary_features" ->
      """SELECT doc_id AS id, CAST(length(text) AS BIGINT) AS n_bytes,
        |  md5(text) AS content_md5,
        |  CAST(ord(substr(text,1,1)) + ord(substr(text,2,1)) + ord(substr(text,3,1)) +
        |       ord(substr(text,4,1)) + ord(substr(text,5,1)) + ord(substr(text,6,1)) +
        |       ord(substr(text,7,1)) + ord(substr(text,8,1)) AS BIGINT) AS head_sum
        |FROM documents""".stripMargin,
    // means reproduced from ord() arithmetic (byte ≡ ord on this ASCII
    // corpus): r at chars 1,4,7,10; g at 2,5,8,11; b at 3,6,9,12
    "mm_ppm_features" ->
      """SELECT doc_id AS id, CAST(2 AS INT) AS width, CAST(2 AS INT) AS height,
        |  round((ord(substr(text,1,1)) + ord(substr(text,4,1))
        |         + ord(substr(text,7,1)) + ord(substr(text,10,1))) / 4.0, 6) AS mean_r,
        |  round((ord(substr(text,2,1)) + ord(substr(text,5,1))
        |         + ord(substr(text,8,1)) + ord(substr(text,11,1))) / 4.0, 6) AS mean_g,
        |  round((ord(substr(text,3,1)) + ord(substr(text,6,1))
        |         + ord(substr(text,9,1)) + ord(substr(text,12,1))) / 4.0, 6) AS mean_b
        |FROM documents WHERE length(text) >= 12""".stripMargin,
    // 2×2 → 3×3 nearest-neighbor weights from floor(dst·src/target):
    // rows/cols map [0,0,1], so src pixel (0,0) appears 4×, (0,1) and
    // (1,0) 2×, (1,1) 1× among the 9 output pixels
    "mm_ppm_resize" ->
      """SELECT doc_id AS id, CAST(3 AS INT) AS width, CAST(3 AS INT) AS height,
        |  round((4 * ord(substr(text,1,1)) + 2 * ord(substr(text,4,1))
        |         + 2 * ord(substr(text,7,1)) + ord(substr(text,10,1))) / 9.0, 6) AS mean_r,
        |  round((4 * ord(substr(text,2,1)) + 2 * ord(substr(text,5,1))
        |         + 2 * ord(substr(text,8,1)) + ord(substr(text,11,1))) / 9.0, 6) AS mean_g,
        |  round((4 * ord(substr(text,3,1)) + 2 * ord(substr(text,6,1))
        |         + 2 * ord(substr(text,9,1)) + ord(substr(text,12,1))) / 9.0, 6) AS mean_b
        |FROM documents WHERE length(text) >= 12""".stripMargin,
    // frame f of the 2-frame container covers text chars 12f+1 .. 12f+12
    "mm_video_frames" ->
      """SELECT doc_id AS id, CAST(f AS INT) AS frame_idx,
        |  CAST(2 AS INT) AS width, CAST(2 AS INT) AS height,
        |  round((ord(substr(text, 1 + 12*f, 1)) + ord(substr(text, 4 + 12*f, 1))
        |       + ord(substr(text, 7 + 12*f, 1)) + ord(substr(text, 10 + 12*f, 1))) / 4.0, 6) AS mean_r,
        |  round((ord(substr(text, 2 + 12*f, 1)) + ord(substr(text, 5 + 12*f, 1))
        |       + ord(substr(text, 8 + 12*f, 1)) + ord(substr(text, 11 + 12*f, 1))) / 4.0, 6) AS mean_g,
        |  round((ord(substr(text, 3 + 12*f, 1)) + ord(substr(text, 6 + 12*f, 1))
        |       + ord(substr(text, 9 + 12*f, 1)) + ord(substr(text, 12 + 12*f, 1))) / 4.0, 6) AS mean_b
        |FROM documents, generate_series(0, 1) AS t(f)
        |WHERE length(text) >= 24""".stripMargin,
    // PCM16 synthesis rule: sample_i = (ord(char_i) − 96)·512; features
    // recomputed from ord arithmetic so the engine's full RIFF
    // encode→decode→features chain is hash-checked
    "mm_wav_features" ->
      """WITH x AS (SELECT doc_id,
        |    unnest(list_transform(generate_series(1, 8),
        |      i -> (ord(substr(text, i, 1)) - 96) * 512)) AS v
        |  FROM documents WHERE length(text) >= 8
        |    AND regexp_matches(substr(text, 1, 8), '^[ -~]*$'))
        |SELECT doc_id AS id, CAST(8000 AS INT) AS sample_rate,
        |  CAST(1 AS INT) AS channels, CAST(count(*) AS BIGINT) AS n_samples,
        |  round(sqrt(sum(CAST(v AS DOUBLE) * v) / count(*)), 6) AS rms,
        |  CAST(max(abs(v)) AS INT) AS peak,
        |  round(sum(CAST(v AS DOUBLE)) / count(*), 6) + 0.0 AS mean
        |FROM x GROUP BY doc_id""".stripMargin,
    // 8000 → 4000 Hz nearest-neighbor decimation keeps source frames
    // floor(i·8000/4000) = 0,2,4,6 — text positions 1,3,5,7
    "mm_wav_resample" ->
      """WITH x AS (SELECT doc_id,
        |    unnest(list_transform([1, 3, 5, 7],
        |      i -> (ord(substr(text, i, 1)) - 96) * 512)) AS v
        |  FROM documents WHERE length(text) >= 8
        |    AND regexp_matches(substr(text, 1, 8), '^[ -~]*$'))
        |SELECT doc_id AS id, CAST(4000 AS INT) AS sample_rate,
        |  CAST(1 AS INT) AS channels, CAST(count(*) AS BIGINT) AS n_samples,
        |  round(sqrt(sum(CAST(v AS DOUBLE) * v) / count(*)), 6) AS rms,
        |  CAST(max(abs(v)) AS INT) AS peak,
        |  round(sum(CAST(v AS DOUBLE)) / count(*), 6) + 0.0 AS mean
        |FROM x GROUP BY doc_id""".stripMargin,
    "mm_frame_sample" ->
      """SELECT doc_id AS id, CAST(i AS INT) AS frame_idx,
        |  md5(substr(text, 1 + i * ((length(text) - 16) // 3), 16)) AS frame_md5
        |FROM documents, generate_series(0, 3) AS t(i)
        |WHERE length(text) >= 16""".stripMargin,
    "dedup_simhash_pairs" ->
      s"""WITH ${sqlSimhashCtes(SqlSimhashBitsAdaptive)}
        |SELECT doc_a, doc_b, hamming FROM cand
        |WHERE hamming <= 6""".stripMargin,
    // forced 20-bit blocks: the wide geometry exact-checked at gate scale
    "dedup_simhash_wide" ->
      s"""WITH ${sqlSimhashCtes("SELECT 20 AS bb")}
        |SELECT doc_a, doc_b, hamming FROM cand
        |WHERE hamming <= 6""".stripMargin,
    "simhash_distance_histogram" ->
      s"""WITH ${sqlSimhashCtes(SqlSimhashBitsAdaptive)}
        |SELECT hamming, CAST(count(*) AS BIGINT) AS n_pairs
        |FROM cand GROUP BY hamming""".stripMargin,
    "dedup_drop_list" ->
      s"""WITH $SqlLshCtes,
         |pairs AS (SELECT doc_a, doc_b FROM verified WHERE jac >= 0.4),
         |q AS (SELECT doc_id,
         |        $SqlQuality AS qs
         |      FROM (SELECT doc_id, $SqlToks AS tk FROM documents))
         |SELECT DISTINCT
         |  CASE WHEN qa.qs > qb.qs THEN doc_b
         |       WHEN qb.qs > qa.qs THEN doc_a
         |       ELSE doc_b END AS doc_id
         |FROM pairs JOIN q qa ON qa.doc_id = doc_a JOIN q qb ON qb.doc_id = doc_b""".stripMargin,
    "text_pii_mask" ->
      """WITH r AS (
        |  SELECT doc_id,
        |         substr(text, 1, 20) || ' contact doc' || CAST(doc_id AS VARCHAR)
        |           || '@example.com tel 5550199' AS raw
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  regexp_replace(
        |    regexp_replace(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{4,}', '<NUM>', 'g') AS masked
        |FROM r""".stripMargin,
    "sample_stratified" ->
      """SELECT doc_id, lang, bucket FROM (
        |  SELECT doc_id, lang,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)::BIGINT % 100 AS bucket
        |  FROM documents)
        |WHERE bucket < CASE WHEN lang = 'en' THEN 10 ELSE 30 END""".stripMargin,
    "sample_token_budget" ->
      """WITH d AS (SELECT doc_id, lang,
        |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |                  md5(CAST(doc_id AS VARCHAR)) AS ord
        |           FROM documents),
        |c AS (SELECT doc_id, lang, n_tokens,
        |        CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY ord)
        |             - n_tokens AS BIGINT) AS cum_before
        |      FROM d)
        |SELECT doc_id, lang, n_tokens, cum_before FROM c
        |WHERE cum_before < CASE WHEN lang = 'en' THEN 2000 ELSE 1000 END""".stripMargin,
    // identical output to sample_token_budget — the chunked prefix sum is
    // a physical re-arrangement, not a semantic variant
    "sample_token_budget_skewsafe" ->
      """WITH d AS (SELECT doc_id, lang,
        |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |                  md5(CAST(doc_id AS VARCHAR)) AS ord
        |           FROM documents),
        |c AS (SELECT doc_id, lang, n_tokens,
        |        CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY ord)
        |             - n_tokens AS BIGINT) AS cum_before
        |      FROM d)
        |SELECT doc_id, lang, n_tokens, cum_before FROM c
        |WHERE cum_before < CASE WHEN lang = 'en' THEN 2000 ELSE 1000 END""".stripMargin,
    "bm25_search" ->
      s"""WITH dd AS (SELECT doc_id, string_split(text, ' ') AS tk,
        |                   CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
        |            FROM documents),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dd),
        |tf AS (SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf
        |       FROM (SELECT doc_id, dl, unnest(tk) AS term FROM dd)
        |       WHERE term IN ('table', 'query', 'spark')
        |       GROUP BY doc_id, dl, term),
        |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
        |sc AS (SELECT tf.doc_id,
        |         ${ExactStats.sqlSumExact6(
                    "ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1) * tf.tf * 2.2" +
                    " / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / st.avgdl))")} AS score
        |       FROM tf, df, st WHERE tf.term = df.term GROUP BY tf.doc_id)
        |SELECT doc_id, score FROM sc ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    "tfidf_top_terms" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tfs AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM t GROUP BY 1, 2),
        |dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tfs GROUP BY 1),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
        |sc AS (SELECT tfs.doc_id, tfs.term, tfs.tf, dfs.df,
        |              round(tfs.tf * ln(nn.n / dfs.df), 6) AS tfidf
        |       FROM tfs, dfs, nn WHERE tfs.term = dfs.term)
        |SELECT doc_id, term, tf, df, tfidf, CAST(rnk AS BIGINT) AS rnk FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |                               ORDER BY tfidf DESC, term) AS rnk FROM sc)
        |WHERE rnk <= 3""".stripMargin,
    "pack_sequences" ->
      """WITH d AS (SELECT doc_id, source,
        |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |           FROM documents),
        |c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id)
        |                  - n_tokens AS start_tok FROM d)
        |SELECT doc_id, source, n_tokens,
        |       CAST(start_tok // 2048 AS BIGINT) AS bin_id,
        |       CAST(start_tok % 2048 AS BIGINT) AS bin_offset
        |FROM c""".stripMargin,
    // identical output to pack_sequences — the chunked prefix sum is a
    // physical re-arrangement, not a semantic variant
    "pack_sequences_skewsafe" ->
      """WITH d AS (SELECT doc_id, source,
        |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |           FROM documents),
        |c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id)
        |                  - n_tokens AS start_tok FROM d)
        |SELECT doc_id, source, n_tokens,
        |       CAST(start_tok // 2048 AS BIGINT) AS bin_id,
        |       CAST(start_tok % 2048 AS BIGINT) AS bin_offset
        |FROM c""".stripMargin,
    "pack_boundary_stats" ->
      """WITH d AS (SELECT doc_id, source,
        |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |           FROM documents),
        |c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id)
        |                  - n_tokens AS start_tok FROM d)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  CAST(ceil(sum(n_tokens) / 2048.0) AS BIGINT) AS n_bins,
        |  CAST(sum(CASE WHEN start_tok % 2048 + n_tokens > 2048 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS spanning_docs,
        |  round(CAST(sum(CASE WHEN start_tok % 2048 + n_tokens > 2048 THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*), 6) AS spanning_fraction
        |FROM c GROUP BY source""".stripMargin,
    "dedup_cluster_sizes" ->
      s"""WITH RECURSIVE $SqlLshCtes,
         |pairs AS (SELECT doc_a, doc_b FROM verified WHERE jac >= 0.4),
         |edges AS (SELECT doc_a, doc_b FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(src, node) AS (
         |  SELECT DISTINCT doc_a, doc_a FROM edges
         |  UNION
         |  SELECT r.src, e.doc_b FROM reach r JOIN edges e ON r.node = e.doc_a),
         |lbl AS (SELECT node AS doc_id, min(src) AS cluster_id FROM reach GROUP BY node),
         |cs AS (SELECT cluster_id, count(*) AS sz FROM lbl GROUP BY cluster_id)
         |SELECT sz AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
         |FROM cs GROUP BY sz""".stripMargin,
    "text_repetition_filters" ->
      """WITH b AS (
        |  SELECT doc_id, text, string_split(text, chr(10)) AS ln,
        |         string_split(text, ' ') AS tk
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, text, ln, tk,
        |    list_distinct(ln) AS dl,
        |    CASE WHEN len(tk) < 2 THEN [] ELSE
        |      list_transform(generate_series(1, len(tk) - 1),
        |        i -> tk[i] || ' ' || tk[i + 1]) END AS g2,
        |    CASE WHEN len(tk) < 3 THEN [] ELSE
        |      list_transform(generate_series(1, len(tk) - 2),
        |        i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2]) END AS g3
        |  FROM b),
        |f AS (
        |  SELECT doc_id, text, ln, tk, dl, g2, g3,
        |    list_max(list_transform(list_distinct(g2),
        |      g -> len(list_filter(g2, x -> x = g)))) AS c2,
        |    list_max(list_transform(list_distinct(g3),
        |      g -> len(list_filter(g3, x -> x = g)))) AS c3
        |  FROM m)
        |SELECT doc_id,
        |  round(CAST(len(ln) - len(dl) AS DOUBLE) / len(ln), 6) AS dup_line_frac,
        |  round(CAST(list_sum(list_transform(dl,
        |      l -> (len(list_filter(ln, x -> x = l)) - 1) * length(l))) AS DOUBLE)
        |    / length(text), 6) AS dup_line_char_frac,
        |  CASE WHEN c2 IS NULL OR c2 <= 1 THEN 0.0 ELSE
        |    round(CAST(c2 AS DOUBLE) * length(
        |      list_sort(list_filter(list_distinct(g2),
        |        g -> len(list_filter(g2, x -> x = g)) = c2))[1]) / length(text), 6)
        |  END AS top2gram_char_frac,
        |  CASE WHEN c3 IS NULL OR c3 <= 1 THEN 0.0 ELSE
        |    round(CAST(c3 AS DOUBLE) * length(
        |      list_sort(list_filter(list_distinct(g3),
        |        g -> len(list_filter(g3, x -> x = g)) = c3))[1]) / length(text), 6)
        |  END AS top3gram_char_frac,
        |  round(CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
        |    / len(tk), 6) AS symbol_word_ratio,
        |  round(CAST(list_sum(list_transform(tk, w -> length(w))) AS DOUBLE)
        |    / len(tk), 6) AS mean_word_len,
        |  round(CAST(len(list_filter(tk, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
        |    / len(tk), 6) AS alpha_word_frac,
        |  (round(CAST(len(ln) - len(dl) AS DOUBLE) / len(ln), 6) <= 0.30 AND
        |   round(CAST(list_sum(list_transform(dl,
        |       l -> (len(list_filter(ln, x -> x = l)) - 1) * length(l))) AS DOUBLE)
        |     / length(text), 6) <= 0.20 AND
        |   CASE WHEN c2 IS NULL OR c2 <= 1 THEN 0.0 ELSE
        |     round(CAST(c2 AS DOUBLE) * length(
        |       list_sort(list_filter(list_distinct(g2),
        |         g -> len(list_filter(g2, x -> x = g)) = c2))[1]) / length(text), 6)
        |   END <= 0.20 AND
        |   CASE WHEN c3 IS NULL OR c3 <= 1 THEN 0.0 ELSE
        |     round(CAST(c3 AS DOUBLE) * length(
        |       list_sort(list_filter(list_distinct(g3),
        |         g -> len(list_filter(g3, x -> x = g)) = c3))[1]) / length(text), 6)
        |   END <= 0.18 AND
        |   round(CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
        |     / len(tk), 6) <= 0.10 AND
        |   round(CAST(list_sum(list_transform(tk, w -> length(w))) AS DOUBLE)
        |     / len(tk), 6) BETWEEN 3.0 AND 10.0 AND
        |   round(CAST(len(list_filter(tk, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
        |     / len(tk), 6) >= 0.80) AS keep
        |FROM f""".stripMargin,
    // Same arithmetic as RollingHash/WindowPolyHash: byte-level base-257
    // token hashes folded at token level with base 1000003, both mod
    // 2^61−1 (HUGEINT keeps products exact; ord≡byte on this ASCII
    // corpus, the text_rolling_fingerprint precedent).
    "dedup_substring_spans" ->
      s"""WITH $SqlSpanCtes
         |SELECT doc_id, tok_start, tok_end, char_start, char_end, span_fp,
         |       n_grams
         |FROM spd""".stripMargin,
    // drop every non-canonical duplicated span (canonical = min doc_id
    // per span fingerprint), with overlapping token ranges merged per doc
    "dedup_substring_drop" ->
      s"""WITH $SqlSpanCtes,
         |canon AS (SELECT span_fp, min(doc_id) AS cd FROM spd GROUP BY span_fp),
         |drp AS (SELECT doc_id, tok_start, tok_end
         |        FROM spd JOIN canon USING (span_fp) WHERE doc_id <> cd),
         |mrk AS (SELECT doc_id, tok_start, tok_end,
         |          max(tok_end) OVER (PARTITION BY doc_id ORDER BY tok_start
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
         |        FROM drp),
         |grp AS (SELECT doc_id, tok_start, tok_end,
         |          sum(CASE WHEN pm IS NULL OR tok_start > pm THEN 1 ELSE 0 END)
         |            OVER (PARTITION BY doc_id ORDER BY tok_start
         |                  ROWS UNBOUNDED PRECEDING) AS g
         |        FROM mrk),
         |rngs AS (SELECT doc_id, min(tok_start) AS s, max(tok_end) AS e
         |         FROM grp GROUP BY doc_id, g),
         |rl AS (SELECT doc_id, list(struct_pack(s := s, e := e) ORDER BY s) AS rng,
         |              CAST(sum(e - s + 1) AS BIGINT) AS nd
         |       FROM rngs GROUP BY doc_id),
         |alltk AS (SELECT doc_id, string_split(text, ' ') AS tk, text FROM documents)
         |SELECT a.doc_id,
         |  CASE WHEN rl.doc_id IS NULL THEN a.text ELSE
         |    -- array_to_string of an empty list is NULL in DuckDB;
         |    -- concat_ws of an empty array is '' in Spark — align
         |    COALESCE(array_to_string(list_filter(
         |      list_transform(generate_series(1, len(a.tk)), i ->
         |        CASE WHEN len(list_filter(rl.rng,
         |               r -> i >= r.s AND i <= r.e)) = 0
         |             THEN a.tk[i] END),
         |      x -> x IS NOT NULL), ' '), '') END AS clean_text,
         |  COALESCE(rl.nd, CAST(0 AS BIGINT)) AS n_dropped_tokens
         |FROM alltk a LEFT JOIN rl ON rl.doc_id = a.doc_id""".stripMargin,
    "decontaminate_bloom_check" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(
        |        list_transform(generate_series(1, len(tk) - 7),
        |                       i -> array_to_string(list_slice(tk, i, i + 7), ' ')))) AS g8
        |      FROM tok WHERE len(tk) >= 8),
        |bench AS (SELECT DISTINCT g8 FROM g WHERE doc_id < 10),
        |bad AS (SELECT DISTINCT g.doc_id FROM g JOIN bench USING (g8) WHERE g.doc_id >= 10)
        |SELECT d.source,
        |  CAST(sum(CASE WHEN bad.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_contaminated,
        |  TRUE AS no_false_negatives,
        |  TRUE AS fp_bounded
        |FROM documents d LEFT JOIN bad ON d.doc_id = bad.doc_id
        |WHERE d.doc_id >= 10
        |GROUP BY d.source""".stripMargin,
    "decontaminate" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(
        |        list_transform(generate_series(1, len(tk) - 7),
        |                       i -> array_to_string(list_slice(tk, i, i + 7), ' ')))) AS g8
        |      FROM tok WHERE len(tk) >= 8),
        |bench AS (SELECT DISTINCT g8 FROM g WHERE doc_id < 10),
        |bad AS (SELECT DISTINCT g.doc_id FROM g JOIN bench USING (g8) WHERE g.doc_id >= 10)
        |SELECT doc_id, lang, source FROM documents
        |WHERE doc_id >= 10 AND doc_id NOT IN (SELECT doc_id FROM bad)""".stripMargin,
    "decontaminate_overlap" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(
        |        list_transform(generate_series(1, len(tk) - 7),
        |                       i -> array_to_string(list_slice(tk, i, i + 7), ' ')))) AS g8
        |      FROM tok WHERE len(tk) >= 8),
        |bench AS (SELECT DISTINCT g8 FROM g WHERE doc_id < 10),
        |per AS (SELECT g.doc_id,
        |          CAST(count(*) AS BIGINT) AS n_grams,
        |          CAST(sum(CASE WHEN b.g8 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |            AS n_contaminated
        |        FROM g LEFT JOIN bench b ON g.g8 = b.g8
        |        WHERE g.doc_id >= 10 GROUP BY g.doc_id)
        |SELECT doc_id, n_grams, n_contaminated,
        |  CAST(n_contaminated AS DOUBLE) / CAST(n_grams AS DOUBLE) AS overlap_frac,
        |  CAST(n_contaminated AS DOUBLE) / CAST(n_grams AS DOUBLE) >= 0.05 AS flag_drop
        |FROM per""".stripMargin,
    "source_mixture_weights" ->
      """WITH per AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS source_tokens
        |  FROM documents GROUP BY source),
        |tot AS (SELECT CAST(sum(source_tokens) AS DOUBLE) AS total_tokens,
        |               CAST(count(*) AS DOUBLE) AS n_sources FROM per)
        |SELECT source, n_docs, source_tokens,
        |  CAST(source_tokens AS DOUBLE) / total_tokens AS token_share,
        |  least(5.0, (1.0 / n_sources) / (CAST(source_tokens AS DOUBLE) / total_tokens))
        |    AS weight
        |FROM per, tot""".stripMargin,
    "sample_upsample" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    [5, 11, 17, 23][(CAST(regexp_extract(source, 'src(\d+)', 1) AS INT) % 4) + 1] AS w10,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)::BIGINT % 10 AS bucket
        |  FROM documents),
        |c AS (SELECT doc_id, source,
        |        CAST(w10 // 10 + CASE WHEN bucket < w10 % 10 THEN 1 ELSE 0 END AS BIGINT) AS n_copies
        |      FROM d)
        |SELECT doc_id, source, n_copies, CAST(unnest(generate_series(1, n_copies)) AS BIGINT) AS epoch
        |FROM c WHERE n_copies >= 1""".stripMargin,
    "shard_plan" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)::BIGINT % 8 AS shard,
        |    md5(CAST(doc_id AS VARCHAR)) AS ord
        |  FROM documents)
        |SELECT doc_id, shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY ord) AS BIGINT) AS pos_in_shard,
        |  CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY ord) - n_tokens AS BIGINT) AS tok_offset,
        |  n_tokens
        |FROM d""".stripMargin,
    // same RollingHash→WindowPolyHash arithmetic as the span CTEs, at
    // k=3; window min with rightmost tie via position-in-reversed-slice
    "text_winnow_fingerprint" ->
      s"""$SqlWinnowCte
         |SELECT DISTINCT doc_id, u.pos AS pos, u.fp AS fp FROM sel""".stripMargin,
    "winnow_matches" ->
      s"""$SqlWinnowCte,
         |fps AS (SELECT DISTINCT doc_id, u.fp AS fp FROM sel)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(count(*) AS BIGINT) AS shared_fps
         |FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 5""".stripMargin,
    // gram codes = big-endian packed bytes (ord ≡ byte on this ASCII
    // corpus — the text_rolling_fingerprint precedent)
    "text_lm_score" ->
      s"""WITH $SqlLmCtes
         |SELECT doc_id, n_grams, ${sqlRx("-slog / n_grams")} + 0.0 AS nll,
         |       (${sqlRx("-slog / n_grams")} <= 5.36) AS keep
         |FROM sc""".stripMargin,
    // sampled-cutoff form: the md5 draw, sample percentiles and banding
    // comparisons are deterministic and engine-shared
    "lm_quality_buckets" ->
      s"""WITH $SqlLmCtes,
         |sc2 AS (SELECT doc_id, ${sqlRx("-slog / n_grams")} + 0.0 AS nll FROM sc),
         |j AS (SELECT s.doc_id, d2.lang, s.nll
         |      FROM sc2 s JOIN documents d2 USING (doc_id)),
         |smp AS (SELECT lang, nll FROM j
         |        WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
         |                   AS UBIGINT)::BIGINT % 100 < 20),
         |cut AS (SELECT lang,
         |        ${sqlRx("quantile_cont(nll, 1.0/3)")} + 0.0 AS c33,
         |        ${sqlRx("quantile_cont(nll, 2.0/3)")} + 0.0 AS c67
         |      FROM smp GROUP BY 1)
         |SELECT j.doc_id, j.lang, j.nll,
         |  CASE WHEN j.nll <= cut.c33 THEN 'head'
         |       WHEN j.nll <= cut.c67 THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM j LEFT JOIN cut USING (lang)""".stripMargin,
    "lm_quality_buckets_exact" ->
      s"""WITH $SqlLmCtes,
         |sc2 AS (SELECT doc_id, ${sqlRx("-slog / n_grams")} + 0.0 AS nll FROM sc),
         |j AS (SELECT s.doc_id, d2.lang, s.nll,
         |        ntile(3) OVER (PARTITION BY d2.lang
         |                       ORDER BY s.nll, s.doc_id) AS b3
         |      FROM sc2 s JOIN documents d2 USING (doc_id))
         |SELECT doc_id, lang, nll,
         |  CASE b3 WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
         |FROM j""".stripMargin,
    "sample_temperature" ->
      """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
        |           FROM documents GROUP BY source),
        |s AS (SELECT sum(pow(n_docs, 0.7)) AS s07,
        |             sum(pow(n_docs, 0.3)) AS s03 FROM c)
        |SELECT source, n_docs,
        |       round(pow(n_docs, 0.7) / s07, 6) AS w_tau07,
        |       round(pow(n_docs, 0.3) / s03, 6) AS w_tau03
        |FROM c, s""".stripMargin,
    "source_zipf_fit" ->
      s"""WITH wc AS (
         |  SELECT source, w, CAST(count(*) AS BIGINT) AS cnt
         |  FROM (SELECT source, unnest($SqlToks) AS w FROM documents)
         |  GROUP BY source, w),
         |r AS (SELECT source, w, cnt,
         |        row_number() OVER (PARTITION BY source
         |                           ORDER BY cnt DESC, w) AS rnk
         |      FROM wc),
         |t AS (SELECT source, ln(CAST(rnk AS DOUBLE)) AS lx,
         |             ln(CAST(cnt AS DOUBLE)) AS ly
         |      FROM r WHERE rnk <= 100)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_top,
         |       round(regr_slope(ly, lx), 6) + 0.0 AS zipf_slope,
         |       round(regr_intercept(ly, lx), 6) + 0.0 AS zipf_intercept
         |FROM t GROUP BY source""".stripMargin,
    "lexical_diversity" ->
      s"""WITH d AS (SELECT source, $SqlToks AS tk FROM documents)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(len(tk)) AS BIGINT) AS total_tokens,
         |       ${ExactStats.sqlMeanExact6("CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk)")}
         |         AS avg_ttr
         |FROM d GROUP BY source""".stripMargin,
    "ngram_heavy_hitters_sketch" ->
      """WITH t AS (SELECT string_split(text, ' ') AS tk FROM documents),
        |g AS (SELECT unnest(list_transform(generate_series(1, len(tk) - 1),
        |        i -> array_to_string(list_slice(tk, i, i + 1), ' '))) AS g2
        |      FROM t WHERE len(tk) >= 2),
        |c AS (SELECT g2, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY g2)
        |SELECT g2, n, TRUE AS within_bound FROM c
        |ORDER BY n DESC, g2 LIMIT 20""".stripMargin,
    "ngram_counts" ->
      """WITH t AS (SELECT string_split(text, ' ') AS tk FROM documents),
        |g AS (
        |  SELECT 1 AS n, unnest(tk) AS gram FROM t
        |  UNION ALL
        |  SELECT 2 AS n, unnest(list_transform(generate_series(1, len(tk) - 1),
        |    i -> array_to_string(list_slice(tk, i, i + 1), ' '))) AS gram
        |  FROM t WHERE len(tk) >= 2
        |  UNION ALL
        |  SELECT 3 AS n, unnest(list_transform(generate_series(1, len(tk) - 2),
        |    i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS gram
        |  FROM t WHERE len(tk) >= 3)
        |SELECT n, gram, CAST(count(*) AS BIGINT) AS cnt
        |FROM g GROUP BY n, gram HAVING count(*) >= 50""".stripMargin,
    "text_quality_classifier" -> {
      val stop = s"round(CAST($SqlStop AS DOUBLE) / len(tk), 6)"
      val mwl  = "round(CAST(list_sum(list_transform(tk, w -> length(w))) AS DOUBLE) / len(tk), 6)"
      val alpha =
        "round(CAST(len(list_filter(tk, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE) / len(tk), 6)"
      val sym =
        """round(CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE) / len(tk), 6)"""
      val z =
        s"-1.5 + 3.0 * $stop + 1.5 * $alpha + 0.4 * least(CAST(len(tk) AS DOUBLE) / 100.0, 1.0) - 2.5 * $sym - 0.1 * $mwl"
      s"""SELECT doc_id, round(1.0 / (1.0 + exp(-($z))), 6) AS clf_score,
         |  (round(1.0 / (1.0 + exp(-($z))), 6) >= 0.5) AS keep
         |FROM (SELECT doc_id, text, $SqlToks AS tk FROM documents)""".stripMargin
    },
    "bpe_pair_counts" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
        |wf AS (SELECT word, CAST(count(*) AS BIGINT) AS freq
        |       FROM w WHERE len(word) > 0 GROUP BY 1),
        |s AS (SELECT list_append(
        |        list_transform(generate_series(1, length(word)), i -> word[i]),
        |        '</w>') AS syms, freq
        |      FROM wf),
        |p AS (SELECT unnest(list_transform(generate_series(1, len(syms) - 1),
        |               i -> syms[i])) AS lhs,
        |             unnest(list_transform(generate_series(1, len(syms) - 1),
        |               i -> syms[i + 1])) AS rhs,
        |             freq
        |      FROM s WHERE len(syms) >= 2)
        |SELECT lhs, rhs, CAST(sum(freq) AS BIGINT) AS cnt
        |FROM p GROUP BY 1, 2 ORDER BY cnt DESC, lhs, rhs LIMIT 20""".stripMargin,
    "bpe_learn_merges" ->
      s"""WITH $SqlBpeChain
         |SELECT * FROM (
         |  ${(1 to BpeMerges).map(i =>
               s"SELECT CAST(${i - 1} AS INT) AS rank, lhs, rhs, cnt FROM m$i")
              .mkString("\n  UNION ALL ")}
         |) ORDER BY rank""".stripMargin,
    "bpe_encode_stats" ->
      s"""WITH $SqlBpeChain,
         |ws AS (SELECT word,
         |         CAST(len(string_split(substr(sy, 2, length(sy) - 2),
         |                               chr(1) || chr(1))) AS BIGINT) AS n_syms
         |       FROM s$BpeMerges),
         |dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
         |dk AS (SELECT doc_id, word FROM dw WHERE len(word) > 0)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(n_syms) AS BIGINT) AS n_bpe_tokens,
         |  round(CAST(sum(n_syms) AS DOUBLE) / count(*), 6) AS fertility
         |FROM dk JOIN ws USING (word) GROUP BY doc_id""".stripMargin,
    "dedup_savings_report" ->
      s"""WITH $SqlLshCtes,
         |pairs AS (SELECT doc_a, doc_b FROM verified WHERE jac >= 0.4),
         |q AS (SELECT doc_id,
         |        $SqlQuality AS qs
         |      FROM (SELECT doc_id, $SqlToks AS tk FROM documents)),
         |dr AS (SELECT DISTINCT
         |         CASE WHEN qa.qs > qb.qs THEN doc_b
         |              WHEN qb.qs > qa.qs THEN doc_a
         |              ELSE doc_b END AS doc_id
         |       FROM pairs JOIN q qa ON qa.doc_id = doc_a
         |                  JOIN q qb ON qb.doc_id = doc_b)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN dr.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dropped,
         |  CAST(sum(n_chars) AS BIGINT) AS chars_total,
         |  CAST(sum(CASE WHEN dr.doc_id IS NOT NULL THEN n_chars ELSE 0 END) AS BIGINT)
         |    AS chars_dropped,
         |  round(CAST(sum(CASE WHEN dr.doc_id IS NOT NULL THEN n_chars ELSE 0 END)
         |             AS DOUBLE) / sum(n_chars), 6) AS savings_ratio
         |FROM documents d LEFT JOIN dr ON d.doc_id = dr.doc_id
         |GROUP BY source""".stripMargin,
    "text_backoff_lm" ->
      s"""WITH t AS (SELECT doc_id, $SqlToks AS tk,
         |             CAST(substr(source, 4) AS INT) AS sn FROM documents),
         |tr AS (SELECT tk FROM t WHERE sn % 2 = 0),
         |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS cu
         |        FROM (SELECT unnest(tk) AS w FROM tr) GROUP BY w),
         |tot AS (SELECT CAST(sum(cu) AS DOUBLE) AS n_total,
         |               CAST(count(*) AS DOUBLE) AS v FROM uni),
         |bi AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb FROM (
         |         SELECT unnest(list_slice(tk, 1, len(tk) - 1)) AS w1,
         |                unnest(list_slice(tk, 2, len(tk))) AS w2
         |         FROM tr WHERE len(tk) >= 2) GROUP BY w1, w2),
         |te AS (SELECT doc_id,
         |         unnest(list_slice(tk, 1, len(tk) - 1)) AS w1,
         |         unnest(list_slice(tk, 2, len(tk))) AS w2
         |       FROM t WHERE sn % 2 = 1 AND len(tk) >= 2),
         |sc AS (SELECT doc_id,
         |         CASE WHEN cb IS NOT NULL
         |              THEN round(ln(CAST(cb AS DOUBLE) / cu1), 6)
         |              ELSE round(ln(0.4 * (coalesce(cu2, 0) + 1) / (n_total + v)), 6)
         |         END AS ls,
         |         CASE WHEN cb IS NULL THEN 1 ELSE 0 END AS bo
         |       FROM te
         |       LEFT JOIN bi USING (w1, w2)
         |       LEFT JOIN (SELECT w AS w1, cu AS cu1 FROM uni) USING (w1)
         |       LEFT JOIN (SELECT w AS w2, cu AS cu2 FROM uni) USING (w2), tot)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |  CAST(sum(bo) AS BIGINT) AS n_backoff,
         |  ${sqlRx("CAST(sum(CAST(ls AS DECIMAL(22,6))) AS DOUBLE) / count(*)")}
         |    + 0.0 AS avg_logscore
         |FROM sc GROUP BY doc_id""".stripMargin,
    "curriculum_order" ->
      s"""WITH t AS (SELECT doc_id, $SqlToks AS tk FROM documents),
         |q AS (SELECT doc_id,
         |        $SqlQuality AS qs
         |      FROM t),
         |st AS (SELECT doc_id, CAST(least(floor(qs * 5), 4) AS INT) AS stage,
         |         md5(concat(CAST(doc_id AS VARCHAR), '#curr')) AS ord
         |       FROM q),
         |pos AS (SELECT doc_id, stage,
         |          CAST(row_number() OVER (PARTITION BY stage ORDER BY ord, doc_id) AS BIGINT)
         |            AS pos_in_stage
         |        FROM st),
         |cnt AS (SELECT stage, CAST(count(*) AS BIGINT) AS n FROM st GROUP BY stage),
         |off AS (SELECT a.stage, CAST(coalesce(sum(b.n), 0) AS BIGINT) AS o
         |        FROM cnt a LEFT JOIN cnt b ON b.stage > a.stage GROUP BY a.stage)
         |SELECT doc_id, stage, pos_in_stage, pos_in_stage + o AS global_step
         |FROM pos JOIN off USING (stage)""".stripMargin,
    "source_overlap_sketch" ->
      s"""WITH t AS (SELECT source, $SqlToks AS tk FROM documents),
         |gr AS (SELECT DISTINCT source,
         |         unnest(list_transform(generate_series(1, len(tk) - 4),
         |           i -> array_to_string(list_slice(tk, i, i + 4), ' '))) AS g
         |       FROM t WHERE len(tk) >= 5),
         |n AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM gr GROUP BY source),
         |ov AS (SELECT x.source AS src_a, y.source AS src_b,
         |         CAST(count(*) AS BIGINT) AS exact_overlap
         |       FROM gr x JOIN gr y ON x.g = y.g AND x.source < y.source
         |       GROUP BY 1, 2),
         |p AS (SELECT a.source AS src_a, b.source AS src_b, a.n AS n_a, b.n AS n_b
         |      FROM n a JOIN n b ON a.source < b.source)
         |SELECT p.src_a, p.src_b, n_a, n_b,
         |  CAST(coalesce(exact_overlap, 0) AS BIGINT) AS exact_overlap,
         |  TRUE AS within_bound
         |FROM p LEFT JOIN ov ON p.src_a = ov.src_a AND p.src_b = ov.src_b""".stripMargin,
    "dsir_importance_weights" ->
      s"""WITH $DsirSqlCtes
         |SELECT doc_id, n_feats, logw FROM w""".stripMargin,
    "dsir_resample" ->
      s"""WITH $DsirSqlCtes
         |SELECT doc_id, logw,
         |  round(logw - ln(-ln(
         |    (CAST(CAST(('0x' || substr(md5(concat(CAST(doc_id AS VARCHAR), '#dsir')), 1, 8)) AS UBIGINT) AS DOUBLE) + 0.5)
         |    / 4294967296.0)), 6) + 0.0 AS g
         |FROM w
         |ORDER BY g DESC, doc_id LIMIT 50""".stripMargin
  )

  /** Generated BPE oracle chain: one CTE trio per merge round. Symbol
    * sequences are delimited strings `␁s1␁␁s2␁…` (chr(1) never occurs in
    * corpus words), so the training fuse — leftmost non-overlapping,
    * all occurrences — is exactly SQL `replace` of `␁l␁␁r␁` with
    * `␁lr␁`: replace scans left-to-right and resumes after each
    * insertion, and per-symbol delimiters mean matches can never share
    * characters. Ends in `s$BpeMerges(word, sy, freq)` plus `m1..mN`
    * one-row winner tables.
    */
  private lazy val SqlBpeChain: String = {
    val D  = "chr(1)"
    val sb = new StringBuilder
    sb ++= s"""wb AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
              |wf AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM wb
              |       WHERE len(word) > 0 GROUP BY 1),
              |s0 AS (SELECT word, $D || array_to_string(
              |         list_append(list_transform(generate_series(1, length(word)),
              |                                    i -> word[i]), '</w>'),
              |         $D || $D) || $D AS sy, freq FROM wf)""".stripMargin
    for (i <- 1 to BpeMerges) {
      val p = i - 1
      sb ++= s""",
                |pc$i AS (SELECT lhs, rhs, CAST(sum(freq) AS BIGINT) AS cnt FROM (
                |  SELECT freq,
                |    unnest(list_slice(sl, 1, len(sl) - 1)) AS lhs,
                |    unnest(list_slice(sl, 2, len(sl))) AS rhs
                |  FROM (SELECT freq, string_split(substr(sy, 2, length(sy) - 2),
                |                                  $D || $D) AS sl FROM s$p)
                |  WHERE len(sl) >= 2) GROUP BY 1, 2),
                |m$i AS (SELECT lhs, rhs, cnt FROM pc$i
                |        ORDER BY cnt DESC, lhs, rhs LIMIT 1),
                |s$i AS (SELECT word,
                |  replace(sy, (SELECT $D || lhs || $D || $D || rhs || $D FROM m$i),
                |              (SELECT $D || lhs || rhs || $D FROM m$i)) AS sy,
                |  freq FROM s$p)""".stripMargin
    }
    sb.toString
  }

  /** DSIR oracle CTE chain, ending in `w(doc_id, n_feats, logw)` — the
    * DuckDB twin of [[dsirWeights]]: same hashed unigram+bigram buckets
    * (md5 first 8 hex → mod 4096), same add-one smoothing, same
    * round-6 DECIMAL log-ratio fold so the per-doc sum is
    * order-independent in both engines.
    */
  private lazy val DsirSqlCtes: String =
    s"""t AS (SELECT doc_id, source, $SqlToks AS tk FROM documents),
       |g AS (SELECT doc_id, source,
       |        unnest(list_concat(tk,
       |          list_transform(generate_series(1, len(tk) - 1),
       |            i -> array_to_string(list_slice(tk, i, i + 1), ' ')))) AS g
       |      FROM t WHERE len(tk) >= 1),
       |pc AS (SELECT doc_id, source,
       |         CAST(CAST(('0x' || substr(md5(g), 1, 8)) AS UBIGINT) % $DsirBuckets AS BIGINT) AS b,
       |         CAST(count(*) AS BIGINT) AS c
       |       FROM g GROUP BY 1, 2, 3),
       |bk AS (SELECT b,
       |         sum(CASE WHEN source = '$DsirTarget' THEN c ELSE 0 END) AS tc,
       |         sum(CASE WHEN source <> '$DsirTarget' THEN c ELSE 0 END) AS rc
       |       FROM pc GROUP BY b),
       |st AS (SELECT CAST(sum(tc) AS DOUBLE) AS tt, CAST(sum(rc) AS DOUBLE) AS rt FROM bk),
       |lr AS (SELECT b, CAST(round(ln(CAST(tc + 1 AS DOUBLE) / (tt + $DsirBuckets))
       |                  - ln(CAST(rc + 1 AS DOUBLE) / (rt + $DsirBuckets)), 6) AS DECIMAL(22,6)) AS lr
       |       FROM bk, st),
       |w AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_feats,
       |        round(CAST(sum(lr * c) AS DOUBLE), 6) + 0.0 AS logw
       |      FROM pc JOIN lr USING (b) WHERE source <> '$DsirTarget' GROUP BY doc_id)""".stripMargin
}
