package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column builders for text analysis / deduplication over a document corpus.
  *
  * Everything here is built from codegen'd builtin expressions (no UDFs) so
  * Catalyst can prune/push down and whole-stage codegen stays intact — the
  * hot path at 100 TB is a single pass over the `text` column.
  *
  * Where a deterministic hash shared with the DuckDB oracle is needed, md5
  * over UTF-8 is used (identical hex output in both engines); engine-internal
  * hashing that needs no oracle (e.g. exact-dup grouping at scale) can use
  * xxhash64 instead, which is cheaper.
  */
object TextFunctions {

  /** Whitespace tokens; single-space tokenization to stay oracle-parity with
    * DuckDB's `string_split(text, ' ')`.
    */
  def tokens(text: Column): Column = split(text, " ")

  /** Word n-gram shingles (strings joined by one space). Empty array when the
    * document has fewer than n tokens — mirrors generate_series semantics in
    * the oracle.
    *
    * IMPORTANT: pass a BOUND column (a `withColumn`-materialized token
    * array), not the raw `split(...)` expression — the lambda references
    * `toks` once per shingle, so an unbound expression re-tokenizes the
    * document O(tokens) times (measured 40× slowdown at sf0.1).
    */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(
        transform(
          sequence(lit(1), size(toks) - lit(n - 1)),
          i => concat_ws(" ", slice(toks, i, lit(n)))
        )
      )

  /** MinHash via one base hash + affine permutations `(a·h + b) mod p` —
    * one md5 per shingle total instead of one per (seed, shingle), the
    * standard trick; constants sized so products stay < 2^48 (no overflow
    * divergence between engines: Spark wraps, DuckDB errors).
    */
  val MinhashP: Long        = 4294967311L // prime > 2^32
  def minhashA(seed: Int): Long = 4097L + 513L * seed
  def minhashB(seed: Int): Long = 9973L * seed + 12345L

  /** Base 32-bit hash per shingle (bind the result to a column — the
    * permutations reference it 16×).
    */
  def shingleHashes(shingleSet: Column): Column =
    transform(shingleSet, x => conv(substring(md5(x), 1, 8), 16, 10).cast("long"))

  /** One MinHash signature value from the bound base-hash array. */
  def minhash(hashes: Column, seed: Int): Column =
    array_min(transform(hashes,
      h => (h * lit(minhashA(seed)) + lit(minhashB(seed))) % lit(MinhashP)))

  /** LSH band key over `rows` consecutive minhash signature columns. */
  def bandKey(sig: Seq[Column]): Column = md5(concat_ws("-", sig: _*))

  /** Jaccard similarity estimated from signature agreement — the standard
    * MinHash estimator (E[agreement] = J); lets candidate ranking happen
    * on the tiny signatures without touching shingle sets.
    */
  def jaccardEstimate(pairs: Seq[(Column, Column)]): Column =
    pairs
      .map { case (a, b) => when(a === b, 1.0).otherwise(0.0) }
      .reduce(_ + _) / pairs.size

  /** 32-bit numeric hash of a token derived from md5 — the shared-with-oracle
    * stand-in for a real murmur at engine scale.
    */
  def tokenHash32(tok: Column): Column =
    conv(substring(md5(tok), 1, 8), 16, 10).cast("long")

  /** Jaccard similarity of two pre-distinct string sets, rounded for oracle
    * hash-compare stability.
    */
  def jaccard(a: Column, b: Column, decimals: Int = 6): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    round(inter / (size(a) + size(b) - inter), decimals)
  }

  /** Canonical content fingerprint: md5 of lowercased, space-collapsed text
    * (reference idea: srcHash identity, `src/FlatbufferMessage.cpp:36-39`,
    * generalized to document identity for dedup).
    */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "\\s+", " ")))

  /** Unsigned-64 comparison via the sign-flip trick — the uint64 columns
    * (ev44 reference_time, tdct timestamps) live in signed longs with bit
    * patterns preserved (SURVEY §7.4 #5); ordering them as unsigned means
    * comparing `x XOR Long.MinValue`.
    */
  def unsignedLt(a: Column, b: Column): Column =
    a.bitwiseXOR(Long.MinValue) < b.bitwiseXOR(Long.MinValue)

  /** uint64 rendered as its unsigned decimal string (for display/export —
    * Java's own unsigned formatter under the hood via builtin conv).
    */
  def unsignedString(a: Column): Column = conv(hex(a), 16, 10)

  val Stopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "it")

  /** Fraction of tokens that are stopwords. */
  def stopwordRatio(toks: Column): Column =
    round(
      size(filter(toks, t => t.isin(Stopwords: _*))).cast("double") / size(toks),
      6
    )
}
