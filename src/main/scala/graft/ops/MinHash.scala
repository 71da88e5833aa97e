package graft.ops

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** MinHash signatures in the engine-portable md5-component regime
  * (SURVEY.md §2 I), in three interchangeable forms of one sketch:
  *  - `md5SignatureFromTextNative`: the fused native expression, the
  *    production form;
  *  - `md5Signature` / `md5Hashes` + `md5SignatureFromHashes`: the
  *    column-expression (higher-order function) form;
  *  - `Md5MinHashAgg`: a typed Aggregator — the UDAF extension surface
  *    (SURVEY §2 J), gated as q_minhash_agg.
  *
  * Scale: signatures are fixed size per document regardless of text
  * size. The 100 TB dedup path is `Text.lshScoredCandidates`: its banding
  * join shuffles (band_idx, band_key) pairs only, so candidate
  * generation is a hash join and verification touches only colliding
  * pairs.
  */
object MinHash {

  /** The MinHash sketch as a typed Aggregator over the md5-component
    * pattern: input = one concatenated group-hash string per shingle
    * (the [[md5Hashes]] stage), buffer/output = the k per-component
    * lexicographic minima. finish() is exactly
    * [[md5SignatureFromHashes]], so the sketch is DETERMINISTIC and
    * oracle-declarable (q_minhash_agg): the custom-Aggregator surface
    * itself — zero/reduce/merge through Spark's partial-aggregation
    * tree, map-side combine via functions.udaf — runs under the hash
    * gate.
    */
  class Md5MinHashAgg(k: Int) extends Aggregator[String, Seq[String], Seq[String]] {
    def zero: Seq[String] = Seq.fill(k)(null)
    def reduce(b: Seq[String], a: String): Seq[String] = {
      val out = b.toArray
      var i = 0
      while (i < k) {
        val w = a.substring(8 * i, 8 * i + 8)
        if (out(i) == null || w < out(i)) out(i) = w
        i += 1
      }
      out.toSeq
    }
    def merge(x: Seq[String], y: Seq[String]): Seq[String] =
      x.lazyZip(y).map { (a, b) =>
        if (a == null) b else if (b == null) a else if (a <= b) a else b
      }
    def finish(b: Seq[String]): Seq[String] = b
    def bufferEncoder: Encoder[Seq[String]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[String]]()
    def outputEncoder: Encoder[Seq[String]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[String]]()
  }

  /** Engine-PORTABLE MinHash signature: each md5 call yields FOUR 32-bit
    * components (8 hex chars each), so k components cost only ceil(k/4)
    * md5 calls per shingle — component i is the lexicographic MIN over
    * shingles of substr(md5("g:" ++ shingle), (i%4)*8+1, 8) with g = i/4.
    * md5, substr and lowercase-hex string ordering agree across every
    * engine (xxhash64 is Spark-specific), so this form is
    * oracle-declarable (q_dedup_minhash / q_dedup_lsh_candidates /
    * q_dedup_clusters). Estimator: P(component match) = Jaccard + n/2^32 truncation
    * bias (negligible). A previous form spent k md5 calls per shingle —
    * 4x the hashing and 4x the signature bytes through the banding
    * shuffle for no extra fidelity.
    *
    * PERF TRAP: this one-shot composition inlines the hash-array subtree
    * into ALL k components of a single projection (higher-order functions
    * are CodegenFallback, so no subexpression elimination rescues it) —
    * fine for bounded/test inputs; a corpus-scale caller stages the two
    * projections itself: .select(md5Hashes(...).as("hs"))
    * .select(md5SignatureFromHashes(col("hs"), k)). Production dedup
    * (Text.lshScoredCandidates, Text.dedupMinhashQuery) uses the fused
    * md5SignatureFromTextNative below instead.
    */
  def md5Signature(shingleArr: org.apache.spark.sql.Column, k: Int): org.apache.spark.sql.Column =
    md5SignatureFromHashes(md5Hashes(shingleArr, k), k)

  /** Fully fused text → w-shingle → signature (graft.functions.
    * Md5MinHashFromText): no token array, no shingle strings, no distinct.
    * NULL when the text has < w tokens — callers filter `isNotNull` where
    * the staged forms filtered `size(ss) > 0` (identical row set;
    * property-tested). THE production form for corpus-scale dedup.
    */
  def md5SignatureFromTextNative(text: org.apache.spark.sql.Column, w: Int, k: Int): org.apache.spark.sql.Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.Md5MinHashFromText(
        org.apache.spark.sql.graftbridge.Bridge.expression(text), w, k))

  /** Per-shingle concatenated md5 group hashes: 32·ceil(k/4) lowercase hex
    * chars per shingle. Stage this as its own projection, then feed
    * md5SignatureFromHashes.
    */
  def md5Hashes(shingleArr: org.apache.spark.sql.Column, k: Int): org.apache.spark.sql.Column = {
    val groups = (k + 3) / 4
    transform(shingleArr, s =>
      concat((0 until groups).map(g => md5(concat(lit(s"$g:"), s))): _*))
  }

  /** Signature from the staged hash array: component i = min over shingles
    * of hex window [i*8+1, i*8+8].
    */
  def md5SignatureFromHashes(hcat: org.apache.spark.sql.Column, k: Int): org.apache.spark.sql.Column =
    array((0 until k).map(i =>
      array_min(transform(hcat, h => substring(h, i * 8 + 1, 8)))): _*)

  /** Jaccard estimate from two signatures: fraction of agreeing slots. */
  def estimateCol(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    size(filter(zip_with(a, b, (x, y) => (x === y).cast("int")), v => v === 1)).cast("double") / size(a)
}
