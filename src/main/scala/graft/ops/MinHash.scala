package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** MinHash + banded LSH near-duplicate detection (SURVEY.md §2 I API-only
  * row; tolerance-tested against exact pairwise Jaccard, never declared to
  * the t2 oracle because it is approximate).
  *
  * Two interchangeable implementations of the sketch:
  *  - `signatureCol`: pure column expressions (codegen'd, preferred in
  *    pipelines);
  *  - `MinHashAgg`: a typed Aggregator[Long, Array[Long], Array[Long]] —
  *    the UDAF extension surface (SURVEY §2 J), exercised from
  *    groupByKey(...).agg(...).
  *
  * Scale: signatures are fixed k·8 bytes per document regardless of text
  * size; the banding join shuffles (band_idx, band_hash) pairs only —
  * candidate generation is a hash join, verification touches only
  * colliding pairs. This is THE dedup shape for 100 TB corpora.
  */
object MinHash {

  /** splitmix64 finalizer — the per-function family mixer. Deliberately
    * in-JVM (Long wraps; no ANSI overflow) and identical in the Aggregator
    * and test reference implementation.
    */
  def mix(x: Long, i: Int): Long = {
    var z = x + 0x9E3779B97F4A7C15L * (i + 1)
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Column-expression MinHash signature over a shingle array: element i is
    * min over shingles of xxhash64(shingle, i) — one independent hash per
    * slot via the seed column.
    */
  def signatureCol(shingleArr: org.apache.spark.sql.Column, k: Int): org.apache.spark.sql.Column =
    transform(sequence(lit(0), lit(k - 1)),
      i => array_min(transform(shingleArr, s => xxhash64(s, i))))

  /** Typed Aggregator form: input = pre-hashed shingle (Long), buffer =
    * per-slot minima. Demonstrates the Aggregator/UDAF surface; used via
    * groupByKey(doc).agg(new MinHashAgg(k).toColumn).
    */
  class MinHashAgg(k: Int) extends Aggregator[Long, Array[Long], Array[Long]] {
    def zero: Array[Long] = Array.fill(k)(Long.MaxValue)
    def reduce(b: Array[Long], a: Long): Array[Long] = {
      var i = 0
      while (i < k) { val h = mix(a, i); if (h < b(i)) b(i) = h; i += 1 }
      b
    }
    def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
      var i = 0
      while (i < k) { if (y(i) < x(i)) x(i) = y(i); i += 1 }
      x
    }
    def finish(b: Array[Long]): Array[Long] = b
    def bufferEncoder: Encoder[Array[Long]] = Encoders.javaSerialization[Array[Long]]
    def outputEncoder: Encoder[Array[Long]] = implicitly(org.apache.spark.sql.Encoders.kryo[Array[Long]])
  }

  /** The PORTABLE-regime twin of [[MinHashAgg]] (round 12, VERDICT r11
    * next #6): same Aggregator/UDAF surface, but over the md5-component
    * pattern — input = one concatenated group-hash string per shingle
    * (the [[md5Hashes]] stage), buffer/output = the k per-component
    * lexicographic minima. finish() is exactly
    * [[md5SignatureFromHashes]], so the sketch is DETERMINISTIC and
    * oracle-declarable (q_minhash_agg): the custom-Aggregator surface
    * itself — zero/reduce/merge through Spark's partial-aggregation
    * tree, map-side combine via functions.udaf — now runs under the
    * hash gate instead of only under ScalaTest. [[MinHashAgg]] above
    * stays the fast in-engine (xxhash64/splitmix) form: its mixer's
    * wrapping-Long arithmetic is deliberately JVM-native and has no
    * cross-engine twin.
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
    * q_dedup_clusters); `signatureCol` above is the faster in-engine
    * sketch. Estimator: P(component match) = Jaccard + n/2^32 truncation
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

  /** Candidate near-dup pairs via banded LSH: signature split into bands of
    * `rows` slots; docs sharing any band hash are candidates; estimate
    * re-ranks. Returns (id_a, id_b, est) with id_a < id_b.
    */
  def candidatePairs(df: DataFrame, idCol: String, textCol: String,
                     shingleWidth: Int = 3, k: Int = 16, rows: Int = 4): DataFrame = {
    val nBands = k / rows
    val withSig = df.select(col(idCol).as("id"),
        signatureCol(array_distinct(Text.shingles(col(textCol), shingleWidth)), k).as("sig"))
    val banded = withSig.select(col("id"), col("sig"),
        explode(transform(sequence(lit(0), lit(nBands - 1)),
          b => struct(b.as("band_idx"),
                      xxhash64(concat_ws(",",
                        transform(slice(col("sig"), b * rows + 1, lit(rows)), _.cast("string")))
                      ).as("band_hash")))).as("b"))
      .select(col("id"), col("sig"), col("b.band_idx"), col("b.band_hash"))
    banded.as("x").join(banded.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
        col("x.band_hash") === col("y.band_hash") &&
        col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
              estimateCol(col("x.sig"), col("y.sig")).as("est"))
      .dropDuplicates("id_a", "id_b")
  }
}
