package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Det._
import graft.io.Sources
import org.apache.spark.sql.graftbridge.Materialize.reuse

/** Text-pipeline operators (SURVEY.md §2 I + north-star text analysis):
  * exact dedup, corpus statistics, TF-IDF, language ID, quality scoring,
  * token counting, document fingerprinting.
  *
  * Scale shape: everything is explode → partial-agg → shuffle-on-token/
  * hash, the canonical word-count family. No operator holds more than one
  * document (or one token group) in memory; nothing collects to the
  * driver. At 100 TB the only knob is shuffle partitioning, not the plan.
  */
object Text {

  /** Corpus tokenizer for the whole text/dedup/tokenizer family.
    *
    * Space-separated scripts split on spaces, unchanged. SPACE-FREE
    * scripts (VERDICT r9 "what's missing" #3: CJK/kana/hangul carry no
    * word boundaries — a pure space split silently turns every such
    * document into ONE token, poisoning dedup shingles, TF-IDF and token
    * counts) get a deterministic character-unigram fallback: each Han /
    * kana / hangul codepoint becomes its own token (the Lucene
    * StandardAnalyzer convention — engine-portable, no dictionary). The
    * fallback is a no-op on text without those codepoints — the regex
    * rewrite is the identity, and the split pattern is the same single
    * space as before — so every existing gated key's hashes are
    * untouched; q_tokenize_cjk gates the fallback itself over synthesized
    * CJK strings built from the same codepoint arithmetic in both engines.
    * Consumers filter the empty tokens the split can produce, as before.
    */
  def tokens(c: Column): Column =
    split(regexp_replace(c,
      "([\\x{4E00}-\\x{9FFF}\\x{3040}-\\x{30FF}\\x{AC00}-\\x{D7AF}])", " $1 "), " ")

  /** q_tokenize_cjk: the space-free-script fallback under the hash gate.
    * Synthesize a deterministic mixed ASCII+CJK string per document from
    * codepoint arithmetic on doc_id — an 8-character Han alphabet indexed
    * by (doc_id + shift) % 8, the syntheticMedia pattern: both engines
    * BUILD the same text, so no fixture change is needed — then run the
    * production `tokens` path over it. The ASCII word must survive whole
    * and the unspaced 3-character Han run must split into unigrams; the
    * oracle constructs the expected token list directly. Output: the
    * token census (13 rows: w0..w4 + 8 Han chars).
    */
  def tokenizeCjkQuery(spark: SparkSession, dir: String): DataFrame = {
    val alpha = Seq("一", "二", "三", "四",
                    "五", "六", "七", "八")
    val aCol = array(alpha.map(lit): _*)
    def pick(shift: Int) =
      element_at(aCol, (pmod(col("doc_id") + shift, lit(8)) + 1).cast("int"))
    val synth = Sources.documents(spark, dir).select(
      col("doc_id"),
      concat(concat(lit("w"), pmod(col("doc_id"), lit(5)).cast("string")), lit(" "),
             pick(0), pick(3), pick(5)).as("cjk_text"))
    synth.select(col("doc_id"), explode(tokens(col("cjk_text"))).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("token"))
  }

  // ---------- declared query keys ----------

  /** q_dedup_exact: keep min(doc_id) per md5(text); per-lang kept/dropped
    * counts. Hash-groupBy dedup — one shuffle on the 128-bit content hash.
    */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Sources.documents(spark, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           countDistinct(md5(col("text"))).as("n_kept"),
           (count(lit(1)) - countDistinct(md5(col("text")))).as("n_dropped"))
      .orderBy(col("lang"))

  /** The library dedup operator itself (used by tests + downstream): keeps
    * the min-id row per content hash. Window on the hash — deterministic
    * keep-rule, single shuffle.
    */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** q_text_stats: per-lang doc/char/token statistics — doc-level and
    * token-level aggregates joined on lang.
    */
  def textStats(spark: SparkSession, dir: String): DataFrame = {
    val d = Sources.documents(spark, dir)
    val dstats = d.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .withColumn("avg_chars", round(col("sum_chars").cast("double") / col("n_docs"), 6))
    val tstats = d.select(col("lang"), explode(tokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_tokens"), countDistinct(col("tok")).as("n_uniq_tokens"))
    dstats.join(tstats, Seq("lang")).orderBy(col("lang"))
  }

  /** q_entropy: per-language token SHANNON ENTROPY — the vocabulary-
    * diversity signal corpus quality audits use (template/boilerplate
    * text collapses entropy; healthy prose sits near the Zipf ceiling).
    * Exact integer counts per (lang, token) roll up to a tiny per-lang
    * frame; H = −Σ(c/n)·ln(c/n) sums doubles in engine order, but each
    * term is ≤ a few ulp off and the Σ drift (~1e−12 here) vanishes under
    * round-6 — the same ln-tolerance argument q_tfidf_topterms relies on.
    * One explode + two hash aggregates + a |langs|-row broadcast join;
    * nothing holds state beyond the (lang, token) grain.
    */
  def entropyQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.Det.r6
    val tf = Sources.documents(spark, dir)
      .select(col("lang"), explode(tokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("c"))
    val tot = tf.groupBy(col("lang"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("vocab"))
    tf.join(broadcast(tot), Seq("lang"))
      .groupBy(col("lang"), col("n_tokens"), col("vocab"))
      .agg(r6(-sum((col("c") / col("n_tokens")) * log(col("c") / col("n_tokens"))))
        .as("entropy"))
      .orderBy(col("lang"))
  }

  /** q_token_pmi: pointwise mutual information of ADJACENT token pairs —
    * collocation mining (the "New York" detector), the classic corpus
    * statistic behind multi-word-expression vocabularies and n-gram
    * merge rules. Bigrams come from each doc's token ARRAY by slice+zip
    * (pure generator, zero pre-shuffle joins); unigram and bigram counts
    * are exact integers; PMI = ln((c_ab/M) / ((c_a/N)(c_b/N))) computed
    * as ONE identical double expression tree in both engines, round-6.
    * Declared output: top-20 bigrams by count (pair tiebreak) with their
    * PMI — bounded regardless of corpus size (the tfidf pattern).
    *
    * Scale shape: one explode to bigram grain with map-side combine into
    * the (a,b) count table; two hash joins against the unigram rollup
    * (broadcast when vocab is small; they shuffle-join cleanly when it
    * is not); scalar totals broadcast. Nothing is quadratic and nothing
    * collects.
    */
  def tokenPmiQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.Det.r6
    val toks = Sources.documents(spark, dir)
      .select(filter(tokens(col("text")), t => t =!= "").as("t"))
    val uni = toks.select(explode(col("t")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val bi = toks
      .select(explode(arrays_zip(
        slice(col("t"), lit(1), greatest(size(col("t")) - 1, lit(0))),
        slice(col("t"), lit(2), greatest(size(col("t")) - 1, lit(0))))).as("z"))
      .select(col("z.0").as("a"), col("z.1").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_ab"))
    val nTok = uni.agg(sum(col("c")).as("n"))
    val nBi = bi.agg(sum(col("c_ab")).as("m"))
    bi
      .join(uni.select(col("tok").as("a"), col("c").as("c_a")), Seq("a"))
      .join(uni.select(col("tok").as("b"), col("c").as("c_b")), Seq("b"))
      .crossJoin(broadcast(nTok)).crossJoin(broadcast(nBi))
      .select(col("a"), col("b"), col("c_ab"),
        r6(log((col("c_ab").cast("double") / col("m").cast("double")) /
               ((col("c_a").cast("double") / col("n").cast("double")) *
                (col("c_b").cast("double") / col("n").cast("double"))))).as("pmi"))
      .orderBy(col("c_ab").desc, col("a"), col("b"))
      .limit(20)
  }

  /** q_lm_score: per-language SURPRISAL OUTLIERS under a corpus unigram
    * LM — the CCNet-style quality filter shape. The model is the corpus
    * itself (c(lang,tok)/n(lang); every doc token has c ≥ 1, so no
    * smoothing is needed), each doc scores avg-per-token ln p(tok), and
    * the declared output is the 10 LOWEST-scoring docs per language (the
    * rare-vocabulary junk a perplexity gate drops first). Bounded output
    * (|langs|×10 rows) regardless of corpus size — the tfidf pattern.
    *
    * Scale shape: one explode to the (lang, doc, tok) grain, the unigram
    * table and per-lang totals are rollups of that same frame (no second
    * pass over text), one hash join back on (lang, tok), and only the
    * |langs|-row totals broadcast. Determinism: exact integer counts;
    * the per-doc Σ c·ln(c/n) is a double sum absorbed by round-6 (the
    * q_entropy/tfidf ln-tolerance argument); rank ties break on doc_id.
    */
  def lmScoreQuery(spark: SparkSession, dir: String): DataFrame = {
    // Repartition tf ONCE by (lang, tok) and materialize it: the tf
    // subtree then runs once instead of relying on AQE stage reuse across
    // the lm rollup and the join (1.16× slower without it at sf1).
    val tf = reuse(Sources.documents(spark, dir)
      .select(col("lang"), col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("lang"), col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("c_dt"))
      .repartition(col("lang"), col("tok")))
    val lm = tf.groupBy(col("lang"), col("tok")).agg(sum(col("c_dt")).as("c"))
    val tot = lm.groupBy(col("lang")).agg(sum(col("c")).as("n"))
    val perDoc = tf.join(lm, Seq("lang", "tok"))
      .join(broadcast(tot), Seq("lang"))
      .groupBy(col("lang"), col("doc_id"))
      .agg(sum(col("c_dt")).as("len"),
           r6(sum(col("c_dt") * log(col("c") / col("n"))) / sum(col("c_dt")))
             .as("avg_logprob"))
    // two-phase bottom-10 per lang (Rank.topK): lang is a 5-value domain,
    // so a per-lang row_number window is 5 tasks at scale; the local
    // pre-rank keeps ≤ 10 rows per (input partition, lang) and the final
    // rank runs over that bounded survivor frame
    Rank.topK(perDoc, Seq("lang"), Seq(col("avg_logprob"), col("doc_id")), 10, "rk")
      .select(col("lang"), col("rk"), col("doc_id"), col("len"), col("avg_logprob"))
      .orderBy(col("lang"), col("rk"))
  }

  /** q_tfidf_topterms: deterministic TF-IDF — tf per (lang, term), df per
    * term, score = tf·ln(N/df) rounded to 6 dp, top-5 per lang with term-
    * asc tiebreak (SURVEY §7.4.2 shape).
    */
  def tfidfTopTerms(spark: SparkSession, dir: String): DataFrame = {
    val d = Sources.documents(spark, dir)
    // r12 opt (guide §5): N rides the dataflow as a broadcast 1-row
    // aggregate (the q_semantic_dedup kDf pattern) instead of a separate
    // count() job — at 100 TB that job is its own full corpus pass. The
    // score tree is unchanged: count→double is the same value the
    // collected literal carried, in the same log(N/df) expression.
    val nDf = d.agg(count(lit(1)).cast("double").as("n_docs"))
    // ONE explode, one shuffle to (doc, term) grain; tf and df are then
    // cheap rollups of the same frame — no second explode, no distinct
    // expansion ((doc_id, term) is already unique at this grain).
    val perDoc = d
      .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("doc_id"), col("lang"), col("term"))
      .agg(count(lit(1)).as("c"))
    val tf = perDoc.groupBy(col("lang"), col("term")).agg(sum(col("c")).as("tf"))
    val dfreq = perDoc.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(nDf))
      .select(col("lang"), col("term"),
              round(col("tf") * log(col("n_docs") / col("df")), 6).as("score"))
    // two-phase top-5 per lang (Rank.topK) — same reason as q_lm_score:
    // the (lang, term) grain grows with the vocab, lang has 5 values
    Rank.topK(scored, Seq("lang"), Seq(col("score").desc, col("term")), 5, "rn")
      .orderBy(col("lang"), col("rn"))
  }

  /** q_lang_id: language-ID confusion counts — predicted language (stopword
    * heuristic, see languageId) vs the labelled lang. Pure column ops over
    * one scan; the per-language stopword lists are literals, so the whole
    * thing codegens with no shuffle before the final tiny groupBy.
    */
  def langIdQuery(spark: SparkSession, dir: String): DataFrame =
    languageId(Sources.documents(spark, dir), "text")
      .groupBy(col("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("lang_pred"))

  /** q_quality_score: per-doc quality in [0,1] (see qualityScore) —
    * the cheap pre-filter every 100 TB ingest runs before expensive stages.
    */
  def qualityQuery(spark: SparkSession, dir: String): DataFrame =
    qualityScore(Sources.documents(spark, dir), "text")
      .select(col("doc_id"), col("quality"))
      .orderBy(col("doc_id"))

  /** q_token_count: whitespace and BPE-ish token counts per document (see
    * tokenCounts) — the budget/packing primitive of LLM data pipelines.
    */
  def tokenCountQuery(spark: SparkSession, dir: String): DataFrame =
    tokenCounts(Sources.documents(spark, dir), "text")
      .select(col("doc_id"), col("n_tokens_ws"), col("n_tokens_bpe"))
      .orderBy(col("doc_id"))

  /** Canonical-form content fingerprint: md5 of the whitespace-normalized,
    * lowercased text — the portable cross-engine document identity (the
    * xxhash64 rolling fingerprint below is the faster engine-internal one).
    * The whitespace class is spelled out EXPLICITLY because Java's \s
    * includes \x0B while RE2's does not — an engine-divergent shorthand
    * has no place in a canonical identity.
    */
  def canonicalFingerprint(c: Column): Column =
    md5(lower(regexp_replace(c, "[ \\t\\n\\x0B\\f\\r]+", " ")))

  /** q_doc_fingerprint: per-doc canonical content hash. */
  def fingerprintQuery(spark: SparkSession, dir: String): DataFrame =
    Sources.documents(spark, dir)
      .select(col("doc_id"), canonicalFingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id"))

  /** q_dedup_ngram: exact 3-gram-shingle Jaccard near-dup pairs at
    * threshold 0.5 (round-6 on both sides BEFORE the threshold test so the
    * boundary cannot flip between engines). This exact-pairwise form is the
    * declared GROUND TRUTH and is therefore quadratic by semantics — the
    * declared input is BOUNDED to a deterministic doc slice (the
    * q_dedup_minhash pattern) so no declared key is all-pairs over an
    * unbounded corpus. The subquadratic 100 TB path is the banded LSH form
    * (lshScoredCandidates, declared as dedupLshQuery) — run THAT on a full
    * corpus.
    */
  def dedupNgramQuery(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardPairs(Sources.documents(spark, dir).filter(col("doc_id") < 100),
                      "doc_id", "text", 3)
      .select(col("id_a"), col("id_b"), r6(col("jaccard")).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .orderBy(col("id_a"), col("id_b"))

  /** q_containment: ASYMMETRIC shingle containment C(A,B) = |A∩B|/min(|A|,|B|)
    * — the near-dup metric Jaccard misses: a short document wholly embedded
    * in a long one has tiny Jaccard (the union is the big doc) but
    * containment ≈ 1. Web-corpus pipelines run BOTH (Broder's resemblance
    * vs containment); quote/boilerplate detection and sub-document dedup
    * need this form.
    *
    * Input: docs 0..49 UNION their 60%-prefix FRAGMENTS (id + 100000,
    * first ⌈0.6·len⌉ tokens — both engines build the identical strings),
    * so the slice deterministically CONTAINS sub-document structure at
    * every SF: each (full, fragment) pair scores containment ≈ 1 while
    * its Jaccard sits near 0.6 — below every dedup threshold here, the
    * exact blind spot this metric closes. Same shared-shingle exact join
    * as q_dedup_ngram (bounded ground-truth path; at corpus scale the
    * candidate stage is LSH/prefix as usual), round-6 before the 0.8 gate.
    */
  def containmentQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.Det.r6
    val docs = Sources.documents(spark, dir).filter(col("doc_id") < 50)
      .select(col("doc_id"), col("text"))
    val toks = split(col("text"), " ")
    val frags = docs.select(
      (col("doc_id") + 100000).as("doc_id"),
      array_join(slice(toks, lit(1), ceil(size(toks) * 0.6).cast("int")), " ").as("text"))
    ngramJaccardPairs(docs.unionByName(frags), "doc_id", "text", 3)
      .select(col("id_a"), col("id_b"),
              r6(col("common").cast("double") /
                 least(col("sz_a"), col("sz_b")).cast("double")).as("containment"))
      .filter(col("containment") >= 0.8)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** q_dedup_prefix: EXACT 3-gram Jaccard near-dup pairs at t=0.7 over the
    * FULL corpus — no slice bound, because prefix filtering
    * (prefixJaccardPairs) makes the exact join subquadratic in practice:
    * join keys are each document's RAREST shingles only, so candidate
    * work tracks true near-dups, not shared-common-shingle noise. This
    * closes the gap the bounded q_dedup_ngram leaves: the exact path
    * itself now has a declared full-corpus form, alongside the approximate
    * full-corpus q_dedup_lsh_candidates. The oracle twin is the naive
    * all-pairs form (affordable in DuckDB at verify SFs) — any pair the
    * prefix filter wrongly dropped or invented hash-mismatches the gate.
    */
  def dedupPrefixQuery(spark: SparkSession, dir: String): DataFrame =
    prefixJaccardPairs(Sources.documents(spark, dir), "doc_id", "text", 3, 0.7)
      .orderBy(col("id_a"), col("id_b"))

  /** q_dedup_lsh_candidates: the SUBQUADRATIC dedup path itself under the
    * oracle gate — banded MinHash-LSH candidate generation over the FULL
    * corpus using the PORTABLE md5 signature (MinHash.md5Signature, k=8;
    * 4 bands × 2 rows). A document's signature is split into bands; docs
    * sharing any band key meet in a hash EQUI-join on (band_idx, band_key)
    * — never an all-pairs comparison — and the full signatures then score
    * each candidate (est_j = matching components / 8). This is the plan
    * shape that holds at 100 TB: shuffle keys are (band_idx, 2×md5) pairs,
    * candidate work is proportional to collisions, and the quadratic exact
    * forms (q_dedup_ngram, q_sim_neardup) exist only as bounded ground
    * truth.
    */
  def dedupLshQuery(spark: SparkSession, dir: String): DataFrame =
    lshScoredCandidates(spark, dir).orderBy(col("id_a"), col("id_b"))

  /** q_dedup_lsh_rebanded: the RECALL KNOB production actually turns —
    * the same k=8 signature re-banded 8 bands × 1 row. Banding theory:
    * a pair at Jaccard j collides on some band with prob 1−(1−j^rows)^bands
    * — 4×2 gives 0.68 at j=0.5 (cheap, candidate-lean), 8×1 gives
    * 1−(1−j)⁸ = 0.996 (recall ≈ 1, more low-j candidates). Declaring
    * BOTH geometries through the same machinery, each paired with its
    * recall audit (q_lsh_recall / q_lsh_recall_rebanded), hash-proves
    * the recall/candidate-volume tradeoff at both ends — the decision a
    * 100 TB dedup actually tunes. Same signature build; only the band
    * split changes, so the extra cost is purely the wider candidate set.
    */
  def dedupLshRebandedQuery(spark: SparkSession, dir: String): DataFrame =
    lshScoredCandidates(spark, dir, rows = 1).orderBy(col("id_a"), col("id_b"))

  /** The scored banded-LSH candidate frame (id_a, id_b, n_bands, est_j),
    * unsorted — shared by q_dedup_lsh_candidates (declared as-is),
    * q_dedup_clusters (est_j-thresholded pairs become component edges)
    * and the rebanded 8×1 config (rows = 1).
    */
  def lshScoredCandidates(spark: SparkSession, dir: String, rows: Int = 2): DataFrame = {
    val k = 8; val nBands = k / rows
    val sigs = reuse(Sources.documents(spark, dir)
      // fully fused native signature (graft.functions.Md5MinHashFromText —
      // text bytes → token-window digests, no shingle strings ever built);
      // null = fewer than 3 tokens, the old `size(ss) > 0` guard.
      // Materialize ONCE — the banding frame self-joins (x and y sides),
      // and without this the signature build (the dominant per-row cost)
      // runs twice
      .select(col("doc_id"), MinHash.md5SignatureFromTextNative(col("text"), 3, k).as("sig"))
      .filter(col("sig").isNotNull))
    val banded = sigs.select(col("doc_id"), col("sig"),
        explode(transform(sequence(lit(0), lit(nBands - 1)), b =>
          struct(b.as("band_idx"),
                 concat_ws("|", slice(col("sig"), b * rows + 1, lit(rows)))
                   .as("band_key")))).as("b"))
      .select(col("doc_id"), col("sig"), col("b.band_idx"), col("b.band_key"))
    banded.as("x").join(banded.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
        col("x.band_key") === col("y.band_key") &&
        col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_bands"),
           r6(max(MinHash.estimateCol(col("x.sig"), col("y.sig")))).as("est_j"))
  }

  /** q_dedup_clusters: the FINAL stage of the scale dedup pipeline —
    * LSH candidate pairs at est_j >= 0.5 become undirected edges, and
    * connected components (Graph.connectedComponents, iterative min-label
    * propagation — one hash join per round, no driver-side row data) turn
    * them into duplicate clusters. cluster_id = the minimum doc_id of the
    * cluster; is_canonical marks the one document a training pipeline
    * keeps. With q_dedup_lsh_candidates this puts pairs → clusters →
    * keep-one ALL under the oracle gate: est_j is a multiple of 1/8, so
    * the 0.5 threshold can never flip between engines, and the oracle
    * computes the identical components via a recursive CTE.
    */
  def dedupClustersQuery(spark: SparkSession, dir: String): DataFrame = {
    val edges = lshScoredCandidates(spark, dir).filter(col("est_j") >= 0.5)
    Graph.connectedComponents(edges, "id_a", "id_b")
      .select(col("id").as("doc_id"), col("component").as("cluster_id"),
              (col("id") === col("component")).cast("int").as("is_canonical"))
      .orderBy(col("doc_id"))
  }

  /** q_dedup_keep_best: cluster resolution with a QUALITY keep rule —
    * near-dup clusters (the q_dedup_clusters components) each keep their
    * HIGHEST-QUALITY member (ties → lowest doc_id), not the lowest id.
    * This is the keep rule production corpus dedup actually ships: of N
    * near-identical crawls keep the cleanest, not the first-seen. Output
    * is the per-cluster resolution record (size, kept doc, its quality).
    * Quality values are the declared q_quality_score round-6 doubles, so
    * the (quality desc, doc_id) argmax is a total order both engines
    * agree on; components are the same min-label CC as q_dedup_clusters.
    */
  def dedupKeepBestQuery(spark: SparkSession, dir: String): DataFrame = {
    val edges = lshScoredCandidates(spark, dir).filter(col("est_j") >= 0.5)
    val comp = Graph.connectedComponents(edges, "id_a", "id_b")
      .select(col("id").as("doc_id"), col("component").as("cluster_id"))
    val q = qualityScore(Sources.documents(spark, dir), "text")
      .select(col("doc_id"), col("quality"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("quality").desc, col("doc_id"))
    comp.join(q, Seq("doc_id"))
      .withColumn("rn", row_number().over(w))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
           min(when(col("rn") === 1, col("doc_id"))).as("keep_doc"),
           max(col("quality")).as("best_quality"))
      .orderBy(col("cluster_id"))
  }

  /** q_dedup_substring: EXACT cross-document substring-duplication
    * profile — the Lee-et-al "Deduplicating Training Data" shape, the one
    * dedup signal shingle-Jaccard misses (a verbatim 30-char span copied
    * between otherwise-different documents). Every stride-1 character
    * window of length W=30 is hashed (portable md5, computed INSIDE the
    * generator lambda so the document text never rides through the
    * shuffle); the (doc, window-hash) grain is aggregated once, a window
    * count over the hash partition marks cross-document sharing (nd > 1
    * ⇔ the 30-char span occurs verbatim in ≥2 docs — with stride 1,
    * ANY duplicated span of length ≥ W is caught because all its aligned
    * windows collide), and the per-document rollup reports total windows,
    * distinct shared windows, and shared window positions. All-integer
    * output: nothing to round, nothing engine-dependent. At 100 TB the
    * shuffle carries 32-byte hashes (or an 8-byte prefix) — O(total
    * chars) rows but never all-pairs; this is the hashed-window stand-in
    * for the suffix-array pass, and it composes with q_dedup_clusters
    * downstream.
    */
  /** Portable 60-bit window-hash array (native codegen'd expression
    * graft.functions.Md5WindowHashes) — bit-identical to the declarable
    * cast(conv(substring(md5(substring(text,i,W)),1,15),16,10) as bigint)
    * per position (property-tested), with no substring/hex/decimal-string
    * allocations.
    */
  private def windowHashes(text: Column, w: Int): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.Md5WindowHashes(
        org.apache.spark.sql.graftbridge.Bridge.expression(text), w))

  /** Sorted distinct xxhash64 of the w-token shingles (native codegen'd
    * graft.functions.XxShingleHashes) — the hashed-set generator the
    * exact-Jaccard family joins on.
    */
  private def xxShingleHashes(text: Column, w: Int): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.XxShingleHashes(
        org.apache.spark.sql.graftbridge.Bridge.expression(text), w))

  def dedupSubstringQuery(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val W = 30
    // r13 (guide §2.3 — aggregate BEFORE you shuffle, taken to its limit;
    // VERDICT r12 #5): the (doc_id, h) grain IS the per-row grain — every
    // document is one row, so its per-hash counts are computable entirely
    // inside the row (sort the hash array, emit one (h, run-length) struct
    // per distinct value) and the r12 plan's first full position-grain
    // exchange (explode → groupBy(doc_id, h), ~24 B × every character
    // position) disappears outright. The `if(...)` guards keep every
    // element_at in bounds under ANSI. Downstream (the h-partition window
    // marking cross-document sharing, the per-doc rollup) is unchanged.
    val runs = expr(
      """element_at(transform(array(array_sort(hs)), s ->
           element_at(transform(array(filter(sequence(1, size(s)),
                        i -> if(i = 1, true, element_at(s, i) != element_at(s, i - 1)))), st ->
             transform(sequence(1, size(st)), k ->
               struct(element_at(s, element_at(st, k)) AS h,
                      if(k < size(st), element_at(st, k + 1), size(s) + 1)
                        - element_at(st, k) AS cnt))), 1)), 1)""")
    val grain = Sources.documents(spark, dir)
      .filter(length(col("text")) >= W)
      // the window hash rides the shuffle as a PORTABLE 60-bit BIGINT
      // (md5 hex prefix — DuckDB computes the identical
      // ('0x'||substr(md5,1,15))::BIGINT, so grouping is bit-identical in
      // both engines even under truncation collisions), not the 32-hex
      // string of the first cut: 8 bytes per character position instead
      // of 32, a 4× shuffle-volume cut on the dominant stage
      .select(col("doc_id"), windowHashes(col("text"), W).as("hs"))
      .select(col("doc_id"), explode(runs).as("r"))
      .select(col("doc_id"), col("r.h").as("h"), col("r.cnt").cast("long").as("cnt"))
    grain
      // each (doc, h) row is one distinct doc for h, so a plain window
      // count IS the document frequency — no join back to the grain
      .withColumn("nd", count(lit(1)).over(Window.partitionBy("h")))
      .groupBy("doc_id")
      .agg(sum("cnt").as("n_windows"),
           sum(when(col("nd") > 1, col("cnt")).otherwise(lit(0))).as("dup_positions"),
           count(when(col("nd") > 1, lit(1))).as("dup_windows"))
      .filter(col("dup_positions") > 0)
      .orderBy(col("doc_id"))
  }

  /** q_dedup_substring_winnow: WINNOWED substring-duplication profile —
    * the 100 TB form of q_dedup_substring (Schleimer/Wilkerson/Aiken
    * SIGMOD'03 winnowing, the MOSS fingerprinter). Instead of shuffling
    * every stride-1 window hash, each document keeps only the MINIMUM
    * hash of every k=8 consecutive window hashes (computed per row in the
    * generator — array math, no per-position shuffle), then the distinct
    * selected fingerprints meet cross-document. Guarantee: any verbatim
    * span of length ≥ W+k−1 (= 37 chars) shared between two documents
    * yields at least one shared fingerprint (the shared span contains a
    * full winnowing window, and both documents select the same minimum
    * inside it) — a bounded miss, not a heuristic. Shuffle volume drops
    * to the winnow density ≈ 2/(k+1) of positions — ~4× fewer rows AND
    * 8-byte keys, ~16× lighter than the first-cut exact form overall.
    * Hashes are the same portable 60-bit md5-prefix BIGINTs as the exact
    * key, so the DuckDB twin replays the selection bit-identically.
    */
  def dedupSubstringWinnowQuery(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val W = 30; val k = 8
    val fps = Sources.documents(spark, dir)
      .filter(length(col("text")) >= W + k - 1)
      .select(col("doc_id"), windowHashes(col("text"), W).as("hs"))
      .select(col("doc_id"),
        explode(array_distinct(
          expr(s"transform(sequence(1, size(hs) - ${k - 1}), " +
               s"j -> array_min(slice(hs, j, $k)))"))).as("f"))
    fps
      .withColumn("nd", count(lit(1)).over(Window.partitionBy("f")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_fp"),
           count(when(col("nd") > 1, lit(1))).as("dup_fp"))
      .filter(col("dup_fp") > 0)
      .orderBy(col("doc_id"))
  }

  /** q_chunk_docs: split every document into fixed-size token windows
    * with stride — the chunking primitive of RAG indexing and pretraining
    * sequence prep (overlap = window − stride keeps boundary context).
    * Chunk starts are 0, stride, 2·stride, …; the LAST window may be
    * short (whatever tokens remain) and a doc shorter than one window is
    * a single chunk. Pure per-row generator: transform(sequence) → slice
    * → explode — zero shuffles before the output sort, embarrassingly
    * parallel at any corpus size.
    */
  def chunkDocsQuery(spark: SparkSession, dir: String): DataFrame =
    chunkDocs(Sources.documents(spark, dir), "doc_id", "text",
              window = 32, stride = 24)
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** The chunker itself: (id, chunk_idx, chunk_text, n_tokens) rows. */
  def chunkDocs(df: DataFrame, idCol: String, textCol: String,
                window: Int, stride: Int): DataFrame = {
    require(stride > 0 && window >= stride,
      s"need window >= stride > 0, got window=$window stride=$stride")
    df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), col("toks"),
        // number of chunks: 1 + ceil(max(n - window, 0) / stride), via
        // floor((n - window + stride - 1) / stride) + 1 (Column./ is true
        // division, so floor() it back to the integer count)
        greatest(
          floor((size(col("toks")) - window + (stride - 1)).cast("double") / stride)
            .cast("long") + 1,
          lit(1L)).cast("int").as("n_chunks"))
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), col("n_chunks") - 1), i =>
          struct(i.cast("long").as("chunk_idx"),
                 concat_ws(" ", slice(col("toks"), i * stride + 1, lit(window)))
                   .as("chunk_text"),
                 least(size(col("toks")) - i * stride, lit(window)).cast("long")
                   .as("n_tokens")))).as("c"))
      .select(col("doc_id"), col("c.chunk_idx"), col("c.chunk_text"), col("c.n_tokens"))
  }

  /** q_bm25: BM25 relevance (k1=1.2, b=0.75, Lucene's always-positive
    * idf = ln(1 + (N−df+0.5)/(df+0.5))) of a fixed 3-term query over the
    * corpus — the retrieval scorer on top of the tf/df machinery tf-idf
    * already pins. Scale shape: tf is one explode filtered to the query
    * terms BEFORE the shuffle (shuffled rows ∝ query-term hits, not
    * corpus tokens); df and the (N, Σdl) stats are tiny broadcasts.
    * Determinism: tf/dl/N/df are exact integers, every literal is a
    * double in BOTH engines (…e0 in the oracle), so both run the same
    * IEEE tree; ln may differ 1 ulp between libms — absorbed by round-6,
    * and ranking is on the ROUNDED score with doc_id tiebreak.
    */
  def bm25Query(spark: SparkSession, dir: String): DataFrame = {
    val queryTerms = Seq("join", "window", "hash")
    val docs = Sources.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).cast("long").as("dl"))
    val stats = docs.agg(count(lit(1)).as("n"), sum(col("dl")).as("sumdl"))
    val tf = docs.select(col("doc_id"), col("dl"), explode(col("toks")).as("tok"))
      .filter(col("tok").isin(queryTerms: _*))
      .groupBy(col("doc_id"), col("dl"), col("tok"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).cast("double").as("df"))
    val avgdl = col("sumdl").cast("double") / col("n")
    val idf = log(lit(1.0) + (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val w = idf * (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(1.0) - lit(0.75) + lit(0.75) * col("dl") / avgdl))
    tf.join(broadcast(df), Seq("tok"))
      .crossJoin(broadcast(stats))
      .groupBy(col("doc_id"))
      .agg(r6(sum(w)).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(20)
  }

  /** q_repetition_ratio: Gopher-style within-document repetition signal —
    * 1 − distinct/total tokens per doc. Pure array column math (no
    * explode, no shuffle beyond the final sort): the filter a training
    * pipeline applies before anything expensive. Determinism: both counts
    * are exact integers; ONE double division + the shared round-6 rule.
    */
  def repetitionQuery(spark: SparkSession, dir: String): DataFrame =
    Sources.documents(spark, dir)
      .select(col("doc_id"),
              size(tokens(col("text"))).cast("long").as("n_tokens"),
              size(array_distinct(tokens(col("text")))).cast("long").as("n_distinct"))
      .withColumn("rep_ratio",
        r6(lit(1.0) - col("n_distinct").cast("double") / col("n_tokens").cast("double")))
      .orderBy(col("doc_id"))

  /** q_pii_scrub: PII masking over the corpus — emails and phone numbers
    * replaced by placeholder tokens via codegen'd regexp_replace (no UDF).
    * The corpus text carries no PII, so a deterministic email+phone suffix
    * derived from doc_id is injected first; the declared result then
    * proves every injected instance was found and masked (n_scrubbed =
    * n_docs) and the masked lengths agree. The regexes use ONLY syntax
    * with identical semantics in Java regex and RE2 (explicit classes,
    * no shorthand \s/\w, no lookaround, no backrefs).
    */
  def piiScrubQuery(spark: SparkSession, dir: String): DataFrame = {
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
    val phoneRe = "[+][0-9]{1,2}-[0-9]{3}-[0-9]{4}"
    val withPii = concat(col("text"), lit(" contact user"),
      col("doc_id").cast("string"), lit("@example.com or call +1-555-"),
      lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))
    Sources.documents(spark, dir)
      .select(col("lang"), length(withPii).as("pii_len"),
        regexp_replace(regexp_replace(withPii, emailRe, "<EMAIL>"),
                       phoneRe, "<PHONE>").as("scrubbed"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           count(when(col("scrubbed").contains("<EMAIL>") &&
                      col("scrubbed").contains("<PHONE>"), 1)).as("n_scrubbed"),
           sum(length(col("scrubbed"))).cast("long").as("sum_len"),
           sum(col("pii_len") - length(col("scrubbed"))).cast("long").as("sum_removed"))
      .orderBy(col("lang"))
  }

  /** q_dedup_minhash: PORTABLE MinHash (min-md5-substring components,
    * MinHash.md5Signature, k=8) — the estimated Jaccard for every pair of
    * a deterministic doc slice (doc_id < 40; docs with no 3-gram shingles
    * drop out on both engines). Completes the declared dedup family with
    * the sketch path: exact ↔ n-gram ↔ MinHash estimate are now ALL under
    * the oracle gate. The pair join is block-replicated equi
    * (Scale.allPairsBlocked) — no nested-loop plan.
    */
  def dedupMinhashQuery(spark: SparkSession, dir: String): DataFrame = {
    val sigs = Sources.documents(spark, dir).filter(col("doc_id") < 40)
      .select(col("doc_id"), MinHash.md5SignatureFromTextNative(col("text"), 3, 8).as("sig"))
      .filter(col("sig").isNotNull)
    Scale.allPairsBlocked(sigs, "doc_id")
      .select(col("doc_id_a").as("id_a"), col("doc_id_b").as("id_b"),
        r6(aggregate(zip_with(col("sig_a"), col("sig_b"),
             (x, y) => when(x === y, 1.0).otherwise(0.0)),
           lit(0.0), (acc, v) => acc + v) / 8.0).as("est_j"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** q_minhash_agg: the custom-Aggregator sketch surface under the gate
    * (VERDICT r11 next #6 — the last §2 row whose only evidence was
    * ScalaTest): per-doc k=8 MinHash signatures computed by
    * MinHash.Md5MinHashAgg — a typed Aggregator run through
    * functions.udaf, so zero/reduce/merge execute inside Spark's
    * partial-aggregation tree (map-side combine on the shingle stream,
    * merge across partitions) — in the PORTABLE md5-component regime,
    * where the sketch is deterministic: component i = lexicographic min
    * of the i-th md5 hex window over the doc's distinct shingles, the
    * identical arithmetic the oracle runs as min(substr(md5(...))).
    * FULL corpus, one row per ≥3-token doc. Scale: the aggregation is
    * the mergeable-sketch shape itself — fixed k·8 bytes of state per
    * doc regardless of length, combine-before-shuffle.
    */
  def minhashAggQuery(spark: SparkSession, dir: String): DataFrame = {
    val k = 8
    val ex = Sources.documents(spark, dir)
      .select(col("doc_id"),
        explode(MinHash.md5Hashes(array_distinct(shingles(col("text"), 3)), k)).as("h"))
    val sigCol = org.apache.spark.sql.functions.udaf(new MinHash.Md5MinHashAgg(k))
    val agg = ex.groupBy(col("doc_id")).agg(sigCol(col("h")).as("sig"))
    agg.select(col("doc_id") +:
        (0 until k).map(i => element_at(col("sig"), i + 1).as(s"m$i")): _*)
      .orderBy(col("doc_id"))
  }

  /** q_dedup_simhash: PORTABLE SimHash (16-bit, md5-nibble bits,
    * Similarity.simHashMd5) — pairwise Hamming distance over the same
    * bounded doc slice. Near-dup texts → small Hamming distance; the
    * declared form pins the signature arithmetic against DuckDB
    * (ascii/shift/xor/bit_count are engine-identical).
    */
  def dedupSimhashQuery(spark: SparkSession, dir: String): DataFrame = {
    val sigs = Sources.documents(spark, dir).filter(col("doc_id") < 40)
      .select(col("doc_id"),
        Similarity.simHashMd5(array_distinct(tokens(col("text"))), 16).as("sig"))
    Scale.allPairsBlocked(sigs, "doc_id")
      .select(col("doc_id_a").as("id_a"), col("doc_id_b").as("id_b"),
              Similarity.hamming(col("sig_a"), col("sig_b")).as("hamming"))
      .orderBy(col("id_a"), col("id_b"))
  }

  // ---------- API-only operators (north star; ScalaTest-covered) ----------

  /** Language ID by stopword-hit heuristic: score each language by the
    * fraction of a document's tokens found in that language's tiny
    * stopword list; argmax with language-asc tiebreak. Pure column ops —
    * the stopword lists live in a broadcast-able literal array.
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "of", "and", "to", "in", "is", "it", "that", "for", "was"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "für"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "por", "con", "para"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "un", "une", "dans", "pour"),
    "zh" -> Seq("的", "是", "不", "了", "在", "人", "有", "我", "他", "这"),
  )

  def languageId(df: DataFrame, textCol: String): DataFrame = {
    val toks = tokens(lower(col(textCol)))
    val scores = stopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      val hits = size(array_intersect(array_distinct(toks), array(words.map(lit): _*)))
      struct((hits.cast("double") / size(toks)).as("score"), lit(lang).as("lang"))
    }
    // argmax by (score, then lang DESC reversed) — array_max on structs
    // compares field-by-field; negate nothing, ties resolve to the
    // lexicographically LARGEST lang, so sort keys make 'asc tiebreak' by
    // flipping is avoided: we keep it simple and deterministic.
    df.withColumn("lang_pred", array_max(array(scores: _*)).getField("lang"))
  }

  /** Quality score in [0,1]: blend of length band, punctuation ratio and
    * stopword ratio — the classic cheap pre-filter before expensive
    * pipeline stages. Deterministic; all codegen'd column ops.
    */
  def qualityScore(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val nchars = length(t).cast("double")
    val ntoks = size(tokens(t)).cast("double")
    val punct = length(regexp_replace(t, "[^\\p{Punct}]", "")).cast("double")
    val allStop = array(stopwords.values.flatten.toSeq.map(lit): _*)
    val stopHits = size(array_intersect(array_distinct(tokens(lower(t))), allStop)).cast("double")
    val lenScore = when(nchars.between(100, 2000), 1.0)
      .when(nchars < 100, nchars / 100.0)
      .otherwise(lit(2000.0) / nchars)
    val punctScore = lit(1.0) - least(punct / greatest(ntoks, lit(1.0)), lit(1.0))
    val stopScore = least(stopHits / lit(5.0), lit(1.0))
    df.withColumn("quality",
      round(lenScore * 0.4 + punctScore * 0.3 + stopScore * 0.3, 6))
  }

  /** Token count, two ways: whitespace and a BPE-ish regex (letter runs,
    * digit runs, single punctuation — a cheap proxy for subword count).
    */
  def tokenCounts(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("n_tokens_ws", size(tokens(col(textCol))).cast("long"))
      .withColumn("n_tokens_bpe",
        size(filter(split(col(textCol), "(?=[^\\p{L}\\p{N}])|(?<=[^\\p{L}\\p{N}])"),
             x => length(trim(x)) > 0)).cast("long"))

  /** Document fingerprint: 64-bit rolling hash of the token stream —
    * aggregate() fold chaining xxhash64(acc, token) (overflow-free under
    * ANSI mode, order-sensitive like a true rolling hash). Equal texts ⇒
    * equal fingerprints; near-misses differ (test-asserted).
    */
  def fingerprint(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("fingerprint",
      aggregate(tokens(col(textCol)), lit(1125899906842597L),
        (acc, tok) => xxhash64(acc, tok)))

  /** N-gram (shingle) extraction: w-token shingles as joined strings —
    * the input unit for Jaccard/MinHash dedup.
    *
    * The token array is bound ONCE per row as a lambda variable (via the
    * single-element transform wrapper): inlining `split` textually into the
    * position lambda would re-split the document for every shingle
    * position — O(tokens²) string work per doc (observed 3× slower on the
    * sf0.1 corpus before this binding).
    */
  def shingles(c: Column, w: Int): Column =
    element_at(
      transform(array(tokens(c)), toks => {
        val n = size(toks)
        // positions 1 .. n-w+1, each joined from its w-token window
        filter(
          transform(sequence(lit(1), greatest(n - (w - 1), lit(1))),
            i => when(n >= w, concat_ws(" ", slice(toks, i, lit(w))))),
          x => x.isNotNull)
      }),
      1)

  /** Exact pairwise n-gram Jaccard over all document pairs (quadratic in
    * co-occurring docs — the ground truth the MinHash path is tolerance-
    * tested against; SURVEY §2 I).
    *
    * Scale shape: shingle strings are collapsed to xxhash64 keys BEFORE the
    * self-join, so the shuffle moves 8-byte longs instead of w-token
    * strings and the sort-merge compares longs (the identical plan on both
    * join inputs also lets Spark reuse one Exchange). Jaccard over hashed
    * shingles equals Jaccard over the strings absent a 64-bit collision
    * (~1e-8 for a billion distinct shingles — and the oracle twin computes
    * over raw strings, so any collision would surface as a gate mismatch).
    * Truly skewed corpora (one shingle in millions of docs) should use
    * MinHash-LSH instead — this operator is the exact form.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String, w: Int = 3): DataFrame = {
    // each exploded shingle row carries its doc's distinct-shingle count —
    // the union-size denominators then ride through the pair join for free
    // instead of costing a separate aggregate plus two re-joins
    val sh = df
      .select(col(idCol).as("id"), xxShingleHashes(col(textCol), w).as("hs"))
      .select(col("id"), size(col("hs")).as("sz"), explode(col("hs")).as("h"))
    // merge hint: the shingle stream is corpus-sized on BOTH sides — a
    // sort-merge shuffle join is the only plan that survives real scale
    // (the planner would happily broadcast the ~6 MB side at test SFs),
    // and it is faster here too (sorted-run merge beats hash probing on
    // the heavily duplicated hash keys)
    sh.as("a").hint("merge").join(sh.as("b"), col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
               col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
      .agg(count(lit(1)).as("common"))
      .withColumn("jaccard",
        col("common").cast("double") / (col("sz_a") + col("sz_b") - col("common")))
      .select(col("id_a"), col("id_b"), col("common"), col("sz_a"), col("sz_b"), col("jaccard"))
  }

  /** EXACT n-gram Jaccard join at threshold `t` via PREFIX FILTERING — the
    * scale-safe exact form (AllPairs / PPJoin family, Bayardo et al. WWW'07;
    * Vernica et al. SIGMOD'10 give the MapReduce shape this follows).
    *
    * Principle: order every document's distinct shingles by a single GLOBAL
    * total order (document frequency ascending, hash tiebreak — rarest
    * first). If J(A,B) >= t then |A∩B| >= t·max(|A|,|B|), so A and B MUST
    * share at least one shingle within each one's first
    * p(x) = |x| − ceil(t·|x|) + 1 shingles. Joining only those prefix
    * shingles finds every qualifying pair — exactly — while the join keys
    * are by construction the RAREST shingles in the corpus, so candidate
    * fan-out is tamed where the naive shared-shingle join (Σ df² over ALL
    * shingles) explodes. A length filter (t·max <= min, sets can't qualify
    * across a big size gap) prunes candidates inside the join condition,
    * and the exact Jaccard is then verified on the candidates only.
    *
    * Scale shape (round 12 — kills the r11 verification memory wall):
    *
    *   0. CONTENT COLLAPSE. Verbatim duplicates — the dominant mass in
    *      real crawl data, and exactly what made the sf10docs probe OOM —
    *      are collapsed FIRST: fingerprint each doc's sorted-distinct
    *      shingle array (structural xxhash64), keep one representative
    *      (min id) per distinct content, remember the membership. ALL
    *      pair work then runs at the DISTINCT-CONTENT grain, so its cost
    *      is independent of replication depth; identical-content pairs
    *      (J exactly 1) and cross-content matches expand back through
    *      two membership equi-joins — output-linear, the only quadratic
    *      left is the answer itself.
    *   1. prefix filter on representatives: df count, prefix rank
    *      (window by doc), prefix equi-join + length filter, candidate
    *      distinct — same AllPairs shape as before.
    *   2. COUNT-FORM verification: never materializes a shingle array
    *      per candidate (the r11 form joined candidates back to full
    *      hash arrays on BOTH sides and ran array_intersect per pair —
    *      OOM at an 8 GiB driver on sf10docs). Instead each candidate
    *      pair fans out over A's (id, h) shingle stream, equi-joins on
    *      (id_b, h) to keep exactly the hashes B also holds, and COUNTS
    *      matches per pair — shuffles carry (hash, id) rows, never
    *      arrays, so per-task memory is row-bounded regardless of
    *      document length or near-dup density among DISTINCT contents.
    *
    * FP hygiene: prefix lengths and the length filter take a 1e-9 slack
    * so binary-double fuzz in t·|x| can only lengthen a prefix (extra
    * candidates), never drop a true pair; the final threshold is the
    * division-free integer-exact form common >= t·(union), identical
    * IEEE arithmetic in any engine. No candidate pair is lost to the
    * inner count joins: every candidate shares >= 1 prefix shingle, so
    * common >= 1 always. The content fingerprint adds one more 64-bit
    * collision surface with the same argument as the shingle hashing
    * itself (~1e-8 at a billion distinct contents; the oracle computes
    * over raw strings, so any collision surfaces as a gate mismatch).
    */
  def prefixJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                         w: Int = 3, t: Double = 0.7,
                         collapse: Boolean = true): DataFrame = {
    // materialize shingle sets + content ids ONCE: this subtree otherwise
    // evaluates once per downstream branch — shingling is the dominant
    // per-row cost. Native fused generator (graft.functions
    // .XxShingleHashes): sorted distinct xxhash64 per shingle byte-span,
    // no shingle strings built. xxhash64(array) is structural, and the
    // arrays are canonical (sorted distinct), so equal sets ⇔ equal fp.
    // collapse=false skips the content-grain machinery (the fp window,
    // membership joins and twin expansion become pure overhead) for
    // callers whose input is ALREADY exact-deduped — q_pipeline_corpus
    // runs this stage after its md5 dedup, where every shingle-set that
    // still collides is at most an md5-vs-shingle disagreement corner.
    val tagged = reuse(df
      .select(col(idCol).as("id"), xxShingleHashes(col(textCol), w).as("hs"))
      .filter(size(col("hs")) > 0)
      .withColumn("cid",
        if (collapse) min(col("id")).over(Window.partitionBy(xxhash64(col("hs"))))
        else col("id"))
      .select(col("id"), col("cid"), col("hs"), size(col("hs")).as("sz")))
    val mem = tagged.select(col("cid"), col("id"))
    // distinct-content corpus: every pair stage below runs at this grain
    val docs = tagged.filter(col("id") === col("cid"))
      .select(col("id"), col("hs"), col("sz"))
    val ex = docs.select(col("id"), col("sz"), explode(col("hs")).as("h"))
    val freq = ex.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val pos = row_number().over(Window.partitionBy(col("id")).orderBy(col("df"), col("h")))
    val prefixLen = col("sz") - ceil(lit(t) * col("sz") - 1e-9) + 1
    val prefix = ex.join(freq, "h")
      .withColumn("pos", pos)
      .filter(col("pos") <= prefixLen)
      .select(col("id"), col("sz"), col("h"))
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id") &&
        least(col("a.sz"), col("b.sz")).cast("double") >=
          lit(t) * greatest(col("a.sz"), col("b.sz")) - 1e-9)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
              col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
      .distinct()
    // count-form verifier (distinct-content grain): stream A's hashes
    // through the pair, keep the ones B also holds (equi-join on
    // (id_b, h)), count per pair. `ex` re-explodes from the checkpointed
    // `tagged`, so shingling itself still computes once.
    val hsA = ex.select(col("id").as("id_a"), col("h"))
    val hsB = ex.select(col("id").as("id_b"), col("h"))
    val cross = cand
      .join(hsA, "id_a")
      .join(hsB, Seq("id_b", "h"))
      .groupBy(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"))
      .agg(count(lit(1)).as("common"))
      .withColumn("un", col("sz_a") + col("sz_b") - col("common"))
      .filter(col("common").cast("double") >= lit(t) * col("un").cast("double"))
      .select(col("id_a"), col("id_b"),
              r6(col("common").cast("double") / col("un").cast("double")).as("jaccard"))
    // expand content-grain matches to member pairs. Cross-content pairs
    // keep the representative-level jaccard (identical sets ⇒ identical
    // J for every member combination); member ids re-order through
    // least/greatest because content-rep order says nothing about member
    // id order. Same-content pairs are J = 1 by construction (t <= 1
    // always admits them, as the old per-doc form did via sz/sz).
    // Without collapse every content is its own singleton — cross IS the
    // answer and the membership/twin joins would be no-op shuffles.
    if (!collapse) cross
    else {
      val expanded = cross
        .join(mem.select(col("cid").as("id_a"), col("id").as("ia")), "id_a")
        .join(mem.select(col("cid").as("id_b"), col("id").as("ib")), "id_b")
        .select(least(col("ia"), col("ib")).as("id_a"),
                greatest(col("ia"), col("ib")).as("id_b"), col("jaccard"))
      val twins = mem.as("x").join(mem.as("y"),
          col("x.cid") === col("y.cid") && col("x.id") < col("y.id"))
        .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
                lit(1.0).as("jaccard"))
      expanded.unionByName(twins)
    }
  }

  /** Deterministic synthetic URL per doc — BOTH engines build the identical
    * string (mixed-case scheme/host, explicit :443, utm_* tracking params,
    * fragments), so the canonicalizer below has real work whose output the
    * oracle can hash-match. The variants cycle on doc_id.
    */
  def syntheticUrl(id: Column): Column = concat(
    lit("HTTPS://Site"), (id % 5).cast("string"),
    lit(".Example.COM:443/Path/"), (id % 13).cast("string"),
    when(id % 4 === 0, concat(lit("?utm_source=x&id="), (id % 3).cast("string")))
      .when(id % 4 === 1, concat(lit("?id="), (id % 3).cast("string"),
                                 lit("&utm_campaign=y&utm_medium=z")))
      .when(id % 4 === 2, concat(lit("#sec"), (id % 3).cast("string")))
      .otherwise(lit("/")))

  /** URL CANONICALIZATION — the first stage of every web-corpus dedup
    * (Common-Crawl-style): strip the fragment, lowercase scheme+host
    * (path case is significant and preserved), drop the default :443
    * port, remove utm_* tracking parameters (repairing the ?/& chain),
    * and trim a trailing slash or bare '?'. Pure codegen'd column ops;
    * every regex is RE2/Java-identical syntax and the oracle twin applies
    * the same steps with DuckDB's 'g' flag (Spark regexp_replace is
    * always-global).
    */
  def canonicalizeUrl(u: Column): Column = {
    val noFrag = regexp_replace(u, "#.*$", "")
    // lowercase ONLY scheme://host[:port] — split at the first path slash
    val pfx = regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)", 1)
    val rebuilt = concat(lower(pfx), noFrag.substr(length(pfx) + 1, lit(1000000)))
    // two literal patterns, no capture-group backreference — Java ($1) and
    // RE2/DuckDB (\1) spell those differently, so the twins avoid them
    val noPort = regexp_replace(regexp_replace(rebuilt, ":443/", "/"), ":443$", "")
    val noUtm0 = regexp_replace(noPort, "utm_[a-z]+=[^&#]*&", "")
    val noUtm = regexp_replace(noUtm0, "[?&]utm_[a-z]+=[^&#]*$", "")
    regexp_replace(noUtm, "[/?]$", "")
  }

  /** q_url_canonicalize: canonicalize the synthetic per-doc URLs and
    * dedup on the canonical form — per canonical URL: occurrence count,
    * distinct RAW variants collapsed, and the kept (minimum) doc_id.
    * Group cardinality is bounded by the canonical key space; the shuffle
    * carries one row per raw URL. The Common-Crawl pre-dedup shape.
    */
  def urlCanonicalizeQuery(spark: SparkSession, dir: String): DataFrame =
    Sources.documents(spark, dir)
      .select(col("doc_id"), syntheticUrl(col("doc_id")).as("url"))
      .select(col("doc_id"), col("url"), canonicalizeUrl(col("url")).as("canon"))
      .groupBy(col("canon"))
      .agg(count(lit(1)).as("n"),
           countDistinct(col("url")).as("n_variants"),
           min(col("doc_id")).as("keep_doc"))
      .orderBy(col("canon"))

  /** q_bpe_pairs: the FIRST MERGE STEP of BPE tokenizer training — the
    * top adjacent-character-pair frequencies over the corpus (Sennrich et
    * al. 2016; a full trainer iterates exactly this census between
    * merges). Weighted by WORD frequency, not word occurrences: the
    * distinct-word aggregate collapses the corpus first (|vocab| rows),
    * then each distinct word explodes into its char bigrams × its count —
    * the standard trainer optimization, and the reason this is two hash
    * aggregates rather than a corpus-sized explode. Top-20 by (count
    * desc, pair) via TakeOrderedAndProject. All integer counts.
    */
  def bpePairsQuery(spark: SparkSession, dir: String): DataFrame = {
    val words = Sources.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 2) // a 1-char word has no pair (and
      // sequence(1, 0) would COUNT DOWN — Spark infers step −1)
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
    words
      .select(col("wc"), explode(transform(
        sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair")).agg(sum(col("wc")).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(20)
  }

  /** q_vocab_growth: the Heaps'-law vocabulary-growth curve — distinct
    * token types seen within the first k% of documents (by doc_id), at
    * ten checkpoints. Exact form: each type's FIRST document (one min
    * aggregate at token grain), then ten threshold counts — never a
    * running distinct-count window. The sub-linear curve is the
    * "is my corpus still contributing new vocabulary" signal dedup and
    * mixture planning consume.
    */
  def vocabGrowthQuery(spark: SparkSession, dir: String): DataFrame = {
    val firstDoc = Sources.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok")).agg(min(col("doc_id")).as("first_doc"))
    val maxDoc = Sources.documents(spark, dir).agg(max(col("doc_id")).as("max_doc"))
    val cuts = spark.range(1, 11).select(col("id").as("decile"))
    firstDoc.crossJoin(broadcast(maxDoc)).crossJoin(broadcast(cuts))
      // cutoff = floor(max_doc * decile / 10): exact integer arithmetic
      .filter(col("first_doc") * 10 <= col("max_doc") * col("decile"))
      .groupBy(col("decile")).agg(count(lit(1)).as("vocab"))
      .orderBy(col("decile"))
  }

  /** q_minhash_calibration: the ESTIMATOR AUDIT of the dedup stack — for
    * every pair in the bounded panel, the k=8 MinHash estimate next to
    * the EXACT shingle Jaccard and their absolute error: what q_ann_recall
    * is to the IVF index, this is to the MinHash sketch ("how wrong is
    * est_j at k=8, and on which pairs") — the calibration every pipeline
    * runs before trusting an LSH threshold. Both sides are deterministic
    * declared constructions (the q_dedup_minhash signature; the
    * q_dedup_ngram exact join), so est, exact and |err| are hashable
    * numbers, not tolerance bands. Pairs sharing no shingles surface
    * with jaccard 0 (LEFT join): a nonzero est there is pure sketch
    * noise — exactly what the audit must show. Scale: the exact side is
    * the bounded ground-truth panel (the dedup family rule); production
    * calibration samples pairs, it never sweeps the corpus.
    */
  def minhashCalibrationQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.Det.r6
    val docs = Sources.documents(spark, dir).filter(col("doc_id") < 40)
    val est = dedupMinhashQuery(spark, dir)
    val exact = ngramJaccardPairs(docs, "doc_id", "text", 3)
      .select(col("id_a"), col("id_b"), r6(col("jaccard")).as("jaccard"))
    est.join(exact, Seq("id_a", "id_b"), "left")
      .select(col("id_a"), col("id_b"), col("est_j"),
        coalesce(col("jaccard"), lit(0.0)).as("jaccard"),
        r6(abs(col("est_j") - coalesce(col("jaccard"), lit(0.0)))).as("abs_err"))
      .filter(col("est_j") > 0.0 || col("jaccard") > 0.0)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** q_lsh_recall: the RECALL audit of banded LSH — q_minhash_calibration
    * audits the ESTIMATE's accuracy; this audits the CANDIDATE
    * GENERATION's coverage: of the true near-dup pairs (exact shingle
    * Jaccard ≥ 0.5 on the bounded panel), how many does the 4×2-banded
    * LSH join actually surface? The banding theory says a pair at
    * Jaccard j collides on some band with prob 1−(1−j²)⁴ (≥ 0.68 at
    * j = 0.5, → 1 fast above) — this key MEASURES it: per true pair,
    * its exact Jaccard and a found flag (left-semi against the full
    * lshScoredCandidates frame), plus the panel totals. All
    * deterministic: the exact side is the declared q_dedup_ngram
    * construction, the candidate side the declared
    * q_dedup_lsh_candidates one — the gate proves the miss set itself,
    * pair by pair. Scale: exact side bounded panel (the dedup rule);
    * candidate side is the production subquadratic path unchanged.
    */
  def lshRecallQuery(spark: SparkSession, dir: String): DataFrame =
    lshRecallAt(spark, dir, rows = 2)

  /** q_lsh_recall_rebanded: the recall audit at the 8×1 geometry — with
    * q_lsh_recall this hash-proves BOTH ends of the banding tradeoff:
    * theory says every true j ≥ 0.5 pair collides with prob ≥ 0.996
    * under 8×1, so the found column should read all-1 where the 4×2
    * audit shows misses. Same bounded exact panel, same production
    * candidate path — only the band split differs.
    */
  def lshRecallRebandedQuery(spark: SparkSession, dir: String): DataFrame =
    lshRecallAt(spark, dir, rows = 1)

  private def lshRecallAt(spark: SparkSession, dir: String, rows: Int): DataFrame = {
    import graft.Det.r6
    val docs = Sources.documents(spark, dir).filter(col("doc_id") < 40)
    val truePairs = ngramJaccardPairs(docs, "doc_id", "text", 3)
      .select(col("id_a"), col("id_b"), r6(col("jaccard")).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
    val cand = lshScoredCandidates(spark, dir, rows)
      .select(col("id_a"), col("id_b"), lit(1L).as("found"))
    truePairs.join(cand, Seq("id_a", "id_b"), "left")
      .select(col("id_a"), col("id_b"), col("jaccard"),
              coalesce(col("found"), lit(0L)).as("found"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** q_bpe_train: the first FIVE actual BPE merges, hash-proven —
    * q_bpe_pairs censuses the pair frequencies a trainer WOULD see; this
    * key runs the trainer's loop itself: 5 rounds of (count adjacent
    * token pairs over the word census, weighted by word frequency →
    * argmax (count desc, pair asc) → apply the merge corpus-wide), the
    * exact Sennrich et al. (ACL'16) algorithm at vocabulary grain.
    *
    * Determinism: words are space-split as-is; each word's state is its
    * space-joined symbol sequence; the merge application is ONE literal
    * (non-regex) global replace per round using the q_keywords_rake
    * double-space trick — double every separator so adjacent occurrences
    * of the pair don't fight over a shared boundary space (" u  v "
    * consumes one flank each; consecutive "u v u v" still matches twice),
    * then re-canonicalize. Literal replace scans left-to-right and never
    * re-matches inside its own replacement in BOTH engines. The argmax
    * is a (BIGINT count desc, ascii pair asc) total order.
    *
    * Scale: ALL work is at VOCABULARY grain (distinct words × their
    * counts — Heaps-sublinear in corpus size); each round is one
    * pair-explode + one aggregate + one TakeOrdered(1) + one map-side
    * replace; the 5 collected merge rows are the OUTPUT itself (bounded
    * driver artifacts, the IVF-centroid precedent). Materializing each
    * round's vocabulary keeps round r+1 from re-executing rounds 1..r
    * twice (argmax + next census both consume the frame).
    */
  def bpeTrainQuery(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Row
    val rounds = 5
    val words = Sources.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    var vocab = reuse(words
      .select(concat_ws(" ",
        filter(split(col("w"), ""), x => length(x) > 0)).as("s"), col("cnt")))
    val merges = (1 to rounds).map { r =>
      val tk = split(col("s"), " ")
      // sequence(1, 0) DESCENDS in Spark (it never yields empty), so a
      // single-symbol word must short-circuit to an empty pair array
      val pairs = vocab
        .select(explode(when(size(tk) >= 2,
          transform(sequence(lit(1), size(tk) - 1),
            i => concat(element_at(tk, i), lit(" "), element_at(tk, i + 1))))
          .otherwise(array().cast("array<string>"))).as("pr"),
          col("cnt"))
        .groupBy(col("pr")).agg(sum(col("cnt")).as("n"))
      val top = pairs.orderBy(col("n").desc, col("pr")).limit(1).head()
      val Array(a, b) = top.getString(0).split(" ", 2)
      val n = top.getLong(1)
      vocab = reuse(vocab.select(
        trim(regexp_replace(
          replace(concat(lit(" "), replace(col("s"), lit(" "), lit("  ")), lit(" ")),
                  lit(s" $a  $b "), lit(s" $a$b ")),
          " +", " ")).as("s"), col("cnt")))
      Row(r, a, b, a + b, n)
    }
    spark.createDataFrame(
      new java.util.ArrayList(scala.jdk.CollectionConverters.SeqHasAsJava(merges).asJava),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("round", org.apache.spark.sql.types.IntegerType, false),
        org.apache.spark.sql.types.StructField("left_tok", org.apache.spark.sql.types.StringType, false),
        org.apache.spark.sql.types.StructField("right_tok", org.apache.spark.sql.types.StringType, false),
        org.apache.spark.sql.types.StructField("merged", org.apache.spark.sql.types.StringType, false),
        org.apache.spark.sql.types.StructField("n", org.apache.spark.sql.types.LongType, false))))
      .orderBy(col("round"))
  }

  /** q_keywords_rake: RAKE keyword extraction over the corpus — score a
    * content word by degree/frequency, where degree sums the lengths of
    * the stopword-delimited PHRASES it appears in: words that live in
    * long multi-word phrases ("neural machine translation") outrank
    * equally-frequent words that appear alone — the classic unsupervised
    * keyword/phrase-vocabulary pass a corpus pipeline runs before topic
    * labeling. Phrase segmentation is pure string algebra identical in
    * Java and RE2 regex dialects (NO lookarounds — RE2 has none): lower
    * → collapse non-alphanumerics to single spaces → DOUBLE every space
    * → replace " stopword " with " | " (doubling means adjacent
    * stopwords keep a private space each, so one global pass marks every
    * boundary) → split on '|'. Degree/freq are exact integers; score is
    * ONE IEEE division round-6; top-25 resolves via the two-phase
    * Rank.topK (score desc, word asc — total order), never a global
    * sort. Scale: phrase explode is map-side; the only shuffle is the
    * word-grain aggregate (vocab-sized, Heaps-sublinear).
    */
  def keywordsRakeQuery(spark: SparkSession, dir: String): DataFrame = {
    val stop = stopwords("en").mkString("|")
    val norm = concat(lit(" "),
      regexp_replace(lower(col("text")), "[^a-z0-9]+", " "), lit(" "))
    val marked = regexp_replace(
      regexp_replace(norm, " ", "  "), s" ($stop) ", " | ")
    val occ = Sources.documents(spark, dir)
      .select(explode(split(marked, "\\|")).as("phrase"))
      .select(filter(split(col("phrase"), " +"), x => length(x) > 0).as("ws"))
      .filter(size(col("ws")) > 0)
      .select(explode(col("ws")).as("w"), size(col("ws")).cast("long").as("plen"))
    val scored = occ.groupBy(col("w"))
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
      .select(col("w"), col("freq"), col("deg"),
        r6(col("deg").cast("double") / col("freq").cast("double")).as("score"))
      .withColumn("__g", lit(0))
    Rank.topK(scored, Seq("__g"), Seq(col("score").desc, col("w")), 25, "rk")
      .select(col("rk"), col("w"), col("freq"), col("deg"), col("score"))
      .orderBy(col("rk"))
  }
}
