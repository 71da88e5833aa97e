package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.io.Sources
import graft.ops.{MinHash, Text}

class MinHashSpec extends AnyFunSuite with SparkFixture {

  private def docs100 = Sources.documents(spark, sfDir).filter(col("doc_id") < 100)

  test("minhash estimate tracks exact jaccard within tolerance (k=64)") {
    val sigs = docs100.select(col("doc_id").as("id"),
      MinHash.md5SignatureFromTextNative(col("text"), 3, 64).as("sig"))
      .filter(col("sig").isNotNull)
    val est = sigs.as("a").join(sigs.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
              MinHash.estimateCol(col("a.sig"), col("b.sig")).as("est"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = Text.ngramJaccardPairs(docs100, "doc_id", "text", 3)
      .select("id_a", "id_b", "jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // pairs with no common shingle are absent from `exact` (jaccard 0)
    var maxErr = 0.0
    est.foreach { case (k, e) =>
      val ex = exact.getOrElse(k, 0.0)
      maxErr = math.max(maxErr, math.abs(e - ex))
    }
    // k=64 → std error ~ sqrt(j(1-j)/64) ≤ 0.0625; allow 4 sigma
    assert(maxErr < 0.25, s"max |est - exact| = $maxErr")
  }

  test("Md5MinHashAgg (UDAF path) == the staged column-expression signature") {
    // the gated q_minhash_agg regime: the typed Aggregator through
    // functions.udaf must produce component-for-component the same
    // signature as md5SignatureFromHashes over the same hash stream
    val hs = docs100.select(col("doc_id"),
      MinHash.md5Hashes(array_distinct(Text.shingles(col("text"), 3)), 8).as("hs"))
      .filter(size(col("hs")) > 0)
    val colForm = hs.select(col("doc_id"),
        MinHash.md5SignatureFromHashes(col("hs"), 8).as("sig"))
    val udafCol = udaf(new MinHash.Md5MinHashAgg(8))
    val aggForm = hs.select(col("doc_id"), explode(col("hs")).as("h"))
      .groupBy(col("doc_id")).agg(udafCol(col("h")).as("sig"))
    assert(colForm.exceptAll(aggForm).isEmpty && aggForm.exceptAll(colForm).isEmpty)
    assert(colForm.count() > 0)
  }

  test("native Md5MinHashSignature is bit-identical to the portable HOF chain") {
    import spark.implicits._
    // the native expression is reached through its registered SQL name
    graft.GraftExtensions.register(spark)
    def native(ss: String, k: Int) = expr(s"minhash_md5($ss, $k)")
    // corpus shingle sets AND adversarial hand-built arrays: empty strings,
    // multi-space runs, unicode (incl. supplementary plane), null elements,
    // empty arrays, k not a multiple of 4
    val corpus = docs100
      .select(array_distinct(Text.shingles(col("text"), 3)).as("ss"))
    val weird: Seq[Seq[String]] = Seq(
      Seq(""), Seq("", ""), Seq("a  b", " ", "  "),
      Seq("héllo wörld", "💩 emoji", "中文 分词"),
      Seq("x"), Seq.empty[String])
    val weirdDf = weird.toDF("ss")
    for (df <- Seq(corpus, weirdDf); k <- Seq(1, 5, 8)) {
      val both = df.select(
        native("ss", k).as("nat"),
        MinHash.md5Signature(col("ss"), k).as("hof"))
      val rows = both.collect()
      rows.foreach { r =>
        assert(r.getSeq[String](0) === r.getSeq[String](1),
          s"k=$k native/HOF mismatch on ${r.getSeq[String](0)}")
      }
    }
    // null array element: HOF skips it (md5(null) → null, array_min skips)
    val withNullElem = spark.sql("SELECT array('a b c', CAST(NULL AS STRING), 'd e f') AS ss")
    val r = withNullElem.select(
      native("ss", 8).as("nat"),
      MinHash.md5Signature(col("ss"), 8).as("hof")).head
    assert(r.getSeq[String](0) === r.getSeq[String](1))
    // null array → null out; empty array → k nulls
    val edge = spark.sql("SELECT CAST(NULL AS ARRAY<STRING>) AS ss")
      .select(native("ss", 4)).head
    assert(edge.isNullAt(0))
  }

  test("fused Md5MinHashFromText == staged HOF form, including the null guard") {
    import spark.implicits._
    // corpus texts + adversarial strings: space runs (empty tokens), exactly
    // w tokens, fewer than w tokens, unicode, leading/trailing spaces
    val texts = docs100.select(col("text")).as[String].collect().toSeq ++ Seq(
      "a b c", "a  b  c", " a b", "a b ", "  ", "one two", "solo", "",
      "héllo wörld münich", "中文 分词 测试 版", "a 💩 b c")
    val df = texts.toDF("text")
    for (w <- Seq(1, 2, 3); k <- Seq(5, 8)) {
      val both = df.select(
        MinHash.md5SignatureFromTextNative(col("text"), w, k).as("nat"),
        when(size(array_distinct(Text.shingles(col("text"), w))) > 0,
          MinHash.md5Signature(array_distinct(Text.shingles(col("text"), w)), k))
          .as("hof"))
      both.collect().foreach { r =>
        if (r.isNullAt(1)) assert(r.isNullAt(0), s"w=$w k=$k: HOF null but native not")
        else assert(r.getSeq[String](0) === r.getSeq[String](1),
          s"w=$w k=$k fused/staged mismatch")
      }
    }
  }

  test("minhash_md5 is SQL-callable via GraftExtensions with a literal k") {
    graft.GraftExtensions.register(spark)
    val viaSql = spark.sql(
      "SELECT minhash_md5(array('the quick fox', 'quick fox jumps'), 8) AS sig").head
    val viaApi = spark.range(1).select(
      MinHash.md5Signature(
        typedLit(Seq("the quick fox", "quick fox jumps")), 8).as("sig")).head
    assert(viaSql.getSeq[String](0) === viaApi.getSeq[String](0))
  }

  test("dedupLshQuery: candidates come from band equality, scored by the full signature") {
    val cands = Text.dedupLshQuery(spark, sfDir).collect()
    assert(cands.nonEmpty, "the corpus must produce LSH candidates")
    cands.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      val bands = r.getLong(2); val est = r.getDouble(3)
      assert(a < b, "pair order must be canonical")
      assert(bands >= 1 && bands <= 4, s"n_bands out of range: $bands")
      assert(est >= 0.0 && est <= 1.0, s"est_j out of range: $est")
      // a shared band = 2 matching signature components, so the signature
      // estimate must see at least those (bands are disjoint slices)
      assert(est >= bands * 2.0 / 8.0 - 1e-9,
        s"pair ($a,$b): $bands matching bands but est_j=$est")
    }
    // candidate generation is an equi-join: the physical plan must not
    // contain a nested-loop or cartesian product
    val plan = Text.dedupLshQuery(spark, sfDir).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "LSH candidate join must be an equi-join")
  }
}
