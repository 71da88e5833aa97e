package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.io.Sources
import graft.ops.Text

class TextSpec extends AnyFunSuite with SparkFixture {

  private def docs = Sources.documents(spark, sfDir)

  test("exactDedup is a fixpoint and keeps the min doc_id per hash") {
    val once = Text.exactDedup(docs, "text", "doc_id")
    val twice = Text.exactDedup(once, "text", "doc_id")
    assert(once.count() === twice.count())
    assert(once.count() ===
      docs.select(md5(col("text"))).distinct().count())
    // keeper is the min id: no other row with same text has a smaller id
    val kept = once.select(md5(col("text")).as("h"), col("doc_id"))
    val mins = docs.groupBy(md5(col("text")).as("h")).agg(min("doc_id").as("m"))
    assert(kept.join(mins, "h").filter(col("doc_id") =!= col("m")).count() === 0)
  }

  test("dedupExact query: kept + dropped = total per lang") {
    val rows = graft.ops.Text.dedupExact(spark, sfDir).collect()
    assert(rows.forall(r => r.getLong(1) === r.getLong(2) + r.getLong(3)))
  }

  test("textStats: token counts consistent with explode count") {
    val total = Text.textStats(spark, sfDir).collect().map(_.getLong(4)).sum
    val direct = docs.select(explode(split(col("text"), " ")).as("t"))
      .filter(col("t") =!= "").count()
    assert(total === direct)
  }

  test("tfidf: 5 terms per lang, scores non-increasing within lang") {
    val rows = Text.tfidfTopTerms(spark, sfDir).collect()
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      assert(rs.length === 5)
      val scores = rs.sortBy(_.getLong(3)).map(_.getDouble(2))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
  }

  test("languageId: correct on real-language sentences; deterministic on corpus") {
    // the synthetic corpus text is English-ish tokens regardless of its
    // lang label, so accuracy is asserted on a crafted fixture instead
    import spark.implicits._
    val fixture = Seq(
      ("the cat sat on the mat and it was happy", "en"),
      ("der hund ist nicht mit der katze auf dem dach", "de"),
      ("el perro y el gato en la casa por la noche", "es"),
      ("le chien et le chat dans la maison pour une nuit", "fr"),
    ).toDF("text", "lang")
    val pred = Text.languageId(fixture, "text").collect()
    assert(pred.forall(r => r.getString(1) === r.getString(2)),
      pred.map(r => s"${r.getString(1)}->${r.getString(2)}").mkString(","))
    // corpus: every doc gets exactly one deterministic prediction
    val p1 = Text.languageId(docs, "text").select("doc_id", "lang_pred")
    val p2 = Text.languageId(docs, "text").select("doc_id", "lang_pred")
    assert(p1.exceptAll(p2).isEmpty)
    assert(p1.filter(col("lang_pred").isNull).count() === 0)
  }

  test("qualityScore in [0,1]") {
    val q = Text.qualityScore(docs, "text").select("quality").collect().map(_.getDouble(0))
    assert(q.forall(v => v >= 0.0 && v <= 1.0))
  }

  test("tokenCounts: ws count equals split size; bpe ≥ ws for plain text") {
    val r = Text.tokenCounts(docs, "text")
      .select(size(split(col("text"), " ")).cast("long"), col("n_tokens_ws"), col("n_tokens_bpe"))
      .collect()
    assert(r.forall(x => x.getLong(0) === x.getLong(1)))
    assert(r.forall(x => x.getLong(2) >= x.getLong(1) - 1))
  }

  test("fingerprint: equal texts collide, different texts don't (sampled)") {
    val fp = Text.fingerprint(docs, "text").select("doc_id", "text", "fingerprint")
    val j = fp.as("a").join(fp.as("b"), col("a.doc_id") < col("b.doc_id"))
      .filter(col("a.text") === col("b.text"))
      .filter(col("a.fingerprint") =!= col("b.fingerprint"))
    assert(j.count() === 0, "same text must share fingerprint")
    val distinctTexts = docs.select("text").distinct().count()
    val distinctFps = fp.select("fingerprint").distinct().count()
    assert(distinctFps >= distinctTexts - 5, "unexpected fingerprint collisions")
  }

  test("shingles: w-token windows, n-w+1 of them") {
    val d = docs.limit(20)
      .select(col("doc_id"), size(split(col("text"), " ")).as("n"),
              size(Text.shingles(col("text"), 3)).as("ns"))
    assert(d.filter(col("n") >= 3).filter(col("ns") =!= col("n") - 2).count() === 0)
  }

  test("dedupNgramQuery: pairs are id_a < id_b with jaccard in (0, 1]") {
    val rows = Text.dedupNgramQuery(spark, sfDir).collect()
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
    assert(rows.forall(r => r.getDouble(2) > 0.4999995 && r.getDouble(2) <= 1.0))
  }

  test("chunkDocs: chunks reconstruct the doc; stride overlap; short-doc single chunk") {
    import spark.implicits._
    val df = Seq((1L, (1 to 100).map(i => s"t$i").mkString(" ")),
                 (2L, "a b c")).toDF("id", "txt")
    val rows = Text.chunkDocs(df, "id", "txt", window = 32, stride = 24)
      .orderBy("doc_id", "chunk_idx").collect()
    val d1 = rows.filter(_.getLong(0) == 1L)
    // 100 tokens -> ceil((100-32)/24)+1 = 4 chunks starting 0,24,48,72
    assert(d1.length === 4)
    assert(d1.map(_.getLong(3)).toSeq === Seq(32L, 32L, 32L, 28L))
    // consecutive chunks overlap by window - stride = 8 tokens
    val c0 = d1(0).getString(2).split(" "); val c1 = d1(1).getString(2).split(" ")
    assert(c0.takeRight(8).toSeq === c1.take(8).toSeq)
    // dropping each chunk's first (window-stride) tokens after chunk 0
    // reconstructs the doc exactly
    val rebuilt = d1(0).getString(2) +: d1.tail.map(_.getString(2).split(" ").drop(8).mkString(" "))
    assert(rebuilt.mkString(" ") === (1 to 100).map(i => s"t$i").mkString(" "))
    val d2 = rows.filter(_.getLong(0) == 2L)
    assert(d2.length === 1 && d2(0).getString(2) === "a b c" && d2(0).getLong(3) === 3L)
  }

  test("prefixJaccardPairs equals the naive all-pairs ground truth at t=0.7") {
    // exactness of the prefix filter: same pairs, same jaccard values as
    // the quadratic shared-shingle join thresholded at t
    val naive = Text.ngramJaccardPairs(docs, "doc_id", "text", 3)
      .filter(col("common").cast("double") >= lit(0.7) * (col("sz_a") + col("sz_b") - col("common")).cast("double"))
      .select(col("id_a"), col("id_b"), graft.Det.r6(col("jaccard")).as("jaccard"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val pref = Text.prefixJaccardPairs(docs, "doc_id", "text", 3, 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pref === naive)
    assert(pref.nonEmpty)
  }

  test("prefixJaccardPairs: prefix join never plans a cartesian/BNLJ") {
    val p = plan(Text.prefixJaccardPairs(docs, "doc_id", "text", 3, 0.7))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
           s"prefix self-join must stay an equi-join:\n$p")
  }

  test("fingerprintQuery: distinct fingerprints equal distinct texts") {
    val nTexts = Sources.documents(spark, sfDir).select("text").distinct.count()
    val nFps = Text.fingerprintQuery(spark, sfDir).select("fp").distinct.count()
    assert(nFps === nTexts)
  }

  test("langIdQuery: confusion counts cover every document exactly once") {
    val total = Text.langIdQuery(spark, sfDir).agg(org.apache.spark.sql.functions.sum("n")).collect()(0).getLong(0)
    assert(total === Sources.documents(spark, sfDir).count())
  }

  test("qualityQuery: one row per doc, quality in [0, 1]") {
    val rows = Text.qualityQuery(spark, sfDir).collect()
    assert(rows.length === Sources.documents(spark, sfDir).count())
    assert(rows.forall(r => r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0))
  }

  test("tokenCountQuery: counts positive, bpe >= ws on plain space-joined text") {
    val rows = Text.tokenCountQuery(spark, sfDir).collect()
    assert(rows.forall(r => r.getLong(1) > 0 && r.getLong(2) >= r.getLong(1)))
  }


  test("dedup_ngram pair join plans a sort-merge join, never a broadcast of the shingle stream") {
    val p = plan(Text.dedupNgramQuery(spark, sfDir))
    assert(p.contains("SortMergeJoin"), s"shingle self-join must sort-merge:\n$p")
  }

  test("dedupMinhashQuery: est in {0, 1/8, ..., 1}; identical texts estimate 1.0") {
    val rows = Text.dedupMinhashQuery(spark, sfDir).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
    assert(rows.forall { r =>
      val e = r.getDouble(2); e >= 0.0 && e <= 1.0 && math.abs(e * 8 - math.round(e * 8)) < 1e-9
    })
    // identical shingle sets ⇒ identical min-md5 components ⇒ est exactly 1
    import org.apache.spark.sql.functions._
    val d = Sources.documents(spark, sfDir).filter(col("doc_id") < 2)
    val dup = d.unionByName(d.withColumn("doc_id", col("doc_id") + 1000))
    val sigs = dup.select(col("doc_id"),
      graft.ops.MinHash.md5Signature(
        array_distinct(Text.shingles(col("text"), 3)), 8).as("sig"))
    val selfPairs = graft.ops.Scale.allPairsBlocked(sigs, "doc_id")
      .filter(col("doc_id_b") === col("doc_id_a") + 1000)
      .select(graft.ops.MinHash.estimateCol(col("sig_a"), col("sig_b")).as("e"))
      .collect()
    assert(selfPairs.length === 2 && selfPairs.forall(_.getDouble(0) === 1.0))
  }

  test("bm25: 20 docs, positive descending scores, every hit contains a query term") {
    import org.apache.spark.sql.functions._
    val rows = Text.bm25Query(spark, sfDir).collect()
    assert(rows.length === 20)
    val scores = rows.map(_.getDouble(1))
    assert(scores.forall(_ > 0))
    assert(scores.sameElements(scores.sortBy(-_)))
    val hitIds = rows.map(_.getLong(0)).toSet
    val withTerm = Sources.documents(spark, sfDir)
      .filter(col("doc_id").isin(hitIds.toSeq: _*))
      .filter(array_contains(split(col("text"), " "), "join") ||
              array_contains(split(col("text"), " "), "window") ||
              array_contains(split(col("text"), " "), "hash"))
      .count()
    assert(withTerm === 20L)
  }

  test("dedupSimhashQuery: hamming in [0,16]; identical token sets are 0 apart") {
    val rows = Text.dedupSimhashQuery(spark, sfDir).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(2) >= 0 && r.getLong(2) <= 16))
    import org.apache.spark.sql.functions._
    val sig = Sources.documents(spark, sfDir).limit(20)
      .select(col("doc_id"),
        graft.ops.Similarity.simHashMd5(array_distinct(Text.tokens(col("text"))), 16).as("s"))
    val self = sig.as("a").join(sig.as("b"), col("a.doc_id") === col("b.doc_id"))
      .select(graft.ops.Similarity.hamming(col("a.s"), col("b.s")).as("h"))
      .collect()
    assert(self.forall(_.getLong(0) === 0L))
  }

  test("entropy: 0 < H <= ln(vocab), and a single-token corpus has H = 0") {
    val rows = graft.ops.Text.entropyQuery(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (vocab, h) = (r.getLong(2), r.getDouble(3))
      assert(h > 0.0, s"${r.getString(0)}: entropy must be positive on real text")
      assert(h <= math.log(vocab.toDouble) + 1e-9,
        s"${r.getString(0)}: H=$h exceeds the uniform bound ln($vocab)")
    }
    // degenerate check straight through the same column expressions
    import spark.implicits._
    val one = Seq(("xx", "a a a a")).toDF("lang", "text")
    import org.apache.spark.sql.functions._
    val tf = one.select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("c"))
    val tot = tf.groupBy(col("lang")).agg(sum(col("c")).as("n"))
    val h0 = tf.join(tot, Seq("lang"))
      .agg(-sum((col("c") / col("n")) * log(col("c") / col("n")))).collect()(0).getDouble(0)
    assert(math.abs(h0) < 1e-12)
  }

  test("native Md5WindowHashes == the declarable conv(md5-substring) SQL form") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val nat = org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.Md5WindowHashes(
        org.apache.spark.sql.graftbridge.Bridge.expression(col("text")), 30))
    // corpus texts + unicode (multi-byte code points shift every byte
    // offset) + exact-length and under-length edges
    val texts = io.Sources.documents(spark, sfDir).select("text")
      .as[String].collect().toSeq ++ Seq(
      "中文字符" * 10, "héllo wörld " * 5, "x" * 30, "x" * 29, "💩" * 31, "")
    val df = texts.toDF("text")
    df.select(nat.as("nat"),
        when(length(col("text")) >= 30,
          expr("transform(sequence(1, length(text) - 29), " +
               "i -> cast(conv(substring(md5(substring(text, i, 30)), 1, 15), 16, 10) as bigint))"))
          .otherwise(array().cast("array<bigint>")).as("hof"))
      .collect().foreach { r =>
        assert(r.getSeq[Long](0) === r.getSeq[Long](1), "window hash mismatch")
      }
  }

  test("native XxShingleHashes == array_distinct(shingles)+xxhash64 as a set") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val nat = org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.XxShingleHashes(
        org.apache.spark.sql.graftbridge.Bridge.expression(col("text")), 3))
    val texts = io.Sources.documents(spark, sfDir).select("text")
      .as[String].collect().toSeq ++ Seq(
      "a b c", "a b c a b c", "a  b  c", " x y z", "one two", "", "中文 分词 测试 版")
    texts.toDF("text")
      .select(nat.as("natv"),
        array_sort(transform(array_distinct(Text.shingles(col("text"), 3)),
          s => xxhash64(s))).as("hof"))
      .collect().foreach { r =>
        assert(r.getSeq[Long](0) === r.getSeq[Long](1), "shingle hash set mismatch")
      }
  }

  test("substring dedup: exact and winnowed forms agree on who is duplicated") {
    import org.apache.spark.sql.functions._
    val exact = Text.dedupSubstringQuery(spark, sfDir).collect()
    val winnow = Text.dedupSubstringWinnowQuery(spark, sfDir).collect()
    assert(exact.nonEmpty, "corpus must contain cross-doc 30-char spans")
    // a doc the winnow flags shares a SELECTED fingerprint — the exact
    // stride-1 form must flag it too (winnow hits ⊆ exact hits)
    val exactIds = exact.map(_.getLong(0)).toSet
    val winnowIds = winnow.map(_.getLong(0)).toSet
    assert(winnowIds.subsetOf(exactIds),
      s"winnow flagged non-duplicated docs: ${(winnowIds -- exactIds).take(5)}")
    // selected fingerprints are a k-fold-ish compression of positions
    val sumWindows = exact.map(_.getLong(1)).sum
    val sumFp = winnow.map(_.getLong(1)).sum
    assert(sumFp < sumWindows, "winnowing must select fewer fingerprints than positions")
  }

  test("winnowing guarantee: a shared span of length >= W+k-1 is always caught") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // two docs sharing EXACTLY a 37-char span (W=30, k=8) amid different
    // padding — the minimal span the guarantee covers
    val span = "abcdefghijklmnopqrstuvwxyz0123456789!" // 37 chars
    require(span.length == 37)
    val docs = Seq(
      (1L, "en", ("U" * 50) + span + ("V" * 50), "web", 137L),
      (2L, "en", ("X" * 61) + span + ("Y" * 40), "web", 138L),
      (3L, "en", "Z" * 140, "web", 140L))
      .toDF("doc_id", "lang", "text", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("winnow_docs")
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val flagged = Text.dedupSubstringWinnowQuery(spark, tmp.toString)
      .collect().map(_.getLong(0)).toSet
    assert(flagged === Set(1L, 2L),
      s"docs 1,2 share a 37-char span and MUST be flagged; doc 3 must not: got $flagged")
  }

  test("containment: fragment pairs score ~1 where their Jaccard sits near 0.6") {
    val rows = graft.ops.Text.containmentQuery(spark, sfDir).collect()
    // every doc 0..49 must pair with its planted 60%-prefix fragment
    val fragPairs = rows.filter(r => r.getLong(1) == r.getLong(0) + 100000)
    assert(fragPairs.length >= 40, s"planted fragments must surface: ${fragPairs.length}")
    fragPairs.foreach { r =>
      assert(r.getDouble(2) >= 0.95, s"fragment containment must be ~1: $r")
    }
    // and the same pairs are INVISIBLE to the 0.7-Jaccard dedup path:
    // shingles(frag) ⊂ shingles(full) with |frag| ~ 0.6|full| ⇒ J ~ 0.6
    import org.apache.spark.sql.functions._
    val docs = graft.io.Sources.documents(spark, sfDir).filter(col("doc_id") < 50)
      .select(col("doc_id"), col("text"))
    val toks = split(col("text"), " ")
    val frags = docs.select((col("doc_id") + 100000).as("doc_id"),
      array_join(slice(toks, lit(1), ceil(size(toks) * 0.6).cast("int")), " ").as("text"))
    val j = graft.ops.Text.ngramJaccardPairs(docs.unionByName(frags), "doc_id", "text", 3)
      .filter(col("id_b") === col("id_a") + 100000)
      .select(col("jaccard")).collect().map(_.getDouble(0))
    assert(j.nonEmpty && j.forall(_ < 0.7),
      "fragment pairs must sit BELOW the Jaccard dedup threshold — the blind spot containment closes")
  }

  test("dedup keep-best: kept doc is a max-quality member; clusters agree with q_dedup_clusters") {
    import org.apache.spark.sql.functions._
    val kb = graft.ops.Text.dedupKeepBestQuery(spark, sfDir).collect()
    assert(kb.nonEmpty)
    val clusters = graft.ops.Text.dedupClustersQuery(spark, sfDir).collect()
      .groupBy(_.getLong(1)).view.mapValues(_.map(_.getLong(0)).toSet).toMap
    val q = graft.ops.Text.qualityScore(
        graft.io.Sources.documents(spark, sfDir), "text")
      .select("doc_id", "quality").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    kb.foreach { r =>
      val (cid, n, keep, bq) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      val members = clusters(cid)
      assert(members.size.toLong === n, s"cluster $cid size mismatch")
      assert(members.contains(keep), s"kept doc $keep not in cluster $cid")
      val maxQ = members.map(q).max
      assert(q(keep) === maxQ, s"kept doc must have the max quality in cluster $cid")
      assert(bq === maxQ)
      // the tie rule: among max-quality members, the lowest id wins
      assert(keep === members.filter(m => q(m) == maxQ).min)
    }
  }

  test("minhash calibration: err is |est - exact|; exact side matches the declared ngram join") {
    import graft.ops.Text
    val rows = Text.minhashCalibrationQuery(spark, sfDir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getDouble(2), r.getDouble(3), r.getDouble(4))))
    assert(rows.nonEmpty)
    rows.foreach { case ((a, b), (est, ex, err)) =>
      assert(est >= 0.0 && est <= 1.0 && ex >= 0.0 && ex <= 1.0)
      assert(math.abs(err - math.abs(est - ex)) < 1e-9, s"($a,$b) err")
    }
    // identical pair set as the declared exact join restricted to overlap>0,
    // unioned with est>0 sketch-noise pairs
    val exact = Text.ngramJaccardPairs(
        graft.io.Sources.documents(spark, sfDir).filter(col("doc_id") < 40),
        "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(5)).toMap
    rows.foreach { case (p, (_, ex, _)) =>
      val want = exact.get(p).map(j => BigDecimal(j)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble).getOrElse(0.0)
      assert(math.abs(ex - want) < 1e-9, s"$p exact side")
    }
  }

  test("lsh recall: every found pair IS a banded candidate; misses are not") {
    import graft.ops.Text
    val cand = Text.lshScoredCandidates(spark, sfDir)
      .select(col("id_a"), col("id_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rows = Text.lshRecallQuery(spark, sfDir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (p, j, found) =>
      assert(j >= 0.5, s"$p below threshold")
      assert(found == (if (cand(p)) 1L else 0L), s"$p found flag")
    }
    // high-similarity pairs should essentially always collide on a band
    rows.filter(_._2 >= 0.9).foreach { case (p, j, found) =>
      assert(found == 1L, s"$p at jaccard $j missed by banding — collision prob ≥ 1-(1-j²)⁴ ≈ 1")
    }
  }

  test("rebanded 8x1 candidates are a superset of the 4x2 candidates") {
    import graft.ops.Text
    // a 4x2 collision means BOTH band components match, so each matches
    // individually — every 2-row collision implies a 1-row collision
    val c42 = Text.lshScoredCandidates(spark, sfDir)
      .select(col("id_a"), col("id_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val c81 = Text.lshScoredCandidates(spark, sfDir, rows = 1)
      .select(col("id_a"), col("id_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(c42.subsetOf(c81), s"missing: ${c42.diff(c81).take(3)}")
    assert(c81.size >= c42.size)
    // and the rebanded recall audit never misses a pair the 4x2 audit found
    val f42 = Text.lshRecallQuery(spark, sfDir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(3))).toMap
    val f81 = Text.lshRecallRebandedQuery(spark, sfDir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(3))).toMap
    assert(f42.keySet === f81.keySet) // same true-pair panel
    f42.foreach { case (p, found42) =>
      assert(f81(p) >= found42, s"$p: rebanded lost a pair 4x2 had") }
  }

  test("rake keywords: top-25 equals the brute phrase-algebra sweep") {
    import graft.ops.Text
    val stops = Text.stopwords("en").toSet
    val texts = graft.io.Sources.documents(spark, sfDir)
      .select(col("text")).collect().map(_.getString(0))
    val deg = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val freq = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    texts.foreach { t =>
      val toks = t.toLowerCase.replaceAll("[^a-z0-9]+", " ").split(" ").filter(_.nonEmpty)
      // phrases = maximal stopword-free runs
      val phrases = scala.collection.mutable.Buffer[Seq[String]]()
      var cur = scala.collection.mutable.Buffer[String]()
      toks.foreach { w =>
        if (stops(w)) { if (cur.nonEmpty) { phrases += cur.toSeq; cur = scala.collection.mutable.Buffer() } }
        else cur += w
      }
      if (cur.nonEmpty) phrases += cur.toSeq
      phrases.foreach { p =>
        p.foreach { w => deg(w) += p.length.toLong; freq(w) += 1L }
      }
    }
    val brute = deg.keys.toSeq
      .map(w => (w, freq(w), deg(w),
        BigDecimal(deg(w).toDouble / freq(w)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      .sortBy { case (w, _, _, s) => (-s, w) }
      .take(25)
    val got = graft.ops.Text.keywordsRakeQuery(spark, sfDir).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSeq
    assert(got == brute, s"top-25 mismatch:\n got   $got\n brute $brute")
  }
}
