package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Stats

class StatsSpec extends AnyFunSuite with SparkFixture {

  test("ks: D in [0,1]; equals brute-force ECDF max-gap") {
    val r = Stats.ksTest(spark, sfDir).collect()(0)
    val (n1, n2, d) = (r.getLong(0), r.getLong(1), r.getDouble(3))
    assert(n1 > 0 && n2 > 0)
    assert(d >= 0.0 && d <= 1.0)
    // brute force on the driver (sf0.001 is tiny)
    val c = graft.io.Sources.customer(spark, sfDir)
      .select("c_mktsegment", "c_acctbal").collect()
    val a = c.filter(_.getString(0) == "BUILDING").map(_.getDouble(1)).sorted
    val b = c.filter(_.getString(0) == "MACHINERY").map(_.getDouble(1)).sorted
    val pooled = (a ++ b).distinct.sorted
    val brute = pooled.map { x =>
      math.abs(a.count(_ <= x).toDouble / a.length - b.count(_ <= x).toDouble / b.length)
    }.max
    assert(math.abs(d - brute) < 1e-6, s"engine D=$d brute=$brute")
  }

  test("ks: identical samples give D = 0") {
    import spark.implicits._
    // replicate the integer-arithmetic pipeline over two equal samples
    val df = Seq(("A", 1.0), ("A", 2.0), ("B", 1.0), ("B", 2.0)).toDF("g", "v")
    val pv = df.groupBy("v")
      .agg(count(when(col("g") === "A", 1)).as("c1"),
           count(when(col("g") === "B", 1)).as("c2"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val tot = pv.agg(sum("c1").as("n1"), sum("c2").as("n2"))
    val d = pv.withColumn("cum1", sum("c1").over(w)).withColumn("cum2", sum("c2").over(w))
      .crossJoin(broadcast(tot))
      .agg(max(abs(col("cum1") * col("n2") - col("cum2") * col("n1"))).as("dn"))
      .collect()(0).getLong(0)
    assert(d === 0L)
  }

  test("welch t: sign matches the mean difference; df between min(n)-1 and n1+n2-2") {
    val r = Stats.ttest(spark, sfDir).collect()(0)
    val (n1, n2, t, df) = (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))
    val means = graft.io.Sources.events(spark, sfDir)
      .filter(col("event_type").isin("purchase", "click"))
      .groupBy("event_type").agg(avg("value").as("m"))
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(math.signum(t) === math.signum(means("purchase") - means("click")))
    assert(df >= math.min(n1, n2) - 1 - 1e-6)
    assert(df <= n1 + n2 - 2 + 1e-6)
  }

  test("market basket: lift consistent with counts; pair counts bounded by item counts") {
    val rows = Stats.marketBasket(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val nOrders = graft.io.Sources.lineitem(spark, sfDir)
      .select("l_orderkey").distinct.count()
    rows.foreach { r =>
      val (nab, na, nb, lift) = (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))
      assert(nab >= 2)
      assert(nab <= math.min(na, nb))
      val expect = nab.toDouble * nOrders / (na.toDouble * nb)
      assert(math.abs(lift - expect) < 1e-5)
    }
    // ordering: n_ab non-increasing
    rows.sliding(2).foreach {
      case Array(a, b) => assert(a.getLong(2) >= b.getLong(2))
      case _ =>
    }
  }

  test("market basket: a line without a part key joins no basket, but its order still counts") {
    val li = graft.io.Sources.lineitem(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft_basket_nulls").toString
    val nullPart = lit(null).cast("bigint")
    // a null-part line on every 7th order, and one new order holding only such a line
    val extra = li.filter(col("l_orderkey") % 7 === 0).dropDuplicates("l_orderkey")
      .withColumn("l_partkey", nullPart)
    val newKey = li.agg(max(col("l_orderkey"))).first().getLong(0) + 1
    val lone = li.limit(1).withColumn("l_orderkey", lit(newKey)).withColumn("l_partkey", nullPart)
    li.unionByName(extra).unionByName(lone).write.parquet(s"$dir/lineitem.parquet")
    val base = Stats.marketBasket(spark, sfDir).collect()
    val withNulls = Stats.marketBasket(spark, dir).collect()
    def counts(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(base.nonEmpty)
    assert(counts(withNulls) === counts(base))
    // the lone order counts in n_orders, so every lift scales by (n+1)/n
    val n = li.select("l_orderkey").distinct().count().toDouble
    withNulls.zip(base).foreach { case (w, b) =>
      assert(math.abs(w.getDouble(5) - b.getDouble(5) * (n + 1) / n) < 1e-5)
    }
  }

  test("market basket: HOF pair generation == self-join pair generation") {
    val b = graft.io.Sources.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val hof = b.groupBy(col("l_orderkey"))
      .agg(array_sort(collect_set(col("l_partkey"))).as("parts"))
      .select(explode(flatten(transform(col("parts"), (x, i) =>
        transform(slice(col("parts"), i + lit(2), size(col("parts"))),
                  y => struct(x.as("a"), y.as("b")))))).as("p"))
      .select(col("p.a"), col("p.b")).groupBy("a", "b").count()
    val sj = b.as("x").join(b.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey") &&
        col("x.l_partkey") < col("y.l_partkey"))
      .select(col("x.l_partkey").as("a"), col("y.l_partkey").as("b"))
      .groupBy("a", "b").count()
    assert(hof.exceptAll(sj).count() === 0)
    assert(sj.exceptAll(hof).count() === 0)
  }

  test("zipf: slope negative, r2 in [0,1], ranks = min(500, vocab)") {
    val r = Stats.zipfSlope(spark, sfDir).collect()(0)
    val vocab = graft.io.Sources.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "").distinct.count()
    assert(r.getLong(0) === math.min(500L, vocab))
    assert(r.getDouble(1) < 0, "frequency must fall with rank")
    assert(r.getDouble(3) >= 0 && r.getDouble(3) <= 1)
  }

  test("benford: 9 digits, shares sum to 1, expectation matches the closed form") {
    val rows = Stats.benford(spark, sfDir).collect()
    assert(rows.map(_.getInt(0)).toSeq === (1 to 9))
    assert(math.abs(rows.map(_.getDouble(2)).sum - 1.0) < 1e-4)
    rows.foreach { r =>
      assert(math.abs(r.getDouble(3) - math.log10(1.0 + 1.0 / r.getInt(0))) < 1e-6)
    }
  }

  test("skyline: frontier equals the brute-force non-dominated set") {
    val rows = Stats.skyline(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val pts = graft.io.Sources.part(spark, sfDir)
      .select((col("p_retailprice").cast("decimal(18,2)") * 100).cast("long").as("c"),
              col("p_size").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = pts.distinct.filter { case (p, sz) =>
      !pts.exists { case (q, qs) =>
        q <= p && qs >= sz && (q < p || qs > sz)
      }
    }.sorted
    assert(rows.toSeq.sorted === brute.toSeq)
    // frontier is strictly increasing in size as price rises
    rows.sliding(2).foreach {
      case Array(a, b) => assert(a._1 < b._1 && a._2 < b._2)
      case _ =>
    }
  }

  test("mad outliers: scores exceed the gate; MAD robust to the outliers themselves") {
    val rows = Stats.madOutliers(spark, sfDir).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getDouble(2) > 1.8))
    // no segment flags a majority of its rows (robustness sanity)
    val segSizes = graft.io.Sources.customer(spark, sfDir)
      .groupBy("c_mktsegment").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.groupBy(_.getString(1)).foreach { case (seg, rs) =>
      assert(rs.length < segSizes(seg) / 2, s"$seg flags too many")
    }
  }

  test("gini: in [0,1); equal spends give 0; concentration raises it") {
    val rows = Stats.gini(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getDouble(2) >= 0.0 && r.getDouble(2) < 1.0))
    // hand check: equal values -> 0, one-takes-all -> (n-1)/n
    import spark.implicits._
    def g(vals: Seq[Long]): Double = {
      val sorted = vals.sorted
      val n = sorted.length.toLong
      val tot = sorted.sum
      val weighted = sorted.zipWithIndex.map { case (x, i) => (2L * (i + 1) - 1) * x }.sum
      (weighted - n * tot).toDouble / (n * tot).toDouble
    }
    assert(math.abs(g(Seq(5, 5, 5, 5))) < 1e-12)
    assert(math.abs(g(Seq(0, 0, 0, 12)) - 0.75) < 1e-12)
  }

  test("pareto top-n: head covers >= 80% of spend and removing one row drops below") {
    val rows = Stats.paretoTopN(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // brute force per segment on the tiny fixture
    val spend = graft.io.Sources.orders(spark, sfDir)
      .join(graft.io.Sources.customer(spark, sfDir),
            col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("c_custkey"))
      .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 100).cast("long").as("c"))
      .collect().groupBy(_.getString(0))
    rows.foreach { r =>
      val seg = r.getString(0)
      val cents = spend(seg).map(_.getLong(2)).sorted.reverse
      val total = cents.sum
      val k = r.getLong(2).toInt
      assert(cents.take(k).sum * 5 >= total * 4, s"$seg: head does not cover 80%")
      if (k > 1) assert(cents.take(k - 1).sum * 5 < total * 4, s"$seg: head not minimal")
      assert(r.getLong(1) === cents.length.toLong)
    }
  }

  test("freshness: lag zero for the freshest stream, all lags non-negative") {
    val rows = Stats.freshness(spark, sfDir).collect()
    assert(rows.length === 5)
    assert(rows.count(_.getLong(3) == 0L) >= 1)
    assert(rows.forall(_.getLong(3) >= 0L))
    assert(rows.map(_.getLong(1)).sum === graft.io.Sources.events(spark, sfDir).count())
  }

  test("source similarity: cosines in (0,1]; self-pair excluded; matrix complete") {
    val rows = Stats.sourceSimilarity(spark, sfDir).collect()
    val nSrc = graft.io.Sources.documents(spark, sfDir)
      .select("source").distinct.count().toInt
    assert(rows.length === nSrc * (nSrc - 1) / 2)
    rows.foreach { r =>
      assert(r.getString(0) < r.getString(1))
      assert(r.getDouble(2) > 0.0 && r.getDouble(2) <= 1.0)
    }
    // a source is perfectly similar to itself (sanity of the formula):
    // rebuild one source's vector and check cos(v, v) == 1
    val c = graft.io.Sources.documents(spark, sfDir)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "").groupBy("source", "tok").count()
      .filter(col("source") === "src0").collect().map(_.getLong(2))
    val dot = c.map(x => x * x).sum.toDouble
    assert(math.abs(dot / math.sqrt(dot * dot) - 1.0) < 1e-12)
  }

  test("weighted median: equals the brute-force expansion median; lower-median convention") {
    val rows = Stats.weightedMedian(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // brute force: expand each (price, qty) into qty copies, take the lower median
    import org.apache.spark.sql.functions._
    val raw = graft.io.Sources.lineitem(spark, sfDir)
      .select(col("l_returnflag"), graft.Det.cents(col("l_extendedprice")).as("p"),
              col("l_quantity").cast("long").as("q")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    rows.foreach { r =>
      val flag = r.getString(0)
      val expanded = raw.filter(_._1 == flag)
        .flatMap { case (_, p, q) => Seq.fill(q.toInt)(p) }.sorted
      val w = expanded.length.toLong
      // lower weighted median = element at ceil(W/2) in 1-based order
      val med = expanded(((w + 1) / 2 - 1).toInt)
      assert(math.abs(r.getDouble(1) - med / 100.0) < 1e-6,
        s"$flag: got ${r.getDouble(1)}, brute ${med / 100.0}")
      assert(r.getLong(2) === w)
    }
  }

  test("psi: non-negative, equals the driver-side smoothed computation") {
    import org.apache.spark.sql.functions._
    val e = graft.io.Sources.events(spark, sfDir)
      .select(col("event_type"),
        (datediff(col("ts").cast("date"), lit("1970-01-01").cast("date")) <= 19737).as("a"),
        least(lit(9L), floor(graft.Det.cents(col("value")) / 1000L)).cast("long").as("band"))
      .collect().map(r => (r.getString(0), r.getBoolean(1), r.getLong(2)))
    val got = graft.ops.Stats.psi(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    e.groupBy(_._1).foreach { case (tpe, rows) =>
      val bands = rows.map(_._3).distinct
      val na = rows.count(_._2).toLong; val nb = rows.count(!_._2).toLong
      val psi = bands.map { b =>
        val ca = rows.count(r => r._2 && r._3 == b).toLong
        val cb = rows.count(r => !r._2 && r._3 == b).toLong
        val p = (ca + 1).toDouble / (na + 10); val q = (cb + 1).toDouble / (nb + 10)
        (p - q) * math.log(p / q)
      }.sum
      assert(psi >= -1e-12, "PSI is a sum of non-negative terms")
      assert(math.abs(got(tpe) - psi) < 1e-4, s"$tpe: ${got(tpe)} vs $psi")
    }
  }

  /** Driver-side tie-averaged ranks (the textbook definition the two-phase
    * pipeline must reproduce). */
  private def avgRanks(v: Array[Long]): Array[Double] = {
    val idx = v.zipWithIndex.sortBy(_._1)
    val out = new Array[Double](v.length)
    var i = 0
    while (i < idx.length) {
      var j = i
      while (j + 1 < idx.length && idx(j + 1)._1 == idx(i)._1) j += 1
      val ar = (i + 1 + j + 1) / 2.0
      (i to j).foreach(k => out(idx(k)._2) = ar)
      i = j + 1
    }
    out
  }

  test("spearman: rho in [-1,1]; equals brute-force tie-averaged-rank Pearson") {
    val r = Stats.spearman(spark, sfDir).collect()(0)
    val (n, rho) = (r.getLong(0), r.getDouble(2))
    assert(n > 0 && rho >= -1.0 && rho <= 1.0)
    val per = graft.io.Sources.orders(spark, sfDir)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("x"), sum(graft.Det.cents(col("o_totalprice"))).as("y"))
      .collect().map(row => (row.getLong(1), row.getLong(2)))
    val rx = avgRanks(per.map(_._1))
    val ry = avgRanks(per.map(_._2))
    val mx = rx.sum / rx.length; val my = ry.sum / ry.length
    val num = rx.indices.map(i => (rx(i) - mx) * (ry(i) - my)).sum
    val den = math.sqrt(rx.map(a => (a - mx) * (a - mx)).sum) *
              math.sqrt(ry.map(a => (a - my) * (a - my)).sum)
    assert(math.abs(rho - num / den) < 1e-6, s"engine rho=$rho brute=${num / den}")
  }

  test("runs test: n1/n2/R equal the brute sweep; z sign matches run structure") {
    import org.apache.spark.sql.functions._
    val daily = graft.io.Sources.events(spark, sfDir)
      .select(col("event_type"),
        datediff(col("ts").cast("date"), lit("1970-01-01").cast("date")).as("d"))
      .groupBy("event_type", "d").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    val got = Stats.runsTest(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    daily.groupBy(_._1).foreach { case (tpe, rows) =>
      val series = rows.sortBy(_._2).map(_._3)
      val moves = series.sliding(2).collect {
        case Array(a, b) if b != a => if (b > a) 1 else -1
      }.toSeq
      val n1 = moves.count(_ == 1).toLong
      val n2 = moves.count(_ == -1).toLong
      if (n1 > 0 && n2 > 0) {
        val runs = 1L + moves.sliding(2).count { case Seq(a, b) => a != b; case _ => false }
        val (gn1, gn2, gr, gz) = got(tpe)
        assert((gn1, gn2, gr) == ((n1, n2, runs)), s"$tpe: ($gn1,$gn2,$gr) vs ($n1,$n2,$runs)")
        val n = (n1 + n2).toDouble
        val mu = 1 + 2.0 * n1 * n2 / n
        assert(math.signum(gz) == math.signum(runs - mu) || gz == 0.0, s"$tpe z sign")
      } else assert(!got.contains(tpe), s"$tpe single-signed must be excluded")
    }
  }

  test("mannwhitney: U equals the brute pair count; U1 + U2 = n1*n2") {
    val r = Stats.mannWhitney(spark, sfDir).collect()(0)
    val (n1, n2, u) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    assert(u >= 0.0 && u <= (n1 * n2).toDouble)
    val c = graft.io.Sources.customer(spark, sfDir)
      .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
      .select(col("c_mktsegment"), graft.Det.cents(col("c_acctbal")).as("v"))
      .collect().map(row => (row.getString(0), row.getLong(1)))
    val a = c.filter(_._1 == "BUILDING").map(_._2)
    val b = c.filter(_._1 == "MACHINERY").map(_._2)
    // U1 = #(a > b) pairs + half the ties (sf0.001 is small enough for n1*n2)
    val brute = a.map(x => b.count(x > _) + 0.5 * b.count(x == _)).sum
    assert(math.abs(u - brute) < 1e-9, s"engine U=$u brute=$brute")
  }

  private def segCents(): Array[(String, Long)] =
    graft.io.Sources.customer(spark, sfDir)
      .select(col("c_mktsegment"), graft.Det.cents(col("c_acctbal")).as("v"))
      .collect().map(r => (r.getString(0), r.getLong(1)))

  test("anova: F and eta_sq match the brute decomposition") {
    val r = Stats.anova(spark, sfDir).collect()(0)
    val (k, n, f, eta) = (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))
    val c = segCents()
    val groups = c.groupBy(_._1).map { case (_, xs) => xs.map(_._2.toDouble).toSeq }.toSeq
    assert(k == groups.length && n == c.length)
    val grand = c.map(_._2.toDouble).sum / n
    val ssb = groups.map(g => g.length * math.pow(g.sum / g.length - grand, 2)).sum
    val ssw = groups.map(g => { val m = g.sum / g.length; g.map(x => (x - m) * (x - m)).sum }).sum
    val bruteF = (ssb / (k - 1)) / (ssw / (n - k))
    assert(math.abs(f - bruteF) / bruteF < 1e-6, s"F $f vs $bruteF")
    assert(math.abs(eta - ssb / (ssb + ssw)) < 1e-6)
    assert(eta > 0.0 && eta < 1.0)
  }

  test("kruskal-wallis: H matches the brute average-rank computation") {
    val r = Stats.kruskalWallis(spark, sfDir).collect()(0)
    val (k, n, h) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    val c = segCents()
    assert(n == c.length)
    // pooled average ranks with ties
    val sorted = c.map(_._2).sorted
    val avgRank = sorted.zipWithIndex.groupBy(_._1).map { case (v, xs) =>
      v -> (xs.map(_._2 + 1).sum.toDouble / xs.length)
    }
    val bySeg = c.groupBy(_._1)
    assert(k == bySeg.size)
    val rr = bySeg.values.map { xs =>
      val rsum = xs.map(x => avgRank(x._2)).sum
      rsum * rsum / xs.length
    }.sum
    val hRaw = 12.0 / (n * (n + 1.0)) * rr - 3.0 * (n + 1.0)
    val tsum = c.groupBy(_._2).values.map(g => math.pow(g.length.toDouble, 3) - g.length).sum
    val bruteH = hRaw / (1.0 - tsum / (math.pow(n.toDouble, 3) - n))
    assert(math.abs(h - bruteH) < 1e-4, s"H $h vs $bruteH")
  }

  test("hhi: concentration matches the brute share computation; bounds hold") {
    val li = graft.io.Sources.lineitem(spark, sfDir)
      .select(col("l_suppkey"), graft.Det.cents(col("l_extendedprice")).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val nat = graft.io.Sources.supplier(spark, sfDir)
      .join(graft.io.Sources.nation(spark, sfDir),
            col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val bySupp = li.groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).sum }
    val rows = Stats.hhi(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (name, nSupp, tot, hhi, top) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))
      val ss = bySupp.filter { case (s, _) => nat.get(s).contains(name) }.values.toSeq
      assert(nSupp == ss.length && tot == ss.sum)
      val shares = ss.map(_.toDouble / ss.sum)
      assert(math.abs(hhi - shares.map(x => x * x).sum) < 1e-5, s"$name hhi")
      assert(math.abs(top - shares.max) < 1e-6)
      // HHI bounds: 1/n (perfectly even) .. 1 (monopoly)
      assert(hhi >= 1.0 / nSupp - 1e-9 && hhi <= 1.0 + 1e-9)
      assert(top >= hhi - 1e-9) // top share >= HHI always
    }
  }

  test("k-anonymity: histogram conserves rows and classes vs the brute QI census") {
    val c = graft.io.Sources.customer(spark, sfDir)
      .select(col("c_nationkey"), col("c_mktsegment"),
        floor(graft.Det.cents(col("c_acctbal")) / 100000.0).cast("long").as("band"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    val classes = c.groupBy(identity).map(_._2.length)
    val brute = classes.groupBy(identity).map { case (sz, xs) => sz.toLong -> xs.size.toLong }
    val rows = Stats.kAnonymity(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(r => r._1 -> r._2).toMap == brute, "class-size histogram")
    assert(rows.map(_._3).sum == c.length, "histogram must conserve rows")
    assert(rows.forall(r => r._3 == r._1 * r._2))
    assert(rows.map(_._1).toSeq == rows.map(_._1).toSeq.sorted, "ordered by class size")
  }

  test("rate shift: split counts conserve totals; z sign follows the rate difference") {
    val rows = Stats.rateShift(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val totals = graft.io.Sources.events(spark, sfDir)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val (tpe, n1, n2, t1, t2, z) = (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))
      assert(n1 + n2 == totals(tpe), s"$tpe: split must conserve the census")
      assert(t1 > 0 && t2 > 0)
      val diff = n1.toDouble / t1 - n2.toDouble / t2
      assert(diff == 0.0 || math.signum(z) == math.signum(diff), s"$tpe z sign")
    }
  }
}
