package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Relational

class RelationalSpec extends AnyFunSuite with SparkFixture {

  test("pricing summary: one row per (returnflag, linestatus), positive sums") {
    val rows = Relational.pricingSummary(spark, sfDir).collect()
    assert(rows.length === 6)
    assert(rows.forall(r => r.getDouble(r.fieldIndex("sum_qty")) > 0))
    assert(rows.forall(r => r.getLong(r.fieldIndex("count_order")) > 0))
  }

  test("pricing summary: filter is pushed to the parquet scan") {
    val p = plan(Relational.pricingSummary(spark, sfDir))
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), LessThanOrEqual(l_quantity,45.0)]"),
      s"expected quantity pushdown in:\n$p")
  }

  test("predicates: all filters hold on every returned row") {
    val rows = Relational.predicates(spark, sfDir).collect()
    assert(rows.nonEmpty)
    assert(rows.forall { r =>
      val seg = r.getString(r.fieldIndex("c_mktsegment"))
      val bal = r.getDouble(r.fieldIndex("c_acctbal"))
      Seq("AUTOMOBILE", "BUILDING", "MACHINERY").contains(seg) && bal >= 1000 && bal <= 9000
    })
  }

  test("conditional: labels cover the status domain") {
    val labels = Relational.conditional(spark, sfDir)
      .select("status_label").distinct().collect().map(_.getString(0)).toSet
    assert(labels.subsetOf(Set("finished", "open", "pending")))
  }

  test("rollup row count = leaf groups + statuses + grand total") {
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
    val leaves = o.select("o_orderstatus", "o_orderpriority").distinct().count()
    val statuses = o.select("o_orderstatus").distinct().count()
    assert(Relational.aggRollup(spark, sfDir).count() === leaves + statuses + 1)
  }

  test("cube row count = leaves + rf + ls + 1") {
    val l = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val leaves = l.select("l_returnflag", "l_linestatus").distinct().count()
    val rf = l.select("l_returnflag").distinct().count()
    val ls = l.select("l_linestatus").distinct().count()
    assert(Relational.aggCube(spark, sfDir).count() === leaves + rf + ls + 1)
  }

  test("grouping sets: gid identifies each set; grand total row counts all") {
    val rows = Relational.aggGroupingSets(spark, sfDir).collect()
    val total = spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    val grand = rows.filter(_.getLong(2) === 3L)
    assert(grand.length === 1)
    assert(grand.head.getLong(3) === total)
  }

  test("stats: correlation within [-1, 1]; variance non-negative") {
    val rows = Relational.aggStats(spark, sfDir).collect()
    assert(rows.forall { r =>
      val c = r.getDouble(r.fieldIndex("corr_qty_price"))
      val v = r.getDouble(r.fieldIndex("var_qty"))
      c >= -1.0 && c <= 1.0 && v >= 0.0
    })
  }

  test("percentile: median within min/max of quantity") {
    val rows = Relational.aggPercentile(spark, sfDir).collect()
    assert(rows.forall { r =>
      val m = r.getDouble(r.fieldIndex("median_qty")); m >= 1.0 && m <= 50.0
    })
  }

  test("collect: nation lists are sorted and cover all 25 nations") {
    val rows = Relational.aggCollect(spark, sfDir).collect()
    val lists = rows.map(_.getString(1).split(",").toSeq)
    assert(lists.forall(l => l == l.sorted))
    assert(lists.map(_.size).sum === 25)
  }

  test("date spine: 84 complete months, zero-filled where no orders") {
    val rows = Relational.dateSpine(spark, sfDir).collect()
    assert(rows.length === 84)
    assert(rows.exists(_.getLong(1) === 0L))           // trailing empty months
    assert(rows.forall(r => r.getLong(1) >= 0L))
    assert(rows.filter(_.getLong(1) === 0L).forall(_.getDouble(2) === 0.0))
  }


  test("filtered aggregation: filtered counts bounded by group size; booleans coherent") {
    val rows = Relational.aggFiltered(spark, sfDir).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getBoolean(3)))   // all_positive on TPC-H prices
  }


  test("approx_percentile within accuracy tolerance of the exact percentile") {
    import org.apache.spark.sql.functions._
    val l = graft.io.Sources.lineitem(spark, sfDir)
    val r = l.agg(
      expr("percentile(l_extendedprice, 0.5)").as("exact"),
      expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("approx")).collect()(0)
    val (exact, approx) = (r.getDouble(0), r.getDouble(1))
    // accuracy=1000 → rank error ≤ n/1000; value error bounded loosely here
    assert(math.abs(approx - exact) / exact < 0.05, s"exact=$exact approx=$approx")
  }

  test("recursive CTE: binary-tree walk reaches every customer exactly once") {
    val rows = Relational.recursiveCte(spark, sfDir).collect()
    val n = graft.io.Sources.customer(spark, sfDir).count()
    assert(rows.map(_.getLong(1)).sum === n, "every customer at exactly one depth")
    // depth(c) = floor(log2(c)) + 1 for c >= 1, 0 for the root: level sizes
    // are the binary-tree level sizes truncated by N
    val depths = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(depths(0L) === 1L)
    assert(depths(1L) === 1L)   // node 1
    assert(depths(2L) === 2L)   // nodes 2, 3
    assert(depths(3L) === 4L)
    val maxDepth = depths.keys.max
    assert(maxDepth === (63 - java.lang.Long.numberOfLeadingZeros(n - 1)) + 1,
      s"deepest level is floor(log2(maxkey)) + 1, got $maxDepth for n=$n")
  }

  test("quantile bands: 10 bands per priority, sizes differ by <= 1, edges ordered") {
    val rows = graft.ops.Relational.quantileBands(spark, sfDir).collect()
    rows.groupBy(_.getString(0)).foreach { case (pri, band) =>
      assert(band.length === 10, s"$pri must have 10 bands")
      val ns = band.map(_.getLong(2))
      assert(ns.max - ns.min <= 1, s"$pri equi-depth: sizes $ns")
      // bands are contiguous in value: hi(b) <= lo(b+1)
      val sorted = band.sortBy(_.getLong(1))
      sorted.sliding(2).foreach { case Array(a, b) =>
        assert(a.getDouble(4) <= b.getDouble(3) + 1e-9)
      }
      sorted.foreach(r => assert(r.getDouble(3) <= r.getDouble(4)))
    }
  }
}
