package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Table statistics collection — the ANALYZE / pg_stats reflection surface
  * (postpy admin.py reads server catalogs [unverified, SURVEY §0]; a Spark
  * engine computes its own): per-column null counts and distinct counts
  * in one distributed aggregate.
  *
  * These are exactly the inputs cost-based decisions need (broadcast-side
  * selection, bucketing keys, partition-count sizing) when file-level
  * statistics are absent or stale.
  */
object Statistics {

  /** EXACT per-column profile in ONE distributed plan (no collect, no
    * per-column jobs): null count + exact NDV per column, pivoted to long
    * format by a codegen'd stack(). Exact NDV over many columns costs an
    * Expand (one shuffle leg per distinct) — that is ANALYZE's price;
    * approx_count_distinct would be the constant-memory alternative at
    * 100 TB. This form is deterministic, so it is the one under the
    * oracle gate (q_table_stats); min/max stay out of the declared output
    * because engine string renderings of doubles/timestamps differ.
    */
  def tableStatsExact(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(
        coalesce(sum(when(col(c).isNull, 1L).otherwise(0L)), lit(0L)).as(s"__nulls_$c"),
        countDistinct(col(c)).as(s"__ndv_$c"))
    }
    val stackArgs = cols.map(c => s"'$c', __nulls_$c, __ndv_$c").mkString(", ")
    df.agg(aggs.head, aggs.tail: _*)
      .select(expr(s"stack(${cols.length}, $stackArgs) AS (col_name, n_nulls, n_distinct)"))
      .orderBy(col("col_name"))
  }
}
