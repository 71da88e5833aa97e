package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Det.r6
import graft.ops.Similarity

/** Exact reference forms that suites compare graft's operators against.
  * They are test oracles, not engine API: no declared key calls them.
  */
object Reference {

  /** Brute-force cosine top-k of every probe over the whole corpus:
    * (probe_id, vec_id, label, sim, rn ≤ k), ties broken by vec_id.
    */
  def bruteForceTopK(corpus: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("probe_id")).orderBy(col("sim").desc, col("vec_id"))
    corpus.crossJoin(broadcast(probes))
      .select(col("probe_id"), col("vec_id"), col("label"),
              r6(Similarity.cosineNative(col("embedding"), col("probe_emb"))).as("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
  }
}
