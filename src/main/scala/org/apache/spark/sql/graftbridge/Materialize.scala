package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.DataFrame

/** The one place graft materializes a frame; every `localCheckpoint` in
  * graft goes through here.
  *
  * What a local checkpoint does under AQE, the session default: the call
  * runs the frame's shuffle map stages at once, lazy form included, and
  * the result is a `Scan ExistingRDD` that declares `UnknownPartitioning`,
  * so a join or aggregate over it on the key it was hashed by plans a new
  * exchange. Blocks live on the executor that computed them, unreplicated.
  *
  * This object sits in a Spark package on purpose: Spark's call-site
  * capture skips `org.apache.spark.sql` frames, so a job started here is
  * labelled `reuse at <Caller>.scala:<line>`, naming the graft site.
  */
object Materialize {

  /** A frame that several consumers read (or a loop reads every round):
    * computed once, on first use, then read from blocks. */
  def reuse(df: DataFrame): DataFrame = df.localCheckpoint(eager = false)

  /** A frame fully computed before this call returns: for a caller that
    * then overwrites what the frame read, or leaves a conf window the
    * frame must be planned and run under. */
  def snapshot(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)
}
