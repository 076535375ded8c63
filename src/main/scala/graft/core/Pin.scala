package graft.core

import org.apache.spark.sql.DataFrame

/** House materialize-once helper (r15, threading the r14 verdict's
  * fault-tolerance ask through the newer pin sites).
  *
  * Default (`reliable = false`): `localCheckpoint(eager)` — blocks on
  * executors, lineage truncated, cheap, NOT fault-tolerant; at 100 TB a
  * lost executor kills the query instead of recomputing. For cluster
  * deployments `reliable = true` writes a fault-tolerant checkpoint
  * instead (requires `sparkContext.setCheckpointDir`, same contract as
  * `SeqPack.assign` / `ngramJaccardPairs`).
  */
object Pin {
  def apply(df: DataFrame, reliable: Boolean, who: String): DataFrame =
    if (reliable) {
      require(df.sparkSession.sparkContext.getCheckpointDir.isDefined,
        s"$who(reliable=true) needs sparkContext.setCheckpointDir")
      df.checkpoint(eager = true)
    } else df.localCheckpoint(true)
}
