package org.apache.spark.rdd

/** Accessor for `RDD.isLocallyCheckpointed`, which is `private[spark]`.
  * The bench/verify inter-query block sweep (graft.Harness.sweepCheckpoints)
  * needs to distinguish localCheckpoint blocks (transient per-query
  * lineage cuts it should reclaim) from Dataset-cache blocks backing
  * memoized artifacts (session-lifetime, must survive) — both report
  * the same storage level, so the checkpoint flag is the only reliable
  * discriminator. No behavior lives here; it only re-exports the flag.
  */
object GraftRddInspect {
  def isLocallyCheckpointed(rdd: RDD[_]): Boolean = rdd.isLocallyCheckpointed
}
