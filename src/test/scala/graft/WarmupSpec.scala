package graft

import graft.sources.IndexStore

/** Staleness guard for the bench warmup list (SparkEntry.warmups).
  *
  * The hand-maintained warmup list missed a memoized family two rounds
  * running (r6: residual PQ — emb_ivfpq_recall recorded 16.8s of memo
  * build inside its first timed sample; r7: graph — asset_closure
  * 19.5s first-touch vs 3.7s steady). This spec makes the failure mode
  * impossible to reintroduce: every memoized artifact key ANY registry
  * query builds must be touched by some warmup entry.
  *
  * Registration happens at plan-CONSTRUCTION time inside
  * IndexStore.frame/value (getOrElseUpdate runs while the DataFrame is
  * being assembled), so enumerating artifacts only needs each query's
  * builder invoked, not its job executed — the whole registry
  * constructs in seconds at sf0.001.
  */
class WarmupSpec extends SparkSpec {

  test("every warmup entry is a registry query") {
    val unknown = SparkEntry.warmups.filterNot(SparkEntry.queries.contains)
    assert(unknown.isEmpty, s"warmups not in the query registry: $unknown")
    assert(SparkEntry.warmups.distinct === SparkEntry.warmups, "duplicate warmup entries")
  }

  test("warmup list covers every memoized artifact any registry query builds") {
    // clean slate for THIS session so key sets are attributable
    IndexStore.release(spark)
    SparkEntry.warmups.foreach(n => SparkEntry.queries(n)(spark, sfDir))
    val afterWarmups = IndexStore.keysFor(spark)
    assert(afterWarmups.nonEmpty, "warmups registered no memoized artifacts at all")
    SparkEntry.queries.keys.toSeq.sorted.foreach(n => SparkEntry.queries(n)(spark, sfDir))
    val all = IndexStore.keysFor(spark)
    val uncovered = all -- afterWarmups
    assert(uncovered.isEmpty,
      s"memoized artifacts no warmup touches (add their family's query to SparkEntry.warmups): $uncovered")
  }
}
