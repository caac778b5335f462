package graft.sources

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one owner of every built-once-per-session index artifact:
  * persisted frames ([[frame]]: signatures, postings, IVF codebooks,
  * rank tables) and driver-side values collected from them ([[value]]:
  * BM25 corpus statistics, the IVF corpus count).
  *
  * Entries are keyed by (session, dir, artifact name), the session being
  * the `SparkSession` object itself (it does not override `equals`, so
  * this is reference identity). They live until [[release]], or until
  * the session's SparkContext stops (swept on the next access). A
  * weak-keyed map would not work: a persisted DataFrame strongly
  * references its session, so the key would never become unreachable.
  */
object IndexStore {

  private type Key = (SparkSession, String, String)

  private val entries = TrieMap.empty[Key, Any]

  /** One build lock per key: Bench's warmup builds from a thread pool,
    * and a bare `getOrElseUpdate` can evaluate `build` twice for one key,
    * leaking the loser's persisted frame. Different keys still build
    * concurrently.
    */
  private val locks = TrieMap.empty[Key, Object]

  private def sweepStopped(): Unit = {
    entries.filterInPlace { case ((s, _, _), _) => !s.sparkContext.isStopped }
    locks.filterInPlace { case ((s, _, _), _) => !s.sparkContext.isStopped }
  }

  private def getOrBuild[T](spark: SparkSession, dir: String, name: String)
      (build: => T): T = {
    sweepStopped()
    val k = (spark, dir, name)
    entries.get(k) match {
      case Some(v) => v.asInstanceOf[T]
      case None =>
        locks.getOrElseUpdate(k, new Object).synchronized {
          entries.getOrElseUpdate(k, build).asInstanceOf[T]
        }
    }
  }

  /** The frame `build` returns, persisted MEMORY_AND_DISK once per
    * (session, dir, name); later calls return the same object.
    */
  private[graft] def frame(spark: SparkSession, dir: String, name: String)
      (build: => DataFrame): DataFrame =
    getOrBuild(spark, dir, name)(build.persist(StorageLevel.MEMORY_AND_DISK))

  /** A driver-side value computed once per (session, dir, name). */
  private[graft] def value[T](spark: SparkSession, dir: String, name: String)(build: => T): T =
    getOrBuild(spark, dir, name)(build)

  /** Forget every artifact of `spark` and unpersist its frames. Two
    * sessions of one SparkContext that persist the same (dir, name) share
    * ONE CacheManager entry, so a frame's blocks are released only when
    * no sibling session still holds the same (dir, name).
    */
  def release(spark: SparkSession): Unit = {
    locks.filterInPlace { case ((s, _, _), _) => s ne spark }
    entries.keys.filter(_._1 eq spark).foreach { k =>
      entries.remove(k).foreach {
        case df: Dataset[_] =>
          val sharedWithSibling = entries.keys.exists(o =>
            (o._1 ne spark) && o._2 == k._2 && o._3 == k._3)
          if (!sharedWithSibling) df.unpersist(blocking = false)
        case _ => ()
      }
    }
  }

  /** Ids of the localCheckpoint RDDs this session's frames scan. Such a
    * block is the ONLY copy of its partition, so
    * [[graft.Harness.sweepCheckpoints]] must keep it: a cached partition
    * that recomputes later would fail with a missing-block error.
    */
  private[graft] def pinnedRddIds(spark: SparkSession): Set[Int] =
    entries.readOnlySnapshot().toSeq.collect {
      case ((s, _, _), df: Dataset[_]) if s eq spark => df
    }.flatMap { df =>
      df.queryExecution.analyzed.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
      }
    }.toSet

  /** Number of artifacts (frames and values) `spark` holds. */
  private[graft] def entriesFor(spark: SparkSession): Int = {
    sweepStopped()
    entries.keys.count(_._1 eq spark)
  }

  /** The artifact names `spark` holds (WarmupSpec's coverage check). */
  private[graft] def keysFor(spark: SparkSession): Set[String] = {
    sweepStopped()
    entries.keys.collect { case (s, _, k) if s eq spark => k }.toSet
  }

  private[graft] def entriesTotal: Int = { sweepStopped(); entries.size }
}
