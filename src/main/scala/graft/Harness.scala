package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, xxhash64}

import graft.sources.IndexStore

/** The session lifecycle shared by every main ([[Bench]], [[Verify]],
  * [[TimeQueries]], [[DumpPlans]], [[Run]]) and the test suite: one
  * session configuration, one full-width sink, the inter-query
  * checkpoint sweep, and teardown. A plan dumped, timed or verified by
  * any of them is therefore the same plan.
  */
object Harness {

  /** A local session on `cpus` cores (default `SPARK_GRAFT_CPUS`, else
    * 4), also used as the shuffle partition count, plus extra `conf`.
    */
  def session(cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt,
      conf: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS); set at bootstrap so
      // table loaders stay side-effect free (see Tables.events).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config(conf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run `body` in a new session, then release the session's index
    * artifacts and stop it, whether or not `body` threw.
    */
  def withSession[T](body: SparkSession => T): T = {
    val spark = session()
    try body(spark)
    finally {
      IndexStore.release(spark)
      spark.stop()
    }
  }

  /** Execute `df` through a full-width sink: hash every output column
    * and fold, so Catalyst cannot prune unreferenced columns the way a
    * bare `.count()` lets it. The fold is bit_xor, NOT sum: summing
    * 64-bit hashes overflows under ANSI mode and aborts the query.
    * `sweep` must be false when drives overlap (Bench's warmup pool): a
    * sweep would drop a concurrent query's in-flight checkpoint blocks.
    */
  def drive(df: DataFrame, sweep: Boolean = true): Unit = {
    df.select(xxhash64(df.columns.map(col): _*).as("h"))
      .agg(expr("bit_xor(h)")).head()
    if (sweep) sweepCheckpoints(df.sparkSession)
  }

  /** Wall seconds `body` takes. */
  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Block-manager hygiene between queries: every `localCheckpoint`
    * pins its blocks until the driver GC drops the RDD, and over a full
    * registry run the orphans thrash the storage pool. Drops every
    * locally-checkpointed RDD except those [[IndexStore]] frames scan
    * ([[IndexStore.pinnedRddIds]]); Dataset caches are never touched.
    */
  def sweepCheckpoints(spark: SparkSession): Unit = {
    val pinned = IndexStore.pinnedRddIds(spark)
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (org.apache.spark.rdd.GraftRddInspect.isLocallyCheckpointed(rdd) &&
          !pinned.contains(id))
        rdd.unpersist(blocking = false)
    }
  }
}
