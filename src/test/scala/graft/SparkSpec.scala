package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for the suite (one JVM per `sbt test` run;
  * built by [[Harness.session]] like every main's session).
  */
object SparkSpec {
  lazy val session: SparkSession = Harness.session(cpus = 4, conf = Map(
    // Test-scale streaming queries live for seconds but the state
    // store maintenance/snapshot-upload cadence is sized for
    // long-running production streams, so the coordinator's
    // snapshot-lag WARN fires for every stateful test query — and a
    // query leaked past its awaitTermination timeout on a loaded box
    // spams it in a tight loop until the suite's time budget runs out
    // (the round-16 test log tail was 100% this warning). The report is
    // diagnostic-only; the leak itself is closed by afterEach below.
    "spark.sql.streaming.stateStore.coordinatorReportSnapshotUploadLag" -> "false"))
}

trait SparkSpec extends AnyFunSuite
    with org.scalatest.BeforeAndAfterEach {
  lazy val spark: SparkSession = SparkSpec.session

  /** A streaming test that timed out of `awaitTermination(ms)` on a
    * loaded box leaves its query RUNNING — it then competes with every
    * later test for the 4 local cores (each next await slower, so the
    * whole suite can crawl past the harness budget: the r16 driver's
    * tests_ok:false). No test in this repo intends a query to outlive
    * it, so stop stragglers unconditionally between tests.
    */
  override protected def afterEach(): Unit = {
    try SparkSpec.session.streams.active.foreach { q =>
      try q.stop() catch { case _: Throwable => () }
    } catch { case _: Throwable => () }
    super.afterEach()
  }

  /** Smallest driver-generated fixture — fast enough for unit tests. */
  val sfDir = "/root/testdata/sf0.001"

  /** Write a table into a temp dir laid out like a scale-factor dir, so
    * `(spark, dir)` operators run on injected fixtures.
    */
  def tempTableDir(name: String, df: DataFrame): String = {
    val dir = Files.createTempDirectory("graft-spec").toString
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    dir
  }

  def checkScalaCheck(prop: org.scalacheck.Prop, minTests: Int = 20): Unit = {
    val params = org.scalacheck.Test.Parameters.default
      .withMinSuccessfulTests(minTests)
    val res = org.scalacheck.Test.check(params, prop)
    assert(res.passed, res.status.toString)
  }
}
