package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  // RDD actions: exactly one job each, so the expected counts do not
  // depend on how the SQL planner splits a query into jobs
  def job(parts: Int): Long = spark.sparkContext.parallelize(1 to 100, parts).count()
  def shuffleJob(): Long = spark.sparkContext.parallelize(1 to 100, 2)
    .map(x => (x % 3, x)).reduceByKey(_ + _).count()

  test("listener attributes each job to the span current when it ran") {
    val t = new Tracer(spark.sparkContext, enabled = true)
    try {
      t.span("op", 1) {
        t.span("outer", 1) {
          job(2)
          t.span("inner", 1) {
            job(3)
            shuffleJob()
          }
        }
      }
      job(1) // outside every span: attributed to none
      val ids = t.recorded.map(s => s.name -> s.id).toMap
      val counts = t.counts
      assert(counts(ids("outer"))("jobs") == 1 && counts(ids("outer"))("tasks") == 2)
      assert(counts(ids("inner"))("jobs") == 2 && counts(ids("inner"))("stages") == 3)
      assert(counts(ids("inner"))("tasks") == 3 + 2 + 2)
      assert(counts(ids("inner"))("shuffle_write_bytes") > 0)
      assert(!counts.contains(ids("op")))
      assert(counts.values.map(_("jobs")).sum == 3)
      val parent = t.recorded.map(s => s.name -> s.parent).toMap
      assert(parent("inner") == ids("outer") && parent("outer") == ids("op") && parent("op") == -1)
      assert(spark.sparkContext.getLocalProperty(Tracer.SpanKey) == null)
    } finally t.close()
  }

  test("a failing body still closes its span and restores the parent") {
    val t = new Tracer(spark.sparkContext, enabled = true)
    try {
      t.span("op", 2) {
        intercept[IllegalStateException](t.span("broken", 2)(throw new IllegalStateException("x")))
        job(2)
      }
      val ids = t.recorded.map(s => s.name -> s.id).toMap
      assert(t.recorded.map(_.name).toSet == Set("op", "broken"))
      assert(t.counts(ids("op"))("jobs") == 1)
    } finally t.close()
  }

  test("a disabled tracer records nothing and runs the body") {
    val t = new Tracer(spark.sparkContext, enabled = false)
    assert(t.span("op", 1)(41 + 1) == 42)
    assert(t.recorded.isEmpty && t.counts.isEmpty)
  }
}
