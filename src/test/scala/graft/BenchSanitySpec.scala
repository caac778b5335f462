package graft

/** The contaminated-run guard: warmed canaries are steady-state on
  * this (test-time) box, and the instability/drift arithmetic flags
  * exactly the loaded-box signature the r9/r11 artifacts showed.
  */
class BenchSanitySpec extends SparkSpec {

  test("canaries exist in the registry and probe steady-state < 2×") {
    BenchSanity.Canaries.foreach { n =>
      assert(SparkEntry.queries.contains(n), s"canary $n not registered")
    }
    val s = BenchSanity.sample(n => Harness.drive(SparkEntry.queries(n)(spark, sfDir)))
    val inst = BenchSanity.instability(s)
    assert(inst < 2.0,
      s"warmed canaries must be steady-state on the test box: $inst ($s)")
    // self-drift: a probe against itself is exactly 1
    assert(BenchSanity.drift(s, s) === 1.0)
  }

  test("instability and drift arithmetic flag the loaded-box signature") {
    val idle = Map("a" -> ((0.50, 0.52)), "b" -> ((0.30, 0.31)),
      "c" -> ((0.40, 0.40)))
    assert(BenchSanity.instability(idle) < 1.1)
    // transient contention: one canary's second run inflates 4×
    val burst = idle + ("b" -> ((0.30, 1.20)))
    assert(BenchSanity.instability(burst) === 4.0)
    // load arriving mid-bench: every post-probe best time inflates
    val post = idle.view.mapValues { case (a, b) => (a * 3, b * 3) }.toMap
    assert(math.abs(BenchSanity.drift(idle, post) - 3.0) < 1e-9)
    assert(math.abs(BenchSanity.drift(post, idle) - 1.0 / 3) < 1e-9)
  }
}
