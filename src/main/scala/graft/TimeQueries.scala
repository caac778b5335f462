package graft

/** Ad-hoc per-query timing harness: `runMain graft.TimeQueries q1 q2 ...`
  * times just the named registry queries against `SPARK_GRAFT_SF_DIR`
  * (default sf0.1) with the same loop as [[Bench]]: twice each, min
  * reported, checkpoint sweep after every run. This is the tight loop
  * for iterating on ONE operator's plan without running the whole
  * registry.
  */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = if (args.nonEmpty) args.toSeq else Seq("q1_pricing_summary")
    Harness.withSession { spark =>
      names.foreach { name =>
        val samples = (1 to 2).map(_ =>
          Harness.timed(Harness.drive(SparkEntry.queries(name)(spark, sfDir))))
        println(f"[time] $name%-22s min ${samples.min}%8.3f s  (runs: ${samples.map(s => f"$s%.3f").mkString("/")})")
      }
    }
  }
}
