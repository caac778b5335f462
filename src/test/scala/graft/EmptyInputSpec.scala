package graft

import java.nio.file.Files

/** Every registered query must run (not crash) over EMPTY tables —
  * the first micro-batch / cold-index / fresh-cluster case. Operators
  * with eager bound fetches (trailing windows) and driver-side
  * literals are the usual suspects: a `.head()` on an empty aggregate
  * yields null, and anything that assumes a row exists dies here
  * before it dies in production.
  */
class EmptyInputSpec extends SparkSpec {

  private lazy val emptyDir: String = {
    val dir = Files.createTempDirectory("graft-empty").toString
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings")) {
      spark.read.parquet(s"$sfDir/$t.parquet").limit(0)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    dir
  }

  test("every query runs over empty tables without throwing") {
    graft.sources.IndexStore.release(spark)
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try { fn(spark, emptyDir).collect(); None }
        catch { case e: Throwable =>
          Some(s"$name: ${e.getClass.getSimpleName} ${String.valueOf(e.getMessage).take(120)}")
        }
    }
    graft.sources.IndexStore.release(spark)
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
