package graft

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The mains' failure paths, driven through injected query maps: a query
  * that throws must show up in the artifact and in the success flag the
  * main turns into its exit code, never as a timed or written success.
  */
class HarnessSpec extends SparkSpec {

  // "boom" fails at ACTION time (assert_true(false) under ANSI), after
  // its plan exists
  private val queries = Map[String, (SparkSession, String) => DataFrame](
    "boom" -> ((s, _) => s.range(1).selectExpr("assert_true(id < 0) AS x")),
    "fine" -> ((s, _) => s.range(3).toDF("id")))

  private def bench(qs: Map[String, (SparkSession, String) => DataFrame],
      warmups: Seq[String]): (String, String, Boolean) = {
    val out = new ByteArrayOutputStream()
    val (json, ok) = Console.withOut(out)(Bench.run(spark, sfDir, qs, warmups))
    (out.toString.trim.linesIterator.toSeq.last, json, ok)
  }

  test("Bench records a throwing query and warmup entry as failed, outside the total") {
    val (line, json, ok) = bench(queries, Seq("fine", "boom"))
    assert(!ok)
    assert(line.startsWith("""{"metric":"total","value":"""))
    assert(line.contains("\"fine\":") && !line.contains("boom"))
    val fineSecs = """"queries":\{"boom":\{"status":"failed","error":"[\w.$]+"\},"fine":([0-9.E-]+)\}""".r
      .findFirstMatchIn(json).getOrElse(fail(s"no failed boom entry: $json")).group(1)
    assert(json.startsWith(s"""{"metric":"total","value":$fineSecs,"""),
      "the total must be the successful query's seconds alone")
    assert(""""warmup_by_entry":\{"fine":[0-9.E-]+,"boom":\{"secs":[0-9.E-]+,"status":"failed","error":"[\w.$]+"\}\}""".r
      .findFirstIn(json).nonEmpty, json)
    assert(bench(queries - "boom", Seq("fine"))._3, "an all-green run reports success")
  }

  test("Verify writes every other dump and oracle_sql.json when one dump fails") {
    val outDir = Files.createTempDirectory("graft-verify").toString
    val oracle = Map("boom" -> "SELECT 1 AS x", "fine" -> "SELECT 2 AS id")
    val ok = Console.withErr(new ByteArrayOutputStream()) {
      Verify.run(spark, sfDir, outDir, queries, oracle, None)
    }
    assert(!ok)
    assert(spark.read.parquet(s"$outDir/fine").count() === 3)
    val sql = Files.readString(Paths.get(s"$outDir/oracle_sql.json"))
    assert(sql.contains("\"boom\"") && sql.contains("\"fine\""))
    assert(Verify.run(spark, sfDir, outDir, queries, oracle, Some(Set("fine"))),
      "a run whose every dump succeeds reports success")
  }
}
