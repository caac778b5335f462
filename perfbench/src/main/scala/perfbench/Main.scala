package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def read(p: Path): Any = mapper.readValue(p.toFile, classOf[Any])
  def write(p: Path, v: Any): Unit = mapper.writeValue(p.toFile, v)
}

/** One op as it ran: set-up warm pass or timed loop. */
final case class OpRecord(op: Long, index: Int, phase: String, startMs: Double,
    ms: Double, cpuMs: Double, out: Option[OpOut], error: Option[String]) {
  def toMap: Map[String, Any] = Map(
    "op" -> op, "index" -> index, "phase" -> phase, "start_ms" -> startMs,
    "ms" -> ms, "cpu_ms" -> cpuMs, "error" -> error.orNull) ++ out.map { o =>
    Map("kind" -> o.kind, "key" -> o.key, "rows" -> o.rows, "hash" -> o.hash,
      "result" -> o.result.orNull, "extra" -> o.extra)
  }.getOrElse(Map.empty)
}

/** The benchmark's JVM side: one workload, closed loop, one client
  * thread. It writes everything it measured to a results file; the
  * Python front end checks outputs and derives the metrics.
  *
  * Usage: perfbench.Main --workload W --inputs DIR --work DIR --out FILE
  *          --seconds S --trace 0|1 --cpus N [--break-op I]
  */
object Main {

  def describe(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(300)}"

  /** CPU time of the whole process (every thread: Spark's scheduler and
    * executors, JIT, GC), in ms.
    */
  def processCpuMs(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e6
      case _ => Double.NaN
    }

  def session(cpus: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workloads(opts("workload"))
    val inputs = Paths.get(opts("inputs")).toAbsolutePath
    val work = Paths.get(opts("work")).toAbsolutePath
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val breakOp = opts.get("break-op").map(_.toInt).getOrElse(-1)
    Files.createDirectories(work)

    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(opts("cpus").toInt, work)
    val sessionMs = (System.currentTimeMillis() - jvmStart).toDouble
    val sessionCpuMs = processCpuMs()
    val base = System.nanoTime()
    def msSince(t: Long): Double = (t - base) / 1e6

    val tracer = new Tracer(spark.sparkContext, traced)
    val manifest = Json.read(inputs.resolve("manifest.json")).asInstanceOf[Map[String, Any]]
    val ctx = new Ctx(spark, tracer, inputs, work, manifest)
    val records = mutable.ArrayBuffer.empty[OpRecord]
    var nextOp = 0L

    def run(i: Int, phase: String): OpRecord = {
      nextOp += 1
      val id = nextOp
      val c0 = processCpuMs()
      val t0 = System.nanoTime()
      val res = try Right(tracer.span("op", id) {
        if (i == breakOp) throw new IllegalStateException(s"op $i deliberately broken")
        workload.op(ctx, i, id)
      }) catch { case e: Throwable => Left(describe(e)) }
      val t1 = System.nanoTime()
      val r = OpRecord(id, i, phase, msSince(t0), (t1 - t0) / 1e6, processCpuMs() - c0,
        res.toOption, res.left.toOption)
      records += r
      r
    }

    val setupCpu0 = processCpuMs()
    val i0 = System.nanoTime()
    workload.init(ctx)
    val initMs = (System.nanoTime() - i0) / 1e6
    val w0 = System.nanoTime()
    workload.warmOps.foreach(run(_, "warm"))
    workload.afterWarm(ctx)
    System.gc()
    val warmMs = (System.nanoTime() - w0) / 1e6
    val setupCpuMs = sessionCpuMs + processCpuMs() - setupCpu0

    val loopStart = System.nanoTime()
    val deadline = loopStart + (seconds * 1e9).toLong
    var i = workload.firstTimed
    while (workload.hasOp(i) &&
        (System.nanoTime() < deadline || !workload.canStopAfter(i - 1))) {
      run(i, "timed")
      i += 1
    }
    val loopMs = (System.nanoTime() - loopStart) / 1e6

    val checks = try workload.check(ctx)
      catch { case e: Throwable => Map("check_error" -> describe(e)) }

    val storage = spark.sparkContext.getRDDStorageInfo
    val counts = tracer.counts
    val result = Map(
      "workload" -> opts("workload"),
      "cpus" -> opts("cpus").toInt,
      "traced" -> traced,
      "setup" -> Map("session_ms" -> sessionMs, "init_ms" -> initMs, "warm_ms" -> warmMs,
        "cpu_ms" -> setupCpuMs),
      "loop_ms" -> loopMs,
      "ops" -> records.map(_.toMap).toSeq,
      "store" -> Map(
        "cached_blocks" -> storage.map(_.numCachedPartitions.toLong).sum,
        "cached_bytes" -> storage.map(s => s.memSize + s.diskSize).sum),
      "spans" -> tracer.recorded.map(s => Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "op" -> s.op, "start_ms" -> msSince(s.start),
        "end_ms" -> msSince(s.end))),
      "counts" -> counts.map { case (k, v) => k.toString -> v },
      "catalyst" -> Catalyst.recorded.map { case (k, v) => k.toString -> v }
    ) ++ checks
    Json.write(Paths.get(opts("out")), result)
    tracer.close()
    spark.stop()
  }
}
