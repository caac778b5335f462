package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Bench, SparkEntry}
import graft.operators.{Assets, DslQueries}
import graft.plans.QueryDsl
import graft.sources.{AssetSink, EsShapedSink, SourceRegistry, Tables}

/** What one op hands back: its identity (`key` names the distinct op, so
  * repeats can be matched), a row count, an order-insensitive hash of its
  * full output, and whatever the output check needs.
  */
final case class OpOut(kind: String, key: String, rows: Long, hash: Long,
    result: Option[Seq[Map[String, Any]]] = None,
    extra: Map[String, Any] = Map.empty)

final class Ctx(val spark: SparkSession, val tracer: Tracer,
    val inputs: Path, val work: Path, val manifest: Map[String, Any]) {
  def span[T](name: String, op: Long)(body: => T): T = tracer.span(name, op)(body)
}

/** A closed-loop workload: set-up (untimed warm ops), the op sequence,
  * and a post-loop check pass.
  */
trait Workload {
  /** Loads the workload's inputs; part of set-up. */
  def init(ctx: Ctx): Unit
  /** Ops run untimed during set-up, by index into the op sequence. */
  def warmOps: Seq[Int]
  /** Index of the first timed op. */
  def firstTimed: Int
  def hasOp(i: Int): Boolean
  def op(ctx: Ctx, i: Int, id: Long): OpOut
  /** Untimed work between the warm pass and the timed loop. */
  def afterWarm(ctx: Ctx): Unit = ()
  /** True when the timed loop may stop after op `i` once time is up. */
  def canStopAfter(i: Int): Boolean = true
  /** Post-loop check pass; returns extra fields for the artifact. */
  def check(ctx: Ctx): Map[String, Any] = Map.empty
}

object Workloads {

  def apply(name: String): Workload = name match {
    case "search_serving" => SearchServing
    case "asset_etl" => AssetEtl
    case "asset_sync" => AssetSync
    case "library_mix" => LibraryMix
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Full-width fold of Bench.drive: xxhash64 over every column, folded
    * with bit_xor, plus the row count, in one action.
    */
  def fold(df: DataFrame): DataFrame =
    df.select(xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*).as("h"))
      .agg(count(lit(1)).as("n"), expr("bit_xor(h)").as("x"))

  /** Order-insensitive hash of collected rows. */
  def rowsHash(rows: Seq[Row]): Long = rows.foldLeft(0L)((h, r) => h ^ r.hashCode.toLong * 0x9E3779B97F4A7C15L)

  /** A collected row as JSON-able values: timestamps as epoch
    * microseconds, dates as ISO text.
    */
  def jsonRow(r: Row): Map[String, Any] =
    r.schema.fieldNames.zipWithIndex.map { case (n, i) =>
      n -> (r.get(i) match {
        case t: java.sql.Timestamp => t.getTime / 1000 * 1000000L + t.getNanos / 1000 % 1000000L
        case d: java.sql.Date => d.toString
        case b: java.math.BigDecimal => b.doubleValue
        case other => other
      })
    }.toMap

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def strings(m: Map[String, Any], k: String): Seq[String] =
    m(k).asInstanceOf[Seq[Any]].map(_.toString)
}

/** Seeded SearchRequest bodies compiled through QueryDsl against freshly
  * built envs, the way `Run --dsl` serves a request: env build (sources),
  * compile (plans), planning (catalyst), response collect (execution).
  */
object SearchServing extends Workload {
  private var requests: IndexedSeq[Map[String, Any]] = IndexedSeq.empty
  /** The generator puts one request of each kind first: the warm pass. */
  private val Kinds = 6
  val warmOps: Seq[Int] = 0 until Kinds
  val firstTimed: Int = Kinds

  def init(ctx: Ctx): Unit = requests =
    Json.read(ctx.inputs.resolve("requests.json")).asInstanceOf[Seq[Map[String, Any]]].toIndexedSeq

  def hasOp(i: Int): Boolean = i < requests.size

  def op(ctx: Ctx, i: Int, id: Long): OpOut = {
    val req = requests(i)
    val dir = ctx.inputs.toString
    val spark = ctx.spark
    val env = ctx.span("sources", id) {
      req("env") match {
        case "signals" => DslQueries.signalEnv(spark, dir)
        case "docs" => DslQueries.docEnv(spark, dir)
        case "emb" => DslQueries.embEnv(spark, dir)
      }
    }
    val body = req("body").toString
    val df = ctx.span("plans", id) {
      if (req("kind") == "collapse") QueryDsl.drain(env, body) else QueryDsl.search(env, body)
    }
    Catalyst.plan(ctx, df, id)
    val rows = ctx.span("execution", id)(df.collect().toSeq)
    OpOut(req("kind").toString, s"req-${req("id")}", rows.size.toLong,
      Workloads.rowsHash(rows), result = Some(rows.map(Workloads.jsonRow)))
  }
}

/** Forcing the optimised and physical plans before the action, so
  * Catalyst's work lands in its own span. Optimisation and planning are
  * timed around forcing each plan; analysis ran when the frame was built,
  * so its time comes from the plan's tracker (whole milliseconds).
  */
object Catalyst {
  private val phases = scala.collection.mutable.HashMap.empty[Long, Map[String, Double]]

  def plan(ctx: Ctx, df: DataFrame, id: Long): Unit = {
    val qe = df.queryExecution
    ctx.span("catalyst", id) {
      val t0 = System.nanoTime()
      qe.optimizedPlan
      val t1 = System.nanoTime()
      qe.executedPlan
      val t2 = System.nanoTime()
      if (ctx.tracer.enabled) phases(id) = Map(
        "analysis" -> qe.tracker.phases.get("analysis").map(_.durationMs.toDouble).getOrElse(0.0),
        "optimization" -> (t1 - t0) / 1e6, "planning" -> (t2 - t1) / 1e6)
    }
  }

  def recorded: Map[Long, Map[String, Double]] = phases.toMap
}

/** The reference's own job, as `Run.run` does it minus the debug dumps:
  * read `signals_all`, build every asset pipeline, persist, count and
  * bulk-write into a fresh directory. Every job reads fresh files.
  */
object AssetEtl extends Workload {
  /** Two warm jobs: the second one still runs ~10% slower than later
    * jobs, so a single warm job leaves the JIT ramp in the timed loop.
    */
  val warmOps: Seq[Int] = Seq(0, 1)
  val firstTimed = 2
  private var jobs: IndexedSeq[String] = IndexedSeq.empty

  def init(ctx: Ctx): Unit = jobs = Workloads.strings(ctx.manifest, "jobs").toIndexedSeq

  def hasOp(i: Int): Boolean = i < jobs.size

  def outDir(ctx: Ctx, i: Int): Path = ctx.work.resolve(f"etl-out/job-$i%02d")

  def op(ctx: Ctx, i: Int, id: Long): OpOut = {
    val spark = ctx.spark
    val sig = ctx.span("sources", id) {
      val registry = SourceRegistry.forDir(jobs(i))
      Tables.signalsFrom(Tables.eventsFrom(registry.read(spark, "signals_all")))
    }
    val assets = ctx.span("operators", id)(Assets.assetsAllFrom(sig))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      Catalyst.plan(ctx, assets, id)
      val written = ctx.span("execution", id)(assets.count())
      val out = outDir(ctx, i)
      ctx.span("sink", id)(AssetSink.write(assets, out.toString))
      OpOut("job", s"job-$i", written, 0L,
        extra = Map("out" -> out.toString, "input" -> jobs(i),
          "bytes_written" -> Workloads.dirBytes(out)))
    } finally assets.unpersist(blocking = false)
  }

  override def check(ctx: Ctx): Map[String, Any] =
    Map("oracle_sql" -> SparkEntry.oracleSql("assets_all"))
}

/** Writes beside reads on one ES-shaped sink: per round one keyed upsert
  * batch, then a read of the live state with a search-shaped terms
  * aggregate. The timed loop ends on a compaction, so a run holds whole
  * compaction cycles.
  */
object AssetSync extends Workload {
  val warmOps: Seq[Int] = Seq(0, 1)
  val firstTimed = 2
  private var batches: IndexedSeq[String] = IndexedSeq.empty

  def sink(ctx: Ctx): Path = ctx.work.resolve("sync-sink")

  def hasOp(i: Int): Boolean = i / 2 < batches.size

  /** Ops alternate: even = upsert of round i/2+1, odd = read after it. */
  override def canStopAfter(i: Int): Boolean =
    i % 2 == 1 && (i / 2) % (EsShapedSink.MaxDeltaSlices + 1) == 0

  def chain(ctx: Ctx): Int = {
    val p = sink(ctx).resolve(EsShapedSink.LatestPointer)
    if (!Files.exists(p)) 0
    else Files.readString(p).trim.split("\n")(0).split(",").length
  }

  /** Publishes the seeded state once, before the warm pass. */
  def init(ctx: Ctx): Unit = {
    batches = Workloads.strings(ctx.manifest, "batches").toIndexedSeq
    val state = Tables.table(ctx.spark, ctx.inputs.toString, "state")
    EsShapedSink.publish(state, sink(ctx).toString)
  }

  /** Fold the warm round's slice back so every timed cycle starts on a
    * single base generation.
    */
  override def afterWarm(ctx: Ctx): Unit = EsShapedSink.compact(ctx.spark, sink(ctx).toString)

  def op(ctx: Ctx, i: Int, id: Long): OpOut = {
    val spark = ctx.spark
    val round = i / 2 + 1
    val path = sink(ctx).toString
    if (i % 2 == 0) {
      val before = Workloads.dirBytes(sink(ctx))
      val batch = ctx.span("sources", id)(Tables.table(spark, ctx.inputs.toString, f"batch-$round%02d"))
      val chainBefore = chain(ctx)
      ctx.span("sink", id)(EsShapedSink.upsertInto(batch, path, "asset_ean"))
      val after = chain(ctx)
      val stored = Workloads.dirBytes(sink(ctx))
      val file = ctx.inputs.resolve(f"batch-$round%02d.parquet")
      OpOut("upsert", s"upsert-$round", 0L, 0L, extra = Map(
        "round" -> round, "chain_len" -> after, "compacted" -> (after < chainBefore),
        "user_bytes" -> Files.size(file), "store_bytes" -> stored,
        "bytes_written" -> math.max(0L, stored - before)))
    } else {
      val state = ctx.span("sink", id) {
        val text = concat_ws("|", unix_micros(col("asset_ts")).cast("string") +:
          AssetCols.tail.map(c => coalesce(col(c), lit("~"))): _*)
        EsShapedSink.read(spark, path).withColumn("doc_crc", crc32(text.cast("binary")))
      }
      val agg = ctx.span("plans", id)(QueryDsl.search(QueryDsl.Env(
        indices = Map("assets-*" -> state),
        mapping = QueryDsl.Mapping(
          fields = Map("asset.type" -> "asset_type", "doc_crc" -> "doc_crc"),
          idColumn = "asset_ean", tsFields = Set.empty)), TypeAggBody))
      Catalyst.plan(ctx, agg, id)
      val rows = ctx.span("execution", id)(agg.collect().toSeq)
      OpOut("read", s"read-$round", rows.size.toLong, Workloads.rowsHash(rows),
        result = Some(rows.map(Workloads.jsonRow)), extra = Map("round" -> round))
    }
  }

  /** The search-shaped read: a terms aggregation over asset.type with
    * the doc count and the sum of per-doc CRCs, which the generator's
    * model of the live state predicts exactly.
    */
  val TypeAggBody: String = """{"index": ["assets-*"], "size": 0,
    "aggs": {"by_type": {"terms": {"field": "asset.type", "size": 10},
      "aggs": {"crc_sum": {"sum": {"field": "doc_crc"}}}}}}"""

  val AssetCols: Seq[String] = Seq("asset_ts", "asset_ean", "asset_type", "asset_id",
    "asset_name", "asset_parents", "asset_children", "asset_references",
    "service_environment", "cloud_provider", "orchestrator_cluster_name")
}

/** A seeded, family-stratified draw of registry queries built through
  * `SparkEntry.queries` and driven with Bench's full-width fold.
  */
object LibraryMix extends Workload {
  private var draw: IndexedSeq[String] = IndexedSeq.empty
  def warmOps: Seq[Int] = draw.indices
  def firstTimed: Int = draw.size

  def init(ctx: Ctx): Unit = draw = Workloads.strings(ctx.manifest, "draw").toIndexedSeq

  def hasOp(i: Int): Boolean = draw.nonEmpty

  def op(ctx: Ctx, i: Int, id: Long): OpOut = {
    val name = draw(i % draw.size)
    val df = ctx.span("operators", id)(SparkEntry.queries(name)(ctx.spark, ctx.inputs.toString))
    val f = Workloads.fold(df)
    Catalyst.plan(ctx, f, id)
    val r = ctx.span("execution", id)(f.collect().head)
    ctx.span("harness", id)(Bench.sweepCheckpoints(ctx.spark))
    OpOut("query", name, r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Each distinct drawn query once more, written out for the DuckDB
    * oracle, with the fold of what was written.
    */
  override def check(ctx: Ctx): Map[String, Any] = {
    val oracle = SparkEntry.oracleSql
    val dumps = draw.distinct.map { name =>
      val out = ctx.work.resolve(s"library-out/$name")
      val entry = try {
        SparkEntry.queries(name)(ctx.spark, ctx.inputs.toString)
          .write.mode("overwrite").parquet(out.toString)
        val r = Workloads.fold(ctx.spark.read.parquet(out.toString)).collect().head
        Bench.sweepCheckpoints(ctx.spark)
        Map("rows" -> r.getLong(0), "hash" -> (if (r.isNullAt(1)) 0L else r.getLong(1)),
          "out" -> out.toString)
      } catch { case e: Throwable => Map("error" -> Main.describe(e)) }
      name -> (entry ++ oracle.get(name).map(s => "oracle_sql" -> s))
    }
    Map("library_checks" -> dumps.toMap)
  }
}
